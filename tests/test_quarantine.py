"""Dead-letter quarantine: validation split + exactly-once dual commit."""

from __future__ import annotations

from pyspark.sql import functions as F

from ethereum_etl_airflow_spark.operators.cdc import apply_changes
from ethereum_etl_airflow_spark.operators.quarantine import (
    apply_changes_quarantined,
    quarantine_changes,
    split_quarantine,
    validate_changes,
)
from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable

SCHEMA = "op string, seq long, doc_id string, tokens array<int>, n_tok int"


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


GOOD = [
    ("I", 1, "a", [1, 2], 2),
    ("U", 2, "a", [3], 1),
    ("D", 3, "b", None, None),  # delete may carry no payload
]
BAD = [
    ("I", 4, None, [1], 1),           # null_key
    ("I", -5, "c", [1], 1),           # bad_seq
    ("Z", 6, "d", [1], 1),            # bad_op
    ("U", 7, "e", None, None),        # null_payload
    ("U", 8, "f", [1, None], 2),      # token_null_element
    ("U", 9, "g", [1, 2, 3], 7),      # length_mismatch
]


def test_validation_reasons_first_match_wins(spark):
    df = validate_changes(_batch(spark, GOOD + BAD))
    got = {r["seq"]: r["_error"] for r in df.collect()}
    assert got[1] is None and got[2] is None and got[3] is None
    assert got[4] == "null_key"
    assert got[-5] == "bad_seq"
    assert got[6] == "bad_op"
    assert got[7] == "null_payload"
    assert got[8] == "token_null_element"
    assert got[9] == "length_mismatch"
    # precedence: a row violating several rules reports the FIRST one
    multi = _batch(spark, [("Z", -1, None, None, 5)])
    assert validate_changes(multi).collect()[0]["_error"] == "null_key"


def test_split_and_dead_letter_reshape(spark):
    good, bad = split_quarantine(_batch(spark, GOOD + BAD))
    assert good.count() == len(GOOD)
    assert "_error" not in good.columns
    q = quarantine_changes(bad, epoch=0)
    rows = {r["doc_id"]: r for r in q.collect()}
    assert len(rows) == len(BAD)  # synthetic keys are unique
    r = rows["bad_seq:c:-5"]
    assert r["op"] == "I" and r["seq"] == 0  # negative seq clamped
    assert r["reason"] == "bad_seq" and r["src_op"] == "I"
    assert rows["null_key:<null>:4"]["src_doc_id"] is None


def test_dual_commit_exactly_once_and_crash_resume(spark, tmp_path):
    main = SnapshotTable(spark, str(tmp_path / "main"), num_buckets=4)
    dlq = SnapshotTable(spark, str(tmp_path / "dlq"), num_buckets=4)
    batch = _batch(spark, GOOD + BAD)

    out = apply_changes_quarantined(main, dlq, batch, "app", epoch=0)
    assert out["quarantined_events"] == len(BAD)
    assert {r["doc_id"] for r in main.read().collect()} == {"a"}  # b deleted
    assert dlq.read().count() == len(BAD)

    # full replay of the same epoch: both sides fenced, nothing changes
    out2 = apply_changes_quarantined(main, dlq, batch, "app", epoch=0)
    assert out2["main"] is None and out2["quarantine"] is None
    assert dlq.read().count() == len(BAD)

    # crash between the two commits: main committed epoch 1, quarantine
    # didn't; the replay completes ONLY the quarantine side
    good, bad = split_quarantine(
        _batch(spark, [("I", 10, "h", [5], 1), ("I", 12, None, [1], 1)])
    )
    apply_changes(main, good, "app", epoch=1)  # simulate partial failure
    v_main = main.current_version()
    out3 = apply_changes_quarantined(
        main,
        dlq,
        _batch(spark, [("I", 10, "h", [5], 1), ("I", 12, None, [1], 1)]),
        "app",
        epoch=1,
    )
    assert out3["main"] is None  # fenced — not re-applied
    assert out3["quarantine"] is not None
    assert main.current_version() == v_main
    assert {r["doc_id"] for r in main.read().collect()} == {"a", "h"}
    assert dlq.read().where(F.col("reason") == "null_key").count() == 2


def test_tailer_replay_with_quarantine(spark, tmp_path):
    from ethereum_etl_airflow_spark.streaming.tailer import ChangeLogTailer

    feed = tmp_path / "feed"
    b0 = _batch(spark, GOOD + BAD[:3])
    b1 = _batch(spark, [("U", 11, "a", [9], 1)] + BAD[3:])
    b0.write.parquet(str(feed / "batch-0"))
    b1.write.parquet(str(feed / "batch-1"))

    tailer = ChangeLogTailer(
        spark,
        str(feed),
        str(tmp_path / "t"),
        num_buckets=4,
        quarantine_root=str(tmp_path / "dlq"),
    )
    lineages = tailer.replay_batches()
    assert [ln["quarantined_events"] for ln in lineages] == [3, 3]
    assert tailer.quarantine.read().count() == len(BAD)
    got = {r["doc_id"]: r["tokens"] for r in tailer.table.read().collect()}
    assert got == {"a": [9]}  # b deleted; all bad rows diverted

    # resume from scratch: everything fenced, quarantine unchanged
    tailer2 = ChangeLogTailer(
        spark,
        str(feed),
        str(tmp_path / "t"),
        num_buckets=4,
        quarantine_root=str(tmp_path / "dlq"),
    )
    assert tailer2.replay_batches() == []
    assert tailer2.quarantine.read().count() == len(BAD)


def test_quarantine_compaction_failure_carries_main_lineage(spark, tmp_path, monkeypatch):
    """The quarantine's compaction fails after both delta commits: the
    error carries the MAIN table's lineage, the one a caller records
    for the epoch."""
    import pytest

    main = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4, compact_files=1)
    dlq = SnapshotTable(spark, str(tmp_path / "dlq"), num_buckets=4, compact_files=1)
    compact = SnapshotTable.compact

    def dlq_fails(self, *a, **kw):
        if self.root == dlq.root:
            raise RuntimeError("quarantine compaction failed")
        return compact(self, *a, **kw)

    monkeypatch.setattr(SnapshotTable, "compact", dlq_fails)
    with pytest.raises(RuntimeError, match="quarantine compaction failed") as err:
        apply_changes_quarantined(main, dlq, _batch(spark, GOOD + BAD), "q", 0)
    assert err.value.lineage["snapshot_version"] == main.snapshot()["parent_version"]
    assert err.value.lineage["compacted_buckets"] > 0
    assert main.last_epoch("q") == dlq.last_epoch("q") == 0
