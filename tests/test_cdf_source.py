"""Native readStream CDF source (streaming/cdf_source.py).

The SnapshotTable commit log as a real Structured Streaming source:
delta rows stream exactly once, maintenance commits are silent
(including the compaction commit that follows a CDC commit), a legacy
CDC manifest that compacted in the same commit fails planning,
checkpoint recovery resumes from the committed version offset, and
pre-evolution files pad onto the pinned stream schema. The chain into
a second table is tested in test_table_sink.py.
"""

from __future__ import annotations

import time

import pytest

from ethereum_etl_airflow_spark.operators.cdc import apply_changes
from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable
from ethereum_etl_airflow_spark.streaming.cdf_source import (
    SnapshotCdfDataSource,
    register_cdf_source,
)


def _changes(spark, rows, schema="op string, doc_id string, seq long, eid long, val string"):
    return spark.createDataFrame(rows, schema)


def _table(spark, tmp_path, name="t", **kw):
    kw.setdefault("num_buckets", 4)
    kw.setdefault("compact_files", 100)
    return SnapshotTable(spark, str(tmp_path / name), **kw)


def _drain(spark, root, out_dir, ckpt, starting_version=-1):
    """Run the stream with availableNow and return all rows collected
    so far (across every run sharing ``ckpt``)."""
    register_cdf_source(spark)
    df = (
        spark.readStream.format("snapshot_cdf")
        .option("path", root)
        .option("starting_version", starting_version)
        .load()
    )
    q = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        return spark.read.parquet(out_dir).collect()
    except Exception:
        return []


def test_stream_emits_each_delta_row_once(spark, tmp_path):
    t = _table(spark, tmp_path)
    rows = [("U", str(i), i, i, f"v{i}") for i in range(20)]
    apply_changes(t, _changes(spark, rows[:10]), "st", epoch=0)
    apply_changes(t, _changes(spark, rows[10:]), "st", epoch=1)
    got = _drain(spark, t.root, str(tmp_path / "out"), str(tmp_path / "ck"))
    assert sorted(int(r["doc_id"]) for r in got) == list(range(20))
    assert {r["_epoch"] for r in got} == {0, 1}
    # commit version rides along for lineage joins
    assert all(r["_commit_version"] >= 0 for r in got)


def test_checkpoint_resume_and_maintenance_silence(spark, tmp_path):
    t = _table(spark, tmp_path)
    rows = [("U", str(i), i, i, f"v{i}") for i in range(10)]
    apply_changes(t, _changes(spark, rows), "st", epoch=0)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    assert len(_drain(spark, t.root, out, ck)) == 10
    # maintenance commits: no new change rows on resume
    t.compact()
    t.delete_where("eid", lo=0, hi=2)
    assert len(_drain(spark, t.root, out, ck)) == 10
    # a real CDC commit streams exactly its batch
    apply_changes(t, _changes(spark, [("D", "5", 100, None, None)]), "st", epoch=1)
    got = _drain(spark, t.root, out, ck)
    assert len(got) == 11
    tomb = [r for r in got if r["_seq"] == 100]
    assert len(tomb) == 1 and tomb[0]["_tombstone"] is True


def test_in_commit_compaction_rewrites_are_filtered(spark, tmp_path):
    # low threshold: every apply from epoch 1 on is followed by a
    # compaction commit that folds every bucket it touched
    t = _table(spark, tmp_path, compact_files=2)
    rows = [("U", str(i), i, i, f"v{i}") for i in range(12)]
    apply_changes(t, _changes(spark, rows[:6]), "st", epoch=0)
    apply_changes(t, _changes(spark, rows[6:]), "st", epoch=1)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    assert len(_drain(spark, t.root, out, ck)) == 12
    apply_changes(t, _changes(spark, [("U", "3", 103, 3, "v3b")]), "st", epoch=2)
    got = _drain(spark, t.root, out, ck)
    # ONLY the epoch-2 row arrives — the compaction commits rewrite
    # the other 11 rows into new files, which must not re-emit
    assert len(got) == 13
    assert sorted(r["_seq"] for r in got)[-1] == 103


def test_legacy_in_commit_compaction_manifest_fails_planning(spark, tmp_path):
    # a CDC commit from before compaction became its own commit: its
    # manifest lists compacted_buckets, so its new files mix the batch
    # with rewritten rows that the reader cannot tell apart
    t = _table(spark, tmp_path)
    rows = [("U", str(i), i, i, f"v{i}") for i in range(8)]
    apply_changes(t, _changes(spark, rows[:4]), "st", epoch=0)
    apply_changes(t, _changes(spark, rows[4:]), "st", epoch=1)
    head = t.snapshot()
    t._publish(
        {
            **head,
            "version": head["version"] + 1,
            "parent_version": head["version"],
            "committed_at": time.time(),
            "lineage": {"op": "cdc_apply", "epoch": 2, "compacted_buckets": [0, 1]},
        }
    )
    source = SnapshotCdfDataSource({"path": t.root})
    reader = source.streamReader(source.schema())
    with pytest.raises(RuntimeError, match="starting_version.*bootstrap_from_state"):
        reader.partitions({"version": -1}, {"version": t.current_version()})
    # a stream that starts past the legacy commit follows normally
    apply_changes(t, _changes(spark, [("U", "9", 9, 9, "v9")]), "st", epoch=3)
    got = _drain(
        spark,
        t.root,
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
        starting_version=head["version"] + 1,
    )
    assert [r["doc_id"] for r in got] == ["9"]


def test_schema_evolution_pads_pre_evolution_files(spark, tmp_path):
    t = _table(spark, tmp_path)
    apply_changes(t, _changes(spark, [("U", "1", 1, 1, "a")]), "st", epoch=0)
    # evolution adds a column; a stream started AFTER pins the evolved
    # schema and must pad the pre-evolution file with nulls (a restarted
    # stream re-derives the schema from the head, like any Spark source)
    apply_changes(
        t,
        _changes(
            spark,
            [("U", "2", 2, 2, "b", "extra")],
            "op string, doc_id string, seq long, eid long, val string, note string",
        ),
        "st",
        epoch=1,
    )
    got = _drain(spark, t.root, str(tmp_path / "o2"), str(tmp_path / "c2"))
    by_id = {r["doc_id"]: r for r in got}
    assert by_id["2"]["note"] == "extra" and by_id["1"]["note"] is None
    # int widening: eid stays long through both generations
    assert isinstance(by_id["1"]["eid"], int)


def test_starting_version_default_is_head(spark, tmp_path):
    t = _table(spark, tmp_path)
    apply_changes(t, _changes(spark, [("U", "1", 1, 1, "a")]), "st", epoch=0)
    register_cdf_source(spark)
    df = spark.readStream.format("snapshot_cdf").option("path", t.root).load()
    q = (
        df.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        rows = spark.read.parquet(str(tmp_path / "out")).collect()
    except Exception:
        rows = []
    assert rows == []  # default starting_version = head: nothing emitted
