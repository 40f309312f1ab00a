"""CDC core tests: replay equivalence, exactly-once fencing, deletes,
schema evolution, streaming resume (SURVEY §5 test plan items 3-5).

The oracle is ``lww_expected_state`` — a from-first-principles
last-writer-wins fold of every generated event — compared to the
table state after the engine's incremental per-batch MERGE applies.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from ethereum_etl_airflow_spark.operators.cdc import apply_changes
from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable
from ethereum_etl_airflow_spark.sources.feed import (
    FeedConfig,
    generate_batch,
    lww_expected_state,
    write_feed,
)
from ethereum_etl_airflow_spark.streaming.tailer import ChangeLogTailer

CFG = FeedConfig(n_docs=500, events_per_batch=1000, n_batches=4, dup_tail=100)


def canon_state(df):
    rows = df.select("doc_id", "tokens", "n_tok", "source").collect()
    return sorted(
        (r.doc_id, tuple(r.tokens or []), r.n_tok, r.source) for r in rows
    )


def assert_state_matches(table, spark, cfg, upto):
    got = canon_state(table.read())
    want = canon_state(lww_expected_state(spark, cfg, upto))
    assert len(got) == len(want) > 0
    assert got == want  # per-row token-array equality (BASELINE input_hint)


def test_incremental_apply_matches_lww_oracle(spark, tmp_path):
    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=16)
    for b in range(CFG.n_batches):
        lineage = apply_changes(table, generate_batch(spark, CFG, b), "t1", epoch=b)
        assert lineage is not None
        assert lineage["events_in"] > 0
        assert lineage["touched_buckets"] <= 16
    assert_state_matches(table, spark, CFG, CFG.n_batches - 1)


def test_epoch_fencing_skips_replayed_batch(spark, tmp_path):
    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=8)
    b0 = generate_batch(spark, CFG, 0)
    assert apply_changes(table, b0, "t2", epoch=0) is not None
    v1 = table.current_version()
    # replay the exact same epoch: fenced, no new snapshot
    assert apply_changes(table, b0, "t2", epoch=0) is None
    assert table.current_version() == v1
    # stale epoch after later ones: also fenced
    assert apply_changes(table, generate_batch(spark, CFG, 1), "t2", epoch=1) is not None
    assert apply_changes(table, b0, "t2", epoch=0) is None


def test_duplicate_and_out_of_order_events_converge(spark, tmp_path):
    """Applying batches with overlapping tails (at-least-once feed) must
    equal the clean LWW fold — duplicates are absorbed."""
    cfg = FeedConfig(n_docs=200, events_per_batch=500, n_batches=3, dup_tail=250)
    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=8)
    for b in range(cfg.n_batches):
        apply_changes(table, generate_batch(spark, cfg, b), "t3", epoch=b)
    assert_state_matches(table, spark, cfg, cfg.n_batches - 1)


def test_deletes_drop_rows_and_reinserts_return(spark, tmp_path):
    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    import pyspark.sql.functions as F

    def mk(rows, schema="op string, doc_id string, seq long, tokens array<int>, n_tok int, source string"):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.timestamp_seconds(F.col("seq")).cast("timestamp_ntz")
        )

    apply_changes(table, mk([("I", "a", 1, [1, 2], 2, "web"), ("I", "b", 2, [3], 1, "web")]), "t4", 0)
    assert len(canon_state(table.read())) == 2
    apply_changes(table, mk([("D", "a", 3, None, None, None)]), "t4", 1)
    state = canon_state(table.read())
    assert [r[0] for r in state] == ["b"]
    # late event for deleted key with LOWER seq: must stay dead
    apply_changes(table, mk([("U", "a", 2, [9], 1, "web")]), "t4", 2)
    assert [r[0] for r in canon_state(table.read())] == ["b"]
    # reinsert with higher seq: returns
    apply_changes(table, mk([("I", "a", 4, [7, 8, 9], 3, "code")]), "t4", 3)
    state = canon_state(table.read())
    assert ("a", (7, 8, 9), 3, "code") in state


def test_schema_evolution_add_column_and_widen(spark, tmp_path):
    cfg = FeedConfig(
        n_docs=300, events_per_batch=600, n_batches=4, dup_tail=50, evolve_at_batch=2
    )
    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=8)
    for b in range(cfg.n_batches):
        apply_changes(table, generate_batch(spark, cfg, b), "t5", epoch=b)
    final = table.read()
    assert "lang" in final.columns
    assert dict(final.dtypes)["n_tok"] == "bigint"  # int -> long widened
    # old rows (never updated after evolution) have null lang; new ones don't
    assert final.where(final.lang.isNotNull()).count() > 0
    # full state still matches the oracle fold (which includes lang)
    got = sorted(
        (r.doc_id, tuple(r.tokens or []), r.n_tok, r.source, r.lang)
        for r in final.select("doc_id", "tokens", "n_tok", "source", "lang").collect()
    )
    want = sorted(
        (r.doc_id, tuple(r.tokens or []), r.n_tok, r.source, r.lang)
        for r in lww_expected_state(spark, cfg, cfg.n_batches - 1)
        .select("doc_id", "tokens", "n_tok", "source", "lang")
        .collect()
    )
    assert got == want


def test_tailer_replay_and_resume(spark, tmp_path):
    """Kill-and-resume: apply half via replay, 'crash', re-run from 0 —
    fencing skips applied epochs and the final state equals full replay."""
    feed = str(tmp_path / "feed")
    write_feed(spark, CFG, feed)
    tailer = ChangeLogTailer(spark, feed, str(tmp_path / "t"), app_id="t6", num_buckets=16)
    tailer.replay_batches(start=0, end=1)
    assert tailer.table.last_epoch("t6") == 1
    # resume: replays everything; epochs 0-1 fenced, 2-3 applied
    tailer2 = ChangeLogTailer(spark, feed, str(tmp_path / "t"), app_id="t6", num_buckets=16)
    applied = tailer2.replay_batches()
    assert [li["epoch"] for li in applied] == [2, 3]
    assert_state_matches(tailer2.table, spark, CFG, CFG.n_batches - 1)
    # lineage: one row per applied epoch, offsets recorded
    lin = tailer2.lineage()
    assert lin.count() == 4
    assert set(lin.columns) >= {"epoch", "events_in", "offset_range", "snapshot_version"}


def test_manifest_and_lineage_bytes_are_compact_json(spark, tmp_path):
    """Manifests and lineage rows are written as ``json.dumps`` output
    (the C encoder, with the default separators): each file's bytes
    equal ``json.dumps`` of its own parsed content."""
    feed = str(tmp_path / "feed")
    write_feed(spark, CFG, feed, batches=range(0, 2))
    tailer = ChangeLogTailer(spark, feed, str(tmp_path / "t"), app_id="js", num_buckets=16)
    assert len(tailer.replay_batches()) == 2
    manifests = glob.glob(os.path.join(str(tmp_path / "t"), "_meta", "snapshot-*.json"))
    lineage = glob.glob(os.path.join(tailer.lineage_dir, "epoch-*.json"))
    assert len(manifests) >= 2 and len(lineage) == 2
    for path in manifests + lineage:
        with open(path) as f:
            text = f.read()
        assert text == json.dumps(json.loads(text)), path


def test_streaming_tailer_available_now(spark, tmp_path):
    feed = str(tmp_path / "feed")
    cfg = FeedConfig(n_docs=300, events_per_batch=800, n_batches=3, dup_tail=100)
    write_feed(spark, cfg, feed)
    tailer = ChangeLogTailer(spark, feed, str(tmp_path / "t"), app_id="t7", num_buckets=16)
    tailer.run_stream(checkpoint_dir=str(tmp_path / "cp"), available_now=True)
    assert_state_matches(tailer.table, spark, cfg, cfg.n_batches - 1)
    # restart with same checkpoint: no new data -> no change
    v = tailer.table.current_version()
    tailer.run_stream(checkpoint_dir=str(tmp_path / "cp"), available_now=True)
    assert tailer.table.current_version() == v


def test_invariant_violation_fails_batch(spark, tmp_path):
    import pyspark.sql.functions as F

    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)

    def batch(n_tok):
        return spark.createDataFrame(
            [("I", "x", 1, [1, 2, 3], n_tok, "web")],
            "op string, doc_id string, seq long, tokens array<int>, n_tok int, source string",
        ).withColumn("ts", F.timestamp_seconds(F.col("seq")).cast("timestamp_ntz"))

    apply_changes(table, batch(3), "t8", epoch=0)
    version = table.current_version()
    with pytest.raises(Exception, match="invariant"):
        apply_changes(table, batch(99), "t8", epoch=1)
    # the failed batch published nothing: the table did not advance
    assert table.current_version() == version
    assert table.last_epoch("t8") == 0


def test_expire_snapshots_gc(spark, tmp_path):
    # compact_files=2 -> every bucket compacts on its 2nd delta, so old
    # delta files become unreferenced and the GC has something to drop
    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4, compact_files=2)
    cfg = FeedConfig(n_docs=100, events_per_batch=200, n_batches=3)
    for b in range(3):
        apply_changes(table, generate_batch(spark, cfg, b), "t9", epoch=b)
    removed = table.expire_snapshots(keep_last=1)
    assert removed > 0
    # current snapshot still fully readable after GC
    assert_state_matches(table, spark, cfg, 2)


def test_threshold_compaction_preserves_state(spark, tmp_path):
    """Merge-on-read deltas + automatic threshold compaction must be
    invisible to readers: state equals the oracle fold at every step,
    and file counts stay bounded by compact_files."""
    cfg = FeedConfig(n_docs=300, events_per_batch=600, n_batches=6, dup_tail=100)
    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4, compact_files=3)
    compactions = 0
    for b in range(cfg.n_batches):
        li = apply_changes(table, generate_batch(spark, cfg, b), "t10", epoch=b)
        compactions += li["compacted_buckets"]
        assert max(table.file_counts().values()) <= table.compact_files
    assert compactions > 0  # threshold compaction actually fired
    assert_state_matches(table, spark, cfg, cfg.n_batches - 1)
    # explicit full compaction: one file per bucket, state unchanged
    table.compact()
    assert max(table.file_counts().values()) == 1
    assert_state_matches(table, spark, cfg, cfg.n_batches - 1)


def test_crash_between_delta_and_compaction_commits(spark, tmp_path, monkeypatch):
    """The batch's delta commit publishes (fenced, readable) before its
    compaction commit starts. A crash in between surfaces from the
    apply, a replay of the epoch is fenced, and the next apply finishes
    the pending compaction."""
    cfg = FeedConfig(n_docs=300, events_per_batch=600, n_batches=3, dup_tail=100)
    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4, compact_files=2)
    apply_changes(table, generate_batch(spark, cfg, 0), "crash", epoch=0)

    compact = SnapshotTable.compact
    calls = []

    def crash_once(self, *a, **kw):
        calls.append(a)
        if len(calls) == 1:
            raise RuntimeError("crash before the compaction commit")
        return compact(self, *a, **kw)

    monkeypatch.setattr(SnapshotTable, "compact", crash_once)
    with pytest.raises(RuntimeError, match="crash before the compaction commit"):
        apply_changes(table, generate_batch(spark, cfg, 1), "crash", epoch=1)
    assert table.last_epoch("crash") == 1
    assert table.snapshot()["lineage"]["op"] == "cdc_apply"
    assert max(table.file_counts().values()) >= table.compact_files
    assert_state_matches(table, spark, cfg, 1)
    v = table.current_version()
    assert apply_changes(table, generate_batch(spark, cfg, 1), "crash", epoch=1) is None
    assert table.current_version() == v

    li = apply_changes(table, generate_batch(spark, cfg, 2), "crash", epoch=2)
    assert len(calls) == 2 and li["compacted_buckets"] > 0
    # rows_out counts the compaction's rewritten rows too
    assert li["rows_out"] > li["events_in"]
    assert table.snapshot()["lineage"]["op"] == "compact"
    assert max(table.file_counts().values()) <= table.compact_files
    assert_state_matches(table, spark, cfg, 2)

    # through the tailer: the epoch whose compaction failed is still
    # recorded (lineage log, applied list) before the error re-raises
    calls.clear()
    feed = str(tmp_path / "feed")
    write_feed(spark, cfg, feed)
    t = ChangeLogTailer(spark, feed, str(tmp_path / "tailed"), num_buckets=4)
    t.table.compact_files = 2
    with pytest.raises(RuntimeError, match="crash before the compaction commit"):
        t.replay_batches()
    assert [li["epoch"] for li in t.applied] == [0, 1]
    failed = t.applied[-1]
    assert failed["compaction_error"].startswith("RuntimeError")
    assert failed["compacted_buckets"] == 0
    assert failed["snapshot_version"] == t.table.current_version()
    logged = {r.epoch: r.compaction_error for r in t.lineage().collect()}
    assert logged[0] is None and logged[1] == failed["compaction_error"]
    assert [li["epoch"] for li in t.replay_batches()] == [2]
    assert t.applied[-1]["compacted_buckets"] > 0
    assert max(t.table.file_counts().values()) <= 2
    assert_state_matches(t.table, spark, cfg, 2)


def test_apply_lineage_records_the_compaction_decision(spark, tmp_path):
    """Each apply's lineage names how many buckets were due for
    compaction by file count and by delete-layer depth, and the two
    thresholds it used, whether or not a compaction ran."""
    cfg = FeedConfig(n_docs=200, events_per_batch=400, n_batches=4, dup_tail=20)
    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4, compact_files=3)
    for b in range(2):
        li = apply_changes(table, generate_batch(spark, cfg, b), "dec", epoch=b)
        assert li["compaction"] == {
            "due_by_files": 0,
            "due_by_layers": 0,
            "compact_files": 3,
            "max_delete_layers": 4,
        }
        assert li["compacted_buckets"] == 0
    li = apply_changes(table, generate_batch(spark, cfg, 2), "dec", epoch=2)
    assert li["compaction"]["due_by_files"] == li["compacted_buckets"] == 4
    assert li["compaction"]["due_by_layers"] == 0

    table.update_properties({"retention.compact_files": "10", "retention.max_delete_layers": "2"})
    keys = sorted(r.doc_id for r in table.read().select("doc_id").collect())
    table.delete_keys_lazy(keys[:8])
    table.delete_keys_lazy(keys[8:16])
    layers: dict = {}
    for lay in table.snapshot()["delete_layers"]:
        for b in lay["files"]:
            layers[b] = layers.get(b, 0) + 1
    deep = sum(c >= 2 for c in layers.values())
    assert deep >= 1
    li = apply_changes(table, generate_batch(spark, cfg, 3), "dec", epoch=3)
    assert li["compaction"] == {
        "due_by_files": 0,
        "due_by_layers": deep,
        "compact_files": 10,
        "max_delete_layers": 2,
    }
    assert li["compacted_buckets"] == deep


def test_commit_conflict_detection(spark, tmp_path):
    """Optimistic concurrency: a commit whose base snapshot is stale,
    or raced by a lock holder, must fail with CommitConflictError
    (Iceberg CAS semantics) instead of clobbering the manifest."""
    import os

    from ethereum_etl_airflow_spark.sinks.snapshot_table import CommitConflictError

    cfg = FeedConfig(n_docs=50, events_per_batch=100, n_batches=1)
    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    apply_changes(table, generate_batch(spark, cfg, 0), "occ", epoch=0)
    cur = table.snapshot()
    # stale base: parent_version one behind the actual head
    stale = dict(cur)
    stale["version"] = cur["version"] + 1
    stale["parent_version"] = cur["version"] - 1
    with pytest.raises(CommitConflictError, match="advanced"):
        table._publish(stale)
    # lock held by a concurrent writer
    lock = os.path.join(str(tmp_path / "t"), "_meta", "COMMIT_LOCK")
    open(lock, "w").close()
    ok = dict(cur)
    ok["version"] = cur["version"] + 1
    ok["parent_version"] = cur["version"]
    with pytest.raises(CommitConflictError, match="lock"):
        table._publish(ok)
    os.unlink(lock)
    # with the lock released and a correct base, the commit proceeds
    table._publish(ok)
    assert table.current_version() == cur["version"] + 1


def test_point_lookup_prunes_and_folds(spark, tmp_path):
    cfg = FeedConfig(n_docs=200, events_per_batch=500, n_batches=3, dup_tail=50)
    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=16)
    for b in range(cfg.n_batches):
        apply_changes(table, generate_batch(spark, cfg, b), "pl", epoch=b)
    want = {
        r.doc_id: (tuple(r.tokens or []), r.n_tok, r.source)
        for r in lww_expected_state(spark, cfg, 2).collect()
    }
    some_live = sorted(want)[:3]
    got = table.lookup(some_live).collect()
    assert {r.doc_id for r in got} == set(some_live)
    for r in got:
        assert (tuple(r.tokens or []), r.n_tok, r.source) == want[r.doc_id]
    # a deleted/unknown key returns nothing
    assert table.lookup(["doc_does_not_exist"]).count() == 0


def test_lineage_reports_event_time_lag(spark, tmp_path):
    cfg = FeedConfig(n_docs=50, events_per_batch=100, n_batches=1)
    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    li = apply_changes(table, generate_batch(spark, cfg, 0), "lag", epoch=0)
    assert li["event_time_lag_sec"] is not None and li["event_time_lag_sec"] > 0


def test_extreme_hot_key_skew(spark, tmp_path):
    """50%+ of all events hitting ONE doc (worst-case write skew —
    the reference's ERC-20 Transfer topic): state must stay correct
    and the hot key must not blow up file counts (it lands in exactly
    one bucket whose delta files stay bounded by compaction)."""
    cfg = FeedConfig(
        n_docs=100,
        events_per_batch=500,
        n_batches=4,
        dup_tail=50,
        hot_doc_fraction=0.01,  # 1 hot doc
        hot_event_fraction=0.55,  # >half the feed hits it
    )
    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=8, compact_files=3)
    for b in range(cfg.n_batches):
        apply_changes(table, generate_batch(spark, cfg, b), "skew", epoch=b)
    assert max(table.file_counts().values()) <= 3
    assert_state_matches(table, spark, cfg, cfg.n_batches - 1)


def test_tombstone_expiry_after_watermark(spark, tmp_path):
    import pyspark.sql.functions as F

    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=2)

    def mk(rows):
        return spark.createDataFrame(
            rows, "op string, doc_id string, seq long, tokens array<int>, n_tok int, source string"
        ).withColumn("ts", F.timestamp_seconds(F.col("seq")).cast("timestamp_ntz"))

    apply_changes(table, mk([("I", "a", 1, [1], 1, "web"), ("I", "b", 2, [2], 1, "web")]), "t11", 0)
    apply_changes(table, mk([("D", "a", 3, None, None, None)]), "t11", 1)
    raw = table.read_raw()
    assert raw.where(F.col("_tombstone")).count() == 1  # tombstone retained
    table.expire_tombstones(watermark_seq=10)
    assert table.read_raw().where(F.col("_tombstone")).count() == 0
    assert [r[0] for r in canon_state(table.read())] == ["b"]


def test_delta_commit_rebases_on_conflict(spark, tmp_path):
    """Fast appends never conflict: a pure delta commit that loses the
    CAS race (another writer advanced the head between its base read
    and its publish) rebases onto the new head with max_retries > 0 —
    both writers' rows survive, no data files are rewritten."""
    import pyspark.sql.functions as F

    from ethereum_etl_airflow_spark.sinks.snapshot_table import (
        CommitConflictError,
        SnapshotTable,
        bucket_expr,
    )

    def rows(spark, ids, seq):
        df = spark.createDataFrame(
            [(d, seq, seq * 10) for d in ids], "doc_id string, _seq long, val long"
        )
        return df.select(
            "doc_id", "_seq", F.col("_seq").alias("_epoch"),
            F.lit(False).alias("_tombstone"), "val",
        ).withColumn("_bucket", bucket_expr(F.col("doc_id"), 4))

    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    base = rows(spark, ["a", "b"], 1)
    t.commit(base, set(), "w1", epoch=0, new_schema=base.drop("_bucket").schema)

    # interleave: just before w1's second publish, w2 commits — w1's
    # base snapshot goes stale and its CAS fails on the first attempt
    other = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    state = {"raced": False}
    orig_publish = t._publish

    def racy_publish(snap):
        if not state["raced"]:
            state["raced"] = True
            other.commit(rows(spark, ["c"], 2), set(), "w2", epoch=0)
        return orig_publish(snap)

    t._publish = racy_publish
    # without retries the lost race surfaces
    with pytest.raises(CommitConflictError):
        t.commit(rows(spark, ["d"], 3), set(), "w1", epoch=1)
    # with retries it rebases: every writer's rows are present
    state["raced"] = False
    t._publish = racy_publish
    snap = t.commit(rows(spark, ["e"], 4), set(), "w1", epoch=2, max_retries=2)
    got = {r["doc_id"] for r in t.read().collect()}
    # the failed epoch-1 commit wrote files but never published, so d
    # is orphaned (never visible); both surviving writers' rows are
    assert got == {"a", "b", "c", "e"}
    # rebased manifest sits on the concurrent head, not the stale base
    assert snap["parent_version"] > 1


def test_delta_rebase_refuses_replayed_epoch(spark, tmp_path):
    """If the racing writer already committed this (app_id, epoch), a
    rebase would double-apply — the conflict must surface instead."""
    import pyspark.sql.functions as F

    from ethereum_etl_airflow_spark.sinks.snapshot_table import (
        CommitConflictError,
        SnapshotTable,
        bucket_expr,
    )

    def rows(spark, ids, seq):
        df = spark.createDataFrame(
            [(d, seq, seq * 10) for d in ids], "doc_id string, _seq long, val long"
        )
        return df.select(
            "doc_id", "_seq", F.col("_seq").alias("_epoch"),
            F.lit(False).alias("_tombstone"), "val",
        ).withColumn("_bucket", bucket_expr(F.col("doc_id"), 4))

    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    base = rows(spark, ["a"], 1)
    t.commit(base, set(), "w", epoch=0, new_schema=base.drop("_bucket").schema)
    other = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    orig_publish = t._publish
    state = {"raced": False}

    def racy_publish(snap):
        if not state["raced"]:
            state["raced"] = True
            other.commit(rows(spark, ["x"], 2), set(), "w", epoch=1)  # same app+epoch
        return orig_publish(snap)

    t._publish = racy_publish
    with pytest.raises(CommitConflictError):
        t.commit(rows(spark, ["y"], 3), set(), "w", epoch=1, max_retries=5)
