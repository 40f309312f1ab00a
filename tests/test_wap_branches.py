"""Branch/tag refs + write-audit-publish on SnapshotTable.

The WAP flow (Iceberg branches + ``spark.wap.branch``; reference
analogue: the verify-then-publish DAG chain gating public views,
build_verify_streaming_dag.py) is: stage CDC commits on an audit
branch via ``with_branch``, run checks against the branch head, then
``fast_forward("main", branch)`` — readers of main never see
unaudited rows, and the epoch-fencing properties travel with the
promoted snapshot so exactly-once survives the publish.
"""

from __future__ import annotations

import pytest

from ethereum_etl_airflow_spark.operators.cdc import apply_changes
from ethereum_etl_airflow_spark.sinks.snapshot_table import (
    CommitConflictError,
    SnapshotTable,
)
from ethereum_etl_airflow_spark.sources.feed import FeedConfig, generate_batch

CFG = FeedConfig(n_docs=120, events_per_batch=300, n_batches=3, dup_tail=40)


def _seed(spark, tmp_path, name="t"):
    table = SnapshotTable(spark, str(tmp_path / name), num_buckets=4)
    apply_changes(table, generate_batch(spark, CFG, 0), "wap", epoch=0)
    return table


def test_branch_commits_leave_main_untouched(spark, tmp_path):
    table = _seed(spark, tmp_path)
    v_main = table.current_version()
    n_main = table.read().count()

    table.create_branch("audit")
    audit = table.with_branch("audit")
    assert apply_changes(audit, generate_batch(spark, CFG, 1), "wap", epoch=1)

    # branch advanced with a globally-unique version; main frozen
    assert audit.current_version() > v_main
    assert table.current_version() == v_main
    assert table.read().count() == n_main
    assert audit.read().count() >= n_main
    assert table.refs()["audit"]["kind"] == "branch"


def test_fast_forward_publishes_staged_state(spark, tmp_path):
    table = _seed(spark, tmp_path)
    table.create_branch("audit")
    audit = table.with_branch("audit")
    apply_changes(audit, generate_batch(spark, CFG, 1), "wap", epoch=1)
    apply_changes(audit, generate_batch(spark, CFG, 2), "wap", epoch=2)

    staged = sorted(
        (r.doc_id, tuple(r.tokens or [])) for r in audit.read().collect()
    )
    head = table.fast_forward("main", "audit")
    assert table.current_version() == head == audit.current_version()
    published = sorted(
        (r.doc_id, tuple(r.tokens or [])) for r in table.read().collect()
    )
    assert published == staged
    # fencing properties traveled with the promotion: replaying the
    # staged epochs on main is a no-op (exactly-once across publish)
    assert apply_changes(table, generate_batch(spark, CFG, 2), "wap", epoch=2) is None
    # idempotent re-publish is a no-op too
    assert table.fast_forward("main", "audit") == head


def test_divergence_is_rejected(spark, tmp_path):
    table = _seed(spark, tmp_path)
    table.create_branch("audit")
    audit = table.with_branch("audit")
    apply_changes(audit, generate_batch(spark, CFG, 1), "wap", epoch=1)
    # main moves independently after the branch point -> not an ancestor
    apply_changes(table, generate_batch(spark, CFG, 2), "other", epoch=0)
    with pytest.raises(CommitConflictError):
        table.fast_forward("main", "audit")


def test_tags_are_immutable_time_travel_anchors(spark, tmp_path):
    table = _seed(spark, tmp_path)
    v0 = table.current_version()
    n0 = table.read().count()
    table.create_tag("rel-1")
    apply_changes(table, generate_batch(spark, CFG, 1), "wap", epoch=1)

    assert table.ref_version("rel-1") == v0
    assert table.read(version=table.ref_version("rel-1")).count() == n0
    with pytest.raises(ValueError):
        table.with_branch("rel-1")  # tags cannot accept commits
    with pytest.raises(ValueError):
        table.fast_forward("rel-1", "main")
    with pytest.raises(ValueError):
        table.create_tag("rel-1")  # already exists (O_EXCL)


def test_expire_keeps_ref_heads(spark, tmp_path):
    table = _seed(spark, tmp_path)
    table.create_tag("pin")
    pinned = table.ref_version("pin")
    for b in (1, 2):
        apply_changes(table, generate_batch(spark, CFG, b), "wap", epoch=b)
    table.expire_snapshots(keep_last=1)
    # the tagged snapshot (and its files) survive aggressive retention
    assert table.read(version=pinned).count() > 0
    # after dropping the tag it becomes expirable
    table.drop_tag("pin")
    table.expire_snapshots(keep_last=1)
    import os

    assert not os.path.exists(
        os.path.join(table._meta, f"snapshot-{pinned:012d}.json")
    )


def test_branch_requires_creation_and_unique_names(spark, tmp_path):
    table = _seed(spark, tmp_path)
    with pytest.raises(ValueError):
        table.with_branch("nope")
    with pytest.raises(ValueError):
        table.ref_version("nope")
    table.create_branch("audit")
    with pytest.raises(ValueError):
        table.create_branch("audit")
    with pytest.raises(ValueError):
        table.create_tag("audit")  # name taken by a branch
    table.drop_branch("audit")
    with pytest.raises(ValueError):
        table.drop_branch("audit")


# ---------------------------------------------------------------- tailer WAP


def test_tailer_wap_publishes_audited_batches(spark, tmp_path):
    """wap_branch mode: every replayed batch stages on the branch, the
    audit runs against the staged head, and main fast-forwards — end
    state identical to direct ingest."""
    from ethereum_etl_airflow_spark import verify as V
    from ethereum_etl_airflow_spark.sources.feed import write_feed
    from ethereum_etl_airflow_spark.streaming.tailer import ChangeLogTailer

    feed = str(tmp_path / "feed")
    write_feed(spark, CFG, feed)
    t = ChangeLogTailer(
        spark,
        feed,
        str(tmp_path / "t"),
        num_buckets=4,
        wap_branch="audit",
        audit_checks=[V.unique_key("doc_id"), V.tokens_invariant()],
    )
    results = t.replay_batches()
    assert len(results) == CFG.n_batches
    for li in results:
        assert li["wap"]["published_version"] is not None
        assert all(v.startswith("PASS") for v in li["wap"]["audit"].values())
    # main == branch head; direct-ingest equivalence
    assert t.table.current_version() == t.table.ref_version("audit")

    direct = ChangeLogTailer(spark, feed, str(tmp_path / "d"), num_buckets=4)
    direct.replay_batches()
    a = sorted(
        (r.doc_id, tuple(r.tokens or [])) for r in t.table.read().collect()
    )
    b = sorted(
        (r.doc_id, tuple(r.tokens or [])) for r in direct.table.read().collect()
    )
    assert a == b and len(a) > 0


def test_tailer_wap_blocks_bad_batch_and_recovers(spark, tmp_path):
    """A poisoned batch (n_tok != size(tokens)) commits to the branch,
    FAILS the audit, never reaches main; after the feed is fixed the
    same epoch re-applies (it was never fenced on main)."""
    import pyspark.sql.functions as F

    from ethereum_etl_airflow_spark import verify as V
    from ethereum_etl_airflow_spark.sources.feed import generate_batch, write_feed
    from ethereum_etl_airflow_spark.streaming.tailer import (
        AuditGateError,
        ChangeLogTailer,
    )

    feed = str(tmp_path / "feed")
    write_feed(spark, CFG, feed, batches=range(0, 1))
    # batch 1 poisoned: every n_tok off by one
    generate_batch(spark, CFG, 1).withColumn(
        "n_tok", F.col("n_tok") + 1
    ).write.parquet(f"{feed}/batch-1")

    t = ChangeLogTailer(
        spark,
        feed,
        str(tmp_path / "t"),
        num_buckets=4,
        verify=False,  # write-path guard off: the AUDIT is the gate
        wap_branch="audit",
        audit_checks=[V.tokens_invariant()],
    )
    import pytest as _pytest

    with _pytest.raises(AuditGateError):
        t.replay_batches()
    v_after_block = t.table.current_version()
    assert t.table.ref_version("audit") == v_after_block  # branch reset

    # fix the feed in place and re-run: epoch 1 was never fenced on
    # main, so it re-applies and publishes
    import shutil

    shutil.rmtree(f"{feed}/batch-1")
    write_feed(spark, CFG, feed, batches=range(1, 2))
    results = t.replay_batches()
    published = [li for li in results if li is not None]
    assert published and published[-1]["wap"]["published_version"] > v_after_block
    # final state == a clean direct (no-WAP) replay of the fixed feed
    direct = ChangeLogTailer(spark, feed, str(tmp_path / "d2"), num_buckets=4)
    direct.replay_batches()
    a = sorted(
        (r.doc_id, tuple(r.tokens or [])) for r in t.table.read().collect()
    )
    b = sorted(
        (r.doc_id, tuple(r.tokens or [])) for r in direct.table.read().collect()
    )
    assert a == b and len(a) > 0


def test_tailer_wap_audits_buckets_its_compaction_did_not_touch(spark, tmp_path):
    """A batch whose apply compacts leaves the compaction commit at the
    branch head, and that commit lists only the buckets that were due.
    The audit still covers every bucket the batch wrote: a poisoned row
    in a bucket not yet due for compaction fails the gate."""
    import pyspark.sql.functions as F

    from ethereum_etl_airflow_spark import verify as V
    from ethereum_etl_airflow_spark.sinks.snapshot_table import bucket_expr
    from ethereum_etl_airflow_spark.streaming.tailer import (
        AuditGateError,
        ChangeLogTailer,
    )

    def in_bucket(batch, b):
        df = generate_batch(spark, CFG, batch)
        return df.where(bucket_expr(F.col("doc_id"), 4) == b)

    root, feed = str(tmp_path / "t"), str(tmp_path / "feed")
    # bucket 0 holds one file before the feed starts; compact at two
    seeded = SnapshotTable(spark, root, num_buckets=4)
    apply_changes(seeded, in_bucket(0, 0), "seed", epoch=0)
    seeded.update_properties({"retention.compact_files": 2})
    # the batch: clean rows in bucket 0, one poisoned row in bucket 1
    poison = (
        in_bucket(1, 1)
        .where((F.col("op") != "D") & F.col("n_tok").isNotNull())
        .orderBy("seq")
        .limit(1)
        .withColumn("n_tok", F.col("n_tok") + 1)
    )
    in_bucket(1, 0).unionByName(poison).write.parquet(f"{feed}/batch-0")

    t = ChangeLogTailer(
        spark,
        feed,
        root,
        num_buckets=4,
        verify=False,
        wap_branch="audit",
        audit_checks=[V.tokens_invariant()],
    )
    v_main = t.table.current_version()
    with pytest.raises(AuditGateError):
        t.replay_batches()
    (li,) = t.applied
    assert li["compacted_buckets"] == 1 and li["touched_buckets"] == 2
    assert li["wap"]["published_version"] is None
    assert t.table.current_version() == v_main


def test_tailer_wap_publishes_batch_whose_compaction_failed(spark, tmp_path, monkeypatch):
    """The compaction after a staged delta commit fails: the epoch is
    fenced on the branch, so its gate still runs — the batch is audited,
    published and recorded before the error re-raises — and the next
    batch's apply finishes the compaction."""
    from ethereum_etl_airflow_spark import verify as V
    from ethereum_etl_airflow_spark.sources.feed import write_feed
    from ethereum_etl_airflow_spark.streaming.tailer import ChangeLogTailer

    root, feed = str(tmp_path / "t"), str(tmp_path / "feed")
    write_feed(spark, CFG, feed)
    # every bucket holds one file before the feed starts; compact at
    # three, so the feed's epoch 1 is the first to compact
    seeded = SnapshotTable(spark, root, num_buckets=4)
    apply_changes(seeded, generate_batch(spark, CFG, 0), "seed", epoch=0)
    seeded.update_properties({"retention.compact_files": 3})
    t = ChangeLogTailer(
        spark,
        feed,
        root,
        num_buckets=4,
        wap_branch="audit",
        audit_checks=[V.tokens_invariant()],
    )

    compact = SnapshotTable.compact
    calls = []

    def crash_once(self, *a, **kw):
        calls.append(a)
        if len(calls) == 1:
            raise RuntimeError("crash before the compaction commit")
        return compact(self, *a, **kw)

    monkeypatch.setattr(SnapshotTable, "compact", crash_once)
    with pytest.raises(RuntimeError, match="crash before the compaction commit"):
        t.replay_batches()
    failed = t.applied[-1]
    assert failed["epoch"] == 1 and failed["compaction_error"]
    assert failed["wap"]["published_version"] == t.table.current_version()
    assert t.table.last_epoch("cdc") == 1
    assert [li["epoch"] for li in t.replay_batches()] == [2]
    assert len(calls) == 2 and t.applied[-1]["compacted_buckets"] > 0
    assert t.table.current_version() == t.table.ref_version("audit")
    assert max(t.table.file_counts().values()) <= 3


# ---------------------------------------------------------- metadata tables


def test_metadata_tables_surface(spark, tmp_path):
    """meta_snapshots/meta_files/meta_refs: the Iceberg inspection
    tables — queryable DataFrames from driver-side manifest reads."""
    table = _seed(spark, tmp_path)
    apply_changes(table, generate_batch(spark, CFG, 1), "wap", epoch=1)
    table.create_branch("audit")
    table.create_tag("rel-1")

    snaps = {r.version: r for r in table.meta_snapshots().collect()}
    assert len(snaps) == 2
    head = table.current_version()
    assert snaps[head].parent_version == head - 1
    assert snaps[head].total_files > 0

    files = table.meta_files().collect()
    # one row per live file, however many buckets list it
    live = {f for v in table.snapshot()["bucket_files"].values() for f in v}
    assert len(files) == len(live) and {f.path for f in files} == live
    assert all(f.min_seq is not None and f.min_seq <= f.max_seq for f in files)
    # joinable with lineage: every file belongs to known buckets
    assert {b for f in files for b in f.buckets} <= set(range(table.num_buckets))

    refs = {r.name: (r.kind, r.version) for r in table.meta_refs().collect()}
    assert refs["main"] == ("branch", head)
    assert refs["audit"] == ("branch", head)
    assert refs["rel-1"] == ("tag", head)
