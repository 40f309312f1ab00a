"""Incremental HLL table statistic: the register set maintained
batch-by-batch through the atomic commit hook must equal a full
recompute over everything ever ingested, survive fenced replay
without drift, and estimate within the sketch's error bound."""

from __future__ import annotations

import json

from ethereum_etl_airflow_spark.functions.hll import HLL_M, batch_registers
from ethereum_etl_airflow_spark.operators.cdc import apply_changes
from ethereum_etl_airflow_spark.operators.table_stats import (
    distinct_estimate,
    props_for_batch,
    stored_registers,
)
from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable
from ethereum_etl_airflow_spark.sources.feed import FeedConfig, generate_batch

CFG = FeedConfig(n_docs=400, events_per_batch=1500, n_batches=3, dup_tail=100)


def _ingest(spark, root: str) -> SnapshotTable:
    table = SnapshotTable(spark, root)
    for b in range(CFG.n_batches):
        batch = generate_batch(spark, CFG, b)
        props = props_for_batch(table, batch, "doc_id")
        apply_changes(table, batch, "stats", b, verify=False, properties=props)
    return table


def test_incremental_registers_match_full_recompute(spark, tmp_path):
    table = _ingest(spark, str(tmp_path / "t"))

    all_ev = generate_batch(spark, CFG, 0)
    for b in range(1, CFG.n_batches):
        all_ev = all_ev.unionByName(generate_batch(spark, CFG, b))
    full = batch_registers(all_ev, "doc_id")

    assert stored_registers(table, "doc_id") == full

    exact = all_ev.select("doc_id").distinct().count()
    rel_err = abs(distinct_estimate(table, "doc_id") - exact) / exact
    assert rel_err < 3 * 1.04 / (HLL_M**0.5), (distinct_estimate(table), exact)


def test_fenced_replay_does_not_drift_stat(spark, tmp_path):
    table = _ingest(spark, str(tmp_path / "t"))
    before = stored_registers(table, "doc_id")

    # replay an already-committed epoch (crash-after-commit shape):
    # the fence skips it and the registers stay byte-identical
    batch = generate_batch(spark, CFG, 1)
    props = props_for_batch(table, batch, "doc_id")
    assert apply_changes(table, batch, "stats", 1, verify=False, properties=props) is None
    assert stored_registers(table, "doc_id") == before

    # and even an UNfenced re-merge is idempotent (MAX-merge): merging
    # batch 1's registers again reproduces the stored set exactly
    remerged = json.loads(props_for_batch(table, batch, "doc_id")["stats:hll:doc_id"])
    assert remerged == before


def test_tailer_track_ndv_and_resume(spark, tmp_path):
    """The opt-in tailer flag maintains the stat through a crash-resume:
    a second tailer over the same feed re-applies nothing and ends with
    the same registers a single clean run produces, and so does a
    streamed run."""
    from ethereum_etl_airflow_spark.streaming.tailer import ChangeLogTailer
    from ethereum_etl_airflow_spark.sources.feed import write_feed

    feed = str(tmp_path / "feed")
    write_feed(spark, CFG, feed)
    root = str(tmp_path / "t")

    t1 = ChangeLogTailer(spark, feed, root, app_id="ndv", verify=False, track_ndv="doc_id")
    lineage = t1.replay_batches(end=1)  # "crash" after two batches
    assert all("ndv_estimate" in li for li in lineage)
    mid = stored_registers(t1.table, "doc_id")
    assert any(mid)

    t2 = ChangeLogTailer(spark, feed, root, app_id="ndv", verify=False, track_ndv="doc_id")
    t2.replay_batches()  # resumes: batches 0-1 fenced, batch 2 applied
    final = stored_registers(t2.table, "doc_id")

    clean = ChangeLogTailer(
        spark, feed, str(tmp_path / "t_clean"), app_id="ndv", verify=False,
        track_ndv="doc_id",
    )
    clean.replay_batches()
    assert final == stored_registers(clean.table, "doc_id")

    # stream mode keeps the same statistic: its micro-batches group the
    # feed differently, but the MAX-merge makes the registers equal
    streamed = ChangeLogTailer(
        spark, feed, str(tmp_path / "t_stream"), app_id="ndv", verify=False,
        track_ndv="doc_id",
    )
    streamed.run_stream(str(tmp_path / "ck"), available_now=True)
    assert streamed.applied and all("ndv_estimate" in li for li in streamed.applied)
    assert stored_registers(streamed.table, "doc_id") == final


def test_register_merge_algebra():
    """Associative + commutative + idempotent over random register sets
    (the properties that make the stat crash-safe and shard-mergeable).
    Pure driver-side — no Spark."""
    import random

    from ethereum_etl_airflow_spark.functions.hll import HLL_B, estimate, merge_registers

    rng = random.Random(42)

    def regs():
        return [rng.randint(0, HLL_B + 1) for _ in range(HLL_M)]

    for _ in range(50):
        a, b, c = regs(), regs(), regs()
        assert merge_registers(a, b) == merge_registers(b, a)
        assert merge_registers(merge_registers(a, b), c) == merge_registers(
            a, merge_registers(b, c)
        )
        assert merge_registers(a, a) == a
        # merging can only grow the estimate (monotone sketch)
        assert estimate(merge_registers(a, b)) >= max(estimate(a), estimate(b))
