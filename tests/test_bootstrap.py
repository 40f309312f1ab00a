"""Snapshot-then-stream bootstrap (Debezium initial-snapshot shape):
seed a table from an existing consistent state, fence the history it
covers, tail only the unseen batches — final state identical to a
full-history replay."""

import pytest

from ethereum_etl_airflow_spark.sources.feed import FeedConfig, write_feed
from ethereum_etl_airflow_spark.streaming.tailer import ChangeLogTailer


CFG = FeedConfig(n_docs=200, events_per_batch=500, n_batches=4, dup_tail=50)


def _state(table):
    """Order-insensitive folded-state dict (payload + version)."""
    df = table.read_raw()
    cols = [c for c in df.columns if c not in ("_bucket",)]
    return {r["doc_id"]: tuple(r[c] for c in cols if c != "doc_id") for r in df.select(*cols).collect()}


def test_bootstrap_then_tail_converges(spark, tmp_path):
    feed = str(tmp_path / "feed")
    write_feed(spark, CFG, feed)

    # reference: full-history replay
    full = ChangeLogTailer(spark, feed, str(tmp_path / "full"), app_id="bt")
    full.replay_batches()

    # source state as of batch 1 (what a consistent snapshot would dump)
    src = ChangeLogTailer(spark, feed, str(tmp_path / "src"), app_id="bt")
    src.replay_batches(end=1)

    # bootstrap + tail: only batches 2,3 are read
    boot = ChangeLogTailer(spark, feed, str(tmp_path / "boot"), app_id="bt")
    li = boot.bootstrap_from_state(src.table.read_raw(), upto_epoch=1)
    assert li["op"] == "bootstrap" and li["rows"] > 0
    # a bulk load is written as a rewrite: one file per bucket, none shared
    snap = boot.table.snapshot()
    assert "file_buckets" not in snap
    files = [f for fs in snap["bucket_files"].values() for f in fs]
    assert all(len(fs) == 1 for fs in snap["bucket_files"].values())
    assert len(files) == len(set(files))
    applied = boot.replay_batches()
    assert [x["epoch"] for x in applied] == [2, 3]  # 0,1 fenced by bootstrap

    assert _state(boot.table) == _state(full.table)


def test_bootstrap_preserves_lww_against_late_events(spark, tmp_path):
    """A bootstrapped row keeps its SOURCE _seq: replaying an older
    feed batch over it (operator error / at-least-once overlap) must
    not regress the row — the fold's ordering contract survives the
    bulk load."""
    feed = str(tmp_path / "feed")
    write_feed(spark, CFG, feed)
    src = ChangeLogTailer(spark, feed, str(tmp_path / "src"), app_id="bt")
    src.replay_batches(end=2)

    boot = ChangeLogTailer(spark, feed, str(tmp_path / "boot"), app_id="bt2")
    boot.bootstrap_from_state(src.table.read_raw(), upto_epoch=2)
    before = _state(boot.table)
    # force-replay old history under a DIFFERENT app_id (so fencing
    # doesn't skip it): LWW must keep every newer bootstrapped version
    old = ChangeLogTailer(spark, feed, str(tmp_path / "boot"), app_id="other")
    old.replay_batches(end=1)
    assert _state(boot.table) == before


def test_bootstrap_refuses_nonempty_table_and_bad_state(spark, tmp_path):
    feed = str(tmp_path / "feed")
    write_feed(spark, CFG, feed)
    t = ChangeLogTailer(spark, feed, str(tmp_path / "t"), app_id="bt")
    t.replay_batches(end=0)
    with pytest.raises(ValueError, match="empty table"):
        t.bootstrap_from_state(t.table.read_raw(), upto_epoch=0)
    fresh = ChangeLogTailer(spark, feed, str(tmp_path / "fresh"), app_id="bt")
    with pytest.raises(ValueError, match="missing columns"):
        fresh.bootstrap_from_state(t.table.read_raw().drop("_seq"), upto_epoch=0)
