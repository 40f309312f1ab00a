"""Live follow-mode test: the tailer runs with a processing-time
trigger while NEW feed batches land mid-flight — they must be picked
up (the file source as sensor, S6), applied exactly-once, and the
final state must equal the full oracle fold."""

from __future__ import annotations

import time

import pytest

from ethereum_etl_airflow_spark.sources.feed import FeedConfig, lww_expected_state, write_feed
from ethereum_etl_airflow_spark.streaming.tailer import ChangeLogTailer
from tests.test_cdc_core import assert_state_matches

CFG = FeedConfig(n_docs=200, events_per_batch=500, n_batches=4, dup_tail=50)


def test_follow_mode_picks_up_new_batches(spark, tmp_path):
    feed = str(tmp_path / "feed")
    # only the first two batches exist at stream start
    write_feed(spark, CFG, feed, batches=range(0, 2))
    tailer = ChangeLogTailer(spark, feed, str(tmp_path / "t"), app_id="fm", num_buckets=8)
    q = tailer.run_stream(
        checkpoint_dir=str(tmp_path / "cp"),
        available_now=False,  # continuous micro-batches
    )
    try:
        deadline = time.time() + 120
        while tailer.table.last_epoch("fm:stream") < 0 and time.time() < deadline:
            time.sleep(1)
        # land the remaining batches while the stream is live
        write_feed(spark, CFG, feed, batches=range(2, CFG.n_batches))
        while time.time() < deadline:
            applied_events = sum(li["events_in"] for li in tailer.applied)
            if applied_events >= CFG.events_per_batch * CFG.n_batches:
                break
            time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination()
    assert_state_matches(tailer.table, spark, CFG, CFG.n_batches - 1)

def test_rate_limit_splits_backlog_into_micro_batches(spark, tmp_path):
    """Backpressure: with maxFilesPerTrigger=1 an availableNow drain of
    a 4-batch backlog must admit it over multiple fenced micro-batches
    (never one giant bite), and still converge to the oracle state."""
    feed = str(tmp_path / "feed")
    write_feed(spark, CFG, feed)
    tailer = ChangeLogTailer(spark, feed, str(tmp_path / "t"), app_id="rl", num_buckets=8)
    tailer.run_stream(
        checkpoint_dir=str(tmp_path / "cp"),
        available_now=True,
        max_files_per_trigger=1,
    )
    assert len(tailer.applied) > 1  # backlog split, not swallowed whole
    assert_state_matches(tailer.table, spark, CFG, CFG.n_batches - 1)


#: a feed whose batches >= 2 add ``lang`` and widen ``n_tok`` to long
EVO = FeedConfig(n_docs=200, events_per_batch=400, n_batches=4, dup_tail=40, evolve_at_batch=2)


def _assert_evolved_state(table, spark):
    final = table.read()
    assert "lang" in final.columns
    assert dict(final.dtypes)["n_tok"] == "bigint"
    cols = ["doc_id", "tokens", "n_tok", "source", "lang", "_seq"]

    def canon(df):
        return sorted(
            (r.doc_id, tuple(r.tokens or []), r.n_tok, r.source, r.lang, r._seq)
            for r in df.select(*cols).collect()
        )

    got, want = canon(final), canon(lww_expected_state(spark, EVO, EVO.n_batches - 1))
    assert len(got) == len(want) > 0
    assert got == want


def test_follow_mode_across_schema_evolution(spark, tmp_path):
    """A stream started before the feed's schema evolves follows it
    across two ``availableNow`` runs: the second run's micro-batch,
    with ``lang`` added and ``n_tok`` widened, is read with its own
    files' schema."""
    feed = str(tmp_path / "feed")
    write_feed(spark, EVO, feed, batches=range(0, 2))
    tailer = ChangeLogTailer(spark, feed, str(tmp_path / "t"), app_id="evo2", num_buckets=8)
    cp = str(tmp_path / "cp")
    tailer.run_stream(checkpoint_dir=cp, available_now=True)
    assert "lang" not in tailer.table.read().columns
    write_feed(spark, EVO, feed, batches=range(2, EVO.n_batches))
    tailer.run_stream(checkpoint_dir=cp, available_now=True)
    _assert_evolved_state(tailer.table, spark)


@pytest.mark.parametrize("hook", ["arrow", "transform"])
def test_micro_batch_spanning_schema_evolution(spark, tmp_path, hook):
    """One micro-batch admits files from before and after the
    evolution: it is read with the union schema (``lang`` present,
    ``n_tok`` long), with pyarrow and, with a DataFrame hook on,
    with Spark."""
    feed = str(tmp_path / "feed")
    write_feed(spark, EVO, feed)
    tailer = ChangeLogTailer(
        spark,
        feed,
        str(tmp_path / "t"),
        app_id="evo1",
        num_buckets=8,
        transform=(lambda df: df) if hook == "transform" else None,
    )
    tailer.run_stream(checkpoint_dir=str(tmp_path / "cp"), available_now=True)
    assert len(tailer.applied) == 1
    assert tailer.applied[0]["events_in"] == EVO.n_batches * EVO.events_per_batch + (
        EVO.n_batches - 1
    ) * EVO.dup_tail
    _assert_evolved_state(tailer.table, spark)
