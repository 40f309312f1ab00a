"""Live follow-mode test: the tailer runs with a processing-time
trigger while NEW feed batches land mid-flight — they must be picked
up (the file source as sensor, S6), applied exactly-once, and the
final state must equal the full oracle fold."""

from __future__ import annotations

import os
import time
import uuid

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


def _checkpoint_logs(cp: str) -> list[str]:
    """The three logs a ``run_stream`` checkpoint keeps per batch; each
    entry must carry its ``.<n>.crc`` checksum sidecar (the session
    keeps Hadoop's checksummed local file system)."""
    logs = [os.path.join(cp, d) for d in ("offsets", "commits", os.path.join("sources", "0"))]
    for path in logs:
        entries = [f for f in os.listdir(path) if f.isdigit()]
        assert entries
        for n in entries:
            assert os.path.exists(os.path.join(path, f".{n}.crc")), (path, n)
    return logs


def _last_entry(log_dir: str) -> int:
    return max(int(f) for f in os.listdir(log_dir) if f.isdigit())


def _follow_in_two_runs(spark, tmp_path, app_id, between):
    """Drain the first two feed batches, call ``between(cp, tailer)`` as
    the crash, land the other two, drain again and check the oracle."""
    feed, cp = str(tmp_path / "feed"), str(tmp_path / "cp")
    write_feed(spark, CFG, feed, batches=range(0, 2))
    tailer = ChangeLogTailer(spark, feed, str(tmp_path / "t"), app_id=app_id, num_buckets=8)
    tailer.run_stream(checkpoint_dir=cp, available_now=True, max_files_per_trigger=1)
    between(cp, tailer)
    write_feed(spark, CFG, feed, batches=range(2, CFG.n_batches))
    tailer.run_stream(checkpoint_dir=cp, available_now=True, max_files_per_trigger=1)
    epochs = [li["epoch"] for li in tailer.applied]
    assert len(epochs) == len(set(epochs))  # no micro-batch applied twice
    _checkpoint_logs(cp)
    assert_state_matches(tailer.table, spark, CFG, CFG.n_batches - 1)
    return tailer


def test_stream_restart_ignores_stray_checkpoint_temp_files(spark, tmp_path):
    """A crash between a checkpoint entry's temp write and its rename
    leaves ``.<n>.<uuid>.tmp`` in the log directory; the restarted
    stream ignores it, writes entry ``n`` itself and applies every
    remaining batch exactly once."""
    stray = []

    def crash_mid_write(cp, tailer):
        for path in _checkpoint_logs(cp):
            n = _last_entry(path) + 1
            tmp = os.path.join(path, f".{n}.{uuid.uuid4()}.tmp")
            with open(tmp, "w") as f:
                f.write('v1\n{"batchWatermarkMs":0,')  # torn write
            stray.append((path, n))

    tailer = _follow_in_two_runs(spark, tmp_path, "crtmp", crash_mid_write)
    for path, n in stray:
        assert os.path.exists(os.path.join(path, str(n)))
    assert sum(li["events_in"] for li in tailer.applied) == (
        CFG.n_batches * CFG.events_per_batch + (CFG.n_batches - 1) * CFG.dup_tail
    )


def test_stream_rerun_of_uncommitted_batch_adds_no_version(spark, tmp_path):
    """A crash after the table commit and before Spark's ``commits/<n>``:
    Spark re-runs batch ``n`` on restart, the epoch fence skips it, and
    no table version is added."""

    def crash_before_commit_log(cp, tailer):
        commits = os.path.join(cp, "commits")
        n = _last_entry(commits)
        os.remove(os.path.join(commits, str(n)))
        os.remove(os.path.join(commits, f".{n}.crc"))
        version, applied = tailer.table.current_version(), len(tailer.applied)
        tailer.run_stream(checkpoint_dir=cp, available_now=True, max_files_per_trigger=1)
        assert os.path.exists(os.path.join(commits, str(n)))  # batch n ran again
        assert tailer.table.current_version() == version
        assert len(tailer.applied) == applied
        assert_state_matches(tailer.table, spark, CFG, 1)

    _follow_in_two_runs(spark, tmp_path, "crcommit", crash_before_commit_log)


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
