"""Streaming gap-sessionization: the stateful-streaming twin of
``operators/temporal.sessionize_events``.

Batch sessionization is a window + cumsum; in a stream the session is
OPEN-ENDED state — you cannot know a session ended until either a
later event for the same user arrives past the gap, or event time
(the watermark) moves past ``last_event + gap``.  That is exactly the
``applyInPandasWithState`` + ``EventTimeTimeout`` construct:

* state per user: (start, end, n_events, total_value) of the one open
  session — O(active users), not O(events); RocksDB-backed at scale
  (``stateful.use_rocksdb_state_store``);
* each micro-batch merges its (batch-sorted, Arrow-delivered) events
  into the open session VECTORIZED: intra-batch session splits come
  from a cumsum over gap>threshold flags — pandas groupby, no per-row
  Python state machine; all but the trailing session close and emit;
* the timeout closes idle sessions when the watermark passes
  ``session_end + gap`` — emission is APPEND-mode (closed sessions
  only), so downstream consumers see each session exactly once.

Same 30-minute gap rule as the batch operator (strict ``> gap`` opens
a new session); closed-session rows are equal to the batch result for
every user whose activity has fully quiesced (asserted in
tests/test_streaming_sessions.py).

Late data: events within the watermark merge or reopen nothing — an
event later than an already-emitted session boundary starts/extends
the CURRENT open session (amend-downstream semantics, same tradeoff
as the reference's live/history stitch, stitch_history_live).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: inactivity gap that closes a session (seconds) — same as the batch rule
SESSION_GAP_SEC = 1800

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

#: open-session state: integer-microsecond epoch bounds (floats lose
#: sub-microsecond precision at modern epochs and trip Arrow's safe
#: timestamp cast) + running aggregates
STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _emit(user_id, start_us, end_us, n, tot):
    return pd.DataFrame(
        {
            "user_id": [user_id],
            "session_start": [pd.Timestamp(int(start_us), unit="us")],
            "session_end": [pd.Timestamp(int(end_us), unit="us")],
            "n_events": [n],
            "total_value": [tot],
        }
    )


def _session_update(key, pdfs, state: GroupState):
    (user_id,) = key
    if state.hasTimedOut:
        start, end, n, tot = state.get
        state.remove()
        yield _emit(user_id, start, end, n, tot)
        return

    chunks = [p for p in pdfs if len(p)]  # empty chunks poison concat dtypes
    batch = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    batch = batch.sort_values("ts", kind="mergesort")
    # integer microseconds end-to-end: exact, Arrow-safe
    usecs = batch["ts"].astype("int64").to_numpy() // 1000
    vals = batch["value"].fillna(0.0).to_numpy()
    gap_us = SESSION_GAP_SEC * 1_000_000

    # intra-batch session split: cumsum over gap>GAP flags (vectorized)
    import numpy as np

    new_flag = np.ones(len(usecs), dtype=np.int64)
    new_flag[1:] = (np.diff(usecs) > gap_us).astype(np.int64)

    # pure-numpy segment aggregation (events are time-sorted, so each
    # session is a contiguous run): a pandas groupby + iterrows here
    # costs ~50us per session — at 10^5 sessions/batch that dominated
    # the whole micro-batch
    bounds = np.flatnonzero(new_flag)
    s_arr = usecs[bounds]
    e_arr = usecs[np.append(bounds[1:] - 1, len(usecs) - 1)]
    n_arr = np.diff(np.append(bounds, len(usecs)))
    v_arr = np.add.reduceat(vals, bounds)
    sessions = [
        (int(s), int(e), int(n_), float(v))
        for s, e, n_, v in zip(s_arr, e_arr, n_arr, v_arr)
    ]
    if state.exists:
        start, end, n, tot = state.get
        first = sessions[0]
        if first[0] - end <= gap_us:
            # batch head continues the open session: merge
            sessions[0] = (
                min(start, first[0]),
                max(end, first[1]),
                n + first[2],
                tot + first[3],
            )
        else:
            # gap exceeded before the batch began: the open session is done
            sessions.insert(0, (start, end, n, tot))

    # every session but the trailing one is provably closed (a later
    # in-batch event exceeded the gap); the last stays open as state
    closed, (start, end, n, tot) = sessions[:-1], sessions[-1]

    state.update((start, end, n, tot))
    # close the session when event time passes end + gap; a late-but-
    # in-watermark event can put end+gap BEHIND the watermark, which
    # Spark rejects — clamp forward so the session closes at the next
    # timeout opportunity instead
    wm = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(end // 1000 + SESSION_GAP_SEC * 1000, wm + 1))
    if closed:
        # ONE frame for the whole group's closed sessions — a per-
        # session single-row DataFrame was the other 10^5-scale cost
        yield pd.DataFrame(
            {
                "user_id": np.full(len(closed), user_id, dtype=np.int64),
                "session_start": pd.to_datetime(
                    np.array([c[0] for c in closed], dtype="int64"), unit="us"
                ),
                "session_end": pd.to_datetime(
                    np.array([c[1] for c in closed], dtype="int64"), unit="us"
                ),
                "n_events": np.array([c[2] for c in closed], dtype=np.int64),
                "total_value": np.array([c[3] for c in closed], dtype=np.float64),
            }
        )


def sessionize_stream(stream: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Closed sessions (append) from a stream with ``user_id``, ``ts``,
    ``value`` columns.  The watermark bounds both late data and state
    retention; state size is O(users active within the gap)."""
    withts = stream.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", watermark
    )
    return withts.groupBy("user_id").applyInPandasWithState(
        _session_update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_session_stream(
    spark,
    feed_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Drive sessionization over a parquet feed directory with
    AvailableNow into a parquet sink (file sinks recover from the
    checkpoint, so repeated calls resume exactly-once — the sink's
    commit log deduplicates replayed batches).  Returns the
    accumulated closed sessions."""
    sample = spark.read.option("recursiveFileLookup", "true").parquet(feed_dir)
    reader = spark.readStream.schema(sample.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.option("recursiveFileLookup", "true").parquet(feed_dir)
    q = (
        sessionize_stream(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


# ---------------------------------------------------------------------------
# Oracle-checked lifecycle query: drive the events table through the
# streaming sessionizer (one drain + watermark flush) — closed sessions
# must equal the batch window-cumsum computation, session by session.
# total_value is deliberately NOT emitted here: the float-summation
# order differs between pandas state and the SQL oracle; exact-value
# aggregation is covered by the batch twin (sessionize_events) and the
# pytest suite's hand-built frames.
# ---------------------------------------------------------------------------

from ethereum_etl_airflow_spark.queries import _scratch_dir, _t, register  # noqa: E402


@register(
    "sessionize_stream_closed",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
        FROM seq
    )
    SELECT user_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_no
    """,
    doc="streaming sessionizer driven over the events table (AvailableNow "
    "+ watermark flush); closed sessions equal the batch lag-gap cumsum",
    survey_ref="§2.10 stateful op + event-time timeout; the streaming twin "
    "of sessionize_events (operators/temporal.py)",
)
def sessionize_stream_closed(spark, sf_dir: str):
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    )
    hi = ev.agg(F.max("ts")).collect()[0][0]
    root = _scratch_dir("sess_stream_")
    ev.write.mode("overwrite").parquet(f"{root}/feed/data")
    # flush event far past every session's timeout so the AvailableNow
    # final watermark pass closes ALL real sessions (the flush user's
    # own session stays open and is filtered out)
    flush = [(int(-1), hi + dt.timedelta(seconds=2 * SESSION_GAP_SEC + 10_000), 0.0)]
    spark.createDataFrame(flush, "user_id long, ts timestamp, value double").write.mode(
        "overwrite"
    ).parquet(f"{root}/feed/flush")
    closed = run_session_stream(
        spark, f"{root}/feed", f"{root}/cp", f"{root}/out", max_files_per_trigger=None
    )
    return closed.where(F.col("user_id") >= 0).select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )
