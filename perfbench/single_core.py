"""Single-core baseline for ``bulk_backfill``: replay an existing feed
at ``local[1]`` in this process, pinned to one CPU.

    python3 perfbench/single_core.py FEED_DIR

Prints events/second of the second batch's apply as the last line of
stdout; applying the first batch warms the JVM up, untimed, as the
warm-up replay does in the 4-core measurement.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import harness


def main(feed_dir: str) -> None:
    harness.require_package()
    os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})  # the JVM inherits it
    work = harness.make_workdir("one-core")
    from ethereum_etl_airflow_spark import session
    from ethereum_etl_airflow_spark.streaming.tailer import ChangeLogTailer

    spark = harness.start_session(session.get_spark, work, cores=1)
    try:
        tailer = ChangeLogTailer(spark, feed_dir, str(work / "table"), app_id="bulk")
        tailer.replay_batches(end=0)
        t = time.perf_counter()
        lineage = tailer.replay_batches(start=1, end=1)
        wall = time.perf_counter() - t
        print(lineage[0]["events_in"] / wall, flush=True)
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1])
