#!/usr/bin/env python
"""Soak test: CDC replay at bench scale with every hard feature on at
once — duplicates, deletes, hot-key skew, mid-stream schema evolution,
threshold compaction, a simulated crash + resume — verified against
the from-first-principles LWW oracle by per-bucket hash compare
(SURVEY §7.3: exact per-row compare at test scale, xxhash64 aggregate
compare at soak scale).

    python scripts/soak.py [--events 20000000] [--cpus N]

``--cpus`` defaults to the cores this process may run on.

Prints one JSON line: event count, wall, events/sec, state hash match.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def state_hash(df, cols):
    """Order-insensitive content hash: sum of per-row xxhash64."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    row = df.agg(F.sum(h).alias("h"), F.count("*").alias("n")).collect()[0]
    return int(row["h"] or 0), int(row["n"])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=20_000_000)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--workdir", default=None)
    ap.add_argument(
        "--governed",
        action="store_true",
        help="full-governance mode: WAP audit branch (tokens invariant + "
        "unique-key checks gate every publish), dead-letter quarantine, "
        "and incremental NDV stats ALL on — measures the audited-ingest "
        "overhead vs the bare path",
    )
    args = ap.parse_args()

    from ethereum_etl_airflow_spark.session import get_spark
    from ethereum_etl_airflow_spark.sources.feed import (
        FeedConfig,
        lww_expected_state,
        write_feed,
    )
    from ethereum_etl_airflow_spark.streaming.tailer import ChangeLogTailer

    base = args.workdir or (
        "/dev/shm" if os.access("/dev/shm", os.W_OK) else tempfile.gettempdir()
    )
    work = os.path.join(base, f"spark_graft_soak_{os.getpid()}")
    os.makedirs(work, exist_ok=True)

    n_batches = 8
    cfg = FeedConfig(
        n_docs=args.events // 4,
        events_per_batch=args.events // n_batches,
        n_batches=n_batches,
        seed=42,
        dup_tail=50_000,
        hot_doc_fraction=0.001,
        hot_event_fraction=0.15,
        delete_fraction=0.05,
        evolve_at_batch=n_batches // 2,  # schema evolves mid-stream
    )

    spark = get_spark("soak", master=f"local[{args.cpus}]", shuffle_partitions=2 * args.cpus)
    feed = os.path.join(work, "feed")
    t0 = time.time()
    write_feed(spark, cfg, feed)
    gen_sec = round(time.time() - t0, 1)

    table_root = os.path.join(work, "table")
    gov_kw = {}
    if args.governed:
        from ethereum_etl_airflow_spark.verify import tokens_invariant, unique_key

        gov_kw = dict(
            wap_branch="audit",
            audit_checks=[unique_key("doc_id"), tokens_invariant()],
            quarantine_root=os.path.join(work, "dlq"),
            track_ndv="doc_id",
        )
    # crash-resume drill: apply half, abandon the tailer, resume from 0
    t1 = time.time()
    ChangeLogTailer(spark, feed, table_root, app_id="soak", **gov_kw).replay_batches(
        end=n_batches // 2 - 1
    )
    tailer = ChangeLogTailer(spark, feed, table_root, app_id="soak", **gov_kw)
    lineage = tailer.replay_batches()  # fenced epochs skipped, rest applied
    wall = time.time() - t1
    resumed_epochs = [li["epoch"] for li in lineage]

    cols = ["doc_id", "tokens", "n_tok", "source", "lang"]
    got_h = state_hash(tailer.table.read(), cols)
    want_h = state_hash(
        lww_expected_state(spark, cfg, n_batches - 1).select(*cols), cols
    )
    compactions = sum(li["compacted_buckets"] for li in tailer.applied)
    file_counts = tailer.table.file_counts()

    out = {
        "events": args.events,
        "gen_sec": gen_sec,
        "replay_wall_sec": round(wall, 1),
        "events_per_sec": round(args.events / wall, 1),
        "resumed_epochs": resumed_epochs,
        "schema_evolved": "lang" in tailer.table.read().columns,
        "compacted_buckets_total": compactions,
        "max_files_per_bucket": max(file_counts.values()),
        "state_hash_match": got_h == want_h,
        "rows": got_h[1],
        "governed": bool(args.governed),
    }
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    return 0 if out["state_hash_match"] else 1


if __name__ == "__main__":
    sys.exit(main())
