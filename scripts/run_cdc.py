#!/usr/bin/env python
"""CDC job entry point for spark-submit (the north rule's launch path).

Cluster launch:

    zip -r engine.zip ethereum_etl_airflow_spark
    spark-submit --master <cluster> --num-executors N \\
        --py-files engine.zip scripts/run_cdc.py \\
        --feed-dir s3://.../feed --table-root s3://.../table \\
        --checkpoint s3://.../cp --mode stream

Local smoke:

    python scripts/run_cdc.py --feed-dir /tmp/feed --table-root /tmp/t \\
        --mode replay --local 8

Modes:
  replay  deterministic batch loop over feed/batch-NNNNNN dirs
          (resume-safe: committed epochs are fenced and skipped)
  stream  Structured Streaming file tailer with checkpoint
          (Trigger.AvailableNow by default; --follow for continuous)

Per-batch lineage (offset range, counts, snapshot version, wall time,
events/sec) prints to stdout as JSON lines and lands in the table's
_lineage/ dir either way.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--feed-dir", required=True)
    ap.add_argument("--table-root", required=True)
    ap.add_argument("--checkpoint", default=None, help="required for --mode stream")
    ap.add_argument(
        "--mode",
        choices=["replay", "stream", "compact", "expire-snapshots", "expire-tombstones", "rollup", "rewind", "rewind-seq", "delete-where"],
        default="replay",
        help="ingest modes (replay/stream) or maintenance ops on the table",
    )
    ap.add_argument("--keep-last", type=int, default=2, help="expire-snapshots retention")
    ap.add_argument("--watermark-seq", type=int, default=None, help="expire-tombstones bound")
    ap.add_argument("--rollup-root", default=None, help="stats table root for --mode rollup")
    ap.add_argument(
        "--rewind-epoch", type=int, default=None,
        help="chain-reorg recovery for --mode rewind: roll the table "
        "back to this batch epoch and reset the fence; then replace "
        "the orphaned feed batch dirs and re-run --mode replay",
    )
    ap.add_argument(
        "--rewind-seq", type=int, default=None,
        help="chain-reorg recovery for --mode rewind-seq (stream-mode "
        "ingest, where epochs are Spark batchIds): roll back every "
        "applied event above this chain position; the stream generation "
        "bumps so the next --mode stream re-reads corrected dirs",
    )
    ap.add_argument("--delete-col", default=None, help="delete-where predicate column")
    ap.add_argument("--delete-lo", type=float, default=None)
    ap.add_argument("--delete-hi", type=float, default=None)
    ap.add_argument(
        "--tombstones", action="store_true",
        help="delete-where leaves tombstones at the deleted rows' seq "
        "(resurrection-proof under an active feed; disables the "
        "metadata-only fast path)",
    )
    ap.add_argument("--app-id", default="cdc")
    ap.add_argument("--buckets", type=int, default=None)
    ap.add_argument("--local", type=int, default=None, help="local[N] master (omit under spark-submit)")
    ap.add_argument("--follow", action="store_true", help="stream continuously (no AvailableNow)")
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--checks", action="store_true", help="run invariant checks per batch")
    ap.add_argument(
        "--track-ndv",
        default=None,
        metavar="COL",
        help="maintain an incremental HLL distinct-key statistic for COL "
        "in snapshot properties (operators/table_stats.py)",
    )
    ap.add_argument(
        "--wap-branch",
        default=None,
        metavar="NAME",
        help="write-audit-publish: stage every batch on this branch, run "
        "the --checks suite against the staged head, and fast-forward "
        "main only on pass (a failing batch resets the branch and exits "
        "non-zero; re-run after fixing the feed — exactly-once holds)",
    )
    args = ap.parse_args()

    from ethereum_etl_airflow_spark.session import get_spark
    from ethereum_etl_airflow_spark.streaming.tailer import ChangeLogTailer

    spark = get_spark(
        app_name=f"cdc-{args.app_id}",
        master=f"local[{args.local}]" if args.local else "inherit",
    )

    checks = None
    if args.checks:
        from ethereum_etl_airflow_spark.verify import tokens_invariant, unique_key

        checks = [unique_key("doc_id"), tokens_invariant()]

    tailer = ChangeLogTailer(
        spark,
        args.feed_dir,
        args.table_root,
        app_id=args.app_id,
        num_buckets=args.buckets,
        # with --wap-branch the checks gate PUBLICATION (audit_checks on
        # the staged branch head) instead of running post-publish
        post_batch_checks=None if args.wap_branch else checks,
        audit_checks=checks if args.wap_branch else None,
        wap_branch=args.wap_branch,
        track_ndv=args.track_ndv,
    )

    if args.mode == "rewind":
        if args.rewind_epoch is None:
            ap.error("--rewind-epoch is required for rewind")
        info = tailer.rewind(args.rewind_epoch)
        print(json.dumps({"op": "rewind", "result": info}))
        spark.stop()
        return 0

    if args.mode == "rewind-seq":
        if args.rewind_seq is None:
            ap.error("--rewind-seq is required for rewind-seq")
        info = tailer.rewind_to_seq(args.rewind_seq)
        print(json.dumps({"op": "rewind_seq", "result": info}))
        spark.stop()
        return 0

    if args.mode in ("compact", "expire-snapshots", "expire-tombstones", "rollup", "delete-where"):
        # maintenance ops (reference: clean DAG M3/M4; Iceberg table maintenance)
        if args.mode == "delete-where":
            if args.delete_col is None:
                ap.error("--delete-col is required for delete-where")
            rep = tailer.table.delete_where(
                args.delete_col,
                lo=args.delete_lo,
                hi=args.delete_hi,
                tombstones=args.tombstones,
            )
            print(json.dumps({"op": "delete-where", "result": rep}))
        elif args.mode == "compact":
            snap = tailer.table.compact()
            print(json.dumps({"op": "compact", "version": snap["version"]}))
        elif args.mode == "expire-snapshots":
            removed = tailer.table.expire_snapshots(keep_last=args.keep_last)
            print(json.dumps({"op": "expire-snapshots", "files_removed": removed}))
        elif args.mode == "expire-tombstones":
            if args.watermark_seq is None:
                ap.error("--watermark-seq is required for expire-tombstones")
            snap = tailer.table.expire_tombstones(args.watermark_seq)
            print(json.dumps({"op": "expire-tombstones", "version": snap["version"]}))
        else:
            from ethereum_etl_airflow_spark.operators.rollup import IncrementalRollup

            rollup = IncrementalRollup(
                tailer.table, args.rollup_root or f"{args.table_root}_stats"
            )
            print(json.dumps({"op": "rollup", "result": rollup.refresh()}))
        spark.stop()
        return 0

    if args.mode == "replay":
        from ethereum_etl_airflow_spark.streaming.tailer import AuditGateError

        try:
            for li in tailer.replay_batches():
                print(json.dumps(li))
        except AuditGateError as e:
            # staged batch failed the audit: main untouched, branch
            # reset; the failing epoch re-applies after the fix
            print(json.dumps({"audit_failed": True, "error": str(e)}))
            spark.stop()
            return 3
    else:
        if not args.checkpoint:
            ap.error("--checkpoint is required for --mode stream")
        tailer.run_stream(
            checkpoint_dir=args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            available_now=not args.follow,
        )
        for li in tailer.applied:
            print(json.dumps(li))

    tps = tailer.total_events_per_sec()
    print(json.dumps({"summary": True, "batches": len(tailer.applied), "events_per_sec": tps}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
