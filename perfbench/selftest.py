"""Self-test of the benchmark itself (not of the package).

    python3 perfbench/selftest.py

Runs every workload at a tiny size, traced and untraced, and checks
that the result line carries every metric named in BENCHMARK.json with
its unit and that the outputs pass the correctness gate. Then runs
``bulk_backfill`` with a table corrupted after the timed window (one
live document deleted behind the oracle's back) and checks that the
gate reports every operation failed. Exits 0 when all checks hold.
"""

from __future__ import annotations

import json
import sys

import harness

harness.require_package()

import run  # noqa: E402  (needs the package on sys.path)
import workloads  # noqa: E402

SCALE = 0.02
SECONDS = 2.0


class CorruptedBulk(workloads.BulkBackfill):
    """Deletes one live document from the checked table before the gate."""

    def check(self):
        from ethereum_etl_airflow_spark.operators.cdc import apply_changes

        table = self.table()
        victim = table.read().select("doc_id").first()["doc_id"]
        rogue = self.spark.createDataFrame(
            [("D", victim, 10**12)], "op string, doc_id string, seq long"
        )
        apply_changes(table, rogue, "selftest", epoch=0)
        return super().check()


def expect_metrics(result: dict, spec: list[dict]) -> list[str]:
    errors = []
    for m in spec:
        got = result["metrics"].get(m["name"])
        if got is None:
            errors.append(f"missing metric {m['name']}")
        elif got["unit"] != m["unit"]:
            errors.append(f"{m['name']}: unit {got['unit']} != {m['unit']}")
    extra = set(result["metrics"]) - {m["name"] for m in spec}
    if extra:
        errors.append(f"unexpected metrics {sorted(extra)}")
    return errors


def main() -> int:
    bench = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    errors = []
    for wl in bench["workloads"]:
        for trace in (False, True):
            out = run.run(wl["name"], seed=7, seconds=SECONDS, trace=trace, scale=SCALE)
            res = out["result"]
            spec = bench["per_layer"] if trace else bench["end_to_end"]
            errs = expect_metrics(res, spec)
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                errs.append(f"gate: attempted={res['attempted']} failed={res['failed']}")
            errors += [f"{wl['name']} trace={int(trace)}: {e}" for e in errs]
            harness.log(f"{wl['name']} trace={int(trace)}: {'ok' if not errs else errs}")

    workloads.WORKLOADS["bulk_backfill"] = CorruptedBulk
    try:
        res = run.run("bulk_backfill", seed=7, seconds=SECONDS, trace=False, scale=SCALE)["result"]
    finally:
        workloads.WORKLOADS["bulk_backfill"] = workloads.BulkBackfill
    if res["correct"] or res["failed"] != res["attempted"]:
        errors.append(f"corrupted table passed the gate: {res}")
    harness.log(f"corrupted table: failed {res['failed']} of {res['attempted']}")

    for e in errors:
        print(f"FAIL {e}")
    print("selftest:", "FAIL" if errors else "PASS")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
