"""End-to-end parse-dataset executor: runs a planner plan.

The reference's per-dataset parse run (``parse_dataset_folder_logic.py:
21-136`` + ``parse_table_definition_logic.py:148-281``) does, per spec
in topological order: full refresh when the spec (or a transitive
dependency) changed, else an incremental single-slice MERGE; SQL-type
definitions become views with ``ref()`` substitution; finally the state
manager persists new content hashes + the last processed position under
an optimistic lock.

This executor is the Spark-native equivalent over the engine's own
primitives:

* history tables are :class:`SnapshotTable`\\ s (atomic commits, epoch
  fencing, time travel) — one per JSON spec, keyed by the feed's
  monotone position column;
* **full refresh** recompiles the spec over the whole feed up to
  ``upto_pos`` and replaces every bucket in ONE atomic commit;
* **incremental** compiles only the new slice ``(last_pos, upto_pos]``
  and lands it as level-0 delta runs (write cost O(slice), the
  merge-on-read property that keeps a 10^10-event history sustainable);
* epoch fencing makes ``run`` idempotent: a crash-replay with the same
  ``upto_pos`` skips specs whose history already carries that epoch;
* ``ref()`` edges resolve to the *materialized* upstream history (or
  the upstream view), exactly like the reference's cross-table refs;
* SQL specs register Spark temp views with ``ref()`` substituted to the
  mangled upstream view names (``replace_refs`` analogue);
* :meth:`stitch` is the serving view: history ``<= last_pos`` UNION
  freshly-parsed live rows ``> last_pos`` (the reference's
  history-union-live stitch, SURVEY §3.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethereum_etl_airflow_spark.plans.compiler import compile_spec
from ethereum_etl_airflow_spark.plans.planner import PlannerState, commit_plan, plan
from ethereum_etl_airflow_spark.plans.spec import (
    BQ_TABLE_REGEX,
    REF_REGEX,
    ExtractionSpec,
    SqlViewSpec,
)
from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable, bucket_expr

#: feed column giving the monotone logical position (block-number analogue)
POS_COL = "event_id"


def _view_name(spec_name: str) -> str:
    return spec_name.replace(".", "__")


class ParseDatasetExecutor:
    """Executes a mixed JSON+SQL spec DAG against an ordered feed."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        specs: dict[str, ExtractionSpec | SqlViewSpec],
        num_buckets: int = 8,
        max_full_refresh: int = 70,
    ):
        self.spark = spark
        self.root = root
        self.specs = specs
        self.num_buckets = num_buckets
        self.max_full_refresh = max_full_refresh
        self.state = PlannerState(os.path.join(root, "_state.json"))

    # ------------------------------------------------------------------ io

    def table(self, name: str) -> SnapshotTable:
        ds, tbl = name.split(".", 1)
        return SnapshotTable(
            self.spark, os.path.join(self.root, ds, tbl), num_buckets=self.num_buckets
        )

    def last_pos(self) -> int:
        pos = self.state.load().get("_last_pos")
        return -1 if pos is None else int(pos)

    def read(self, name: str) -> DataFrame:
        """Materialized payload of a JSON spec's history table."""
        df = self.table(name).read()
        return df.drop("doc_id", "_seq", "_epoch", "_tombstone")

    # ----------------------------------------------------------------- run

    def _materialize(
        self, spec: ExtractionSpec, source: DataFrame, mode: str,
        last_pos: int, upto_pos: int, outputs: dict[str, DataFrame],
    ) -> str:
        table = self.table(spec.name)
        app_id = f"parse:{spec.name}"
        if (
            table.exists()
            and table.last_epoch(app_id) >= upto_pos
            # spec-aware fence (ADVICE r2): the epoch fence only covers
            # runs of the SAME spec content — a changed spec at an
            # unchanged upto_pos must still take its full refresh, or
            # the history would keep old-spec rows forever
            and table.snapshot()["properties"].get("spec_content_hash")
            == spec.content_hash
        ):
            return "fenced"  # crash-replay of an already-applied run
        full = mode == "full_refresh" or not table.exists()
        lo = -1 if full else last_pos
        src = source.where(
            (F.col(POS_COL) > F.lit(lo)) & (F.col(POS_COL) <= F.lit(upto_pos))
        )
        parsed = compile_spec(spec, src, resolve_ref=lambda n: outputs[n])
        out = parsed.select(
            F.col(POS_COL).cast("string").alias("doc_id"),
            F.col(POS_COL).cast("long").alias("_seq"),
            F.lit(upto_pos).cast("long").alias("_epoch"),
            F.lit(False).alias("_tombstone"),
            *[F.col(c) for c in parsed.columns],
        ).withColumn(
            "_bucket",
            bucket_expr(F.col(POS_COL).cast("string"), self.num_buckets),
        )
        table.commit(
            out,
            replace_buckets=set(range(self.num_buckets)) if full else set(),
            app_id=app_id,
            epoch=upto_pos,
            new_schema=out.drop("_bucket").schema,
            # persisted transactionally with the data it fences
            properties={"spec_content_hash": spec.content_hash},
            lineage={
                "op": "parse_full" if full else "parse_incremental",
                "pos_range": [lo, upto_pos],
                "spec_hash": spec.content_hash,
            },
        )
        return "full_refresh" if full else "incremental"

    def _create_view(self, spec: SqlViewSpec, outputs: dict[str, DataFrame]) -> DataFrame:
        # replace_refs analogue: register each upstream output as a temp
        # view, then substitute BOTH reference forms with the mangled
        # view name — ``ref('X')`` and the pre-expanded backticked
        # ``<project>.ethereum_<ds>.<table>`` the reference's own
        # replace_refs emits (they are the same dependency edge).
        # Views selecting chain-metadata columns the engine's feed
        # contract doesn't carry (block_number, transaction_hash)
        # fail Spark analysis with a clear unresolved-column error.
        sql = spec.sql
        for ref in spec.refs:
            if ref not in outputs:
                raise ValueError(f"view {spec.name} references unknown spec {ref!r}")
            outputs[ref].createOrReplaceTempView(_view_name(ref))
        sql = REF_REGEX.sub(lambda m: _view_name(m.group(1)), sql)
        sql = BQ_TABLE_REGEX.sub(
            lambda m: _view_name(f"{m.group(1)}.{m.group(2)}"), sql
        )
        df = self.spark.sql(sql)
        df.createOrReplaceTempView(_view_name(spec.name))
        return df

    def run(self, source: DataFrame, upto_pos: int) -> dict[str, str]:
        """One planner-driven run over the feed up to ``upto_pos``.
        Returns {spec name -> action taken}. Position must advance
        monotonically (commit_plan enforces it); replays are fenced."""
        last = self.last_pos()
        entries = plan(self.specs, self.state, max_full_refresh=self.max_full_refresh)
        outputs: dict[str, DataFrame] = {}
        report: dict[str, str] = {}
        for e in entries:
            spec = self.specs[e.name]
            if isinstance(spec, SqlViewSpec):
                outputs[e.name] = self._create_view(spec, outputs)
                report[e.name] = "view"
                continue
            report[e.name] = self._materialize(
                spec, source, e.mode, last, upto_pos, outputs
            )
            outputs[e.name] = self.read(e.name)
        commit_plan(self.specs, self.state, last_pos=upto_pos)
        return report

    # --------------------------------------------------------------- serve

    def stitch(self, name: str, live_source: DataFrame) -> DataFrame:
        """History ≤ last_pos ∪ freshly-parsed live rows > last_pos —
        the reference's stitched serving view (U2): consumers see data
        newer than the last materialization without waiting for it."""
        last = self.last_pos()
        spec = self.specs[name]
        history = self.read(name).where(F.col(POS_COL) <= F.lit(last))
        live = compile_spec(
            spec,
            live_source.where(F.col(POS_COL) > F.lit(last)),
            resolve_ref=lambda n: self.read(n),
        )
        return history.unionByName(live)
