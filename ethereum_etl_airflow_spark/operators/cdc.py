"""CDC apply: merge-on-read upsert of a change batch into the snapshot table.

Semantics (the generalized form of the reference's MERGE operators —
``parse/sqls/merge_table.sql:1-15`` partition overwrite and
``build_load_dag_redshift.py:107-119`` keyed delete-insert):

  MERGE INTO target t USING batch s ON t.doc_id = s.doc_id
    WHEN MATCHED AND s.seq >= t._seq AND s.op = 'D' THEN UPDATE SET _tombstone = true
    WHEN MATCHED AND s.seq >= t._seq THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *  -- deletes insert a tombstone

Deletes are retained as tombstone rows (``_tombstone = true``, payload
nulled, ``_seq`` kept) rather than physically removed: a late event
with a lower seq than a delete must NOT resurrect the key, which
requires remembering the delete's seq. ``SnapshotTable.read`` filters
tombstones for consumers; ``SnapshotTable.expire_tombstones`` GCs them
once the feed guarantees no older events can arrive (watermark).

Execution strategy (Spark-first, scale-first — merge-on-read):

  1. **delta write, not table rewrite**: the batch is gathered to the
     driver as Arrow in ONE Spark job with no shuffle, and pyarrow
     writes it as a few level-0 (L0) DELTA files — one per
     ``_bucket % P`` class (P grows with the batch, up to the driver's
     cores), each spanning many buckets
     (bucket = pmod(xxhash64(doc_id), B)), sorted by
     ``(_bucket, doc_id)`` (``SnapshotTable.commit``). Write cost is
     O(batch) regardless of table size and of B — at 10^10 accumulated
     events a copy-on-write MERGE would rewrite the full table every
     batch; merge-on-read keeps per-batch cost flat.
  2. **read-side LWW fold**: readers and compaction collapse rows with
     one hash aggregation ``groupBy(doc_id).agg(max_by(row, (_seq,
     _epoch)))`` (``sinks.snapshot_table.fold_lww``) — duplicates,
     out-of-order updates, and cross-batch ordering resolve there.
     Partial (map-side) combine means a hot doc_id collapses to one
     row per input partition BEFORE the shuffle — dedup and hot-key
     skew defense in a single operator. (A row_number window would
     sort and push every hot-key row through the shuffle.)
  3. **threshold compaction, as its own commit**: once the batch is
     published, buckets holding ``table.compact_files`` files (or too
     many pending delete layers) are folded back to one level-1 (L1)
     file per bucket by a separate ``compact`` commit on the same
     thread — amortized O(log) rewrite like an LSM tree, and the
     Iceberg ``rewrite_data_files`` shape: an ingest commit only ever
     appends, so change-feed readers never tell an append from a
     rewrite. Compaction sets its size from the table, not the batch,
     so it runs a distributed Spark write.
  4. **exactly-once**: the delta commit is fenced by (app_id, epoch)
     in the snapshot manifest; a replayed epoch is skipped before any
     work. A crash between the delta and the compaction commit leaves
     the batch applied and fenced; the next apply finds the same
     buckets due and compacts them (``compact`` is idempotent). The
     fold itself is idempotent at event level (same (doc_id, seq) ->
     same winner), so fencing avoids re-work — correctness never
     depends on it.

Input metrics ride on ``DataFrame.observe`` — no extra pass over the
data. The rows written and the per-epoch "which buckets were touched"
lineage come from the commit's own per-file evidence — also no extra
pass.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable, bucket_expr

META_COLS = {"op", "seq", "ts", "batch_id", "_seq", "_epoch", "_tombstone", "_bucket"}


def payload_columns(schema: T.StructType) -> list[str]:
    """Logical payload columns of a change batch (doc_id + data cols)."""
    return [f.name for f in schema.fields if f.name not in META_COLS]


def apply_changes(
    table: SnapshotTable,
    batch_df: DataFrame,
    app_id: str,
    epoch: int,
    verify: bool = True,
    properties: dict | None = None,
) -> dict | None:
    """Apply one change batch; returns lineage dict, or None if the
    epoch was already committed (fenced replay — exactly-once).

    When the compaction that follows the batch's delta commit fails,
    the batch stays committed and fenced, and the error is re-raised
    with the batch's lineage (``compaction_error`` set) attached as
    ``error.lineage``.

    ``properties`` (optional) merges extra snapshot properties into the
    SAME atomic commit as the data — the hook table statistics ride on
    (operators/table_stats.py): a crash after the commit is fenced on
    replay, so a property update paired with its batch is applied
    exactly once."""
    t0 = time.time()
    if epoch <= table.last_epoch(app_id):
        return None

    pay_cols = payload_columns(batch_df.schema)
    data_cols = [c for c in pay_cols if c != "doc_id"]

    obs_cols = [
        F.count(F.lit(1)).alias("events_in"),
        F.min("seq").alias("min_seq"),
        F.max("seq").alias("max_seq"),
        F.count_if(F.col("op") == "D").alias("deletes_in"),
    ]
    has_ts = "ts" in batch_df.columns
    if has_ts:
        # freshness gauge (reference: *_have_latest.sql lag checks)
        obs_cols.append(F.max("ts").alias("max_event_ts"))
    obs_in = Observation(f"cdc_in_{epoch}")
    batch_df = batch_df.observe(obs_in, *obs_cols)

    # schema evolution: union of target schema and the batch's payload
    # schema (added nullable columns, int->long widening)
    src = batch_df.select(
        "doc_id",
        F.col("seq").cast("long").alias("_seq"),
        F.lit(epoch).cast("long").alias("_epoch"),
        (F.col("op") == "D").alias("_tombstone"),
        *data_cols,
    )
    old_schema = table.schema()
    new_schema = SnapshotTable._evolve_schema(old_schema, src.schema)

    typed = src.select(
        "doc_id",
        *[
            F.col(c).cast(_field_type(new_schema, c)).alias(c)
            for c in ["_seq", "_epoch", "_tombstone", *data_cols]
        ],
    )
    # LSM append discipline: the batch is written UNFOLDED — the
    # read/compaction-side fold already resolves duplicates and
    # out-of-order updates, so the batch's commit is one Spark job with
    # no shuffle (the gather inside commit)
    delta = typed.withColumn(
        "_bucket", bucket_expr(F.col("doc_id"), table.num_buckets)
    )

    if verify:
        delta = check_invariants(delta)

    snap = table.commit(
        delta,
        replace_buckets=set(),
        app_id=app_id,
        epoch=epoch,
        new_schema=new_schema,
        # manifest-side marker (the full metrics lineage below resolves
        # only after observations and is returned to the caller): CDF
        # stream readers emit the rows of cdc_apply commits only
        lineage={"op": "cdc_apply", "epoch": epoch},
        properties=properties,
    )
    m_in = _obs_get(
        obs_in,
        {"events_in": 0, "min_seq": None, "max_seq": None, "deletes_in": 0, "max_event_ts": None},
    )
    max_ts = m_in.get("max_event_ts")
    lineage = {
        "app_id": app_id,
        "epoch": epoch,
        "snapshot_version": snap["version"],
        "events_in": m_in["events_in"],
        "deletes_in": m_in["deletes_in"],
        "offset_range": [m_in["min_seq"], m_in["max_seq"]],
        "touched_buckets": len(snap.get("commit_buckets", [])),
        # per-partition lineage (north rule): rows this batch landed in
        # each hash bucket, from the commit's parquet footers
        "bucket_rows_written": snap["bucket_rows_written"],
        "compacted_buckets": 0,
        # the batch is written unfolded (one row per event), plus the
        # rows its compaction rewrites: write amplification
        "rows_out": sum(snap["bucket_rows_written"].values()),
        "tombstones_out": m_in["deletes_in"],
        "event_time_lag_sec": (
            round(time.time() - _utc_epoch(max_ts), 1) if max_ts is not None else None
        ),
    }
    # the batch is readable from here; compaction is its own commit
    try:
        due, _, compacted = table._compact_due(snap)
    except Exception as e:
        # the batch stays committed and fenced; the error carries its
        # lineage so a caller can still record the epoch
        lineage["compaction_error"] = f"{type(e).__name__}: {e}"
        e.lineage = lineage
        raise
    finally:
        wall = time.time() - t0
        lineage["wall_sec"] = round(wall, 4)
        lineage["events_per_sec"] = round(m_in["events_in"] / wall, 2) if wall > 0 else None
    if compacted is not None:
        lineage["compacted_buckets"] = len(due)
        lineage["rows_out"] += sum(compacted["bucket_rows_written"].values())
    return lineage


def _utc_epoch(ts: datetime) -> float:
    """Epoch seconds for a timestamp collected from a UTC-pinned Spark
    session. Spark returns naive datetimes; naive ``.timestamp()`` would
    reinterpret them in the host's local timezone, skewing the lag by
    the UTC offset on any non-UTC host — pin UTC explicitly."""
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    return ts.timestamp()


def _obs_get(obs: Observation, defaults: dict) -> dict:
    """Observation.get, tolerant of AQE empty-relation propagation: when
    a query stage is provably empty at runtime, AQE may eliminate the
    CollectMetrics node entirely, so no metrics row exists — which can
    only happen when every observed count is zero. Fall back to the
    zero defaults in that case."""
    try:
        return obs.get
    except Exception:
        return defaults


def _field_type(schema: T.StructType, name: str) -> T.DataType:
    for f in schema.fields:
        if f.name == name:
            return f.dataType
    raise KeyError(name)


def check_invariants(out: DataFrame) -> DataFrame:
    """Per-batch data-quality guard (reference: verify/sqls/*.sql run
    after every load, build_load_dag.py:220-234): every surviving row
    must satisfy n_tok == size(tokens). Expressed as a fail-fast
    column so it rides the commit's Spark job — no extra pass."""
    cols = set(out.columns)
    if {"tokens", "n_tok"} <= cols:
        violation = F.col("n_tok").isNotNull() & (
            F.col("n_tok").cast("long") != F.size("tokens").cast("long")
        )
        out = out.withColumn(
            "n_tok",
            F.when(
                violation,
                F.raise_error(F.concat(F.lit("invariant violated: n_tok != size(tokens) for doc_id="), F.col("doc_id"))),
            ).otherwise(F.col("n_tok")),
        )
    return out
