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

The commit's Spark job carries only the data: input metrics and the
``n_tok == size(tokens)`` guard are Arrow kernels over the gathered
batch, before any file is written. The rows written and the per-epoch
"which buckets were touched" lineage come from the commit's own
per-file evidence — no extra pass.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
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
    fields = {f.name: f for f in batch_df.schema.fields}
    has_ts = "ts" in fields

    # schema evolution: union of target schema and the batch's payload
    # schema (added nullable columns, int->long widening). The batch's
    # side is built here from its columns' fields — the schema the
    # delta's own projection would analyze to — so the delta is ONE
    # projection, typed to the evolved schema.
    old_schema = table.schema()
    new_schema = SnapshotTable._evolve_schema(
        old_schema,
        T.StructType(
            [
                fields["doc_id"],
                T.StructField("_seq", T.LongType(), fields["seq"].nullable),
                T.StructField("_epoch", T.LongType(), False),
                T.StructField("_tombstone", T.BooleanType(), fields["op"].nullable),
                *[fields[c] for c in data_cols],
            ]
        ),
    )
    typed = {f.name: f.dataType for f in new_schema.fields}
    # LSM append discipline: the batch is written UNFOLDED — the
    # read/compaction-side fold already resolves duplicates and
    # out-of-order updates, so the batch's commit is one Spark job with
    # no shuffle (the gather inside commit). ``ts`` rides along only
    # for the freshness metric and is dropped before any file is written.
    delta = batch_df.select(
        "doc_id",
        F.col("seq").cast(typed["_seq"]).alias("_seq"),
        F.lit(epoch).cast(typed["_epoch"]).alias("_epoch"),
        (F.col("op") == "D").cast(typed["_tombstone"]).alias("_tombstone"),
        *[F.col(c).cast(typed[c]).alias(c) for c in data_cols],
        bucket_expr(F.col("doc_id"), table.num_buckets).alias("_bucket"),
        *(["ts"] if has_ts else []),
    )

    m_in: dict = {}

    def on_gather(batch):
        """Guard and count the gathered batch; returns what is written."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if verify:
            check_invariants(batch)
        seq = pc.min_max(batch.column("_seq")).as_py()
        m_in.update(
            events_in=batch.num_rows,
            min_seq=seq["min"],
            max_seq=seq["max"],
            deletes_in=pc.sum(batch.column("_tombstone")).as_py() or 0,
        )
        if not has_ts:
            return batch
        # freshness gauge (reference: *_have_latest.sql lag checks); the
        # cast reads a naive (timestamp_ntz) wall clock as UTC, the
        # session's time zone, whatever the host's
        ts = batch.column("ts").cast(pa.timestamp("us", "UTC"))
        m_in["max_event_ts"] = pc.max(ts).as_py()
        return batch.drop_columns(["ts"])

    plan_s = time.time() - t0
    snap = table.commit(
        delta,
        replace_buckets=set(),
        app_id=app_id,
        epoch=epoch,
        new_schema=new_schema,
        # manifest-side marker (the full metrics lineage below is
        # returned to the caller): CDF stream readers emit the rows of
        # cdc_apply commits only
        lineage={"op": "cdc_apply", "epoch": epoch},
        properties=properties,
        _on_gather=on_gather,
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
            round(time.time() - max_ts.timestamp(), 1) if max_ts is not None else None
        ),
    }
    phase_s = {"plan": plan_s, **snap["phase_s"]}
    # the batch is readable from here; compaction is its own commit
    t_compact = time.time()
    try:
        due, _, compacted = table._compact_due(snap)
    except Exception as e:
        # the batch stays committed and fenced; the error carries its
        # lineage so a caller can still record the epoch
        lineage["compaction_error"] = f"{type(e).__name__}: {e}"
        e.lineage = lineage
        raise
    finally:
        now = time.time()
        phase_s["compact"] = now - t_compact
        lineage["phase_s"] = {k: round(v, 4) for k, v in phase_s.items()}
        wall = now - t0
        lineage["wall_sec"] = round(wall, 4)
        lineage["events_per_sec"] = round(m_in["events_in"] / wall, 2) if wall > 0 else None
    if compacted is not None:
        lineage["compacted_buckets"] = len(due)
        lineage["rows_out"] += sum(compacted["bucket_rows_written"].values())
    return lineage


def check_invariants(batch) -> None:
    """Per-batch data-quality guard (reference: verify/sqls/*.sql run
    after every load, build_load_dag.py:220-234): every row must
    satisfy n_tok == size(tokens); a null on either side passes. Runs
    as a pyarrow kernel over the gathered Arrow batch, before any file
    is written, so a violation fails the commit with nothing
    published."""
    import pyarrow.compute as pc

    if not {"tokens", "n_tok"} <= set(batch.column_names):
        return
    bad = pc.fill_null(
        pc.not_equal(batch.column("n_tok"), pc.list_value_length(batch.column("tokens"))),
        False,
    )
    if pc.any(bad).as_py():
        doc_id = batch.column("doc_id")[pc.index(bad, True).as_py()].as_py()
        raise ValueError(f"invariant violated: n_tok != size(tokens) for doc_id={doc_id}")
