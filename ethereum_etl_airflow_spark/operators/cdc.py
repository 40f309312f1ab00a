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

  1. **delta write, not table rewrite**: the batch reaches the driver
     as Arrow — a ``pyarrow.Table`` as it is (the tailer reads each
     feed batch's own files with pyarrow in both drive modes, streamed
     micro-batches included, so no Spark job runs), a DataFrame (a
     DataFrame hook's output, a direct caller's batch) in ONE Spark job
     that gathers its own columns, with no projection and no shuffle.
     pyarrow kernels then build the delta (``_seq``, ``_epoch``,
     ``_tombstone``, the evolved-schema casts) and numpy computes each
     row's bucket (bucket = pmod(xxhash64(doc_id), B), bit-identical to
     Spark's, ``functions.hashing.bucket_of_arrow``). pyarrow writes it
     as a few level-0 (L0) DELTA files — one per ``_bucket % P`` class
     (P grows with the batch, up to the driver's cores), each spanning
     many buckets, sorted by ``(_bucket, doc_id)``
     (``SnapshotTable.commit``). Write cost is
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
     rewrite. Compaction sets its size from the table, not the batch:
     one Spark job groups the folded rows by bucket, and each bucket's
     Python task writes its L1 file with the delta's pyarrow writer.
  4. **exactly-once**: the delta commit is fenced by (app_id, epoch)
     in the snapshot manifest; a replayed epoch is skipped before any
     work. A crash between the delta and the compaction commit leaves
     the batch applied and fenced; the next apply finds the same
     buckets due and compacts them (``compact`` is idempotent). The
     fold itself is idempotent at event level (same (doc_id, seq) ->
     same winner), so fencing avoids re-work — correctness never
     depends on it.

The commit carries only the data: the delta, input metrics and the
``n_tok == size(tokens)`` guard are Arrow kernels over the batch on the
driver, before any file is written. The rows written and the per-epoch
"which buckets were touched" lineage come from the commit's own
per-file evidence — no extra pass.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable

META_COLS = {"op", "seq", "ts", "batch_id", "_seq", "_epoch", "_tombstone", "_bucket"}

#: parquet footer key holding the Spark schema a file was written with
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def payload_columns(schema: T.StructType) -> list[str]:
    """Logical payload columns of a change batch (doc_id + data cols)."""
    return [f.name for f in schema.fields if f.name not in META_COLS]


def batch_schema(batch) -> T.StructType:
    """Spark schema of a change batch: a DataFrame's own; for a
    ``pyarrow.Table``, that of its Arrow schema (``arrow_spark_schema``)."""
    if isinstance(batch, DataFrame):
        return batch.schema
    return arrow_spark_schema(batch.schema)


def arrow_spark_schema(schema) -> T.StructType:
    """The Spark schema ``spark.read.parquet`` gives a file with this
    Arrow schema: the Spark schema in its footer (pyarrow keeps it in
    the schema metadata), else the Arrow schema mapped as Spark infers
    it (a naive timestamp is ``timestamp_ntz``), every field nullable
    either way, as a Spark file read makes it."""
    row = (schema.metadata or {}).get(SPARK_ROW_METADATA)
    if row is not None:
        return T.StructType.fromJson(json.loads(row)).toNullable()
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(schema, prefer_timestamp_ntz=True).toNullable()


def apply_changes(
    table: SnapshotTable,
    batch,
    app_id: str,
    epoch: int,
    verify: bool = True,
    properties: dict | None = None,
) -> dict | None:
    """Apply one change batch (a DataFrame or a ``pyarrow.Table``);
    returns lineage dict, or None if the epoch was already committed
    (fenced replay — exactly-once).

    When the compaction that follows the batch's delta commit fails,
    the batch stays committed and fenced, and the error is re-raised
    with the batch's lineage (``compaction_error`` set) attached as
    ``error.lineage``.

    ``properties`` (optional) merges extra snapshot properties into the
    SAME atomic commit as the data — the hook table statistics ride on
    (operators/table_stats.py): a crash after the commit is fenced on
    replay, so a property update paired with its batch is applied
    exactly once."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    from ethereum_etl_airflow_spark.functions.hashing import bucket_of_arrow

    t0 = time.time()
    if epoch <= table.last_epoch(app_id):
        return None

    schema = batch_schema(batch)
    fields = {f.name: f for f in schema.fields}
    data_cols = [c for c in payload_columns(schema) if c != "doc_id"]
    has_ts = "ts" in fields

    # schema evolution: union of target schema and the batch's payload
    # schema (added nullable columns, int->long widening)
    delta_fields = [
        fields["doc_id"],
        T.StructField("_seq", T.LongType(), fields["seq"].nullable),
        T.StructField("_epoch", T.LongType(), False),
        T.StructField("_tombstone", T.BooleanType(), fields["op"].nullable),
        *[fields[c] for c in data_cols],
    ]
    new_schema = SnapshotTable._evolve_schema(table.schema(), T.StructType(delta_fields))
    typed = {f.name: f.dataType for f in new_schema.fields}
    # the written delta's Arrow schema: evolved types, the batch's
    # nullability (doc_id keeps the batch's type), and the bucket
    delta_schema = to_arrow_schema(
        T.StructType(
            [
                delta_fields[0],
                *[
                    T.StructField(f.name, typed[f.name], f.nullable)
                    for f in delta_fields[1:]
                ],
                T.StructField("_bucket", T.IntegerType(), True),
            ]
        )
    )

    m_in: dict = {}

    def on_gather(raw):
        """Build, guard and count the delta from the batch's own
        columns; returns what is written. LSM append discipline: the
        batch is written UNFOLDED — the read/compaction-side fold
        resolves duplicates and out-of-order updates."""

        def typed_col(name: str, src: str):
            # cast only where the Arrow type differs from the evolved one
            col = raw.column(src)
            want = delta_schema.field(name).type
            return col if col.type == want else col.cast(want)

        doc_id = typed_col("doc_id", "doc_id")
        delta = pa.Table.from_arrays(
            [
                doc_id,
                typed_col("_seq", "seq"),
                pa.array(np.full(raw.num_rows, epoch, np.int64)),
                pc.equal(raw.column("op"), "D"),
                *[typed_col(c, c) for c in data_cols],
                pa.array(bucket_of_arrow(doc_id, table.num_buckets)),
            ],
            schema=delta_schema,
        )
        if verify:
            check_invariants(delta)
        seq = pc.min_max(delta.column("_seq")).as_py()
        m_in.update(
            events_in=delta.num_rows,
            min_seq=seq["min"],
            max_seq=seq["max"],
            deletes_in=pc.sum(delta.column("_tombstone")).as_py() or 0,
        )
        if has_ts:
            # freshness gauge (reference: *_have_latest.sql lag checks);
            # the cast reads a naive (timestamp_ntz) wall clock as UTC,
            # the session's time zone, whatever the host's. ``ts`` is
            # never written.
            ts = raw.column("ts").cast(pa.timestamp("us", "UTC"))
            m_in["max_event_ts"] = pc.max(ts).as_py()
        return delta

    plan_s = time.time() - t0
    snap = table.commit(
        batch,
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
        due, compacted = table._compact_due(snap)
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
    # the compaction decision: buckets due by each rule, and the rules
    lineage["compaction"] = {k: v for k, v in due.items() if k != "buckets"}
    if compacted is not None:
        lineage["compacted_buckets"] = len(due["buckets"])
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
