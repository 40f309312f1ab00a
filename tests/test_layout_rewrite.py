"""Sort-order layout rewrite (Iceberg rewrite_data_files analogue).

``rewrite_sorted(cols)`` compacts every bucket into one file whose
rows are sorted by the given columns, so parquet row-group min/max
stats on them become tight and predicate scans skip row groups.
Logical state must be unchanged.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from ethereum_etl_airflow_spark.operators.cdc import apply_changes
from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable
from ethereum_etl_airflow_spark.sources.feed import FeedConfig, generate_batch

CFG = FeedConfig(n_docs=300, events_per_batch=600, n_batches=3, dup_tail=50)


def _canon(df):
    return sorted(
        (r.doc_id, tuple(r.tokens or []), r.n_tok) for r in df.collect()
    )


def test_rewrite_sorted_preserves_state_and_orders_files(spark, tmp_path):
    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    for b in range(CFG.n_batches):
        apply_changes(table, generate_batch(spark, CFG, b), "lay", epoch=b)
    before = _canon(table.read())

    snap = table.rewrite_sorted(["n_tok"])
    assert (snap.get("lineage") or {}).get("op") == "compact"
    after = _canon(table.read())
    assert after == before and len(after) > 0

    # one file per bucket, rows physically sorted by the sort column
    counts = table.file_counts()
    assert all(c == 1 for c in counts.values())
    checked = 0
    for files in table.snapshot()["bucket_files"].values():
        for rel in files:
            t = pq.read_table(os.path.join(table.root, rel), columns=["n_tok"])
            vals = [v for v in t.column("n_tok").to_pylist() if v is not None]
            assert vals == sorted(vals)
            checked += 1
    assert checked == len(counts)


def test_default_commit_sort_is_unchanged(spark, tmp_path):
    """Without sort_cols the write keeps the doc_id sort within each
    bucket (point-lookup row-group skipping) — regression guard on the
    default path. A delta file holding several buckets is sorted by
    ``(_bucket, doc_id)``."""
    table = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=2)
    apply_changes(table, generate_batch(spark, CFG, 0), "lay2", epoch=0)
    for files in table.snapshot()["bucket_files"].values():
        for rel in files:
            t = pq.read_table(os.path.join(table.root, rel), columns=["_bucket", "doc_id"])
            vals = list(zip(t.column("_bucket").to_pylist(), t.column("doc_id").to_pylist()))
            assert vals == sorted(vals)
