"""Round-4 ADVICE regression tests.

Defects from the round-3 advisor review, numbered as in that review:

1. clone + pending rename layer: the clone's absolute manifest paths
   must match rename-layer scopes on read (read_files previously
   relpath-mangled them — pre-rename files read as null).
3. CDF source planning past expired parents: commits now record their
   own added_files; legacy manifests without it fail explicitly
   instead of re-emitting the whole table as duplicates.
4. read_raw(columns=...) after rename-following-lazy-delete keeps the
   predicate column under its CURRENT name (previously
   AnalysisException).
5. unbounded predicate delete layers never match null values (feed
   tombstones carry null payloads).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from ethereum_etl_airflow_spark.operators.cdc import apply_changes
from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable
from ethereum_etl_airflow_spark.streaming.cdf_source import (
    SnapshotCdfStreamReader,
    _CHANGE_COL,
)

SCHEMA = "op string, doc_id string, seq long, eid long, val string"


def _changes(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


def _table(spark, tmp_path, name="t", **kw):
    kw.setdefault("num_buckets", 4)
    kw.setdefault("compact_files", 100)
    kw.setdefault("stats_cols", ["eid"])
    return SnapshotTable(spark, str(tmp_path / name), **kw)


def _ingest(spark, t, n=20):
    rows = [("U", str(i), i, i, f"v{i}") for i in range(n)]
    apply_changes(t, _changes(spark, rows[: n // 2]), "st", epoch=0)
    apply_changes(t, _changes(spark, rows[n // 2 :]), "st", epoch=1)
    return rows


# ----------------------------------------------------- 1: clone + rename


def test_clone_with_pending_rename_reads_values(spark, tmp_path):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=20)
    t.rename_column("val", "payload")
    clone = t.clone_to(str(tmp_path / "clone"))
    got = {int(r["doc_id"]): r["payload"] for r in clone.read().collect()}
    assert got == {i: f"v{i}" for i in range(20)}  # not nulls
    # compaction of the clone must bake the VALUES in, not nulls
    clone.compact()
    got = {int(r["doc_id"]): r["payload"] for r in clone.read().collect()}
    assert got == {i: f"v{i}" for i in range(20)}
    # and the source stays readable through its own (relative) layer
    assert {int(r["doc_id"]): r["payload"] for r in t.read().collect()}[3] == "v3"


def test_clone_with_pending_equality_delete(spark, tmp_path):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=20)
    t.delete_keys_lazy([str(i) for i in range(5)])
    clone = t.clone_to(str(tmp_path / "clone"))
    ids = sorted(int(r["doc_id"]) for r in clone.read().collect())
    assert ids == list(range(5, 20))


# --------------------------------------- 3: CDF planning vs expired past


def _cdf_reader(t):
    schema = T.StructType(
        [*t.schema().fields, T.StructField(_CHANGE_COL, T.LongType(), False)]
    )
    return SnapshotCdfStreamReader(
        schema, {"path": t.root, "starting_version": "-1"}
    )


def test_cdf_plans_from_added_files_past_expired_parent(spark, tmp_path):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=20)  # versions 0, 1
    apply_changes(t, _changes(spark, [("U", "3", 103, 3, "v3b")]), "st", epoch=2)
    head = t.current_version()
    reader = _cdf_reader(t)
    baseline = {
        (p.path, p.version)
        for p in reader.partitions({"version": head - 1}, {"version": head})
        if p.path
    }
    assert baseline  # the last commit added at least one file
    # expire the parent manifest: added_files makes planning parent-free
    os.remove(os.path.join(t.root, "_meta", f"snapshot-{head - 1:012d}.json"))
    after = {
        (p.path, p.version)
        for p in reader.partitions({"version": head - 1}, {"version": head})
        if p.path
    }
    assert after == baseline  # same plan — no duplicate burst


def test_cdf_legacy_manifest_without_added_files_fails_explicitly(
    spark, tmp_path
):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=20)
    apply_changes(t, _changes(spark, [("U", "3", 103, 3, "v3b")]), "st", epoch=2)
    head = t.current_version()
    # simulate a legacy manifest (pre added_files) whose parent expired
    mpath = os.path.join(t.root, "_meta", f"snapshot-{head:012d}.json")
    with open(mpath) as f:
        snap = json.load(f)
    snap.pop("added_files")
    with open(mpath, "w") as f:
        json.dump(snap, f)
    os.remove(os.path.join(t.root, "_meta", f"snapshot-{head - 1:012d}.json"))
    reader = _cdf_reader(t)
    with pytest.raises(RuntimeError, match="expired"):
        reader.partitions({"version": head - 1}, {"version": head})


# ------------------------- 4: projection after rename-chased lazy delete


def test_projection_after_rename_following_lazy_delete(spark, tmp_path):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=20)
    t.delete_where_lazy("eid", lo=5, hi=9)
    t.rename_column("eid", "event_num")
    # projection that does NOT mention the predicate column: the fold
    # must retain it internally under the NEW name
    got = {r["doc_id"]: r["val"] for r in t.read(columns=["val"]).collect()}
    assert sorted(int(k) for k in got) == [
        i for i in range(20) if not (5 <= i <= 9)
    ]
    assert got["3"] == "v3"


# --------------------------------- 5: null never matches a delete layer


def test_unbounded_lazy_delete_skips_nulls(spark, tmp_path):
    t = _table(spark, tmp_path)
    apply_changes(
        t,
        _changes(
            spark,
            [
                ("U", "a", 1, 10, "x"),
                ("U", "b", 2, None, "y"),  # null predicate value
                ("U", "c", 3, 30, "z"),
            ],
        ),
        "st",
        epoch=0,
    )
    # tombstone with null payload — must stay a plain tombstone
    apply_changes(t, _changes(spark, [("D", "c", 4, None, None)]), "st", epoch=1)
    t.delete_where_lazy("eid")  # unbounded: all NON-NULL eid rows
    got = {r["doc_id"] for r in t.read().collect()}
    assert got == {"b"}
    # tombstone for c keeps its original (_seq, _epoch): a stale event
    # cannot resurrect it, a newer one can
    apply_changes(t, _changes(spark, [("U", "c", 3, 30, "stale")]), "st", epoch=2)
    assert {r["doc_id"] for r in t.read().collect()} == {"b"}
    apply_changes(t, _changes(spark, [("U", "c", 9, 31, "new")]), "st", epoch=3)
    assert {r["doc_id"] for r in t.read().collect()} == {"b", "c"}
