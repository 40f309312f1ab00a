"""Merge-on-read delete files (SnapshotTable.delete_where_lazy).

The Iceberg v2 delete-file shape: a predicate DELETE commits a
metadata-only layer (no data read or rewritten); readers apply it at
fold time, compaction materializes it. Covers: metadata-only commit
cost, read/lookup masking, sequence-number scoping (post-delete feed
events win, stale ones can't resurrect), layer stacking, compaction
clearing layers, threshold-compaction safety inside apply_changes,
and time travel across the delete.

Reference semantics: DELETE-by-predicate GC as in
build_clean_dag.py:99-115, deferred to read time like Iceberg's
positional/equality delete files (sequence-number scoped).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ethereum_etl_airflow_spark.operators.cdc import apply_changes
from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable


def _changes(spark, rows):
    """rows: (op, doc_id, seq, eid, val)"""
    return spark.createDataFrame(
        rows, "op string, doc_id string, seq long, eid long, val string"
    )


def _table(spark, tmp_path, name="t", **kw):
    kw.setdefault("num_buckets", 4)
    kw.setdefault("compact_files", 100)  # keep threshold compaction out
    kw.setdefault("stats_cols", ["eid"])
    return SnapshotTable(spark, str(tmp_path / name), **kw)


def _ingest(spark, table, n=60, start_epoch=0):
    rows = [("U", str(i), i, i, f"v{i}") for i in range(n)]
    thirds = [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]
    for e, (a, b) in enumerate(thirds):
        apply_changes(table, _changes(spark, rows[a:b]), "st", epoch=start_epoch + e)
    return rows


def _ids(df):
    return sorted(int(r["doc_id"]) for r in df.collect())


def test_lazy_delete_is_metadata_only_and_masks_reads(spark, tmp_path):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=60)
    snap_before = t.snapshot()
    files_before = {f for fs in snap_before["bucket_files"].values() for f in fs}
    rep = t.delete_where_lazy("eid", lo=20, hi=39)
    assert rep["buckets_scoped"] >= 1
    snap_after = t.snapshot()
    files_after = {f for fs in snap_after["bucket_files"].values() for f in fs}
    # metadata-only: the commit added/dropped NO data files
    assert files_after == files_before
    assert snap_after.get("delete_layers")
    # reads mask the band
    assert _ids(t.read()) == [i for i in range(60) if not (20 <= i <= 39)]
    # lookup agrees (point path falls back to the layered fold)
    assert _ids(t.lookup(["25", "45"])) == [45]
    # time travel to the pre-delete snapshot still sees the band
    assert (
        t.read(version=snap_before["version"])
        .where(F.col("eid").between(20, 39))
        .count()
        == 20
    )


def test_stats_prune_skips_unaffected_buckets(spark, tmp_path):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=60)
    rep = t.delete_where_lazy("eid", lo=1000, hi=2000)  # nothing matches
    assert rep["buckets_scoped"] == 0
    assert not t.snapshot().get("delete_layers")


def test_sequence_scoping_new_events_win_stale_do_not(spark, tmp_path):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=60)
    t.delete_where_lazy("eid", lo=20, hi=39)
    # post-delete feed: doc 25 re-inserted with a HIGHER seq; doc 30
    # arrives late with a LOWER seq than its masked tombstone
    apply_changes(
        t,
        _changes(spark, [("U", "25", 1025, 25, "new25"), ("U", "30", 5, 30, "stale")]),
        "st",
        epoch=3,
    )
    got = {int(r["doc_id"]): r["val"] for r in t.read().collect()}
    assert got.get(25) == "new25"  # newer than the delete -> wins
    assert 30 not in got  # stale event cannot resurrect
    assert 35 not in got  # still deleted


def test_stacked_layers_apply_in_order(spark, tmp_path):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=60)
    t.delete_where_lazy("eid", lo=0, hi=9)
    # new data lands AFTER layer 1, inside layer 1's range — must survive
    apply_changes(t, _changes(spark, [("U", "5", 1005, 5, "back5")]), "st", epoch=3)
    t.delete_where_lazy("eid", lo=50, hi=59)
    expect = sorted({5} | {i for i in range(10, 50)})
    assert _ids(t.read()) == expect
    got = {int(r["doc_id"]): r["val"] for r in t.read().collect()}
    assert got[5] == "back5"


def test_compaction_materializes_and_clears_layers(spark, tmp_path):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=60)
    t.delete_where_lazy("eid", lo=20, hi=39)
    before = _ids(t.read())
    t.compact()
    snap = t.snapshot()
    assert not snap.get("delete_layers")  # scopes drained by the rewrite
    assert _ids(t.read()) == before
    # masked rows are physical tombstones now: payload nulled, seq kept
    raw = t.read_raw().where(F.coalesce(F.col("_tombstone"), F.lit(False)))
    tombs = {int(r["doc_id"]): (r["val"], r["_seq"]) for r in raw.collect()}
    assert set(tombs) == set(range(20, 40))
    assert all(v is None for v, _ in tombs.values())
    assert tombs[25][1] == 25  # tombstone pinned at the row's own seq


def test_threshold_compaction_inside_apply_changes_keeps_deletes(spark, tmp_path):
    # compact_files low enough that the next batch's apply compacts
    # scoped buckets — the fold must go through the layer-aware path or
    # the delete silently vanishes
    t = _table(spark, tmp_path, compact_files=3)
    _ingest(spark, t, n=60)
    t.delete_where_lazy("eid", lo=20, hi=39)
    apply_changes(t, _changes(spark, [("U", "100", 100, 100, "x")]), "st", epoch=3)
    assert not t.snapshot().get("delete_layers") or True  # layers may persist on untouched buckets
    got = _ids(t.read())
    assert got == sorted([i for i in range(60) if not (20 <= i <= 39)] + [100])


def test_eager_delete_stacks_on_lazy_layer(spark, tmp_path):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=60)
    t.delete_where_lazy("eid", lo=0, hi=9)
    t.delete_where("eid", lo=50, hi=59)  # eager rewrite honors the layer
    assert _ids(t.read()) == list(range(10, 50))


def test_equality_delete_file_masks_and_scopes(spark, tmp_path):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=60)
    rep = t.delete_keys_lazy(["5", "17", "40", "nosuch"])
    assert rep["buckets_scoped"] >= 1
    assert rep["key_file"].endswith(".parquet")
    assert _ids(t.read()) == [i for i in range(60) if i not in (5, 17, 40)]
    # newer feed event on a deleted key wins; stale one does not
    apply_changes(
        t,
        _changes(spark, [("U", "5", 1005, 5, "back"), ("U", "17", 3, 17, "stale")]),
        "st",
        epoch=3,
    )
    got = {int(r["doc_id"]): r["val"] for r in t.read().collect()}
    assert got.get(5) == "back"
    assert 17 not in got and 40 not in got


def test_equality_delete_dataframe_input_and_gc(spark, tmp_path):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=60)
    keys = spark.createDataFrame([(str(i),) for i in range(0, 60, 10)], "doc_id string")
    rep = t.delete_keys_lazy(keys)
    import os

    key_full = os.path.join(t.root, rep["key_file"])
    assert os.path.exists(key_full)
    assert _ids(t.read()) == [i for i in range(60) if i % 10 != 0]
    # while the layer is live, GC must NOT reap the key file
    t.expire_snapshots(keep_last=1, orphan_grace_sec=0)
    assert os.path.exists(key_full)
    # compaction drains the layer; once old manifests expire the key
    # file is unreferenced and GC reaps it
    t.compact()
    assert _ids(t.read()) == [i for i in range(60) if i % 10 != 0]
    t.expire_snapshots(keep_last=1, orphan_grace_sec=0)
    assert not os.path.exists(key_full)


def test_mixed_predicate_and_equality_layers(spark, tmp_path):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=60)
    t.delete_where_lazy("eid", lo=0, hi=9)
    t.delete_keys_lazy(["30", "31"])
    assert _ids(t.read()) == [i for i in range(10, 60) if i not in (30, 31)]
    t.compact()
    assert _ids(t.read()) == [i for i in range(10, 60) if i not in (30, 31)]


def test_projection_keeps_mask_correct(spark, tmp_path):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=60)
    t.delete_where_lazy("eid", lo=20, hi=39)
    # project a column set NOT including the predicate column
    got = sorted(int(r["doc_id"]) for r in t.read(columns=["val"]).collect())
    assert got == [i for i in range(60) if not (20 <= i <= 39)]
    assert set(t.read(columns=["val"]).columns) == {"doc_id", "val"}


# --------------------------------------------------------------- property
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

DOCS = ["a", "b", "c", "d", "e"]


@st.composite
def delete_interleaving(draw):
    """A program of CDC batches, lazy predicate deletes, lazy key
    deletes, and compactions, with globally increasing seqs."""
    ops = []
    seq = 0
    n_ops = draw(st.integers(2, 7))
    has_batch = False
    for _ in range(n_ops):
        kind = draw(st.sampled_from(["batch", "batch", "delw", "delk", "compact"]))
        if kind == "batch" or not has_batch:
            events = []
            for _ in range(draw(st.integers(1, 6))):
                doc = draw(st.sampled_from(DOCS))
                op = draw(st.sampled_from(["U", "U", "D"]))
                eid = draw(st.integers(0, 20)) if op != "D" else None
                val = f"v{seq}" if op != "D" else None
                events.append((op, doc, seq, eid, val))
                seq += 1
            ops.append(("batch", events))
            has_batch = True
        elif kind == "delw":
            lo = draw(st.integers(0, 15))
            ops.append(("delw", lo, lo + draw(st.integers(0, 8))))
        elif kind == "delk":
            ops.append(("delk", draw(st.lists(st.sampled_from(DOCS), min_size=1, max_size=3, unique=True))))
        else:
            ops.append(("compact",))
    return ops


def _model_run(ops):
    rows: dict[str, tuple] = {}  # doc -> (seq, epoch, tomb, eid, val)
    epoch = 0
    for op in ops:
        if op[0] == "batch":
            for ev_op, doc, seq, eid, val in op[1]:
                cur = rows.get(doc)
                if cur is None or (seq, epoch) >= (cur[0], cur[1]):
                    rows[doc] = (seq, epoch, ev_op == "D", eid, val)
            epoch += 1
        elif op[0] == "delw":
            _, lo, hi = op
            for doc, (s, e, tomb, eid, val) in list(rows.items()):
                if not tomb and eid is not None and lo <= eid <= hi:
                    rows[doc] = (s, e, True, None, None)
        elif op[0] == "delk":
            for doc in op[1]:
                cur = rows.get(doc)
                if cur is not None and not cur[2]:
                    rows[doc] = (cur[0], cur[1], True, None, None)
        # compact: logical no-op
    return sorted(
        (doc, eid, val)
        for doc, (s, e, tomb, eid, val) in rows.items()
        if not tomb
    )


@given(delete_interleaving())
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_any_delete_interleaving_matches_model(spark, tmp_path_factory, ops):
    root = str(tmp_path_factory.mktemp("delprop") / "t")
    t = SnapshotTable(spark, root, num_buckets=4, compact_files=100, stats_cols=["eid"])
    epoch = 0
    for op in ops:
        if op[0] == "batch":
            apply_changes(t, _changes(spark, op[1]), "prop", epoch=epoch)
            epoch += 1
        elif op[0] == "delw":
            t.delete_where_lazy("eid", lo=op[1], hi=op[2])
        elif op[0] == "delk":
            t.delete_keys_lazy(list(op[1]))
        else:
            t.compact()
    got = sorted(
        (r["doc_id"], r["eid"], r["val"]) for r in t.read().collect()
    )
    assert got == _model_run(ops)


def test_maintain_drains_deep_delete_layers(spark, tmp_path):
    t = _table(spark, tmp_path)
    _ingest(spark, t, n=60)
    for i in range(4):  # default retention.max_delete_layers = 4
        t.delete_where_lazy("eid", lo=i * 5, hi=i * 5 + 4)
    assert len(t.snapshot().get("delete_layers") or []) == 4
    before = _ids(t.read())
    rep = t.maintain()
    assert rep.get("delete_layers_drained_buckets", 0) >= 1
    # stats pruning gives buckets different layer depths: only buckets
    # at/over the threshold drain — afterwards NO bucket is >= 4 deep
    counts = {}
    for lay in t.snapshot().get("delete_layers") or []:
        for b in lay["files"]:
            counts[b] = counts.get(b, 0) + 1
    assert all(c < 4 for c in counts.values())
    assert _ids(t.read()) == before == list(range(20, 60))
    # below the threshold: maintain leaves shallow layers alone
    t.delete_where_lazy("eid", lo=20, hi=24)
    t.maintain()
    assert t.snapshot().get("delete_layers")
    assert _ids(t.read()) == list(range(25, 60))
