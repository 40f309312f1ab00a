"""Level-0 sorted runs: a delta commit writes a few files, each
spanning many buckets; replaced buckets get level-1 files of their
own. The manifest lists a multi-bucket file under every bucket it
holds, and a file's rows count only for the buckets whose list still
names it — so compacting, deleting or rewinding some of its buckets
never lets stale rows resurface. Every planner scans each file once.

Expected states are computed in plain Python from the event lists
(last-writer-wins on ``seq``), not from the engine."""

from __future__ import annotations

import os
import time
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from ethereum_etl_airflow_spark.functions.hashing import bucket_of
from ethereum_etl_airflow_spark.operators.cdc import apply_changes
from ethereum_etl_airflow_spark.operators.reorg import rewind_to_seq
from ethereum_etl_airflow_spark.sinks import snapshot_table
from ethereum_etl_airflow_spark.sinks.snapshot_table import (
    SnapshotTable,
    bucket_expr,
)
from ethereum_etl_airflow_spark.streaming.cdf_source import register_cdf_source

NB = 32
N_DOCS = 240
SCHEMA = "op string, doc_id string, seq long, val long"


@pytest.fixture(autouse=True)
def _four_runs_per_batch():
    """Split these small batches into four level-0 runs each (one run
    per 64 rows, four driver cores), so every commit writes several
    multi-bucket files whatever the host."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(SnapshotTable, "_RUN_ROWS", 64)
        mp.setattr(snapshot_table, "_driver_cores", lambda: 4)
        yield


def _doc(i: int) -> str:
    return f"k{i:04d}"


def _batches() -> list[list[tuple]]:
    """Four batches of (op, doc_id, seq, val); val encodes the doc's
    bucket (bucket * 1000 + version), so a range predicate on val
    selects exactly one bucket's live rows."""
    seq = 0
    out: list[list[tuple]] = []

    def ev(op, i, version):
        nonlocal seq
        seq += 1
        d = _doc(i)
        val = None if op == "D" else bucket_of(d, NB) * 1000 + version
        return (op, d, seq, val)

    out.append([ev("U", i, 0) for i in range(N_DOCS)])
    out.append(
        [ev("U", i, 1) for i in range(0, N_DOCS, 2)]
        + [ev("D", i, 1) for i in range(0, N_DOCS, 5)]
    )
    out.append([ev("U", i, 2) for i in range(0, N_DOCS, 3)])
    out.append(
        [ev("U", i, 3) for i in range(1, N_DOCS, 4)]
        + [ev("D", i, 3) for i in range(3, N_DOCS, 7)]
    )
    return out


def _lww(events) -> dict[str, tuple]:
    """doc_id -> winning (op, seq, val)."""
    win: dict[str, tuple] = {}
    for op, d, seq, val in events:
        if d not in win or seq > win[d][1]:
            win[d] = (op, seq, val)
    return win


def _live(win: dict[str, tuple]) -> set[tuple]:
    return {(d, seq, val) for d, (op, seq, val) in win.items() if op != "D"}


def _state(df) -> set[tuple]:
    return {(r.doc_id, r._seq, r.val) for r in df.select("doc_id", "_seq", "val").collect()}


def _apply(spark, table, batch, epoch):
    return apply_changes(table, spark.createDataFrame(batch, SCHEMA), "l0", epoch=epoch)


def _table(spark, tmp_path, **kw):
    kw.setdefault("num_buckets", NB)
    kw.setdefault("compact_files", 100)  # no threshold compaction
    return SnapshotTable(spark, str(tmp_path / "t"), **kw)


def _no_dup_rows(df) -> list[tuple]:
    rows = [(r.doc_id, r._seq) for r in df.select("doc_id", "_seq").collect()]
    assert len(rows) == len(set(rows)), "a file was scanned twice"
    return rows


def test_delta_commit_writes_few_multi_bucket_runs(spark, tmp_path):
    t = _table(spark, tmp_path)
    _apply(spark, t, _batches()[0], 0)
    snap = t.snapshot()
    files = {f for fs in snap["bucket_files"].values() for f in fs}
    assert len(files) == 4
    assert len(snap["bucket_files"]) == NB  # every bucket listed
    assert all(len(fs) == 1 for fs in snap["bucket_files"].values())
    assert not any("_bucket=" in f for f in files)
    # bucket sets and row counts come from the stored _bucket column
    rows: Counter = Counter()
    for f in files:
        col = pq.read_table(os.path.join(t.root, f), columns=["_bucket"]).column(0)
        held = sorted(set(col.to_pylist()))
        assert held == sorted(int(b) for b, fs in snap["bucket_files"].items() if f in fs)
        if len(held) > 1:
            assert snap["file_buckets"][f] == held
        rows.update(str(b) for b in col.to_pylist())
    assert dict(rows) == snap["bucket_rows_written"]
    assert sum(rows.values()) == N_DOCS
    # per-file seq evidence is kept for every run
    assert set(snap["file_seq_ranges"]) == files


def test_visibility_after_partial_compaction_delete_and_rewind(spark, tmp_path):
    batches = _batches()
    t = _table(spark, tmp_path, stats_cols=["val"])
    for e, b in enumerate(batches[:3]):
        _apply(spark, t, b, e)
    history = [ev for b in batches[:3] for ev in b]
    win = _lww(history)
    watermark = max(ev[2] for ev in history) + 1
    bucket_docs: dict[int, list[str]] = {}
    for d in win:
        bucket_docs.setdefault(bucket_of(d, NB), []).append(d)

    def check(expected: set[tuple]):
        assert _state(t.read()) == expected
        docs = sorted({d for d in win} | {_doc(i) for i in range(N_DOCS)})
        assert _state(t.lookup(docs)) == expected
        raw = t.read_seq_range()
        _no_dup_rows(raw)
        live = raw.groupBy("doc_id").agg(
            F.max_by(F.struct("_tombstone", "_seq", "val"), F.col("_seq")).alias("w")
        )
        got = {
            (r.doc_id, r.w._seq, r.w.val)
            for r in live.collect()
            if not r.w._tombstone
        }
        assert got == expected
        # no superseded version of a compacted bucket's key survives
        for r in raw.select("doc_id", "_seq").collect():
            if bucket_of(r.doc_id, NB) in compacted:
                assert r._seq == win[r.doc_id][1]

    # compact a subset of buckets, physically dropping their tombstones
    compacted = sorted(bucket_docs)[:NB // 4]
    assert any(win[d][0] == "D" for b in compacted for d in bucket_docs[b])
    t.compact(compacted, drop_tombstones_below=watermark)
    snap = t.snapshot()
    # the L0 runs stay live for their other buckets only
    partial = [
        f
        for f, held in snap["file_buckets"].items()
        if set(held) & set(compacted)
    ]
    assert partial, "expected runs spanning compacted and live buckets"
    for f in partial:
        assert not any(f in snap["bucket_files"][str(b)] for b in compacted)
    check(_live(win))

    # physically delete one other bucket's live rows: the highest
    # bucket's val range overlaps only the files that hold it, so the
    # other runs keep their partial listing
    victim = max(bucket_docs)
    assert victim not in compacted and any(win[d][0] != "D" for d in bucket_docs[victim])
    t.delete_where("val", lo=victim * 1000, hi=victim * 1000 + 999)
    assert any(
        set(held) & set(compacted) for held in (t.snapshot().get("file_buckets") or {}).values()
    )
    expect = {r for r in _live(win) if bucket_of(r[0], NB) != victim}
    check(expect)

    # a later batch, then a reorg rewind to the seq before it
    _apply(spark, t, batches[3], 3)
    after = _lww(history + batches[3])
    assert _state(t.read()) != expect
    info = rewind_to_seq(t, "l0", seq=watermark - 1)
    assert info is not None and info["restored_epoch"] == 2
    check(expect)
    # the corrected batch re-applies through the normal path
    assert _apply(spark, t, batches[3], 3) is not None
    redo = {
        r
        for r in _live(after)
        if bucket_of(r[0], NB) != victim
        or r[1] > watermark - 1  # batch 3 re-inserted into the victim bucket
    }
    assert _state(t.read()) == redo


def test_read_seq_range_and_planners_yield_each_file_once(spark, tmp_path):
    t = _table(spark, tmp_path, stats_cols=["val"])
    batches = _batches()
    for e, b in enumerate(batches[:2]):
        _apply(spark, t, b, e)
    snap = t.snapshot()
    files = {f for fs in snap["bucket_files"].values() for f in fs}
    for plan in (
        SnapshotTable._manifest_rels(snap, None),
        SnapshotTable.plan_seq_range(snap, None, None),
        SnapshotTable.plan_where(snap, "val", None, None),
        SnapshotTable.plan_lookup(snap, [_doc(i) for i in range(N_DOCS)]),
    ):
        assert sorted(plan) == sorted(files)
    assert sorted(r.path for r in t.meta_files().collect()) == sorted(files)
    rows = _no_dup_rows(t.read_seq_range())
    assert sorted(rows) == sorted((ev[1], ev[2]) for b in batches[:2] for ev in b)
    lo = batches[1][0][2]
    rows = _no_dup_rows(t.read_seq_range(lo, None))
    assert sorted(rows) == sorted((ev[1], ev[2]) for ev in batches[1])


def test_cdf_follow_emits_each_change_once(spark, tmp_path):
    t = _table(spark, tmp_path)
    batches = _batches()
    for e, b in enumerate(batches[:3]):
        _apply(spark, t, b, e)
    register_cdf_source(spark)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("snapshot_cdf")
        .option("path", t.root)
        .option("starting_version", -1)
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [(r.doc_id, r._seq) for r in spark.read.parquet(out_dir).collect()]
    want = [(ev[1], ev[2]) for b in batches[:3] for ev in b]
    assert sorted(got) == sorted(want)


def test_failed_footer_read_publishes_nothing(spark, tmp_path, monkeypatch):
    """Both write paths fail before publishing when a file's footer
    evidence is missing: a delta commit whose parquet writer hands back
    no footer, and a rewriting commit whose bucket tasks' results reach
    the driver without one."""
    t = _table(spark, tmp_path)
    batches = _batches()
    _apply(spark, t, batches[0], 0)
    head = t.current_version()

    write_table = pq.write_table

    def footerless(table, where, **kw):
        kw.pop("metadata_collector", None)
        write_table(table, where, **kw)

    monkeypatch.setattr(pq, "write_table", footerless)
    with pytest.raises(RuntimeError, match="no footer"):
        _apply(spark, t, batches[1], 1)
    monkeypatch.undo()

    # the writer runs in Python workers, out of a monkeypatch's reach:
    # drop the footers from the task results the driver collects
    frame = type(spark.range(0))
    to_arrow = frame.toArrow

    def footers_lost(df):
        got = to_arrow(df)
        if "footer" not in got.column_names:
            return got
        i = got.column_names.index("footer")
        return got.set_column(i, "footer", pa.nulls(got.num_rows, pa.binary()))

    monkeypatch.setattr(frame, "toArrow", footers_lost)
    with pytest.raises(RuntimeError, match="no footer"):
        t.compact(app_id="l0-maint")
    monkeypatch.undo()
    # no manifest without seq evidence was published
    assert t.current_version() == head
    assert t.last_epoch("l0") == 0
    _apply(spark, t, batches[1], 1)
    t.compact(buckets=[0, 1], app_id="l0-maint")
    snap = t.snapshot()
    files = {f for fs in snap["bucket_files"].values() for f in fs}
    assert set(snap["file_seq_ranges"]) == files


def _legacy_commit(spark, table, batch, epoch):
    """What commits wrote before L0 runs: one file per bucket under
    ``_bucket=<b>/``, without a stored ``_bucket`` column, published
    as the manifest such a writer produced."""
    df = spark.createDataFrame(batch, SCHEMA).select(
        "doc_id",
        F.col("seq").alias("_seq"),
        F.lit(epoch).cast("long").alias("_epoch"),
        (F.col("op") == "D").alias("_tombstone"),
        "val",
    )
    rel_dir = os.path.join("data", f"legacy-{epoch}")
    df.withColumn("_bucket", bucket_expr(F.col("doc_id"), NB)).repartition(
        8, "_bucket"
    ).sortWithinPartitions("_bucket", "doc_id").write.partitionBy("_bucket").parquet(
        os.path.join(table.root, rel_dir)
    )
    files: dict[str, list[str]] = {}
    for entry in os.listdir(os.path.join(table.root, rel_dir)):
        if entry.startswith("_bucket="):
            b = entry.split("=", 1)[1]
            files[b] = [
                os.path.join(rel_dir, entry, fn)
                for fn in os.listdir(os.path.join(table.root, rel_dir, entry))
                if fn.endswith(".parquet")
            ]
    base = table.snapshot()
    bucket_files = dict(base["bucket_files"])
    bucket_rows: dict[str, int] = {}
    seq_ranges = dict(base.get("file_seq_ranges") or {})
    for b, fs in files.items():
        bucket_files[b] = bucket_files.get(b, []) + fs
        for f in fs:
            seqs = pq.read_table(os.path.join(table.root, f), columns=["_seq"])["_seq"]
            bucket_rows[b] = bucket_rows.get(b, 0) + len(seqs)
            mm = pc.min_max(seqs)
            seq_ranges[f] = [mm["min"].as_py(), mm["max"].as_py()]
    table._publish(
        {
            "version": base["version"] + 1,
            "parent_version": base["version"],
            "committed_at": time.time(),
            "schema": df.schema.jsonValue(),
            "num_buckets": NB,
            "bucket_files": bucket_files,
            "commit_buckets": sorted(int(b) for b in files),
            "bucket_rows_written": bucket_rows,
            "added_files": files,
            "properties": {**base["properties"], "last_epoch:l0": epoch},
            "lineage": {"op": "cdc_apply", "epoch": epoch, "compacted_buckets": []},
            "file_seq_ranges": seq_ranges,
        }
    )


def test_tables_written_before_l0_runs_read_identically(spark, tmp_path):
    batches = _batches()
    legacy = SnapshotTable(spark, str(tmp_path / "legacy"), num_buckets=NB, compact_files=100)
    fresh = SnapshotTable(spark, str(tmp_path / "fresh"), num_buckets=NB, compact_files=100)
    for e, b in enumerate(batches[:2]):
        _legacy_commit(spark, legacy, b, e)
        _apply(spark, fresh, b, e)
    assert "file_buckets" not in legacy.snapshot()
    want = _live(_lww([ev for b in batches[:2] for ev in b]))
    docs = [_doc(i) for i in range(N_DOCS)]
    for t in (legacy, fresh):
        assert _state(t.read()) == want
        assert _state(t.lookup(docs[:50])) == {r for r in want if r[0] in docs[:50]}
        assert len(_no_dup_rows(t.read_seq_range())) == sum(len(b) for b in batches[:2])
    # a legacy table keeps working under new L0 commits and partial compaction
    _apply(spark, legacy, batches[2], 2)
    legacy.compact(list(range(NB // 2)))
    want = _live(_lww([ev for b in batches[:3] for ev in b]))
    assert _state(legacy.read()) == want
    _no_dup_rows(legacy.read_seq_range())
