"""Pure-delta commits are written by pyarrow on the driver as level-0
sorted runs (a DataFrame batch is first gathered as Arrow); commits
that replace buckets write each bucket with the same pyarrow writer in
a grouped Arrow task. These tests check that the Arrow-written files
read back exactly the rows committed, for every column type the
package's tables write (through a delta, a compaction and a rebucket)
and across schema evolution; that an empty delta publishes only its
epoch fence; that a non-compacting apply is one labelled Spark job
with no shuffle and no Spark parquet write, and a replayed or streamed one (read with
pyarrow, a micro-batch from the files walked from its planned scan) runs
no Spark job at all; that the run count follows the batch and the
driver, not the cluster; and that the driver-side batch is bounded: a
batch over ``spark.driver.maxResultSize`` publishes nothing, in both
the Spark gather and the replay read, and ``run_stream`` admits
triggers below that limit by default. A replayed batch gets the schema
and manifest Spark's own read would give, and the input metrics and the
n_tok guard run on the Arrow batch, in both drive modes."""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid
from contextlib import contextmanager
from decimal import Decimal

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from ethereum_etl_airflow_spark.operators.cdc import apply_changes, batch_schema
from ethereum_etl_airflow_spark.sinks import snapshot_table
from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable, bucket_expr
from ethereum_etl_airflow_spark.sources.feed import (
    FeedConfig,
    generate_batch,
    lww_expected_state,
    write_feed,
)
from ethereum_etl_airflow_spark.streaming import tailer as tailer_mod

ALL_TYPES = (
    "doc_id string, _seq long, _epoch long, _tombstone boolean, "
    "i int, l long, d double, b boolean, dec decimal(38,6), "
    "ts timestamp, ts_ntz timestamp_ntz, toks array<int>, "
    "vec array<float>, st struct<name:string,n:long,w:array<int>>"
)


def _data_files(table: SnapshotTable) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, f), table.root)
        for d, _, fs in os.walk(os.path.join(table.root, "data"))
        for f in fs
        if f.endswith(".parquet")
    }


@contextmanager
def _max_result_size(spark, size: str):
    """Set ``spark.driver.maxResultSize`` on the running SparkContext;
    the scheduler reads it for every new stage."""
    conf = spark.sparkContext._conf
    prev = conf.get("spark.driver.maxResultSize", "1g")
    conf.set("spark.driver.maxResultSize", size)
    try:
        yield
    finally:
        conf.set("spark.driver.maxResultSize", prev)


def _assert_same_rows(got, want) -> None:
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _pyarrow_written(table: SnapshotTable, rels) -> bool:
    return all(
        pq.read_metadata(os.path.join(table.root, r)).created_by.startswith(
            "parquet-cpp-arrow"
        )
        for r in rels
    )


def test_arrow_delta_reads_back_every_column_type(spark, tmp_path):
    rows = []
    for i in range(120):
        null = i % 7 == 0
        rows.append(
            (
                f"doc{i:04d}",
                i,
                1,
                i % 11 == 0,
                None if null else i - 60,
                None if null else (1 << 40) + i,
                None if null else i / 3.0,
                None if null else i % 2 == 0,
                None if null else Decimal(f"{i}.{i:06d}"),
                None if null else dt.datetime(2024, 1, 1, 12, 0, i % 60, i),
                None if null else dt.datetime(2023, 6, 30, 23, i % 60, 0, 7 * i),
                None if null else [i, i + 1, None],
                None if null else [0.5 * i, -1.25],
                None if null else (f"n{i}", i * 10, [i]),
            )
        )
    df = spark.createDataFrame(rows, ALL_TYPES)
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=8)
    snap = t.commit(
        df.withColumn("_bucket", bucket_expr(F.col("doc_id"), 8)),
        set(),
        "types",
        epoch=1,
        new_schema=df.schema,
    )
    files = {f for fs in snap["added_files"].values() for f in fs}
    assert files and _pyarrow_written(t, files)
    # the rewrite path writes every type too: a compaction keeps the
    # buckets, a rebucket moves every row to a new one
    for rewrite in (t.compact, lambda: t.rebucket(4)):
        snap = rewrite()
        files = {f for fs in snap["bucket_files"].values() for f in fs}
        assert files and _pyarrow_written(t, files)
        assert all(len(fs) == 1 for fs in snap["bucket_files"].values())
        got = t.read_seq_range()
        assert [f.dataType for f in got.schema.fields] == [
            f.dataType for f in df.schema.fields
        ]
        _assert_same_rows(got, df)


def test_arrow_delta_reads_back_across_schema_evolution(spark, tmp_path):
    """``bulk_backfill``'s evolution: the second batch adds ``lang`` and
    widens ``n_tok`` from int to long; both batches' rows read back
    through the evolved schema."""
    cfg = FeedConfig(n_docs=300, events_per_batch=400, n_batches=2, evolve_at_batch=1)
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=16, compact_files=100)
    want = None
    for b in range(cfg.n_batches):
        batch = generate_batch(spark, cfg, b)
        apply_changes(t, batch, "evo", epoch=b)
        rows = batch.select(
            "doc_id",
            F.col("seq").alias("_seq"),
            F.lit(b).cast("long").alias("_epoch"),
            (F.col("op") == "D").alias("_tombstone"),
            "tokens",
            F.col("n_tok").cast("long").alias("n_tok"),
            "source",
            *(["lang"] if "lang" in batch.columns else []),
        )
        want = rows if want is None else want.unionByName(rows, allowMissingColumns=True)
    schema = t.schema()
    assert schema["n_tok"].dataType.typeName() == "long" and "lang" in schema.fieldNames()
    assert _pyarrow_written(t, _data_files(t))
    got = t.read_seq_range()
    _assert_same_rows(got, want.select(*got.columns))


def test_empty_delta_publishes_fence_and_no_data_file(spark, tmp_path):
    cfg = FeedConfig(n_docs=100, events_per_batch=200, n_batches=1)
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    apply_changes(t, generate_batch(spark, cfg, 0), "empty", epoch=0)
    before_files, before_v = _data_files(t), t.current_version()
    empty = generate_batch(spark, cfg, 0).limit(0)
    li = apply_changes(t, empty, "empty", epoch=1)
    assert li["events_in"] == 0 and li["rows_out"] == 0 and li["deletes_in"] == 0
    assert li["offset_range"] == [None, None] and li["event_time_lag_sec"] is None
    assert t.current_version() == before_v + 1
    assert t.last_epoch("empty") == 1
    assert t.snapshot()["added_files"] == {}
    assert _data_files(t) == before_files
    assert sorted(os.listdir(os.path.join(t.root, "data"))) == sorted(
        {f.split(os.sep)[1] for f in before_files}
    )


def test_non_compacting_apply_is_one_labelled_spark_job(spark, tmp_path, monkeypatch):
    """A non-compacting apply on a DataFrame source runs exactly one
    Spark job, tagged ``cdc:<app>:<epoch>:flush``, without a
    repartition or a Spark parquet write; a compacting apply runs the
    same one flush job, then its compaction as a commit of its own,
    under the ``cdc:maintenance:<n>:rewrite`` label, whose bucket tasks
    write with pyarrow, not Spark's parquet writer."""
    cfg = FeedConfig(n_docs=300, events_per_batch=500, n_batches=3)
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=8, compact_files=3)
    apply_changes(t, generate_batch(spark, cfg, 0), "jobs", epoch=0)

    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()
    batch = generate_batch(spark, cfg, 1)

    def forbidden(*a, **kw):
        raise AssertionError("no commit may use Spark's writer, nor a pure delta shuffle")

    monkeypatch.setattr(DataFrameWriter, "parquet", forbidden)
    group = f"apply-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        with monkeypatch.context() as mp:
            mp.setattr(type(batch), "repartition", forbidden)
            li = apply_changes(t, batch, "jobs", epoch=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert li["compacted_buckets"] == 0
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1
    assert list(tracker.getJobIdsForTag("cdc:jobs:1:flush")) == jobs
    assert sc.getLocalProperty("spark.job.tags") in (None, "")

    # the third commit reaches compact_files: the batch is still one
    # flush job, and the compaction commit takes the rewrite path
    li = apply_changes(t, generate_batch(spark, cfg, 2), "jobs", epoch=2)
    assert li["compacted_buckets"] > 0
    assert len(tracker.getJobIdsForTag("cdc:jobs:2:flush")) == 1
    assert len(tracker.getJobIdsForTag("cdc:jobs:2:rewrite")) == 0
    n = t.last_epoch("maintenance")
    assert len(tracker.getJobIdsForTag(f"cdc:maintenance:{n}:rewrite")) >= 1
    assert t.snapshot()["lineage"]["op"] == "compact"
    assert t.snapshot(li["snapshot_version"])["lineage"] == {"op": "cdc_apply", "epoch": 2}
    assert _pyarrow_written(t, _data_files(t))


@pytest.mark.parametrize("codec", ["snappy", "zstd"])
def test_arrow_delta_uses_the_session_codec(spark, tmp_path, codec):
    prev = spark.conf.get("spark.sql.parquet.compression.codec")
    spark.conf.set("spark.sql.parquet.compression.codec", codec)
    try:
        cfg = FeedConfig(n_docs=50, events_per_batch=100, n_batches=1)
        t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
        apply_changes(t, generate_batch(spark, cfg, 0), "codec", epoch=0)
    finally:
        spark.conf.set("spark.sql.parquet.compression.codec", prev)
    for rel in _data_files(t):
        md = pq.read_metadata(os.path.join(t.root, rel))
        assert md.row_group(0).column(0).compression == codec.upper()


@pytest.mark.parametrize(
    "run_rows,cores,runs",
    [(1 << 15, 8, 1), (100, 8, 3), (100, 2, 2), (1, 64, 16)],
)
def test_delta_run_count_follows_batch_rows_and_driver_cores(
    spark, tmp_path, monkeypatch, run_rows, cores, runs
):
    """A 300-row delta splits into ceil(300 / _RUN_ROWS) runs, capped at
    the driver's cores and the bucket count; each bucket still lands in
    exactly one file."""
    monkeypatch.setattr(SnapshotTable, "_RUN_ROWS", run_rows)
    monkeypatch.setattr(snapshot_table, "_driver_cores", lambda: cores)
    df = spark.range(300).select(
        F.format_string("d%05d", "id").alias("doc_id"),
        F.col("id").alias("_seq"),
        F.lit(1).cast("long").alias("_epoch"),
        F.lit(False).alias("_tombstone"),
    )
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=16)
    snap = t.commit(
        df.withColumn("_bucket", bucket_expr(F.col("doc_id"), 16)),
        set(),
        "runs",
        epoch=1,
        new_schema=df.schema,
    )
    files = {f for fs in snap["bucket_files"].values() for f in fs}
    assert len(files) == runs
    assert len(snap["bucket_files"]) == 16
    assert all(len(fs) == 1 for fs in snap["bucket_files"].values())
    assert sum(snap["bucket_rows_written"].values()) == 300


def test_batch_over_max_result_size_fails_before_publishing(spark, tmp_path):
    """The delta is held on the driver: a batch over
    ``spark.driver.maxResultSize`` fails before any file is written —
    in the gather of a DataFrame and in the pyarrow read of a replayed
    batch alike — leaving the version, the epoch fence and the data
    directory as they were; the same batch commits once the limit
    allows it."""
    cfg = FeedConfig(n_docs=40_000, events_per_batch=20_000, n_batches=2)
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=8)
    apply_changes(t, generate_batch(spark, cfg, 0), "big", epoch=0)
    head, files = t.current_version(), _data_files(t)
    dirs = sorted(os.listdir(os.path.join(t.root, "data")))
    with _max_result_size(spark, "1m"):
        with pytest.raises(Exception, match="maxResultSize"):
            apply_changes(t, generate_batch(spark, cfg, 1), "big", epoch=1)
    assert t.current_version() == head
    assert t.last_epoch("big") == 0
    assert _data_files(t) == files
    assert sorted(os.listdir(os.path.join(t.root, "data"))) == dirs
    assert apply_changes(t, generate_batch(spark, cfg, 1), "big", epoch=1) is not None
    assert t.last_epoch("big") == 1

    feed, _ = _replay_feed(spark, tmp_path, cfg)
    tailer = tailer_mod.ChangeLogTailer(
        spark, feed, str(tmp_path / "r"), app_id="bigr", num_buckets=8
    )
    tailer.replay_batches(start=0, end=0)
    r = tailer.table
    head, files = r.current_version(), _data_files(r)
    dirs = sorted(os.listdir(os.path.join(r.root, "data")))
    with _max_result_size(spark, "1m"):
        with pytest.raises(Exception, match="maxResultSize"):
            tailer.replay_batches(start=1, end=1)
    assert r.current_version() == head
    assert r.last_epoch("bigr") == 0
    assert _data_files(r) == files
    assert sorted(os.listdir(os.path.join(r.root, "data"))) == dirs
    assert [li["epoch"] for li in tailer.replay_batches(start=1, end=1)] == [1]
    assert r.last_epoch("bigr") == 1


def test_run_stream_admits_triggers_below_max_result_size(spark, tmp_path):
    """With no admission option, ``run_stream`` admits at most
    ``maxResultSize / TRIGGER_BYTES_DIVISOR`` feed bytes per trigger,
    so a backlog replays as several micro-batches that each gather
    within the limit, and the table converges."""
    assert tailer_mod._byte_size(spark, "512m") == 512 << 20
    assert tailer_mod._byte_size(spark, 4096) == 4096
    cfg = FeedConfig(n_docs=1500, events_per_batch=2000, n_batches=2, dup_tail=100)
    feed = str(tmp_path / "feed")
    write_feed(spark, cfg, feed)
    feed_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(feed)
        for f in fs
        if f.endswith(".parquet")
    )
    limit = (1 << 20) // tailer_mod.TRIGGER_BYTES_DIVISOR
    assert feed_bytes > 2 * limit
    tailer = tailer_mod.ChangeLogTailer(
        spark, feed, str(tmp_path / "t"), app_id="adm", num_buckets=8
    )
    with _max_result_size(spark, "1m"):
        tailer.run_stream(checkpoint_dir=str(tmp_path / "cp"), available_now=True)
    assert len(tailer.applied) >= feed_bytes / limit
    got = {(r.doc_id, r._seq) for r in tailer.table.read().select("doc_id", "_seq").collect()}
    want = lww_expected_state(spark, cfg, cfg.n_batches - 1)
    assert got == {(r.doc_id, r._seq) for r in want.select("doc_id", "_seq").collect()}


def _replay_feed(spark, tmp_path, cfg):
    feed = str(tmp_path / "feed")
    write_feed(spark, cfg, feed)
    return feed, sorted(os.path.join(feed, d) for d in os.listdir(feed))


def test_replayed_batch_runs_no_spark_job(spark, tmp_path):
    """``replay_batches`` reads a batch with pyarrow and applies it as
    Arrow, so replaying a non-compacting batch runs no Spark job at
    all: none in the caller's job group, none under the commit's
    ``cdc:<app>:<batch>:flush`` label."""
    cfg = FeedConfig(n_docs=300, events_per_batch=500, n_batches=2)
    feed, _ = _replay_feed(spark, tmp_path, cfg)
    tailer = tailer_mod.ChangeLogTailer(
        spark, feed, str(tmp_path / "t"), app_id="rjobs", num_buckets=8
    )
    tailer.replay_batches(start=0, end=0)

    sc = spark.sparkContext
    group = f"replay-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        (li,) = tailer.replay_batches(start=1, end=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert li["epoch"] == 1 and li["compacted_buckets"] == 0
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    tracker = sc._jsc.sc().statusTracker()
    assert list(tracker.getJobIdsForTag("cdc:rjobs:1:flush")) == []


def test_streamed_batch_runs_no_spark_job(spark, tmp_path):
    """``run_stream`` reads a micro-batch's own files with pyarrow and
    never runs the micro-batch's DataFrame, so a non-compacting stream
    batch runs no Spark job: none in the query's job group, none under
    the commit's ``cdc:<app>:stream:<batch>:flush`` label."""
    cfg = FeedConfig(n_docs=300, events_per_batch=500, n_batches=2)
    feed = str(tmp_path / "feed")
    write_feed(spark, cfg, feed, batches=range(0, 1))
    tailer = tailer_mod.ChangeLogTailer(
        spark, feed, str(tmp_path / "t"), app_id="sjobs", num_buckets=8
    )
    cp = str(tmp_path / "cp")
    tailer.run_stream(checkpoint_dir=cp, available_now=True)
    write_feed(spark, cfg, feed, batches=range(1, 2))
    q = tailer.run_stream(checkpoint_dir=cp, available_now=True)

    li = tailer.applied[-1]
    assert li["epoch"] == 1 and li["compacted_buckets"] == 0
    assert li["events_in"] == cfg.events_per_batch + cfg.dup_tail
    sc = spark.sparkContext
    assert list(sc.statusTracker().getJobIdsForGroup(str(q.runId))) == []
    tracker = sc._jsc.sc().statusTracker()
    assert list(tracker.getJobIdsForTag("cdc:sjobs:stream:1:flush")) == []


def test_micro_batch_file_walk(spark, tmp_path, monkeypatch):
    """The files walked from each micro-batch's scan are the files
    ``input_file_name()`` reports for the same micro-batch, as local
    paths (the feed directory's name holds a space, so the URIs must
    be decoded); under ``maxFilesPerTrigger`` the micro-batches cover
    every feed file once, and their ``events_in`` sum to the feed's
    events."""
    from urllib.parse import unquote, urlparse

    cfg = FeedConfig(n_docs=300, events_per_batch=400, n_batches=3, dup_tail=30)
    feed = str(tmp_path / "feed dir")
    write_feed(spark, cfg, feed)
    walked: list[list[str]] = []
    walk = tailer_mod._micro_batch_files

    def recording_walk(batch_df):
        files = walk(batch_df)
        read = {
            unquote(urlparse(r[0]).path)
            for r in batch_df.select(F.input_file_name()).distinct().collect()
        }
        assert set(files) == read
        walked.append(files)
        return files

    monkeypatch.setattr(tailer_mod, "_micro_batch_files", recording_walk)
    tailer = tailer_mod.ChangeLogTailer(
        spark, feed, str(tmp_path / "t"), app_id="walk", num_buckets=8
    )
    tailer.run_stream(
        checkpoint_dir=str(tmp_path / "cp"), available_now=True, max_files_per_trigger=2
    )
    feed_files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(feed)
        for f in fs
        if f.endswith(".parquet")
    )
    assert len(walked) == len(tailer.applied) > 1
    assert all(len(files) <= 2 for files in walked)
    assert sorted(f for files in walked for f in files) == feed_files
    events = cfg.n_batches * cfg.events_per_batch + (cfg.n_batches - 1) * cfg.dup_tail
    assert sum(li["events_in"] for li in tailer.applied) == events
    with pytest.raises(RuntimeError, match="no FileScanRDD"):
        walk(spark.range(3))


def test_replay_reads_the_schema_spark_infers(spark, tmp_path):
    """On a ``bulk_backfill``-shaped feed (duplicated tails, the last
    batch adding ``lang`` and widening ``n_tok``), with one batch
    rewritten by pyarrow (no Spark schema in its footers, REQUIRED
    columns), the Spark schema of a replayed pyarrow batch equals
    ``spark.read.parquet``'s, and every commit's manifest schema is
    byte-identical to the one derived from ``spark.read.parquet(path)``
    (``_evolve_schema`` over the delta's projection of that read)."""
    cfg = FeedConfig(
        n_docs=600, events_per_batch=600, n_batches=3, dup_tail=12, evolve_at_batch=2
    )
    feed, paths = _replay_feed(spark, tmp_path, cfg)
    rewritten = pq.read_table(paths[1]).replace_schema_metadata(None)
    assert not rewritten.schema.field("doc_id").nullable
    for f in os.listdir(paths[1]):
        os.remove(os.path.join(paths[1], f))
    pq.write_table(rewritten, os.path.join(paths[1], "part-0.parquet"))
    tailer = tailer_mod.ChangeLogTailer(
        spark, feed, str(tmp_path / "t"), app_id="fschema", num_buckets=8
    )
    def read(path):
        return tailer._read_batch(list(tailer_mod._data_files(path)))

    for path in paths:
        assert batch_schema(read(path)) == spark.read.parquet(path).schema
    last = batch_schema(read(paths[-1]))
    assert last["lang"].dataType.typeName() == "string"
    assert last["n_tok"].dataType.typeName() == "long"
    assert last["ts"].dataType.typeName() == "timestamp_ntz"

    lineage = tailer.replay_batches()
    assert len(lineage) == len(paths)
    want = None
    for b, (path, li) in enumerate(zip(paths, lineage)):
        batch = spark.read.parquet(path)
        data_cols = [
            c for c in batch.columns if c not in ("op", "seq", "ts", "batch_id", "doc_id")
        ]
        src = batch.select(
            "doc_id",
            F.col("seq").cast("long").alias("_seq"),
            F.lit(b).cast("long").alias("_epoch"),
            (F.col("op") == "D").alias("_tombstone"),
            *data_cols,
        )
        want = SnapshotTable._evolve_schema(want, src.schema)
        manifest = os.path.join(
            tailer.table._meta, f"snapshot-{li['snapshot_version']:012d}.json"
        )
        with open(manifest) as f:
            got = json.load(f)["schema"]
        assert json.dumps(got) == json.dumps(want.jsonValue())


def test_replay_of_a_batch_without_spark_footer_schema(spark, tmp_path):
    """A batch directory written by pyarrow carries no Spark row schema
    in its footers; replay infers it, and the table still converges to
    the oracle."""
    cfg = FeedConfig(n_docs=400, events_per_batch=500, n_batches=3, dup_tail=20)
    feed, paths = _replay_feed(spark, tmp_path, cfg)
    rewritten = spark.read.parquet(paths[1]).toArrow()
    for f in os.listdir(paths[1]):
        os.remove(os.path.join(paths[1], f))
    pq.write_table(rewritten, os.path.join(paths[1], "part-0.parquet"))
    md = pq.read_metadata(os.path.join(paths[1], "part-0.parquet")).metadata or {}
    assert b"org.apache.spark.sql.parquet.row.metadata" not in md

    tailer = tailer_mod.ChangeLogTailer(
        spark, feed, str(tmp_path / "t"), app_id="pyarrow", num_buckets=8
    )
    assert [li["events_in"] for li in tailer.replay_batches()] == [500, 520, 520]
    got = {
        (r.doc_id, r._seq, tuple(r.tokens or []))
        for r in tailer.table.read().select("doc_id", "_seq", "tokens").collect()
    }
    want = lww_expected_state(spark, cfg, cfg.n_batches - 1)
    assert got == {
        (r.doc_id, r._seq, tuple(r.tokens or []))
        for r in want.select("doc_id", "_seq", "tokens").collect()
    }


def test_input_metrics_come_from_the_gathered_batch(spark, tmp_path):
    """Counts, the seq range and the event-time lag of a batch with
    duplicates, deletes (null ``tokens``/``n_tok``) and a null ``ts``
    match values computed here from the rows themselves; the lineage
    times each phase, and the manifest does not carry those timings."""
    ts = [dt.datetime(2024, 5, 1, 12, 0, s) for s in range(4)]
    rows = [
        ("I", "a", 10, [1, 2], 2, "web", ts[0]),
        ("I", "a", 10, [1, 2], 2, "web", ts[0]),  # duplicate event
        ("U", "a", 12, [1, 2, 3], 3, "web", None),
        ("D", "b", 7, None, None, None, ts[3]),
        ("I", "c", 3, [5], 1, "api", ts[1]),
        ("D", "c", 30, None, None, None, ts[2]),
    ]
    batch = spark.createDataFrame(
        rows,
        "op string, doc_id string, seq long, tokens array<int>, n_tok int, "
        "source string, ts timestamp_ntz",
    )
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    before = dt.datetime.now(dt.timezone.utc).timestamp()
    li = apply_changes(t, batch, "metrics", epoch=0)
    after = dt.datetime.now(dt.timezone.utc).timestamp()

    deletes = sum(r[0] == "D" for r in rows)
    newest = max(r[6] for r in rows if r[6] is not None).replace(tzinfo=dt.timezone.utc)
    assert li["events_in"] == len(rows) == 6
    assert li["deletes_in"] == li["tombstones_out"] == deletes == 2
    assert li["offset_range"] == [min(r[2] for r in rows), max(r[2] for r in rows)] == [3, 30]
    assert before - newest.timestamp() - 0.1 <= li["event_time_lag_sec"]
    assert li["event_time_lag_sec"] <= after - newest.timestamp() + 0.1
    assert set(li["phase_s"]) == {"plan", "gather", "check", "write", "publish", "compact"}
    assert all(v >= 0 for v in li["phase_s"].values())
    assert sum(li["phase_s"].values()) <= li["wall_sec"] + 1e-3
    assert "phase_s" not in t.snapshot(li["snapshot_version"])
    # ts was only a helper column: no data file stores it
    for rel in _data_files(t):
        assert "ts" not in pq.read_schema(os.path.join(t.root, rel)).names


def test_invariant_violation_through_run_stream_fails_the_batch(spark, tmp_path):
    """A row with ``n_tok != size(tokens)`` arriving through
    ``run_stream`` fails its micro-batch, and the table does not
    advance."""
    cfg = FeedConfig(n_docs=200, events_per_batch=300, n_batches=2)
    feed = str(tmp_path / "feed")
    write_feed(spark, cfg, feed, batches=range(0, 1))
    tailer = tailer_mod.ChangeLogTailer(
        spark, feed, str(tmp_path / "t"), app_id="sguard", num_buckets=4
    )
    cp = str(tmp_path / "cp")
    tailer.run_stream(checkpoint_dir=cp, available_now=True)
    version, epoch = tailer.table.current_version(), tailer.table.last_epoch("sguard:stream")
    assert epoch == 0

    poisoned = generate_batch(spark, cfg, 1).withColumn(
        "n_tok", F.when(F.col("op") != "D", F.col("n_tok") + 1)
    )
    poisoned.write.parquet(os.path.join(feed, "batch-000001"))
    with pytest.raises(Exception, match="invariant violated: n_tok != size"):
        tailer.run_stream(checkpoint_dir=cp, available_now=True)
    assert tailer.table.current_version() == version
    assert tailer.table.last_epoch("sguard:stream") == epoch
