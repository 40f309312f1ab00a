"""Per-FILE Bloom filters in the manifest: lookups prune individual
delta files (not just buckets), negatives skip everything without
opening a data file, and files written before blooms were enabled are
always scanned (coverage correct by construction)."""

import os

import pyspark.sql.functions as F

from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable, bucket_expr


def _frame(spark, table, keys, seq):
    return spark.createDataFrame(
        [(k, seq, seq, False, len(k)) for k in keys],
        "doc_id string, _seq long, _epoch long, _tombstone boolean, val long",
    ).withColumn("_bucket", bucket_expr(F.col("doc_id"), table.num_buckets))


def _spark_bloom_words(df, bits: int) -> dict[str, list[int]]:
    """Reference Bloom words per bucket of ``df``'s rows, aggregated in
    Spark: probe ``s`` of a key is bit ``pmod(xxhash64(doc_id, s),
    bits)``, bit p % 64 of signed 64-bit word p // 64."""
    seeds = (1, 2, 3)
    n_words = bits // 64
    tmp = df.select(
        "_bucket",
        *[
            F.pmod(F.xxhash64(F.col("doc_id"), F.lit(s)), F.lit(bits)).alias(f"pos{si}")
            for si, s in enumerate(seeds)
        ],
    )
    aggs = []
    for si in range(len(seeds)):
        word = F.floor(F.col(f"pos{si}") / 64).cast("int")
        # shiftleft needs a column shift amount -> SQL expression form
        bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos{si} % 64 AS INT))")
        for w in range(n_words):
            aggs.append(F.bit_or(F.when(word == w, bit).otherwise(0)).alias(f"s{si}w{w}"))
    out: dict[str, list[int]] = {}
    for r in tmp.groupBy("_bucket").agg(*aggs).collect():
        words = [0] * n_words
        for si in range(len(seeds)):
            for w in range(n_words):
                words[w] |= r[f"s{si}w{w}"] or 0
        out[str(r["_bucket"])] = words
    return out


def _write(spark, table, keys, seq, replace=False):
    df = _frame(spark, table, keys, seq)
    table.commit(
        df,
        replace_buckets=set(range(table.num_buckets)) if replace else set(),
        app_id="bl",
        epoch=seq,
        new_schema=df.drop("_bucket").schema,
    )


def test_bloom_negative_lookup_skips_all_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4, bloom_bits=4096)
    _write(spark, t, [f"doc-{i}" for i in range(50)], seq=1)
    snap = t.snapshot()
    assert snap["bloom_bits"] == 4096 and snap["file_blooms"]
    # every live file carries a bloom entry
    live = {f for fs in snap["bucket_files"].values() for f in fs}
    assert set(snap["file_blooms"]) == live
    # present keys found
    got = {r.doc_id for r in t.lookup(["doc-3", "doc-44"]).collect()}
    assert got == {"doc-3", "doc-44"}
    # absent keys: the driver-side plan selects ZERO files
    assert SnapshotTable.plan_lookup(snap, ["nope-1", "nope-2"]) == []
    assert t.lookup(["nope-1", "nope-2"]).count() == 0


def test_bloom_prunes_to_the_one_delta_file_holding_the_key(spark, tmp_path):
    """File-level skip: two delta commits land two files in the same
    bucket; a lookup of a key from commit 1 must plan only commit 1's
    file (the per-file win over bucket-level blooms)."""
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=1, bloom_bits=4096)
    _write(spark, t, ["alpha"], seq=1)
    _write(spark, t, ["beta"], seq=2)
    snap = t.snapshot()
    assert len(snap["bucket_files"]["0"]) == 2
    planned = SnapshotTable.plan_lookup(snap, ["alpha"])
    assert len(planned) == 1
    # and it is the file that actually holds the key
    rows = spark.read.parquet(str(tmp_path / "t" / planned[0])).collect()
    assert {r.doc_id for r in rows} == {"alpha"}
    assert {r.doc_id for r in t.lookup(["alpha"]).collect()} == {"alpha"}


def test_bloom_enabled_on_existing_table_still_finds_old_keys(spark, tmp_path):
    """ADVICE r2 (high): enabling bloom_bits on a table with existing
    data must not hide pre-existing keys — old files simply have no
    bloom entry and stay always-scanned."""
    t0 = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    _write(spark, t0, ["old-key-1", "old-key-2"], seq=1)
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4, bloom_bits=4096)
    _write(spark, t, ["new-key"], seq=2)
    got = {r.doc_id for r in t.lookup(["old-key-1", "new-key"]).collect()}
    assert got == {"old-key-1", "new-key"}
    # old files carry no bloom entry; new ones do
    snap = t.snapshot()
    live = {f for fs in snap["bucket_files"].values() for f in fs}
    assert set(snap["file_blooms"]) < live


def test_bloom_reset_on_compaction(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4, bloom_bits=4096)
    _write(spark, t, ["a", "b", "c"], seq=1)
    before = set(t.snapshot()["file_blooms"])
    _write(spark, t, ["a", "b", "c"], seq=2, replace=True)
    after_snap = t.snapshot()
    after = set(after_snap["file_blooms"])
    # replaced buckets' old file entries dropped; compacted files get
    # fresh entries (no unbounded manifest creep)
    assert after.isdisjoint(before)
    live = {f for fs in after_snap["bucket_files"].values() for f in fs}
    assert after == live
    assert {r.doc_id for r in t.lookup(["b"]).collect()} == {"b"}


def test_bloom_lookup_plans_without_spark_jobs(spark, tmp_path):
    """Building the lookup DataFrame must launch no Spark job (the
    bucket/bloom math runs driver-side; VERDICT r2 'What's wrong' #3)."""
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4, bloom_bits=4096)
    _write(spark, t, ["a", "b"], seq=1)
    sc = spark.sparkContext
    sc.setJobGroup("lookup-plan-probe", "no jobs expected", False)
    try:
        t.lookup(["a", "zzz"])  # plan only — NOT collected
        ids = sc.statusTracker().getJobIdsForGroup("lookup-plan-probe")
    finally:
        sc.setJobGroup(None, None, False)
    assert list(ids) == []


def test_bloom_disabled_table_ignores_blooms(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    _write(spark, t, ["a", "b"], seq=1)
    assert "file_blooms" not in t.snapshot()
    assert {r.doc_id for r in t.lookup(["a"]).collect()} == {"a"}


def test_bloom_over_multi_bucket_runs_keeps_per_bucket_precision(spark, tmp_path):
    """A delta commit writes a few files that each hold many buckets;
    their blooms are kept per (file, bucket), so a lookup never drops a
    file that holds the key and still prunes negatives."""
    import pyarrow.parquet as pq

    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=32, bloom_bits=4096)
    for seq in range(3):
        _write(spark, t, [f"doc-{seq}-{i}" for i in range(200)], seq=seq + 1)
    snap = t.snapshot()
    shared = snap.get("file_buckets") or {}
    assert shared, "expected files spanning several buckets"
    for f, held in shared.items():
        assert sorted(int(b) for b in snap["file_blooms"][f]) == held
    holders: dict[str, set[str]] = {}
    for f in {f for fs in snap["bucket_files"].values() for f in fs}:
        for k in pq.read_table(str(tmp_path / "t" / f), columns=["doc_id"]).column(0).to_pylist():
            holders.setdefault(k, set()).add(f)
    for k, fs in holders.items():
        planned = SnapshotTable.plan_lookup(snap, [k])
        assert fs <= set(planned), k
        assert len(planned) == len(set(planned))
    assert SnapshotTable.plan_lookup(snap, ["nope-1", "nope-2"]) == []
    got = {r.doc_id for r in t.lookup(["doc-0-5", "doc-2-199", "nope-1"]).collect()}
    assert got == {"doc-0-5", "doc-2-199"}


def test_bloom_words_of_arrow_delta_match_spark_aggregation(spark, tmp_path):
    """A delta commit ORs its Bloom words on the driver from probe
    positions hashed on the driver. The words equal the Spark
    aggregation's for the same rows, no file holding a key is dropped,
    and negatives are still pruned — also for a batch replayed from a
    feed, which reaches the commit as a pyarrow table."""
    import pyarrow.parquet as pq

    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=8, bloom_bits=4096)
    keys = [f"key-{i}" for i in range(400)]
    _write(spark, t, keys, seq=1)
    snap = t.snapshot()
    files = {f for fs in snap["bucket_files"].values() for f in fs}
    assert all(
        pq.read_metadata(str(tmp_path / "t" / f)).created_by.startswith("parquet-cpp-arrow")
        for f in files
    )
    expected = _spark_bloom_words(_frame(spark, t, keys, seq=1), 4096)
    got = {b: words for entry in snap["file_blooms"].values() for b, words in entry.items()}
    assert got == expected
    for f in files:
        for k in pq.read_table(str(tmp_path / "t" / f), columns=["doc_id"]).column(0).to_pylist():
            assert f in SnapshotTable.plan_lookup(snap, [k]), k
    assert SnapshotTable.plan_lookup(snap, ["absent-1", "absent-2"]) == []

    from ethereum_etl_airflow_spark.sources.feed import FeedConfig, write_feed
    from ethereum_etl_airflow_spark.streaming.tailer import ChangeLogTailer

    cfg = FeedConfig(n_docs=300, events_per_batch=400, n_batches=2, dup_tail=10)
    feed = str(tmp_path / "feed")
    write_feed(spark, cfg, feed)
    tailer = ChangeLogTailer(spark, feed, str(tmp_path / "r"), app_id="bl", num_buckets=8)
    tailer.table.bloom_bits = 4096
    for li in tailer.replay_batches():
        snap = tailer.table.snapshot(li["snapshot_version"])
        rows = spark.read.parquet(os.path.join(feed, f"batch-{li['epoch']:06d}")).withColumn(
            "_bucket", bucket_expr(F.col("doc_id"), 8)
        )
        expected = _spark_bloom_words(rows, 4096)
        added = {f for fs in snap["added_files"].values() for f in fs}
        got = {b: w for f in added for b, w in snap["file_blooms"][f].items()}
        assert got == expected
        for f in added:
            for k in pq.read_table(os.path.join(tailer.table.root, f), columns=["doc_id"]).column(0).to_pylist():
                assert f in SnapshotTable.plan_lookup(snap, [k]), k


def test_bloom_words_of_compacted_files_match_spark_aggregation(spark, tmp_path):
    """A compaction writes each bucket's L1 file and its Bloom words in
    the bucket's own Arrow task; the words equal the Spark aggregation
    over the folded rows, and every key is still found."""
    import pyarrow.parquet as pq

    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=8, bloom_bits=4096)
    for seq in range(1, 4):
        _write(spark, t, [f"key-{seq}-{i}" for i in range(150)] + ["shared"], seq=seq)
    t.compact(app_id="bl-maint")
    snap = t.snapshot()
    assert snap["lineage"]["op"] == "compact"
    files = {f for fs in snap["bucket_files"].values() for f in fs}
    assert all(len(fs) == 1 for fs in snap["bucket_files"].values())
    assert all(
        pq.read_metadata(str(tmp_path / "t" / f)).created_by.startswith("parquet-cpp-arrow")
        for f in files
    )
    folded = t.read_raw().withColumn("_bucket", bucket_expr(F.col("doc_id"), 8))
    got = {b: words for f in files for b, words in snap["file_blooms"][f].items()}
    assert got == _spark_bloom_words(folded, 4096)
    for f in files:
        for k in pq.read_table(str(tmp_path / "t" / f), columns=["doc_id"]).column(0).to_pylist():
            assert SnapshotTable.plan_lookup(snap, [k]) == [f], k
    assert SnapshotTable.plan_lookup(snap, ["absent-1", "absent-2"]) == []
