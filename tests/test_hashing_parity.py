"""Driver-side XXH64 must be bit-identical to Spark's xxhash64
expression — it replaces a whole Spark job per point lookup
(SnapshotTable.lookup bucket pruning + Bloom probes,
SecondaryIndex.lookup), and its vectorized Arrow form gives every
applied batch its hash buckets and Bloom probe positions."""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from ethereum_etl_airflow_spark.functions.hashing import (
    bucket_of,
    bucket_of_arrow,
    spark_xxhash64,
    xxhash64_arrow,
    xxhash64_bytes,
)


def _spark_hashes(spark, rows, exprs):
    df = spark.createDataFrame(rows, "s string, i int")
    return [r["h"] for r in df.select(exprs.alias("h")).collect()]


def test_xxhash64_string_parity(spark):
    rng = random.Random(7)
    # lengths straddle every code path: empty, <4, <8, 8..31, >=32, long
    samples = [""]
    for n in (1, 2, 3, 4, 5, 7, 8, 9, 15, 16, 17, 31, 32, 33, 63, 64, 100, 1000):
        samples.append("".join(chr(rng.randrange(32, 0x2FF)) for _ in range(n)))
    samples += ["doc-42", "user\x00null", "héllo wörld", "\U0001f600" * 10]
    rows = [(s, 0) for s in samples]
    jvm = _spark_hashes(spark, rows, F.xxhash64("s"))
    py = [spark_xxhash64(s) for s in samples]
    assert py == jvm


def test_xxhash64_chained_string_int_parity(spark):
    rng = random.Random(11)
    rows = [
        ("".join(chr(rng.randrange(97, 123)) for _ in range(rng.randrange(0, 40))), rng.randrange(-(2**31), 2**31 - 1))
        for _ in range(50)
    ] + [("seedcase", 1), ("seedcase", 2), ("seedcase", 3)]
    jvm = _spark_hashes(spark, rows, F.xxhash64("s", "i"))
    py = [spark_xxhash64(s, i) for s, i in rows]
    assert py == jvm


def test_bucket_of_matches_bucket_expr(spark):
    from ethereum_etl_airflow_spark.sinks.snapshot_table import bucket_expr

    keys = [f"doc{i:05d}" for i in range(200)]
    df = spark.createDataFrame([(k,) for k in keys], "doc_id string")
    jvm = {
        r["doc_id"]: r["b"]
        for r in df.select("doc_id", bucket_expr(F.col("doc_id"), 16).alias("b")).collect()
    }
    for k in keys:
        assert bucket_of(k, 16) == jvm[k]


def test_xxhash64_long_column_parity(spark):
    """A bigint column hashes 8 bytes even for small values — the
    driver-side twin must match via the i64 marker (type-driven, not
    value-driven, hashing)."""
    from ethereum_etl_airflow_spark.functions.hashing import i64

    vals = [0, 1, -1, 5, 2**31 - 1, -(2**31), 2**31, 2**40, -(2**40), 2**63 - 1, -(2**63)]
    df = spark.createDataFrame([(v,) for v in vals], "l long")
    jvm = [r["h"] for r in df.select(F.xxhash64("l").alias("h")).collect()]
    py = [spark_xxhash64(i64(v)) for v in vals]
    assert py == jvm


def test_bucket_of_long_keys_match_bucket_expr(spark):
    """bucket_of on integer keys must agree with bucket_expr over the
    bigint column Spark infers for Python ints — including small
    magnitudes where a value-width heuristic would hash 4 bytes."""
    from ethereum_etl_airflow_spark.sinks.snapshot_table import bucket_expr

    keys = list(range(50)) + [2**31, 2**40, -7, 2**63 - 1]
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    jvm = {
        r["doc_id"]: r["b"]
        for r in df.select("doc_id", bucket_expr(F.col("doc_id"), 16).alias("b")).collect()
    }
    for k in keys:
        assert bucket_of(k, 16) == jvm[k]


def test_xxhash64_bytes_known_vectors():
    # xxHash reference vectors (xxhsum: XXH64 of b"" seed 0, b"a" etc.)
    assert xxhash64_bytes(b"", 0) == 0xEF46DB3751D8E999
    assert xxhash64_bytes(b"xxhash", 0) == 0x32DD38952C4BC720


def _random_keys(n: int, seed: int) -> list[str | None]:
    """Strings mixing 1- to 4-byte UTF-8 characters, with byte lengths
    on both sides of 4, 8 and 32 (every XXH64 step), plus nulls and
    empty strings."""
    rng = random.Random(seed)
    widths = [
        lambda: chr(rng.randrange(32, 127)),
        lambda: chr(rng.randrange(0x80, 0x800)),
        lambda: chr(rng.randrange(0x800, 0xD800)),
        lambda: chr(rng.randrange(0x10000, 0x110000)),
    ]
    keys: list[str | None] = [None, "", None, ""]
    while len(keys) < n:
        target = rng.choice([rng.randrange(0, 12), rng.randrange(28, 40), rng.randrange(0, 90)])
        k = ""
        while len(k.encode()) < target:
            k += rng.choice(widths)()
        keys.append(k)
    return keys


def test_vectorized_bucket_matches_bucket_expr_and_bucket_of(spark):
    from ethereum_etl_airflow_spark.sinks.snapshot_table import bucket_expr

    keys = _random_keys(3200, seed=5)
    lengths = {len(k.encode()) for k in keys if k}
    assert {3, 4, 5, 7, 8, 9, 31, 32, 33} <= lengths
    df = spark.createDataFrame([(i, k) for i, k in enumerate(keys)], "i int, doc_id string")
    jvm = [
        r["b"]
        for r in df.select("i", bucket_expr(F.col("doc_id"), 128).alias("b")).orderBy("i").collect()
    ]
    got = bucket_of_arrow(pa.array(keys, pa.string()), 128)
    assert got.dtype == np.int32
    assert got.tolist() == jvm
    scalar = [bucket_of(k, 128) if k is not None else jvm[0] for k in keys]
    assert got.tolist() == scalar
    assert jvm[0] == 42 % 128  # a null key hashes to the seed


def test_vectorized_xxhash64_over_array_layouts():
    """Sliced arrays (offset != 0), multi-chunk ChunkedArrays and
    ``large_string`` give the scalar hash of each value."""
    keys = _random_keys(600, seed=9)
    want = [spark_xxhash64(k) if k is not None else 42 for k in keys]
    arr = pa.array(keys, pa.string())
    assert xxhash64_arrow(arr).tolist() == want
    assert xxhash64_arrow(arr.slice(37, 400)).tolist() == want[37:437]
    large = arr.cast(pa.large_string())
    assert xxhash64_arrow(large).tolist() == want
    assert xxhash64_arrow(large.slice(5)).tolist() == want[5:]
    chunked = pa.chunked_array([arr.slice(0, 13), arr.slice(13, 0), arr.slice(13, 300), arr.slice(313)])
    assert xxhash64_arrow(chunked).tolist() == want
    assert xxhash64_arrow(pa.chunked_array([], pa.string())).tolist() == []


def test_vectorized_xxhash64_integer_keys(spark):
    """int64 keys hash 8 bytes and int32 keys 4, by column type, as in
    Spark; a null hashes to the seed."""
    from ethereum_etl_airflow_spark.functions.hashing import i64

    longs = [0, 1, -1, 5, 2**31 - 1, -(2**31), 2**31, 2**40, -(2**40), 2**63 - 1, -(2**63), None]
    ints = [0, 1, -1, 5, 2**31 - 1, -(2**31), None]
    df = spark.createDataFrame([(v,) for v in longs], "l long")
    jvm = [r["h"] for r in df.select(F.xxhash64("l").alias("h")).collect()]
    assert xxhash64_arrow(pa.array(longs, pa.int64())).tolist() == jvm
    assert jvm[:-1] == [spark_xxhash64(i64(v)) for v in longs[:-1]]
    df = spark.createDataFrame([(v,) for v in ints], "i int")
    jvm = [r["h"] for r in df.select(F.xxhash64("i").alias("h")).collect()]
    assert xxhash64_arrow(pa.array(ints, pa.int32())).tolist() == jvm
    assert bucket_of_arrow(pa.array(longs[:-1]), 16).tolist() == [bucket_of(v, 16) for v in longs[:-1]]


def test_vectorized_xxhash64_chains_like_spark(spark):
    """``seeds`` chains hashes as Spark does across arguments: the Bloom
    probe ``xxhash64(doc_id, lit(s))``."""
    keys = _random_keys(500, seed=13)
    df = spark.createDataFrame([(i, k) for i, k in enumerate(keys)], "i int, s string")
    h = xxhash64_arrow(pa.array(keys, pa.string()))
    for s in (1, 2, 3):
        jvm = [
            r["h"]
            for r in df.select("i", F.xxhash64("s", F.lit(s)).alias("h")).orderBy("i").collect()
        ]
        got = xxhash64_arrow(pa.array(np.full(len(keys), s, np.int32)), seeds=h)
        assert got.tolist() == jvm


@pytest.mark.parametrize("typ", [pa.float64(), pa.binary(), pa.uint32(), pa.dictionary(pa.int32(), pa.string())])
def test_vectorized_xxhash64_refuses_unmapped_types(typ):
    with pytest.raises(TypeError, match=str(typ).split("<")[0]):
        xxhash64_arrow(pa.array([], typ))
