"""Portable deterministic hashing — identical in Spark and DuckDB.

The engine's internal hot-path hash is ``xxhash64`` (JVM codegen, used
for bucket salting — sinks/snapshot_table.bucket_expr). For operators
whose results must be replayed bit-for-bit by the DuckDB oracle
(dedup fingerprints, MinHash permutations, LSH planes), we need a hash
BOTH engines compute identically: the first 60 bits of md5, parsed
big-endian.

    Spark :  conv(substring(md5(x), 1, 15), 16, 10) :: long
    DuckDB:  ('0x' || substr(md5(x), 1, 15)) :: BIGINT

60 bits keeps the value strictly positive in a signed 64-bit int, so
``%`` behaves identically in both engines (no negative-mod divergence).

MinHash permutation family (universal-hash style):

    h_i(x) = (a_i * (phash(x) % P) + b_i) % P,
    P = 1_000_000_007,  a_i = 2 i + 1,  b_i = 7919 (i + 1)

a_i <= 2K keeps products < 2^35 — no 64-bit overflow in either engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: modulus for MinHash permutations (prime, ~2^30)
MINHASH_P = 1_000_000_007


def phash60(col: Column) -> Column:
    """Portable 60-bit positive hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def phash60_sql(expr: str) -> str:
    """Same hash as :func:`phash60`, as a DuckDB SQL fragment."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def minhash_perm(x: Column, i: int) -> Column:
    """i-th MinHash permutation applied to a phash60 value (Spark side)."""
    return (F.lit(2 * i + 1) * (x % MINHASH_P) + F.lit(7919 * (i + 1))) % MINHASH_P


def minhash_perm_sql(x_expr: str, i_expr: str) -> str:
    """MinHash permutation as a DuckDB fragment (``i_expr`` may be a
    lambda variable, e.g. inside list_transform over generate_series)."""
    return (
        f"(((2*{i_expr}+1) * ({x_expr} % {MINHASH_P}) + 7919*({i_expr}+1)) % {MINHASH_P})"
    )


# ---------------------------------------------------------------------------
# Driver-side XXH64 — bit-identical to Spark's ``xxhash64`` expression.
#
# Spark's XXH64 (common/unsafe XXH64.java) is a faithful port of the
# public xxHash-64 algorithm (Yann Collet, BSD-2; little-endian lane
# reads), seeded with 42 and chained across arguments: for
# ``xxhash64(c1, c2)`` the hash of c1 becomes the seed for c2. String
# columns hash their UTF-8 bytes; IntegerType arguments hash their
# 4-byte little-endian form, LongType their 8-byte form.
#
# Having the same function on the driver lets point lookups compute
# hash buckets and Bloom probe positions WITHOUT launching a Spark job
# (a whole job per lookup otherwise). Parity with the JVM expression is
# asserted in tests/test_hashing_parity.py over random inputs.
# ---------------------------------------------------------------------------

_M64 = (1 << 64) - 1
_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5

#: Spark's XxHash64 default seed (catalyst hash.scala)
SPARK_XXHASH_SEED = 42


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_avalanche(h: int) -> int:
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h


def xxhash64_bytes(data: bytes, seed: int = SPARK_XXHASH_SEED) -> int:
    """Unsigned XXH64 of ``data`` (standard algorithm, LE lanes)."""
    seed &= _M64
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XP1 + _XP2) & _M64
        v2 = (seed + _XP2) & _M64
        v3 = seed
        v4 = (seed - _XP1) & _M64
        while i + 32 <= n:
            v1 = (_rotl64((v1 + int.from_bytes(data[i:i + 8], "little") * _XP2) & _M64, 31) * _XP1) & _M64
            v2 = (_rotl64((v2 + int.from_bytes(data[i + 8:i + 16], "little") * _XP2) & _M64, 31) * _XP1) & _M64
            v3 = (_rotl64((v3 + int.from_bytes(data[i + 16:i + 24], "little") * _XP2) & _M64, 31) * _XP1) & _M64
            v4 = (_rotl64((v4 + int.from_bytes(data[i + 24:i + 32], "little") * _XP2) & _M64, 31) * _XP1) & _M64
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl64((v * _XP2) & _M64, 31) * _XP1) & _M64
            h = (h * _XP1 + _XP4) & _M64
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k1 = (_rotl64((int.from_bytes(data[i:i + 8], "little") * _XP2) & _M64, 31) * _XP1) & _M64
        h = (_rotl64(h ^ k1, 27) * _XP1 + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _XP1) & _M64
        h = (_rotl64(h, 23) * _XP2 + _XP3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XP5) & _M64
        h = (_rotl64(h, 11) * _XP1) & _M64
        i += 1
    return _xx_avalanche(h)


def _to_signed64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


class i64(int):
    """Operand explicitly marked as a Spark ``LongType`` value.

    JVM hashing is TYPE-driven, not value-driven: ``xxhash64`` over a
    ``bigint`` column consumes 8 bytes even for small magnitudes, while
    an ``int`` column consumes 4.  Wrap driver-side literals destined
    for a LongType comparison in ``i64(...)`` to force the 8-byte path.
    """


def spark_xxhash64(*values) -> int:
    """Driver-side equivalent of ``F.xxhash64(*cols)`` for str / 32-bit
    int / 64-bit int literals, returned SIGNED like the JVM column.

    A plain ``int`` follows IntegerType semantics when it fits 32 bits
    (value-driven fallback, kept for parity-test coverage of the int
    path); use :class:`i64` to pin LongType semantics regardless of
    magnitude — the JVM hashes by column type, not value.
    """
    h = SPARK_XXHASH_SEED
    for v in values:
        if isinstance(v, str):
            h = xxhash64_bytes(v.encode("utf-8"), h)
        elif isinstance(v, bool):
            raise TypeError("bool hashing not mapped")
        elif isinstance(v, i64):
            h = xxhash64_bytes(v.to_bytes(8, "little", signed=True), h)
        elif isinstance(v, int):
            width = 4 if -(1 << 31) <= v < (1 << 31) else 8
            h = xxhash64_bytes(v.to_bytes(width, "little", signed=True), h)
        else:
            raise TypeError(f"unsupported xxhash64 operand type {type(v)!r}")
    return _to_signed64(h)


def bucket_of(doc_id, num_buckets: int) -> int:
    """Driver-side twin of ``sinks.snapshot_table.bucket_expr`` —
    ``pmod(xxhash64(doc_id), num_buckets)`` (Python ``%`` on a positive
    modulus IS Java pmod).

    Integer keys are hashed with LongType semantics: every integral id
    column in this engine (and in Spark DataFrames built from Python
    ints) is ``bigint``, and the JVM hashes the full 8 bytes even for
    small values — a value-width heuristic would silently probe the
    wrong bucket for keys < 2^31.
    """
    if isinstance(doc_id, int) and not isinstance(doc_id, bool):
        doc_id = i64(doc_id)
    return spark_xxhash64(doc_id) % num_buckets


# ---------------------------------------------------------------------------
# Vectorized XXH64 over Arrow columns — the same function as
# :func:`spark_xxhash64`, computed with numpy over a whole column, so a
# batch already on the driver as Arrow gets its hash buckets and Bloom
# probe positions without a Spark job (one numpy pass per 8-byte word,
# not per row).
# ---------------------------------------------------------------------------


def _v_rotl(x, r: int):
    return (x << r) | (x >> (64 - r))


def _v_avalanche(h):
    h ^= h >> 33
    h *= _XP2
    h ^= h >> 29
    h *= _XP3
    h ^= h >> 32
    return h


def _v_round(acc, lane):
    return _v_rotl(acc + lane * _XP2, 31) * _XP1


def _v_unaligned(data, dtype):
    """Every byte offset of ``data`` (zero-padded by 8) read as a
    little-endian ``dtype`` word: ``view[i]`` is the word at byte i."""
    import numpy as np

    return np.ndarray((len(data) - 7,), dtype=dtype, buffer=data, strides=(1,))


def _v_rows(mask):
    """Index for the rows ``mask`` selects: a full slice when it selects
    every row (no gather), None when it selects none."""
    import numpy as np

    if mask.all():
        return slice(None)
    return np.flatnonzero(mask) if mask.any() else None


def _v_hash_bytes(data, starts, lengths, seeds):
    """XXH64 of the byte strings ``data[starts[i]:starts[i] + lengths[i]]``
    with per-row ``seeds`` (the steps of :func:`xxhash64_bytes`)."""
    import numpy as np

    data = np.concatenate([data, np.zeros(8, np.uint8)])
    u64 = _v_unaligned(data, "<u8")
    u32 = _v_unaligned(data, "<u4")
    pos = starts.astype(np.int64)
    lengths = lengths.astype(np.int64)
    h = seeds + np.uint64(_XP5)
    stripes = lengths // 32
    if stripes.any():
        rows = np.flatnonzero(stripes)
        s = seeds[rows]
        v = [s + np.uint64((_XP1 + _XP2) & _M64), s + np.uint64(_XP2), s.copy(), s - np.uint64(_XP1)]
        p = pos[rows]
        for k in range(int(stripes.max())):
            act = np.flatnonzero(stripes[rows] > k)
            for lane in range(4):
                v[lane][act] = _v_round(v[lane][act], u64[p[act] + 8 * lane])
            p[act] += 32
        hl = _v_rotl(v[0], 1) + _v_rotl(v[1], 7) + _v_rotl(v[2], 12) + _v_rotl(v[3], 18)
        for lane in v:
            hl ^= _v_round(np.uint64(0), lane)
            hl = hl * _XP1 + np.uint64(_XP4)
        h[rows] = hl
        pos += stripes * 32
    h += lengths.astype(np.uint64)
    rest = lengths % 32
    for k in range(3):  # up to three 8-byte words after the stripes
        act = _v_rows(rest >= 8 * (k + 1))
        if act is None:
            break
        k1 = _v_round(np.uint64(0), u64[pos[act]])
        h[act] = _v_rotl(h[act] ^ k1, 27) * _XP1 + np.uint64(_XP4)
        pos[act] += 8
    act = _v_rows(rest % 8 >= 4)
    if act is not None:
        h[act] ^= u32[pos[act]].astype(np.uint64) * _XP1
        h[act] = _v_rotl(h[act], 23) * _XP2 + np.uint64(_XP3)
        pos[act] += 4
    for k in range(3):  # up to three trailing bytes
        act = _v_rows(rest % 4 > k)
        if act is None:
            break
        h[act] ^= data[pos[act]].astype(np.uint64) * _XP5
        h[act] = _v_rotl(h[act], 11) * _XP1
        pos[act] += 1
    return _v_avalanche(h)


def _v_hash_ints(values, width: int, seeds):
    """XXH64 of each value's ``width``-byte little-endian form (Spark's
    ``hashInt`` for 4, ``hashLong`` for 8), with per-row ``seeds``."""
    import numpy as np

    h = seeds + np.uint64((_XP5 + width) & _M64)
    if width == 4:
        h ^= values.astype(np.int32).view(np.uint32).astype(np.uint64) * _XP1
        h = _v_rotl(h, 23) * _XP2 + np.uint64(_XP3)
    else:
        h ^= _v_round(np.uint64(0), values.astype(np.int64).view(np.uint64))
        h = _v_rotl(h, 27) * _XP1 + np.uint64(_XP4)
    return _v_avalanche(h)


def _v_hash_chunk(arr, seeds):
    import numpy as np
    import pyarrow as pa

    t = arr.type
    is_str = pa.types.is_string(t) or pa.types.is_large_string(t)
    if not (is_str or pa.types.is_signed_integer(t)):
        raise TypeError(f"xxhash64 over Arrow columns of type {t} is not mapped")
    if not len(arr):
        return np.zeros(0, np.uint64)
    if is_str:
        off_buf, data_buf = arr.buffers()[1:3]
        off_t = np.int32 if pa.types.is_string(t) else np.int64
        offsets = np.frombuffer(off_buf, off_t)[arr.offset : arr.offset + len(arr) + 1]
        data = np.frombuffer(data_buf, np.uint8) if data_buf is not None else np.zeros(0, np.uint8)
        h = _v_hash_bytes(data, offsets[:-1], np.diff(offsets), seeds)
    else:
        # Spark hashes byte/short/int columns as 4-byte ints and bigint
        # columns as 8 bytes, whatever the value
        width = 8 if t.bit_width == 64 else 4
        h = _v_hash_ints(arr.fill_null(0).to_numpy(), width, seeds)
    if arr.null_count:
        # a null argument leaves the running hash at its seed, as in Spark
        h = np.where(arr.is_valid().to_numpy(zero_copy_only=False), h, seeds)
    return h


def xxhash64_arrow(col, seeds=None):
    """Vectorized ``F.xxhash64(col)`` over an Arrow (Chunked)Array of
    strings (``utf8``/``large_utf8``) or signed integers, returned as
    SIGNED int64 like the JVM column. ``seeds`` (int64 per row)
    chains a hash, as Spark does across arguments:
    ``xxhash64_arrow(b, seeds=xxhash64_arrow(a))`` is
    ``xxhash64(a, b)``. Any other column type raises ``TypeError``."""
    import numpy as np
    import pyarrow as pa

    n = len(col)
    if seeds is None:
        seeds = np.full(n, SPARK_XXHASH_SEED, np.int64)
    seeds = np.asarray(seeds, np.int64).view(np.uint64)
    chunks = col.chunks if isinstance(col, pa.ChunkedArray) else [col]
    if not chunks:
        chunks = [pa.array([], col.type)]
    out = np.empty(n, np.uint64)
    at = 0
    with np.errstate(over="ignore"):
        for c in chunks:
            out[at : at + len(c)] = _v_hash_chunk(c, seeds[at : at + len(c)])
            at += len(c)
    return out.view(np.int64)


def bucket_of_arrow(col, num_buckets: int):
    """Vectorized twin of :func:`bucket_of` and
    ``sinks.snapshot_table.bucket_expr``: ``pmod(xxhash64(col), B)``
    per row as int32 (numpy ``%`` on a positive modulus IS pmod). A
    null key hashes to the seed, as in Spark."""
    import numpy as np

    return (xxhash64_arrow(col) % num_buckets).astype(np.int32)
