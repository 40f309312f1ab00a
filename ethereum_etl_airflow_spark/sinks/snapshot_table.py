"""Snapshot-versioned, hash-bucketed, merge-on-read table — an
Iceberg-lite sink with LSM-style delta files + threshold compaction.

The north rule targets Iceberg; the sandbox image has no Iceberg jar,
so this module provides the same contract behind a seam (SURVEY §7.3):

  * atomic snapshot commits (write files -> write manifest -> atomic
    pointer rename), the analogue of the reference's temp-table +
    WRITE_TRUNCATE publish (build_load_dag.py:174-182) and of an
    Iceberg snapshot commit;
  * per-bucket file manifests: the table is hash-bucketed by
    ``pmod(xxhash64(doc_id), num_buckets)`` (reference:
    ``MOD(ABS(FARM_FINGERPRINT(key)), 3999)``, build_partition_dag.py:119);
    ``bucket_files[b]`` lists every data file holding rows of bucket b;
  * **merge-on-read writes, LSM levels**: a change batch is gathered
    to the driver as Arrow (one Spark job, no shuffle) and lands as a
    few level-0 (L0) sorted runs written by pyarrow — one parquet file
    per ``_bucket % P`` class (P = one run per 32k rows, at most one
    per driver core), each spanning many buckets, sorted by
    ``(_bucket, doc_id)`` and storing ``_bucket`` as a column (write
    cost = O(batch), independent of table size and of the bucket
    count; the driver holds one batch). An L0 file is
    listed under every bucket it holds. Readers fold all files of a
    bucket with one hash aggregation (``max_by(row, (_seq, _epoch))``
    = last-writer-wins). When a bucket accumulates ``compact_files``
    files, it is compacted back to a single level-1 (L1) file of its
    own by a separate ``compact`` commit, whose Spark job groups the
    rows by bucket and writes each group with the same pyarrow writer
    in a Python task (amortized O(log) rewrites — the Hudi-MOR / Paimon
    pattern, and Iceberg's ``rewrite_data_files`` snapshot). The
    physical file need not follow the logical bucket (Jigsaw's point):
    a file's rows count only for the buckets whose list still names it
    (``file_buckets`` records the bucket set of every multi-bucket
    file, so a scan filters the rows of buckets that were compacted,
    rewritten or rewound away since);
  * exactly-once epoch fencing: the manifest carries
    ``last_epoch:<app_id>`` exactly like Iceberg snapshot-property
    fencing (``snapshot.summary['epoch']``; reference analogue:
    parse_state_manager.py:88-116 optimistic lock + _last_ds monotone
    check);
  * schema evolution: the manifest stores the current schema; commits
    may add nullable columns / widen int->long, and every scan reads
    old files through the current schema (parquet reader fills missing
    columns with null and widens int32->int64 natively).

Swap-in path for real Iceberg: replace ``commit`` internals with
``MERGE INTO`` + snapshot properties; the public API is unchanged.

The bucket value is a pure function of doc_id (or, for a value-bucketed
index table, of the value), so it is recomputed on read when needed;
only the visibility filter of a multi-bucket file reads the stored
``_bucket`` column, which every such file carries. Per-bucket files
written by older versions do not carry it and need no filter: such a
file is simply a file whose bucket set has one entry, so tables
written before L0 runs read as-is.

Scale note on the read-side fold: with Iceberg bucket-partitioning +
storage-partitioned aggregation the fold shuffle disappears entirely;
here the fold is a hash aggregation whose partial (map-side) combine
already collapses each file's rows before the exchange.
"""

from __future__ import annotations

import copy
import json
import os
import re
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ethereum_etl_airflow_spark.config import NUM_BUCKETS

VERSION_FILE = "VERSION"
LOCK_FILE = "COMMIT_LOCK"


class CommitConflictError(RuntimeError):
    """Another writer committed since this commit's base snapshot was
    read (the Iceberg optimistic-concurrency failure; reference
    analogue: parse_state_manager.py:88-116 version lock). Re-read the
    table and retry the merge."""

#: bookkeeping columns stored alongside the payload in data files
INTERNAL_COLS = ("_seq", "_epoch", "_tombstone")


def bucket_expr(doc_id_col, num_buckets: int):
    """Salted hash bucket: pmod(xxhash64(key), B) — Spark's stable 64-bit
    hash standing in for BigQuery FARM_FINGERPRINT (SURVEY §2.2 P10)."""
    return F.pmod(F.xxhash64(doc_id_col), F.lit(num_buckets)).cast("int")


def _distinct_files(bucket_files: dict[str, list[str]]) -> list[str]:
    """Every file a ``{bucket: [files]}`` map names, each once, in
    first-listed order (an L0 file is listed under many buckets)."""
    return list(dict.fromkeys(f for fs in bucket_files.values() for f in fs))


def _outside(rng: list | None, lo, hi) -> bool:
    """True when a recorded [min, max, ...] range provably misses
    ``[lo, hi]`` (None bounds are open; no range = never skipped)."""
    return rng is not None and (
        (hi is not None and rng[0] > hi) or (lo is not None and rng[1] < lo)
    )


def fold_lww(df: DataFrame) -> DataFrame:
    """Collapse multi-file rows to one row per doc_id: the row with the
    highest (_seq, _epoch) wins — whole-row last-writer-wins. ONE hash
    aggregation (partial/final automatic), not a row_number window: a
    hot doc_id collapses map-side before the shuffle (skew defense)."""
    if "_seq" not in df.columns:  # empty-table placeholder (no schema yet)
        return df
    cols = [c for c in df.columns if c != "doc_id"]
    winner = F.max_by(F.struct(*cols), F.struct(F.col("_seq"), F.col("_epoch")))
    return (
        df.groupBy("doc_id")
        .agg(winner.alias("_w"))
        .select("doc_id", *[F.col(f"_w.{c}").alias(c) for c in cols])
    )


def _driver_cores() -> int:
    """CPUs this process may run on (pure-delta runs are written here)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _write_parquet(table, path: str, codec: str):
    """Write one data file with pyarrow — every file of the table goes
    through here, on the driver or in a Spark task. Returns the
    writer's own footer metadata (no file is reopened), None when the
    writer hands back none."""
    import pyarrow.parquet as pq

    footers: list = []
    pq.write_table(table, path, compression=codec, metadata_collector=footers)
    return footers[0] if footers else None


#: salts of the 3 Bloom probes of a key
_BLOOM_SEEDS = (1, 2, 3)


def _bloom_words(buckets, doc_ids, bits: int) -> dict[str, list[int]]:
    """Per-bucket Bloom words of an Arrow key column: bit p % 64 of
    signed 64-bit word p // 64 is set for each probe position
    ``p = pmod(xxhash64(doc_id, lit(s)), bits)`` that
    :meth:`SnapshotTable.plan_lookup` checks, hashed with the numpy
    XXH64 (each seed a 4-byte int hashed with the key's hash as its
    seed, as Spark chains them)."""
    import numpy as np
    import pyarrow as pa

    from ethereum_etl_airflow_spark.functions.hashing import xxhash64_arrow

    h = xxhash64_arrow(doc_ids)
    held, row = np.unique(buckets, return_inverse=True)
    bitmap = np.zeros((len(held), bits), dtype=bool)
    for s in _BLOOM_SEEDS:
        bitmap[row, xxhash64_arrow(pa.array(np.full(len(h), s, np.int32)), seeds=h) % bits] = True
    words = np.packbits(bitmap, axis=1, bitorder="little").view("<i8")
    return {str(b): w.tolist() for b, w in zip(held, words)}


class SnapshotTable:
    """A keyed, snapshot-versioned, merge-on-read table on a
    Hadoop-compatible FS."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        num_buckets: int = NUM_BUCKETS,
        compact_files: int = 8,
        bloom_bits: int = 0,
        stats_cols: list[str] | None = None,
    ):
        """``bloom_bits`` > 0 (a multiple of 64, e.g. 4096) maintains a
        PER-FILE Bloom filter in the manifest (3 xxhash64 probes per
        key): point lookups skip every data file whose bloom cannot
        contain the key (the Iceberg puffin-blob / DataFile bloom
        analogue) — a negative skips the whole bucket, a positive reads
        only the delta files that may hold the key. Files written
        before blooms were enabled (or under a different bloom_bits)
        simply have no bloom entry and are always scanned, so coverage
        is correct by construction — enabling blooms on a table with
        existing data never hides pre-existing keys. The probes are
        hashed where the rows are written (on the driver for a delta,
        in each bucket's task for a rewrite), with no extra Spark job.

        ``stats_cols`` lists payload columns whose per-file [min, max]
        is recorded in the manifest from the parquet footers at commit
        time (the Iceberg DataFile lower_bounds/upper_bounds analogue,
        zero extra Spark work): :meth:`read_where` then plans the file
        set on the driver and skips every file whose range cannot
        match. Files committed before stats were enabled simply have
        no entry and are always scanned — never a false skip."""
        self.spark = spark
        self.root = root
        self.num_buckets = num_buckets
        self.compact_files = compact_files
        self.bloom_bits = bloom_bits
        self.stats_cols = list(stats_cols or [])
        if bloom_bits % 64:
            raise ValueError("bloom_bits must be a multiple of 64")
        self._meta = os.path.join(root, "_meta")
        self._data = os.path.join(root, "data")
        #: the ref this instance reads from and commits to. "main" is
        #: the legacy VERSION pointer; use with_branch() for others.
        self.branch = "main"
        # an existing table's bucket fan-out is owned by its manifest
        # (it may have been rebucketed since creation) — the constructor
        # argument only seeds brand-new tables
        if self.exists():
            manifest_buckets = self.snapshot().get("num_buckets")
            if manifest_buckets:
                self.num_buckets = int(manifest_buckets)

    # ------------------------------------------------------------------ meta

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self._meta, VERSION_FILE))

    def current_version(self) -> int:
        """Head version of THIS instance's ref (``self.branch``)."""
        return self.ref_version(self.branch)

    def snapshot(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v < 0:
            return {
                "version": -1,
                "schema": None,
                "num_buckets": self.num_buckets,
                "bucket_files": {},
                "properties": {},
                "lineage": None,
            }
        with open(os.path.join(self._meta, f"snapshot-{v:012d}.json")) as f:
            return json.load(f)

    def schema(self) -> T.StructType | None:
        snap = self.snapshot()
        return T.StructType.fromJson(snap["schema"]) if snap["schema"] else None

    # ------------------------------------------------------ metadata tables
    # Queryable metadata DataFrames — the Iceberg ``table.snapshots`` /
    # ``table.files`` / ``table.refs`` inspection surface (reference
    # analogue: the load_metadata audit table, build_load_dag.py:
    # 236-268). All driver-side manifest reads (bounded by snapshot
    # count / file count), no data-file scan.

    def meta_snapshots(self) -> DataFrame:
        """One row per retained snapshot: version lineage + commit stats."""
        rows = []
        for e in sorted(os.listdir(self._meta)):
            if not (e.startswith("snapshot-") and e.endswith(".json")):
                continue
            with open(os.path.join(self._meta, e)) as f:
                s = json.load(f)
            rows.append(
                (
                    int(s["version"]),
                    int(s["parent_version"]),
                    float(s.get("committed_at") or 0.0),
                    int(s.get("num_buckets") or 0),
                    len(_distinct_files(s["bucket_files"])),
                    len(s.get("commit_buckets") or []),
                    str((s.get("lineage") or {}).get("op") or ""),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version long, parent_version long, committed_at double, "
            "num_buckets int, total_files long, commit_buckets int, op string",
        )

    def meta_files(self, version: int | None = None) -> DataFrame:
        """One row per live data file of a snapshot (the buckets whose
        list names it, path, and the per-file _seq skip range when
        tracked)."""
        snap = self.snapshot(version)
        seq_ranges = snap.get("file_seq_ranges") or {}
        listed: dict[str, list[int]] = {}
        for b, fs in snap["bucket_files"].items():
            for f in fs:
                listed.setdefault(f, []).append(int(b))
        rows = []
        for f, bs in listed.items():
            rng = seq_ranges.get(f)
            rows.append(
                (
                    sorted(bs),
                    f,
                    int(rng[0]) if rng else None,
                    int(rng[1]) if rng else None,
                )
            )
        return self.spark.createDataFrame(
            rows, "buckets array<int>, path string, min_seq long, max_seq long"
        )

    def meta_refs(self) -> DataFrame:
        """One row per named ref (main + branches + tags)."""
        rows = [
            (name, r["kind"], int(r["version"]))
            for name, r in sorted(self.refs().items())
        ]
        return self.spark.createDataFrame(rows, "name string, kind string, version long")

    def file_counts(self) -> dict[int, int]:
        return {int(b): len(fs) for b, fs in self.snapshot()["bucket_files"].items()}

    def last_epoch(self, app_id: str) -> int:
        return int(self.snapshot()["properties"].get(f"last_epoch:{app_id}", -1))

    # ------------------------------------------------------ refs (WAP)
    # Named refs over the snapshot log — Iceberg branches and tags.
    # "main" is the legacy VERSION pointer; a branch is a mutable
    # pointer commits can advance; a tag is immutable. Together they
    # give the write-audit-publish flow the reference approximates with
    # its verify-then-publish DAG chain (build_verify_streaming_dag.py
    # gating the public views): stage commits on an audit branch, run
    # the verify suite against the branch head, then fast_forward main
    # — readers of main never observe unaudited data, and the staged
    # commits (with their epoch-fencing properties) publish atomically
    # by pointer swap, so exactly-once survives the promotion.

    _REF_NAME_RE = re.compile(r"^[A-Za-z0-9._\-]{1,64}$")

    def _ref_path(self, name: str, kind: str) -> str:
        return os.path.join(self._meta, f"{kind}-{name}.txt")

    def ref_version(self, name: str = "main") -> int:
        """Head version of a ref. main -> -1 when the table is empty;
        unknown branch/tag names raise ValueError."""
        if name == "main":
            try:
                with open(os.path.join(self._meta, VERSION_FILE)) as f:
                    return int(f.read().strip())
            except FileNotFoundError:
                return -1
        for kind in ("branch", "tag"):
            try:
                with open(self._ref_path(name, kind)) as f:
                    return int(f.read().strip())
            except FileNotFoundError:
                continue
        raise ValueError(f"unknown ref {name!r}")

    def refs(self) -> dict[str, dict]:
        """All named refs: ``{name: {"kind": ..., "version": ...}}``."""
        out = {"main": {"kind": "branch", "version": self.ref_version("main")}}
        try:
            entries = os.listdir(self._meta)
        except FileNotFoundError:
            return out
        for e in entries:
            for kind in ("branch", "tag"):
                if e.startswith(f"{kind}-") and e.endswith(".txt"):
                    name = e[len(kind) + 1 : -4]
                    out[name] = {"kind": kind, "version": self.ref_version(name)}
        return out

    def with_branch(self, name: str) -> "SnapshotTable":
        """A view of this table whose reads AND commits target the given
        branch (the Iceberg ``spark.wap.branch`` analogue): pass the
        returned instance anywhere a SnapshotTable goes — apply_changes,
        compact, verify — and main is untouched until fast_forward."""
        if name != "main" and not os.path.exists(self._ref_path(name, "branch")):
            raise ValueError(f"unknown branch {name!r} — create_branch first")
        t = copy.copy(self)
        t.branch = name
        mb = t.snapshot().get("num_buckets")
        if mb:
            t.num_buckets = int(mb)
        return t

    def _write_pointer(self, name: str, version: int) -> None:
        """Atomic ref-pointer swap (tmp write + rename)."""
        path = (
            os.path.join(self._meta, VERSION_FILE)
            if name == "main"
            else self._ref_path(name, "branch")
        )
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, path)

    def _create_ref(self, name: str, kind: str, version: int | None) -> int:
        if name == "main" or not self._REF_NAME_RE.match(name):
            raise ValueError(f"invalid ref name {name!r}")
        v = self.current_version() if version is None else int(version)
        if v < 0:
            # a BRANCH may be born at the empty state (-1) so WAP can
            # gate a table from its very first commit; a tag of nothing
            # is meaningless
            if kind == "tag" or v < -1:
                raise ValueError("cannot create a tag on an empty table")
        elif not os.path.exists(os.path.join(self._meta, f"snapshot-{v:012d}.json")):
            raise ValueError(f"no snapshot v{v} to point the ref at")
        os.makedirs(self._meta, exist_ok=True)
        # O_EXCL: creating an existing ref is an error, atomically so
        try:
            fd = os.open(
                self._ref_path(name, kind), os.O_CREAT | os.O_EXCL | os.O_WRONLY
            )
        except FileExistsError:
            raise ValueError(f"{kind} {name!r} already exists") from None
        try:
            os.write(fd, str(v).encode())
        finally:
            os.close(fd)
        return v

    def create_branch(self, name: str, from_version: int | None = None) -> int:
        """New mutable branch at ``from_version`` (default: main head)."""
        if os.path.exists(self._ref_path(name, "tag")):
            raise ValueError(f"ref {name!r} already exists as a tag")
        return self._create_ref(name, "branch", from_version)

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Immutable named snapshot pointer (audit/retention anchor)."""
        if os.path.exists(self._ref_path(name, "branch")):
            raise ValueError(f"ref {name!r} already exists as a branch")
        return self._create_ref(name, "tag", version)

    def drop_branch(self, name: str) -> None:
        try:
            os.unlink(self._ref_path(name, "branch"))
        except FileNotFoundError:
            raise ValueError(f"unknown branch {name!r}") from None

    def drop_tag(self, name: str) -> None:
        try:
            os.unlink(self._ref_path(name, "tag"))
        except FileNotFoundError:
            raise ValueError(f"unknown tag {name!r}") from None

    def fast_forward(self, branch: str, from_ref: str) -> int:
        """Advance ``branch`` to ``from_ref``'s head — the WAP publish.
        Only fast-forwards are allowed: the branch head must be an
        ancestor of the source head (walked over ``parent_version``),
        otherwise the branch saw commits the source never audited and
        the promotion raises CommitConflictError (divergence — rebase
        by re-staging, exactly like a lost Iceberg CAS)."""
        if branch != "main" and not os.path.exists(self._ref_path(branch, "branch")):
            raise ValueError(f"unknown branch {branch!r}")
        if os.path.exists(self._ref_path(branch, "tag")):
            raise ValueError("cannot fast-forward a tag")
        os.makedirs(self._meta, exist_ok=True)
        lock_fd = self._acquire_lock(os.path.join(self._meta, LOCK_FILE))
        try:
            src = self.ref_version(from_ref)
            dst = self.ref_version(branch)
            v = src
            # versions are allocated globally monotone, so every parent
            # chain is strictly decreasing — walk src's ancestry down to
            # dst's height and require exact hit
            while v > dst:
                v = int(self.snapshot(v)["parent_version"])
            if v != dst:
                raise CommitConflictError(
                    f"{branch} (v{dst}) is not an ancestor of "
                    f"{from_ref} (v{src}) — diverged; re-stage and retry"
                )
            if src != dst:
                self._write_pointer(branch, src)
            return src
        finally:
            os.close(lock_fd)
            os.unlink(os.path.join(self._meta, LOCK_FILE))

    #: a lock older than this with a dead (or unknown) holder is broken
    LOCK_TTL_SEC = 300.0

    def _acquire_lock(self, lock_path: str) -> int:
        """O_CREAT|O_EXCL lock stamped with the holder's pid+timestamp.
        A writer killed between lock creation and the finally-unlink
        would otherwise wedge the table forever; here a contender breaks
        the lock when its holder process is dead, or when the lock is
        older than LOCK_TTL_SEC and the holder is unverifiable (another
        host). Live-holder contention still raises CommitConflictError
        (OCC retry semantics, matching an Iceberg CAS commit loser)."""
        for attempt in range(2):
            try:
                fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(
                    fd,
                    json.dumps({"pid": os.getpid(), "ts": time.time()}).encode(),
                )
                return fd
            except FileExistsError as e:
                if attempt == 0 and self._break_stale_lock(lock_path):
                    continue
                raise CommitConflictError(
                    f"commit lock held by another writer ({lock_path})"
                ) from e
        raise CommitConflictError(f"commit lock held by another writer ({lock_path})")

    def _break_stale_lock(self, lock_path: str) -> bool:
        """Return True if the lock was stale and has been removed."""
        pid, ts = -1, None
        try:
            with open(lock_path) as f:
                info = json.load(f)
            pid, ts = int(info.get("pid", -1)), float(info.get("ts", 0.0))
        except (OSError, ValueError):
            try:
                ts = os.path.getmtime(lock_path)
            except OSError:
                return True  # holder released it while we looked
        holder_dead = False
        if pid > 0:
            try:
                os.kill(pid, 0)  # signal 0: existence probe only
            except ProcessLookupError:
                holder_dead = True
            except PermissionError:
                pass  # exists, owned by someone else
        expired = ts is not None and (time.time() - ts) > self.LOCK_TTL_SEC
        if holder_dead or expired:
            try:
                os.unlink(lock_path)
            except FileNotFoundError:
                pass
            return True
        return False

    def _next_version(self) -> int:
        """Version numbers are allocated globally monotone across ALL
        refs (snapshot files share one namespace), so branch commits
        never collide with main's and every parent chain is strictly
        decreasing — the invariant fast_forward's ancestry walk uses."""
        try:
            entries = os.listdir(self._meta)
        except FileNotFoundError:
            return 0
        vs = [
            int(e.split("-")[1].split(".")[0])
            for e in entries
            if e.startswith("snapshot-") and e.endswith(".json")
        ]
        return max(vs, default=-1) + 1

    def _publish(self, snap: dict) -> None:
        """Manifest write + atomic pointer swap (the WRITE_TRUNCATE copy
        publish of build_load_dag.py:174-182, made atomic via rename),
        under optimistic concurrency control: the version pointer must
        still equal the commit's base version at publish time, checked
        inside an exclusive lock — concurrent committers get
        CommitConflictError and must re-read + retry (Iceberg CAS
        commit semantics)."""
        if self.branch != "main" and os.path.exists(
            self._ref_path(self.branch, "tag")
        ):
            raise ValueError("cannot commit to a tag")
        os.makedirs(self._meta, exist_ok=True)
        v = snap["version"]
        lock_path = os.path.join(self._meta, LOCK_FILE)
        lock_fd = self._acquire_lock(lock_path)
        try:
            if self.current_version() != snap["parent_version"]:
                raise CommitConflictError(
                    f"table advanced to v{self.current_version()} since this "
                    f"commit's base v{snap['parent_version']} — re-read and retry"
                )
            path = os.path.join(self._meta, f"snapshot-{v:012d}.json")
            tmp = path + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                # json.dumps runs the C encoder; json.dump(obj, f) the
                # pure-Python one (2.74 -> 0.84 ms on a 101 KB manifest,
                # same bytes), and this runs inside the commit lock
                f.write(json.dumps(snap))
            os.replace(tmp, path)
            self._write_pointer(self.branch, v)
        finally:
            os.close(lock_fd)
            os.unlink(lock_path)

    # ------------------------------------------------------------------ read

    @staticmethod
    def _manifest_rels(snap: dict, buckets: list[int] | None) -> list[str]:
        """File paths EXACTLY as the manifest records them (relative for
        locally-written files, absolute for clone references). Scan and
        layer-scope matching must use this canonical form — joining to
        the root and relpath-ing back mangles a clone's absolute entries
        into '../..' forms that no layer scope contains. Each file
        appears once, however many of the buckets list it."""
        if buckets is None:
            return _distinct_files(snap["bucket_files"])
        return _distinct_files(
            {str(b): snap["bucket_files"].get(str(b), []) for b in buckets}
        )

    def read_files(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Unfolded scan of a snapshot's data files (optionally pruned to
        a bucket list) through that snapshot's schema — old files gain
        null columns / widened ints transparently. ``version`` time
        travel reads any retained snapshot (Iceberg VERSION AS OF; the
        retention window is expire_snapshots' keep_last). One doc_id may
        appear in several delta files; use :meth:`read_raw` for the
        folded single-row-per-key view.

        ``columns`` (payload names) narrows the projection BEFORE the
        LWW fold, so Catalyst prunes the parquet ReadSchema to
        key + bookkeeping + the requested columns — on a wide table the
        scan bytes drop proportionally (the Iceberg column-projection
        analogue). Key and internals are always included: the fold
        needs them for correctness."""
        snap = self.snapshot(version)
        schema = T.StructType.fromJson(snap["schema"]) if snap["schema"] else None
        rels = self._manifest_rels(snap, buckets)
        if schema is None or not rels:
            empty_schema = schema or T.StructType([T.StructField("doc_id", T.StringType())])
            return self.spark.createDataFrame([], empty_schema)
        df = self._scan_rels(snap, rels, buckets)
        if columns is not None:
            need = ["doc_id", *INTERNAL_COLS]
            sel = need + [c for c in columns if c not in need]
            df = df.select(*[c for c in sel if c in df.columns])
        return df

    @staticmethod
    def _renamed_forward(snap: dict, col: str) -> str:
        """CURRENT name of a column recorded under a historical name:
        follow the live rename-layer chain in commit order (a live
        layer with old == col can only postdate the recording — name
        reuse is blocked while the layer lives)."""
        for r in snap.get("rename_layers") or []:
            if r["old"] == col:
                col = r["new"]
        return col

    def _scan_rels(
        self, snap: dict, rels: list[str], buckets: list[int] | None = None
    ) -> DataFrame:
        """Scan data files (each at most once) through the snapshot's
        CURRENT schema, for ``buckets`` (None = every bucket).

        Visibility: a file's rows count only for the buckets whose list
        still names it. A multi-bucket (L0) file that a compaction,
        rewrite or rewind has since dropped from some of its buckets —
        or that is read for a subset of its buckets — is filtered on
        its stored ``_bucket`` column (``isin(visible buckets)``; every
        multi-bucket file carries it, and it is the bucket the writer
        chose even for tables not bucketed by doc_id, such as a value-
        bucketed secondary index), so rows the rewrite replaced (expired
        tombstones, physically deleted rows) never resurface. Files
        listed under every bucket they hold scan unfiltered.

        Renames: files written before a metadata-only column rename
        (:meth:`rename_column`) are translated — each rename layer
        scopes the files that carry the old name, so a scoped file is
        read through a schema with the old name substituted back, then
        the column is renamed forward.

        Files sharing the same rename signature and bucket filter scan
        together — one read per group, not per file."""
        schema = T.StructType.fromJson(snap["schema"])
        layers = snap.get("rename_layers") or []
        scoped = [
            (i, {f for fs in lay["files"].values() for f in fs})
            for i, lay in enumerate(layers)
        ]
        held = snap.get("file_buckets") or {}
        want = None if buckets is None else {str(b) for b in buckets}
        visible: dict[str, set[int]] = {}
        if held:
            for b, fs in snap["bucket_files"].items():
                if want is None or b in want:
                    for f in fs:
                        if f in held:
                            visible.setdefault(f, set()).add(int(b))
        groups: dict[tuple, list[str]] = {}
        for rel in dict.fromkeys(rels):
            sig = frozenset(i for i, files in scoped if rel in files)
            keep = None
            if rel in held:
                vis = visible.get(rel, set())
                if vis != set(held[rel]):
                    keep = tuple(sorted(vis))
            groups.setdefault((sig, keep), []).append(rel)
        parts: list[DataFrame] = []
        for (sig, keep), group in groups.items():
            read_schema = schema
            if keep is not None:
                read_schema = T.StructType(
                    [*schema.fields, T.StructField("_bucket", T.LongType())]
                )
            # walk renames newest-first to recover the names the files
            # were written under (a column renamed twice unwinds fully)
            for i in sorted(sig, reverse=True):
                lay = layers[i]
                read_schema = T.StructType(
                    [
                        T.StructField(
                            lay["old"] if f.name == lay["new"] else f.name,
                            f.dataType,
                            f.nullable,
                        )
                        for f in read_schema.fields
                    ]
                )
            df = self.spark.read.schema(read_schema).parquet(
                *[os.path.join(self.root, r) for r in group]
            )
            for i in sorted(sig):  # replay forward
                df = df.withColumnRenamed(layers[i]["old"], layers[i]["new"])
            if keep is not None:
                df = df.where(F.col("_bucket").isin(list(keep)))
            parts.append(df.select(*[f.name for f in schema.fields]))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read_raw(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Folded scan: one row per doc_id (highest (_seq, _epoch) wins).
        Includes tombstone rows (deleted keys retained with their seq so
        late stale events cannot resurrect them — Kafka-compaction-style).

        Honors pending merge-on-read delete layers
        (:meth:`delete_where_lazy`): scoped files fold first, matching
        current rows convert to tombstones at their own (_seq, _epoch),
        then later files fold on top — so feed events newer than the
        delete win, stale ones don't resurrect."""
        snap = self.snapshot(version)
        layers = self._live_delete_layers(snap, buckets)
        if not layers:
            return fold_lww(self.read_files(buckets, version, columns))
        return self._fold_with_delete_layers(snap, buckets, columns, layers)

    @staticmethod
    def _live_delete_layers(snap: dict, buckets: list[int] | None) -> list[dict]:
        """Pending delete layers whose file scope touches the requested
        buckets, in commit (= application) order."""
        layers = snap.get("delete_layers") or []
        if not layers:
            return []
        if buckets is None:
            return list(layers)
        req = {str(b) for b in buckets}
        return [lay for lay in layers if any(b in req for b in lay["files"])]

    def _mask_deleted(
        self,
        df: DataFrame,
        lay: dict,
        scope_buckets: list[int] | None,
        nb: int,
    ) -> DataFrame:
        """Convert live rows matching the layer (restricted to
        ``scope_buckets`` when given) into tombstones at their existing
        (_seq, _epoch), payload nulled — the folded form of an Iceberg
        delete file. Predicate layers (``col``/``lo``/``hi``) never
        match null values (feed tombstones carry null payloads);
        equality layers (``key_file``) match on doc_id membership in a
        parquet-backed key set (broadcast-joined, never collected)."""
        if lay.get("key_file") is not None:
            keys = (
                self.spark.read.parquet(os.path.join(self.root, lay["key_file"]))
                .select(F.col("doc_id").alias("__delkey"))
                .distinct()
            )
            df = df.join(
                F.broadcast(keys),
                df["doc_id"] == keys["__delkey"],
                "left_outer",
            )
            cond = F.col("__delkey").isNotNull()
        else:
            col, lo, hi = lay["col"], lay.get("lo"), lay.get("hi")
            # null predicate values never match, even for an unbounded
            # layer — feed tombstones carry null payloads and must not
            # be re-masked at a new epoch
            cond = F.col(col).isNotNull()
            if lo is not None:
                cond = cond & (F.col(col) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(col) <= F.lit(hi))
        live = ~F.coalesce(F.col("_tombstone"), F.lit(False))
        match = live & F.coalesce(cond, F.lit(False))
        if scope_buckets is not None:
            match = match & bucket_expr(F.col("doc_id"), nb).isin(
                [int(b) for b in scope_buckets]
            )
        out = df.withColumn("_del", match)
        for f in df.schema.fields:
            if f.name in ("doc_id", "__delkey", *INTERNAL_COLS):
                continue
            out = out.withColumn(
                f.name,
                F.when(F.col("_del"), F.lit(None).cast(f.dataType)).otherwise(
                    F.col(f.name)
                ),
            )
        return (
            out.withColumn(
                "_tombstone",
                F.coalesce(F.col("_tombstone"), F.lit(False)) | F.col("_del"),
            )
            .drop("_del")
            .drop("__delkey")
        )

    def _fold_with_delete_layers(
        self,
        snap: dict,
        buckets: list[int] | None,
        columns: list[str] | None,
        layers: list[dict],
    ) -> DataFrame:
        """Layered LWW fold (the merge-on-read read path with pending
        delete files): each layer's scoped files fold and mask in commit
        order, files committed after a layer fold on top of the masked
        state. Cost is one extra hash agg per pending layer — compaction
        (:meth:`compact`) materializes the masks and clears the layers."""
        schema = T.StructType.fromJson(snap["schema"])
        nb = int(snap.get("num_buckets") or 1)
        req = (
            {str(b) for b in buckets}
            if buckets is not None
            else set(snap["bucket_files"])
        )
        # a projection must retain each predicate column under its
        # CURRENT (rename-chained) name — _scan_rels renames forward,
        # so the delete-time name may no longer exist in the frame
        pred_cols = [
            self._renamed_forward(snap, lay["col"])
            for lay in layers
            if lay.get("col")
        ]

        req_buckets = sorted(int(b) for b in req)

        def scan(rels: list[str]) -> DataFrame | None:
            if not rels:
                return None
            df = self._scan_rels(snap, rels, req_buckets)
            if columns is not None:
                need = ["doc_id", *INTERNAL_COLS, *pred_cols]
                sel = need + [c for c in columns if c not in need]
                seen: set[str] = set()
                keep = [
                    c
                    for c in sel
                    if c in df.columns and not (c in seen or seen.add(c))
                ]
                df = df.select(*keep)
            return df

        cur: DataFrame | None = None
        done: set[str] = set()
        for lay in layers:
            rels = [
                f
                for b, fs in lay["files"].items()
                if b in req
                for f in fs
                if f not in done
            ]
            done.update(rels)
            part = scan(rels)
            if part is None and cur is None:
                continue
            merged = (
                part
                if cur is None
                else (cur if part is None else cur.unionByName(part))
            )
            # a rename committed AFTER this delete layer changed the
            # predicate column's current name — follow the chain (a
            # live rename layer with old == this col can only postdate
            # the delete: name reuse is blocked while the layer lives)
            eff = dict(lay)
            if eff.get("col"):
                eff["col"] = self._renamed_forward(snap, eff["col"])
            cur = self._mask_deleted(
                fold_lww(merged),
                eff,
                sorted(int(b) for b in lay["files"] if b in req),
                nb,
            )
        rest = [
            f
            for b in sorted(req, key=int)
            for f in snap["bucket_files"].get(b, [])
            if f not in done
        ]
        tail = scan(rest)
        if cur is None:
            out = fold_lww(tail) if tail is not None else self.spark.createDataFrame([], schema)
        elif tail is None:
            out = cur
        else:
            out = fold_lww(cur.unionByName(tail))
        if columns is not None:
            keep = ["doc_id", *INTERNAL_COLS] + [
                c
                for c in columns
                if c not in ("doc_id", *INTERNAL_COLS)
            ]
            out = out.select(*[c for c in keep if c in out.columns])
        return out

    def read(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Consumer-facing scan: folded, tombstones filtered out. With
        ``columns``, only key + the requested payload columns come back
        (and only they are read off disk — projection is pushed below
        the fold into the parquet scan)."""
        df = self.read_raw(buckets, version, columns)
        if "_tombstone" in df.columns:
            df = df.where(~F.coalesce(F.col("_tombstone"), F.lit(False)))
        if columns is not None:
            keep = ["doc_id"] + [c for c in columns if c != "doc_id"]
            df = df.select(*[c for c in keep if c in df.columns])
        return df

    @classmethod
    def plan_lookup(cls, snap: dict, doc_ids: list[str]) -> list[str]:
        """Driver-side lookup planning — NO Spark job. Returns the
        relative data-file paths that may contain any of the keys:

        * bucket pruning: each key hashes to exactly one bucket
          (driver-side XXH64, bit-identical to the write path's
          ``bucket_expr`` — parity asserted in test_hashing_parity);
        * per-file Bloom pruning: a file whose bloom entry lacks any of
          a key's 3 probe bits cannot contain that key; files WITHOUT a
          bloom entry (written before blooms were enabled, or under a
          different bloom_bits) are always kept — enabling blooms on a
          table with history never produces a false absent. Entries are
          keyed by bucket within a file (``{bucket: words}``), so a
          multi-bucket L0 file is probed only with the words of the
          key's own bucket; legacy entries are a bare word list.

        Each file is returned at most once."""
        from ethereum_etl_airflow_spark.functions.hashing import (
            bucket_of,
            spark_xxhash64,
        )

        nb = int(snap.get("num_buckets") or 1)
        bits = int(snap.get("bloom_bits") or 0)
        blooms = snap.get("file_blooms") or {}
        files: list[str] = []
        seen: set[str] = set()
        for b in sorted({bucket_of(d, nb) for d in doc_ids}):
            keys_here = [d for d in doc_ids if bucket_of(d, nb) == b]
            for rel in snap["bucket_files"].get(str(b), []):
                if rel in seen:
                    continue
                words = blooms.get(rel)
                if isinstance(words, dict):
                    # a multi-bucket file keeps one bloom per bucket;
                    # a bucket without one stays always-scanned
                    words = words.get(str(b))
                if words is not None and bits:
                    may_contain = any(
                        all(
                            words[p // 64] & (1 << (p % 64))
                            for p in (
                                spark_xxhash64(d, s) % bits for s in _BLOOM_SEEDS
                            )
                        )
                        for d in keys_here
                    )
                    if not may_contain:
                        continue
                seen.add(rel)
                files.append(rel)
        return files

    @staticmethod
    def _seq_range_from_footer(md) -> list[int] | None:
        """[min,max] of the ``_seq`` column across a file's row groups,
        from footer statistics only — None when the column is absent or
        any row group lacks exact stats (the file then stays
        always-scanned; a partial bound could cause a false skip)."""
        r = SnapshotTable._col_range_from_footer(md, "_seq")
        return None if r is None else [int(r[0]), int(r[1])]

    @staticmethod
    def _col_range_from_footer(md, name: str) -> list | None:
        """[min, max, null_count] of column ``name`` across a file's row
        groups from footer statistics only — None when the column is
        absent, any row group lacks exact stats, or the values aren't
        JSON-storable scalars (int/float/str). The file then stays
        always-scanned — a partial bound could cause a false skip.

        ``null_count`` (None when any row group doesn't record it)
        matters because parquet min/max IGNORE nulls: a file whose
        range lies fully inside a delete predicate can still hold
        null-valued rows the predicate does NOT match (e.g. feed
        tombstones carry null payloads) — :meth:`delete_where`'s
        metadata-only drop requires null_count == 0."""
        lo = hi = None
        nulls: int | None = 0
        for ri in range(md.num_row_groups):
            rg = md.row_group(ri)
            found = False
            for ci in range(rg.num_columns):
                col = rg.column(ci)
                if col.path_in_schema != name:
                    continue
                found = True
                st = col.statistics
                if st is None or not st.has_min_max:
                    return None
                mn, mx = st.min, st.max
                if isinstance(mn, bytes) or not isinstance(mn, (int, float, str)):
                    return None
                if not st.has_null_count:
                    nulls = None
                elif nulls is not None:
                    nulls += st.null_count
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            if not found:
                return None
        return None if lo is None else [lo, hi, nulls]

    @classmethod
    def plan_seq_range(
        cls, snap: dict, lo: int | None, hi: int | None
    ) -> list[str]:
        """Driver-side replay planning — NO Spark job. Relative paths of
        the data files whose recorded ``_seq`` range overlaps
        ``[lo, hi]`` (None = unbounded side); files without an entry
        (pre-feature commits, missing stats) are always kept — never a
        false skip."""
        ranges = snap.get("file_seq_ranges") or {}
        return [
            rel
            for rel in cls._sorted_files(snap)
            if not _outside(ranges.get(rel), lo, hi)
        ]

    @staticmethod
    def _sorted_files(snap: dict) -> list[str]:
        """Every live file once, in bucket order of first listing."""
        bf = snap["bucket_files"]
        return _distinct_files({b: bf[b] for b in sorted(bf, key=int)})

    def read_seq_range(
        self,
        lo: int | None = None,
        hi: int | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Unfolded replay scan of the rows with ``lo <= _seq <= hi``:
        the file set is planned on the driver from the manifest's
        per-file ``_seq`` ranges (zero Spark jobs), then the exact
        predicate is pushed into the parquet scan. The
        resume-from-offset surface of the CDC table: reading "events
        since seq X" on a 10^5-file table touches only the delta files
        written after X. Fold semantics stay with the caller
        (``fold_lww``), as with :meth:`read_files`."""
        snap = self.snapshot(version)
        schema = T.StructType.fromJson(snap["schema"]) if snap["schema"] else None
        rels = self.plan_seq_range(snap, lo, hi)
        if not rels or schema is None:
            return self.spark.createDataFrame(
                [], schema or T.StructType([T.StructField("doc_id", T.StringType())])
            )
        df = self._scan_rels(snap, rels)
        if "_seq" in df.columns:
            if lo is not None:
                df = df.where(F.col("_seq") >= lo)
            if hi is not None:
                df = df.where(F.col("_seq") <= hi)
        return df

    @classmethod
    def plan_where(cls, snap: dict, col: str, lo=None, hi=None) -> list[str]:
        """Driver-side file planning on a payload column's recorded
        per-file [min, max] — NO Spark job (the Iceberg
        lower_bounds/upper_bounds skip). Files without an entry for
        ``col`` (pre-stats commits, missing footer stats) are always
        kept — never a false skip."""
        stats = snap.get("file_col_stats") or {}
        return [
            rel
            for rel in cls._sorted_files(snap)
            if not _outside((stats.get(rel) or {}).get(col), lo, hi)
        ]

    def read_where(
        self,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Unfolded range scan ``lo <= col <= hi`` over a payload
        column: the file set is planned on the driver from the
        manifest's per-file column stats (zero Spark jobs), then the
        exact predicate is pushed into the parquet scan (row groups
        skip via their own min/max). The time-range / numeric-range
        analogue of :meth:`read_seq_range`; fold semantics stay with
        the caller (``fold_lww``), as with :meth:`read_files`."""
        snap = self.snapshot(version)
        schema = T.StructType.fromJson(snap["schema"]) if snap["schema"] else None
        rels = self.plan_where(snap, col, lo, hi)
        if not rels or schema is None:
            return self.spark.createDataFrame(
                [], schema or T.StructType([T.StructField("doc_id", T.StringType())])
            )
        df = self._scan_rels(snap, rels)
        if col in df.columns:
            if lo is not None:
                df = df.where(F.col(col) >= lo)
            if hi is not None:
                df = df.where(F.col(col) <= hi)
        return df

    def lookup(self, doc_ids: list[str], version: int | None = None) -> DataFrame:
        """Point lookup: prune to the keys' buckets and — with
        ``bloom_bits`` on — to the individual delta files whose Bloom
        entries may contain a key (manifest-level pruning, planned
        entirely on the driver: building the result DataFrame launches
        ZERO Spark jobs). The key predicate is then pushed into the
        parquet scan (row groups skip via min/max stats — files are
        doc_id-sorted within buckets), and only what's left is folded.
        Cost is O(|keys| · matching-files), independent of table size."""
        # the queried snapshot's fan-out + blooms, not the current ones —
        # time travel across a rebucket must prune with the old layout
        snap = self.snapshot(version)
        from ethereum_etl_airflow_spark.functions.hashing import bucket_of

        key_buckets = sorted(
            {bucket_of(d, int(snap.get("num_buckets") or 1)) for d in doc_ids}
        )
        if self._live_delete_layers(snap, key_buckets):
            # pending merge-on-read deletes on these buckets: the mask
            # decision needs the bucket's full folded state, so bloom
            # file-pruning is off until compaction clears the layers
            folded = self.read_raw(key_buckets, version).where(
                F.col("doc_id").isin(doc_ids)
            )
            if "_tombstone" in folded.columns:
                folded = folded.where(
                    ~F.coalesce(F.col("_tombstone"), F.lit(False))
                )
            return folded
        rels = self.plan_lookup(snap, doc_ids)
        schema = T.StructType.fromJson(snap["schema"]) if snap["schema"] else None
        if not rels or schema is None:
            return self.spark.createDataFrame(
                [], schema or T.StructType([T.StructField("doc_id", T.StringType())])
            )
        pruned = self._scan_rels(snap, rels, key_buckets).where(
            F.col("doc_id").isin(doc_ids)
        )
        folded = fold_lww(pruned)
        if "_tombstone" in folded.columns:
            folded = folded.where(~F.coalesce(F.col("_tombstone"), F.lit(False)))
        return folded

    # ----------------------------------------------------------------- write

    #: widening chain the parquet vectorized reader can apply on scan:
    #: int32 files read fine through long OR double schemas; int64 files
    #: can NOT be read through a double schema (reader limitation), so
    #: long->double is rejected loudly instead of corrupting reads.
    _WIDEN_RANK = {T.IntegerType: 0, T.LongType: 1, T.DoubleType: 1}

    @staticmethod
    def _evolve_schema(old: T.StructType | None, batch: T.StructType) -> T.StructType:
        """Union of old and batch schemas — the per-network relaxation
        variants of the reference (adjust_schema_for_kovan,
        build_load_dag.py:351-376: INT->FLOAT64 widening + REQUIRED->
        NULLABLE; ignore_unknown_values tolerance, :105):

        * new columns appended nullable;
        * IntegerType widens to LongType or DoubleType when the batch
          is wider (old int32 files scan natively through either);
        * a field nullable on EITHER side becomes nullable (required->
          nullable relaxation — a relaxation can never be reverted);
        * LongType->DoubleType is refused with a clear error: the
          parquet reader cannot upcast int64 pages to double, so
          allowing it would break every subsequent scan."""
        if old is None:
            return batch
        rank = SnapshotTable._WIDEN_RANK
        fields: dict[str, T.StructField] = {f.name: f for f in old.fields}
        for bf in batch.fields:
            of = fields.get(bf.name)
            if of is None:
                fields[bf.name] = T.StructField(bf.name, bf.dataType, True)
                continue
            dt = of.dataType
            o_t, b_t = type(of.dataType), type(bf.dataType)
            if o_t is not b_t and o_t in rank and b_t in rank:
                if isinstance(of.dataType, T.LongType) and isinstance(bf.dataType, T.DoubleType):
                    raise ValueError(
                        f"column {bf.name}: long->double widening is not "
                        "scan-compatible (parquet reader cannot upcast int64); "
                        "declare the column double from the first commit or add "
                        "a new double column"
                    )
                if rank[b_t] > rank[o_t]:
                    dt = bf.dataType
            nullable = of.nullable or bf.nullable
            if dt is not of.dataType or nullable != of.nullable:
                fields[bf.name] = T.StructField(bf.name, dt, nullable)
        return T.StructType(list(fields.values()))

    def commit(
        self,
        out_df: DataFrame,
        replace_buckets: set[int],
        app_id: str,
        epoch: int,
        lineage: dict | None = None,
        new_schema: T.StructType | None = None,
        full_replace: bool = False,
        new_num_buckets: int | None = None,
        properties: dict | None = None,
        sort_cols: list[str] | None = None,
        max_retries: int = 0,
        delete_layers: list[dict] | None = None,
        rename_layers: list[dict] | None = None,
        *,
        _on_gather=None,
    ) -> dict:
        """Publish one atomic commit. ``out_df`` carries a ``_bucket``
        column; for buckets in ``replace_buckets`` the output rows are
        the bucket's COMPLETE new content (file list replaced), for
        every other bucket they are a DELTA (files appended). Epoch
        fencing property is advanced for ``app_id``.
        It is the table's one write path: every streaming micro-batch
        reaches it through ``apply_changes``.

        File layout and write path follow what the commit writes:

        * a PURE DELTA commit (no ``replace_buckets``, no
          ``full_replace``) is written by pyarrow on the driver: a
          ``pyarrow.Table`` as it is, a DataFrame once gathered as
          Arrow in one Spark job without a shuffle. It lands as P
          level-0 (L0) sorted runs (one per 32k rows, at most one per
          driver core): run r holds the buckets with
          ``_bucket % P == r``, sorted by
          ``(_bucket, doc_id)`` and storing ``_bucket``, so each bucket
          lands in exactly one file per commit (see :meth:`_write_runs`).
          The batch must fit in ``spark.driver.maxResultSize``; a larger
          one fails before anything is published;
        * a commit that replaces buckets (:meth:`compact`,
          :meth:`delete_where`, :meth:`rewrite_sorted`, rebucket, reorg
          rewinds) sets its size from the table, not one batch: one
          Spark job groups ``out_df`` by ``_bucket`` and a Python task
          writes each bucket as one level-1 (L1) file with the same
          pyarrow writer (see :meth:`_write_buckets`).

        Every file is listed in ``bucket_files[b]`` for each bucket b it
        holds (``bucket_rows_written`` is exact), and manifests record
        multi-bucket files' bucket sets in ``file_buckets`` for the
        read-side visibility rule (see :meth:`_scan_rels`). Missing
        footer or bucket evidence raises before anything is published.
        The commit's Spark jobs carry the tag and description
        ``cdc:<app_id>:<epoch>:<flush|rewrite>``.

        ``properties`` merges extra key/values into the snapshot
        properties in the SAME atomic commit (the Iceberg
        snapshot-summary analogue) — callers use it to persist cursors
        / spec hashes transactionally with the data they describe.

        ``max_retries`` > 0 lets a PURE DELTA commit that loses the
        optimistic-concurrency race rebase onto the new head and
        re-publish (data files are already written; only the manifest
        re-assembles) — Iceberg's "fast appends never conflict" rule.
        Rewriting commits (``replace_buckets``/``full_replace``) never
        auto-retry, and a rebase is refused when the head was rebucketed
        or already carries this (app_id, epoch).

        ``delete_layers`` appends merge-on-read delete entries (see
        :meth:`delete_where_lazy`) in the same atomic commit; with
        ``out_df=None`` the commit is METADATA-ONLY — no Spark job, no
        data files written (the Iceberg delete-file commit shape).

        ``_on_gather`` sees a pure delta's batch as Arrow before any
        file is written (see :meth:`_write_runs`). The returned dict
        adds ``phase_s`` (not in the manifest): seconds spent in
        ``gather``, ``check``, ``write`` and ``publish`` (the rest).

        Caller owns the MERGE/fold semantics; this layer guarantees
        only atomicity + fencing (the Iceberg-commit seam).
        """
        start = time.perf_counter()
        phase = {"gather": 0.0, "check": 0.0, "write": 0.0}
        prev = self.snapshot()
        out_dir = os.path.join(self._data, uuid.uuid4().hex)
        rewrite = full_replace or bool(replace_buckets)

        # each new file's per-bucket row counts and parquet footer (its
        # _seq skip range and column stats), and this commit's Bloom
        # words per bucket. Missing evidence fails the commit before
        # anything is published: later seq-range reads and reorg
        # rewinds rely on it.
        evidence: dict[str, tuple[dict[str, int], object]] = {}
        bucket_words: dict[str, list[int]] = {}
        if out_df is not None:
            t0 = time.perf_counter()
            with self._job_label(app_id, epoch, "rewrite" if rewrite else "flush"):
                if rewrite:
                    evidence, bucket_words = self._write_buckets(out_df, out_dir, sort_cols)
                else:
                    evidence, bucket_words = self._write_runs(
                        out_df, out_dir, sort_cols, phase, _on_gather
                    )
            phase["write"] = time.perf_counter() - t0 - sum(phase.values())

        written: dict[str, list[str]] = {}
        new_file_buckets: dict[str, list[int]] = {}
        bucket_rows: dict[str, int] = {}
        new_seq_entries: dict[str, list[int]] = {}
        new_stat_entries: dict[str, dict] = {}
        # per-(file, bucket) Bloom words: a multi-bucket file keeps each
        # bucket's words separately, so a lookup probes only the key's
        # own bucket (each bucket lands in one file per commit, so every
        # entry is exact)
        new_bloom_entries: dict[str, dict[str, list[int]]] = {}
        for f, (counts, md) in evidence.items():
            if md is None:
                raise RuntimeError(f"parquet writer returned no footer for {f}")
            for b, n in counts.items():
                written.setdefault(b, []).append(f)
                bucket_rows[b] = bucket_rows.get(b, 0) + n
                if b in bucket_words:
                    new_bloom_entries.setdefault(f, {})[b] = bucket_words[b]
            if len(counts) > 1:
                new_file_buckets[f] = sorted(int(b) for b in counts)
            rng = self._seq_range_from_footer(md)
            if rng is not None:
                new_seq_entries[f] = rng
            if self.stats_cols:
                stats = {
                    c: r
                    for c in self.stats_cols
                    if (r := self._col_range_from_footer(md, c)) is not None
                }
                if stats:
                    new_stat_entries[f] = stats

        schema = new_schema or self.schema()
        if schema is None:
            raise ValueError("commit needs a schema for the first commit")

        def _assemble(base: dict) -> dict:
            """Manifest for THIS commit's already-written files on top
            of ``base`` — pure, so a CAS-lost commit can rebase onto
            the new head and re-publish without rewriting any data."""
            deltas = dict(written)
            if full_replace:
                # whole-table rewrite (rebucketing): the new file set IS
                # the table; every previous bucket is dropped
                commit_buckets = sorted(int(b) for b in deltas)
                bucket_files = dict(deltas)
                deltas = {}
            else:
                commit_buckets = sorted(
                    {int(b) for b in deltas} | set(replace_buckets)
                )
                bucket_files = dict(base["bucket_files"])
                for b in replace_buckets:
                    new_files = deltas.pop(str(b), [])
                    if new_files:
                        bucket_files[str(b)] = new_files
                    else:
                        # compaction produced no rows (all deleted+expired)
                        bucket_files.pop(str(b), None)
            for b, new_files in deltas.items():  # pure deltas: append
                bucket_files[b] = bucket_files.get(b, []) + new_files

            props = dict(base["properties"])
            if properties:
                props.update(properties)
            props[f"last_epoch:{app_id}"] = epoch
            snap = {
                "version": self._next_version(),
                "parent_version": base["version"],
                "committed_at": time.time(),
                "schema": schema.jsonValue(),
                "num_buckets": new_num_buckets or self.num_buckets,
                "bucket_files": bucket_files,
                "commit_buckets": commit_buckets,
                "bucket_rows_written": bucket_rows,
                # THIS commit's own added-file list — the CDF source
                # plans change partitions from it directly, so planning
                # never needs the parent manifest (which may be expired)
                "added_files": {b: list(fs) for b, fs in written.items()},
                "properties": props,
                "lineage": lineage or {},
            }
            live = set(_distinct_files(bucket_files))
            file_buckets = {
                f: bs
                for f, bs in {
                    **(base.get("file_buckets") or {}),
                    **new_file_buckets,
                }.items()
                if f in live
            }
            if file_buckets:
                snap["file_buckets"] = file_buckets
            seq_ranges = {
                f: r
                for f, r in {
                    **(base.get("file_seq_ranges") or {}),
                    **new_seq_entries,
                }.items()
                if f in live
            }
            if seq_ranges:
                snap["file_seq_ranges"] = seq_ranges
            col_stats = {
                f: s
                for f, s in {
                    **(base.get("file_col_stats") or {}),
                    **new_stat_entries,
                }.items()
                if f in live
            }
            if col_stats:
                snap["file_col_stats"] = col_stats

            def carry(lays: list[dict]) -> list[dict]:
                """Layers whose per-bucket file scope, intersected with
                the bucket's files still live, is not empty."""
                kept = []
                for lay in lays:
                    scope = {}
                    for b, fs in lay["files"].items():
                        now = set(bucket_files.get(b, ()))
                        if fs := [f for f in fs if f in now]:
                            scope[b] = fs
                    if scope:
                        kept.append({**lay, "files": scope})
                return kept

            # merge-on-read delete layers: base layers carry forward with
            # each bucket's scope intersected against that bucket's live
            # files — a compaction/rebucket that rewrote a bucket (its
            # read already materialized the masks via read_raw) drops
            # the bucket's scope automatically, even while a multi-bucket
            # file stays live for other buckets; drained layers vanish
            kept_layers = carry(
                list(base.get("delete_layers") or []) + list(delete_layers or [])
            )
            if kept_layers:
                snap["delete_layers"] = kept_layers
            # column-rename layers: same carry-forward; a layer drains
            # once every file written under the old name is rewritten
            kept_renames = carry(
                list(base.get("rename_layers") or []) + list(rename_layers or [])
            )
            if kept_renames:
                snap["rename_layers"] = kept_renames
                # re-introducing a column named like a live layer's OLD
                # name would make the unwind schema ambiguous (two
                # fields with one physical name) — compact first
                names = {f.name for f in schema.fields}
                for lay in kept_renames:
                    if lay["old"] in names:
                        raise ValueError(
                            f"column name {lay['old']!r} is still the "
                            "write-time name of files under a pending "
                            "rename layer; compact() before reusing it"
                        )
            if self.bloom_bits:
                # keep base entries only for files still live AND written
                # under the same bloom_bits; stale-bits entries drop (their
                # files fall back to always-scanned — correct, never hidden)
                prev_blooms = (
                    base.get("file_blooms") or {}
                    if base.get("bloom_bits") == self.bloom_bits
                    else {}
                )
                snap["file_blooms"] = {
                    f: w
                    for f, w in {**prev_blooms, **new_bloom_entries}.items()
                    if f in live
                }
                snap["bloom_bits"] = self.bloom_bits
            return snap

        # Iceberg "fast appends never conflict": a pure delta commit
        # that loses the CAS race can rebase onto the new head —
        # nothing it appends depends on the base's content (the LWW
        # fold orders by (_seq, _epoch), not commit order). Rewriting
        # commits (compaction / rebucket) replaced base content, so a
        # lost race there must surface to the caller for recompute.
        retries = max_retries
        while True:
            snap = _assemble(prev)
            try:
                self._publish(snap)
                break
            except CommitConflictError:
                if retries <= 0 or full_replace or replace_buckets:
                    raise
                retries -= 1
                prev = self.snapshot()
                if prev.get("num_buckets") != (new_num_buckets or self.num_buckets):
                    raise  # concurrent rebucket: our _bucket layout is stale
                if epoch <= int(prev["properties"].get(f"last_epoch:{app_id}", -1)):
                    raise  # a racing replay already committed this epoch
        if new_num_buckets:
            self.num_buckets = new_num_buckets
        phase["publish"] = time.perf_counter() - start - sum(phase.values())
        return {**snap, "phase_s": phase}

    def _check_driver_bound(self, batch) -> None:
        """Hold a batch that reached the driver without a Spark gather
        to the gather's bound: an Arrow table over a nonzero
        ``spark.driver.maxResultSize`` raises."""
        conf = self.spark.sparkContext._conf._jconf
        limit = conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
        if limit and batch.nbytes > limit:
            raise RuntimeError(
                f"batch of {batch.nbytes} bytes is bigger than "
                f"spark.driver.maxResultSize ({limit} bytes)"
            )

    @contextmanager
    def _job_label(self, app_id: str, epoch: int, phase: str):
        """Tag and describe this thread's Spark jobs as
        ``cdc:<app_id>:<epoch>:<phase>``, so Spark's event log and
        status tracker attribute them to a commit (tags cannot hold
        commas)."""
        sc = self.spark.sparkContext
        label = f"cdc:{app_id}:{epoch}:{phase}".replace(",", ";")
        prev = sc.getLocalProperty("spark.job.description")
        sc.addJobTag(label)
        sc.setJobDescription(label)
        try:
            yield
        finally:
            sc.removeJobTag(label)
            sc.setJobDescription(prev)

    # rows per level-0 run of a pure-delta commit: a batch splits into
    # ceil(rows / _RUN_ROWS) runs, at most one per driver core (the
    # pyarrow write runs on the driver) and one per bucket
    _RUN_ROWS = 1 << 15

    def _parquet_codec(self) -> str:
        """pyarrow's name for the session's parquet codec."""
        codec = self.spark.conf.get("spark.sql.parquet.compression.codec").lower()
        return {"uncompressed": "none"}.get(codec, codec)

    def _write_runs(
        self, out, out_dir: str, sort_cols: list[str] | None, phase, on_gather
    ) -> tuple[dict[str, tuple[dict[str, int], object]], dict[str, list[int]]]:
        """Pure-delta write of ``out``: a ``pyarrow.Table`` is taken as
        it is; a DataFrame is gathered with ``toArrow()``, one Spark job
        that carries only the data, with no shuffle. ``on_gather``, when
        given, takes that Arrow batch (the caller's delta build, checks
        and counts, as Arrow kernels) and returns the batch to write; an
        error it raises fails the commit before any file is written.
        ``phase`` gets the seconds of the ``gather`` and of
        ``on_gather`` (``check``).
        The rows split into P level-0 runs by ``_bucket % P``, where P is
        ``ceil(rows / _RUN_ROWS)`` capped at the driver's cores and the
        bucket count, so the layout follows the batch and the machine
        that writes it. Each run is sorted by ``(_bucket, doc_id)``
        (``sort_cols`` replaces doc_id) and written by
        :func:`_write_parquet` on a pool of P threads.

        Returns each file's per-bucket row counts and footer, and with
        blooms on each bucket's Bloom words, hashed on the driver. A
        batch larger than ``spark.driver.maxResultSize`` fails in the
        gather (a Table: before it), before any file is written."""
        from concurrent.futures import ThreadPoolExecutor

        import numpy as np
        import pyarrow.compute as pc

        t = time.perf_counter()
        if isinstance(out, DataFrame):
            batch = out.toArrow()
        else:
            self._check_driver_bound(out)
            batch = out
        phase["gather"] = time.perf_counter() - t
        if on_gather is not None:
            batch = on_gather(batch)
            phase["check"] = time.perf_counter() - t - phase["gather"]
        buckets = batch.column("_bucket").to_numpy()
        bucket_words = (
            _bloom_words(buckets, batch.column("doc_id"), self.bloom_bits)
            if self.bloom_bits
            else {}
        )

        n_runs = max(
            1,
            min(-(-batch.num_rows // self._RUN_ROWS), _driver_cores(), self.num_buckets),
        )
        codec = self._parquet_codec()
        sort_keys = ["_bucket", *(sort_cols or ["doc_id"])]
        order = [(c, "ascending") for c in sort_keys]
        # one stable split of the batch into runs: run r is
        # by_run[ends[r-1]:ends[r]]
        run_of = buckets % n_runs
        by_run = np.argsort(run_of, kind="stable")
        ends = np.cumsum(np.bincount(run_of, minlength=n_runs))
        rel_dir = os.path.relpath(out_dir, self.root)

        def write(r: int):
            rows = by_run[(ends[r - 1] if r else 0) : ends[r]]
            if not len(rows):
                return None
            # sort on the key columns only, then copy the run once
            keys = batch.select(sort_keys).take(rows)
            rows = rows[pc.sort_indices(keys, sort_keys=order).to_numpy()]
            rel = os.path.join(rel_dir, f"run-{r:05d}.parquet")
            md = _write_parquet(batch.take(rows), os.path.join(self.root, rel), codec)
            held, counts = np.unique(buckets[rows], return_counts=True)
            return rel, ({str(b): int(n) for b, n in zip(held, counts)}, md)

        if batch.num_rows:
            os.makedirs(out_dir)
        with ThreadPoolExecutor(n_runs) as pool:
            runs = [e for e in pool.map(write, range(n_runs)) if e is not None]
        return dict(runs), bucket_words

    def _write_buckets(
        self, out_df: DataFrame, out_dir: str, sort_cols: list[str] | None
    ) -> tuple[dict[str, tuple[dict[str, int], object]], dict[str, list[int]]]:
        """Write a commit that replaces buckets: one Spark job groups
        ``out_df`` by ``_bucket`` and hands each bucket to a Python task
        as Arrow, which sorts it by ``sort_cols`` (default doc_id, for
        point lookups; a layout rewrite passes e.g. a Z-order key), so
        parquet min/max stats let scans skip row groups, and writes it
        as one L1 file with :func:`_write_parquet`, keeping ``_bucket``
        as a column. Each task returns its file, row count,
        pickled footer and, with blooms on, the bucket's Bloom words;
        the result is the same evidence :meth:`_write_runs` returns."""
        import pickle

        root, codec, bits = self.root, self._parquet_codec(), self.bloom_bits
        rel_dir = os.path.relpath(out_dir, self.root)
        order = [(c, "ascending") for c in (sort_cols or ["doc_id"])]

        def write_bucket(key, table):
            import pyarrow as pa

            b = key[0].as_py()
            rel = os.path.join(rel_dir, f"bucket-{b:05d}.parquet")
            os.makedirs(os.path.join(root, rel_dir), exist_ok=True)
            md = _write_parquet(table.sort_by(order), os.path.join(root, rel), codec)
            words = (
                _bloom_words(table.column("_bucket").to_numpy(), table.column("doc_id"), bits)[str(b)]
                if bits
                else None
            )
            return pa.table({
                "file": [rel],
                "bucket": [b],
                "rows": [table.num_rows],
                "footer": pa.array([None if md is None else pickle.dumps(md)], pa.binary()),
                "bloom": pa.array([words], pa.list_(pa.int64())),
            })

        schema = "file string, bucket long, rows long, footer binary, bloom array<long>"
        written = out_df.groupBy("_bucket").applyInArrow(write_bucket, schema).toArrow().to_pylist()
        evidence = {
            w["file"]: ({str(w["bucket"]): w["rows"]}, w["footer"] and pickle.loads(w["footer"]))
            for w in written
        }
        words = {str(w["bucket"]): w["bloom"] for w in written if w["bloom"] is not None}
        return evidence, words

    def rebucket(self, new_num_buckets: int, app_id: str = "maintenance") -> dict:
        """Online partition-spec evolution: rewrite the table into a new
        hash-bucket fan-out in ONE atomic commit (Iceberg partition
        evolution / Kafka topic repartitioning analogue). The growth
        path at scale: a table bucketed for 10^8 keys re-fans to 10^10
        without downtime — readers of the old snapshot keep their
        layout (time travel retains it), the new snapshot owns the new
        one, and every future instance adopts the manifest's fan-out."""
        if new_num_buckets < 1:
            raise ValueError("new_num_buckets must be >= 1")
        folded = self.read_raw()  # one row per key incl. tombstones
        out = folded.withColumn(
            "_bucket", bucket_expr(F.col("doc_id"), new_num_buckets)
        )
        return self.commit(
            out,
            replace_buckets=set(),
            app_id=app_id,
            epoch=self.last_epoch(app_id) + 1,
            full_replace=True,
            new_num_buckets=new_num_buckets,
            lineage={
                "op": "rebucket",
                "from_buckets": self.num_buckets,
                "to_buckets": new_num_buckets,
            },
        )

    # -------------------------------------------------------- maintenance

    def compact(
        self,
        buckets: list[int] | None = None,
        drop_tombstones_below: int | None = None,
        app_id: str = "maintenance",
        sort_by: list[str] | None = None,
    ) -> dict:
        """Fold the given buckets (default: all) down to one file each.
        Logical state is unchanged — except tombstones older than
        ``drop_tombstones_below`` (a seq watermark) are physically
        dropped, safe once the feed guarantees no older event can still
        arrive (the reference's partition GC, build_clean_dag.py:99-115,
        and its 72h TTL side tables, build_partition_dag.py:113-115)."""
        if buckets is None:
            buckets = [int(b) for b in self.snapshot()["bucket_files"]]
        folded = self.read_raw(buckets)
        if drop_tombstones_below is not None:
            folded = folded.where(
                ~(
                    F.coalesce(F.col("_tombstone"), F.lit(False))
                    & (F.col("_seq") < F.lit(drop_tombstones_below))
                )
            )
        out = folded.withColumn("_bucket", bucket_expr(F.col("doc_id"), self.num_buckets))
        return self.commit(
            out,
            replace_buckets=set(buckets),
            app_id=app_id,
            epoch=self.last_epoch(app_id) + 1,
            sort_cols=sort_by,
            lineage={
                "op": "compact",
                "buckets": len(buckets),
                "drop_tombstones_below": drop_tombstones_below,
                "sort_by": sort_by,
            },
        )

    def delete_where(
        self,
        col: str,
        lo=None,
        hi=None,
        app_id: str = "maintenance",
        tombstones: bool = False,
    ) -> dict:
        """Predicate DELETE ``lo <= col <= hi`` with metadata pruning
        (Iceberg ``DELETE FROM ... WHERE`` on the retention axis):

        * buckets no candidate file touches (per-file column stats,
          :meth:`plan_where`) are untouched — zero reads;
        * a bucket whose EVERY live file lies fully inside the range is
          dropped metadata-only — the whole-bucket condition is what
          makes the drop LWW-safe: removing a strict subset of a
          bucket's files could expose an older version of a key whose
          newest (in-range) row was in a dropped file;
        * remaining affected buckets are rewritten from the folded view
          without the rows whose CURRENT value matches (stats false
          positives rewrite to identical content — correct, just work).

        ``tombstones=False`` (default) physically removes the rows —
        retention / right-to-erasure semantics; under an ACTIVE feed a
        later stale event could then re-insert a deleted key.
        ``tombstones=True`` instead converts each matching current row
        into a tombstone at its existing ``(_seq, _epoch)`` (payload
        nulled), so only genuinely newer feed events win — but the
        metadata-only fast path is then unavailable (every affected
        bucket rewrites, since dropped files can't leave tombstones).

        Time travel to pre-delete versions keeps working until
        :meth:`expire_snapshots` GCs them. One atomic epoch-fenced
        commit."""
        snap = self.snapshot()
        if snap["version"] < 0:
            raise ValueError("table has no snapshot yet")
        stats = snap.get("file_col_stats") or {}
        candidates = set(self.plan_where(snap, col, lo, hi))

        def fully_in(f: str) -> bool:
            # parquet min/max ignore nulls, and null rows do NOT match
            # a range predicate (feed tombstones carry null payloads!)
            # — a file is droppable only with a recorded zero null
            # count; entries from before null counts were tracked
            # (2-element) safely fall back to the rewrite path
            r = (stats.get(f) or {}).get(col)
            return (
                r is not None
                and len(r) >= 3
                and r[2] == 0
                and (lo is None or r[0] >= lo)
                and (hi is None or r[1] <= hi)
            )

        drop_buckets: list[int] = []
        rewrite_buckets: list[int] = []
        files_dropped = 0
        for b, files in snap["bucket_files"].items():
            if not any(f in candidates for f in files):
                continue
            if not tombstones and files and all(fully_in(f) for f in files):
                drop_buckets.append(int(b))
                files_dropped += len(files)
            else:
                rewrite_buckets.append(int(b))
        if not drop_buckets and not rewrite_buckets:
            return {
                "files_dropped": 0,
                "buckets_rewritten": 0,
                "rows_deleted": 0,
                "version": snap["version"],
            }

        schema = self.schema()
        rows_deleted = 0
        if rewrite_buckets:
            folded = self.read_raw(rewrite_buckets)
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(col) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(col) <= F.lit(hi))
            is_live = ~F.coalesce(F.col("_tombstone"), F.lit(False))
            match = is_live & F.coalesce(cond, F.lit(False))
            # one scan: checkpoint the folded view, count then filter
            folded = folded.localCheckpoint()
            rows_deleted = folded.where(match).count()
            if tombstones:
                # pin the match verdict FIRST: nulling the predicate
                # column itself must not flip later per-column whens
                kept = folded.withColumn("_del", match)
                for f in folded.schema.fields:
                    if f.name in ("doc_id", *INTERNAL_COLS):
                        continue
                    kept = kept.withColumn(
                        f.name,
                        F.when(
                            F.col("_del"), F.lit(None).cast(f.dataType)
                        ).otherwise(F.col(f.name)),
                    )
                kept = kept.withColumn(
                    "_tombstone",
                    F.coalesce(F.col("_tombstone"), F.lit(False))
                    | F.col("_del"),
                ).drop("_del")
            else:
                kept = folded.where(~match)
        else:
            kept = self.spark.createDataFrame([], schema)
        out = kept.withColumn(
            "_bucket", bucket_expr(F.col("doc_id"), self.num_buckets)
        )
        result = self.commit(
            out,
            replace_buckets=set(drop_buckets) | set(rewrite_buckets),
            app_id=app_id,
            epoch=self.last_epoch(app_id) + 1,
            lineage={
                "op": "delete_where",
                "col": col,
                "lo": lo,
                "hi": hi,
                "tombstones": tombstones,
                "buckets_dropped_metadata_only": sorted(drop_buckets),
                "buckets_rewritten": sorted(rewrite_buckets),
            },
        )
        return {
            "files_dropped": files_dropped,
            "buckets_dropped_metadata_only": len(drop_buckets),
            "buckets_rewritten": len(rewrite_buckets),
            "rows_deleted_rewrite": rows_deleted,
            "version": result["version"],
        }

    def delete_where_lazy(
        self,
        col: str,
        lo=None,
        hi=None,
        app_id: str = "maintenance",
    ) -> dict:
        """Merge-on-read predicate DELETE (the Iceberg v2 delete-file
        shape): commits a METADATA-ONLY delete layer — no Spark job, no
        data read or rewritten, O(manifest) commit cost regardless of
        table size. Readers (:meth:`read` / :meth:`read_raw` /
        :meth:`lookup` / compaction) apply the layer at fold time:
        current rows matching ``lo <= col <= hi`` become tombstones at
        their existing (_seq, _epoch), so feed events NEWER than the
        delete re-insert normally while stale ones cannot resurrect
        (the eager :meth:`delete_where` ``tombstones=True`` semantics,
        deferred).

        The layer's file scope is the affected buckets' full live file
        list at delete time — files committed later fold ON TOP of the
        masked state (Iceberg's sequence-number scoping: a delete file
        applies only to data files older than it). Buckets whose
        per-file column stats prove no row can match are never scoped.
        Each pending layer adds one hash agg to reads of its buckets;
        :meth:`compact` materializes the masks (payload physically
        nulled) and clears the layers. One atomic epoch-fenced commit."""
        snap = self.snapshot()
        if snap["version"] < 0:
            raise ValueError("table has no snapshot yet")
        candidates = set(self.plan_where(snap, col, lo, hi))
        scope = {
            b: list(files)
            for b, files in snap["bucket_files"].items()
            if any(f in candidates for f in files)
        }
        if not scope:
            return {"buckets_scoped": 0, "version": snap["version"]}
        result = self.commit(
            None,
            replace_buckets=set(),
            app_id=app_id,
            epoch=self.last_epoch(app_id) + 1,
            delete_layers=[{"col": col, "lo": lo, "hi": hi, "files": scope}],
            lineage={
                "op": "delete_where_lazy",
                "col": col,
                "lo": lo,
                "hi": hi,
                "buckets_scoped": sorted(int(b) for b in scope),
            },
        )
        return {
            "buckets_scoped": len(scope),
            "files_scoped": sum(len(fs) for fs in scope.values()),
            "version": result["version"],
        }

    def version_as_of(self, ts: float) -> int:
        """Timestamp-based time travel (Iceberg ``TIMESTAMP AS OF``):
        the newest retained snapshot committed at or before ``ts``
        (unix seconds). Raises when every retained snapshot is newer
        (the history before ``ts`` was expired)."""
        best = -1
        best_at = None
        for entry in os.listdir(self._meta):
            if not (entry.startswith("snapshot-") and entry.endswith(".json")):
                continue
            try:
                with open(os.path.join(self._meta, entry)) as f:
                    snap = json.load(f)
            except (OSError, ValueError):
                continue
            at = snap.get("committed_at", 0)
            if at <= ts and (best_at is None or at > best_at):
                best, best_at = snap["version"], at
        if best < 0:
            raise ValueError(
                f"no retained snapshot at or before {ts} (expired?)"
            )
        return best

    def rollback_to(self, version: int, app_id: str = "maintenance") -> dict:
        """Snapshot rollback (Iceberg ``rollback_to_snapshot``): publish
        a NEW commit whose content is the given retained snapshot's —
        metadata-only (file lists, schema, layers, and fan-out copied;
        no data moves), so the rollback is itself history (time travel
        forward across it works) and the rolled-back-over snapshots
        stay retained until :meth:`expire_snapshots`. Epoch fences are
        NOT rolled back — a feed replaying after the rollback still
        sees its epochs as applied; use :class:`operators.reorg` for a
        fence-rewinding bucket-scoped rollback instead."""
        old = self.snapshot(version)
        cur = self.snapshot()
        props = dict(cur["properties"])  # keep fences + cursors current
        new_snap = {
            "version": self._next_version(),
            "parent_version": cur["version"],
            "committed_at": time.time(),
            "schema": old["schema"],
            "num_buckets": old.get("num_buckets") or self.num_buckets,
            "bucket_files": old["bucket_files"],
            "commit_buckets": sorted(int(b) for b in old["bucket_files"]),
            "bucket_rows_written": {},
            "properties": props,
            "lineage": {"op": "rollback", "to_version": version},
        }
        for key in (
            "file_buckets",
            "file_seq_ranges",
            "file_col_stats",
            "file_blooms",
            "bloom_bits",
            "delete_layers",
            "rename_layers",
        ):
            if old.get(key) is not None:
                new_snap[key] = old[key]
        self._publish(new_snap)
        self.num_buckets = int(new_snap["num_buckets"])
        return new_snap

    def history_of(self, doc_ids: list[str], version: int | None = None) -> DataFrame:
        """Every retained row VERSION of the given keys, newest first
        per key (``_seq`` desc, ``_epoch`` desc) — the row-level
        debugging/audit surface (Iceberg's changelog scan narrowed to a
        key): which events wrote this document, was it tombstoned, and
        by which batch epoch. File pruning is the same driver-side
        bucket+Bloom plan as :meth:`lookup`; versions already folded
        away by compaction are gone (history depth = compaction
        cadence, like any LSM)."""
        from ethereum_etl_airflow_spark.functions.hashing import bucket_of

        snap = self.snapshot(version)
        rels = self.plan_lookup(snap, doc_ids)
        schema = T.StructType.fromJson(snap["schema"]) if snap["schema"] else None
        if not rels or schema is None:
            return self.spark.createDataFrame(
                [], schema or T.StructType([T.StructField("doc_id", T.StringType())])
            )
        nb = int(snap.get("num_buckets") or 1)
        key_buckets = sorted({bucket_of(d, nb) for d in doc_ids})
        return (
            self._scan_rels(snap, rels, key_buckets)
            .where(F.col("doc_id").isin(doc_ids))
            .orderBy("doc_id", F.desc("_seq"), F.desc("_epoch"))
        )

    def clone_to(self, new_root: str) -> "SnapshotTable":
        """Zero-copy table clone (Iceberg snapshot/shallow clone): the
        clone's first manifest references the source's CURRENT data
        files by absolute path — no data moves. Writes to the clone
        land under its own root and never touch the source; compaction
        of the clone localizes its data fully. Caveat (same as Iceberg
        shallow clones): :meth:`expire_snapshots` on the SOURCE can GC
        files the clone still references — compact the clone (or keep
        source retention) before expiring aggressively."""
        snap = self.snapshot()
        if snap["version"] < 0:
            raise ValueError("cannot clone an empty table")

        def absolutize(rel: str) -> str:
            return rel if os.path.isabs(rel) else os.path.join(self.root, rel)

        clone = SnapshotTable(
            self.spark,
            new_root,
            num_buckets=int(snap.get("num_buckets") or self.num_buckets),
            compact_files=self.compact_files,
            bloom_bits=self.bloom_bits,
            stats_cols=self.stats_cols,
        )
        if clone.exists():
            raise ValueError(f"target already exists: {new_root}")
        os.makedirs(clone._meta, exist_ok=True)
        os.makedirs(clone._data, exist_ok=True)
        new_snap = dict(snap)
        new_snap["version"] = 0
        new_snap["parent_version"] = -1
        new_snap["committed_at"] = time.time()
        new_snap["bucket_files"] = {
            b: [absolutize(f) for f in fs]
            for b, fs in snap["bucket_files"].items()
        }
        for key in ("file_buckets", "file_seq_ranges", "file_col_stats", "file_blooms"):
            if snap.get(key):
                new_snap[key] = {absolutize(f): v for f, v in snap[key].items()}
        for key in ("delete_layers", "rename_layers"):
            if snap.get(key):
                new_snap[key] = [
                    {
                        **lay,
                        "files": {
                            b: [absolutize(f) for f in fs]
                            for b, fs in lay["files"].items()
                        },
                        **(
                            {"key_file": absolutize(lay["key_file"])}
                            if lay.get("key_file")
                            else {}
                        ),
                    }
                    for lay in snap[key]
                ]
        new_snap["lineage"] = {"op": "clone", "source": self.root, "source_version": snap["version"]}
        clone._publish(new_snap)
        return clone

    def rename_column(self, old: str, new: str, app_id: str = "maintenance") -> dict:
        """Metadata-only column RENAME (Iceberg's field-id rename,
        without field ids): commits a rename layer scoping every live
        file — those files keep their write-time column name on disk
        and are read through a name-mapped schema; files written after
        the rename carry the new name natively. No data is rewritten;
        :meth:`compact` drains the layer. Renames stack (a→b then b→c
        unwinds fully for the oldest files).

        ``doc_id`` and the bookkeeping columns cannot be renamed; the
        old name cannot be reused while any file still carries it
        (commit() enforces — compact first). Per-file column stats and
        driver-side :meth:`plan_where` pruning use the CURRENT name, so
        pre-rename files simply fall back to always-scanned (never a
        false skip)."""
        if old in ("doc_id", *INTERNAL_COLS):
            raise ValueError(f"cannot rename {old!r}")
        snap = self.snapshot()
        schema = self.schema()
        if schema is None or old not in schema.fieldNames():
            raise ValueError(f"no such column: {old!r}")
        if new in schema.fieldNames():
            raise ValueError(f"column already exists: {new!r}")
        new_schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        scope = {b: list(fs) for b, fs in snap["bucket_files"].items() if fs}
        result = self.commit(
            None,
            replace_buckets=set(),
            app_id=app_id,
            epoch=self.last_epoch(app_id) + 1,
            new_schema=new_schema,
            rename_layers=[{"old": old, "new": new, "files": scope}] if scope else None,
            lineage={"op": "rename_column", "old": old, "new": new},
        )
        return {"version": result["version"], "files_scoped": sum(len(v) for v in scope.values())}

    def drop_column(self, name: str, app_id: str = "maintenance") -> dict:
        """Metadata-only column DROP: the column leaves the snapshot
        schema in one commit; existing files keep the physical bytes
        (schema-on-read ignores them) until compaction rewrites. The
        name cannot be re-added with a DIFFERENT type while pre-drop
        files remain (schema-by-name would read their old bytes) —
        compact first; same-type re-adds behave as Iceberg's
        new-field-id semantics EXCEPT old values resurface, so prefer
        compaction before any re-add."""
        if name in ("doc_id", *INTERNAL_COLS):
            raise ValueError(f"cannot drop {name!r}")
        schema = self.schema()
        if schema is None or name not in schema.fieldNames():
            raise ValueError(f"no such column: {name!r}")
        new_schema = T.StructType([f for f in schema.fields if f.name != name])
        result = self.commit(
            None,
            replace_buckets=set(),
            app_id=app_id,
            epoch=self.last_epoch(app_id) + 1,
            new_schema=new_schema,
            lineage={"op": "drop_column", "column": name},
        )
        return {"version": result["version"]}

    def delete_keys_lazy(
        self,
        doc_ids: "list[str] | DataFrame",
        app_id: str = "maintenance",
    ) -> dict:
        """Equality-delete FILE (the second Iceberg v2 delete-file kind):
        the key set is written as a small parquet file under the table's
        data dir and referenced from a metadata-only delete layer — the
        keys are never collected to the driver when given as a
        DataFrame, so a 10^8-key erasure batch commits in O(key-file
        write), not O(table). Readers mask matching current rows to
        tombstones via a broadcast join against the key file; sequence
        scoping is the same as :meth:`delete_where_lazy` (feed events
        newer than the delete win). :meth:`compact` materializes the
        masks; :meth:`expire_snapshots` GCs the key file once no live
        manifest references it."""
        snap = self.snapshot()
        if snap["version"] < 0:
            raise ValueError("table has no snapshot yet")
        from ethereum_etl_airflow_spark.functions.hashing import bucket_of

        nb = int(snap.get("num_buckets") or 1)
        if isinstance(doc_ids, list):
            key_df = self.spark.createDataFrame(
                [(d,) for d in doc_ids], "doc_id string"
            )
            buckets = sorted({bucket_of(d, nb) for d in doc_ids})
        else:
            key_df = doc_ids.select(F.col("doc_id").cast("string"))
            buckets = sorted(
                r[0]
                for r in key_df.select(
                    bucket_expr(F.col("doc_id"), nb).alias("b")
                )
                .distinct()
                .collect()
            )
        scope = {
            str(b): list(snap["bucket_files"].get(str(b), []))
            for b in buckets
            if snap["bucket_files"].get(str(b))
        }
        if not scope:
            return {"buckets_scoped": 0, "version": snap["version"]}
        # one key file, written by the table's one writer as a single
        # group (its _bucket column is a constant, not a table bucket)
        evidence, _ = self._write_buckets(
            key_df.withColumn("_bucket", F.lit(0)),
            os.path.join(self._data, f"eqdel-{uuid.uuid4().hex}"),
            None,
        )
        (key_file,) = evidence
        result = self.commit(
            None,
            replace_buckets=set(),
            app_id=app_id,
            epoch=self.last_epoch(app_id) + 1,
            delete_layers=[{"key_file": key_file, "files": scope}],
            lineage={
                "op": "delete_keys_lazy",
                "key_file": key_file,
                "buckets_scoped": sorted(int(b) for b in scope),
            },
        )
        return {
            "buckets_scoped": len(scope),
            "files_scoped": sum(len(fs) for fs in scope.values()),
            "key_file": key_file,
            "version": result["version"],
        }

    def rewrite_sorted(self, sort_by: list[str], app_id: str = "maintenance") -> dict:
        """Layout rewrite (Iceberg ``rewrite_data_files`` with a sort
        order): compact every bucket to one file whose rows are sorted
        by ``sort_by`` — parquet row-group min/max stats on those
        columns become tight, so predicate scans skip whole row groups.
        Pair with ``functions/layout.zvalue`` for 2-D pruning. Logical
        state is unchanged (same fold as compact); one atomic commit."""
        return self.compact(app_id=app_id, sort_by=sort_by)

    def expire_tombstones(self, watermark_seq: int, app_id: str = "maintenance") -> dict:
        """Physically drop tombstones with ``_seq < watermark_seq``."""
        return self.compact(drop_tombstones_below=watermark_seq, app_id=app_id)

    # ------------------------------------------------------------- retention

    def update_properties(self, updates: dict) -> dict:
        """Manifest-only commit merging properties (the ALTER TABLE SET
        TBLPROPERTIES analogue) — carries retention policy, ownership
        tags, etc. without touching data files."""
        prev = self.snapshot()
        if prev["version"] < 0:
            raise ValueError("table has no snapshot yet")
        snap = dict(prev)
        snap.update(
            version=self._next_version(),
            parent_version=prev["version"],
            committed_at=time.time(),
            commit_buckets=[],
            properties={**prev["properties"], **updates},
            lineage={"op": "set_properties", "keys": sorted(updates)},
        )
        self._publish(snap)
        return snap

    def _compact_due(self, snap: dict | None = None) -> tuple[dict, dict | None]:
        """Compact, as its own commit, every bucket due at ``snap``
        (default: the head): a bucket is due when it holds
        ``retention.compact_files`` files (default ``compact_files``)
        or ``retention.max_delete_layers`` (default 4) pending
        merge-on-read delete layers. Returns the decision — the due
        buckets (``buckets``), how many were due by file count
        (``due_by_files``) and by delete-layer depth
        (``due_by_layers``; a bucket due for both counts in both), and
        the two thresholds — and the compaction commit (None when no
        bucket was due)."""
        snap = snap or self.snapshot()
        props = snap["properties"]
        thr = int(props.get("retention.compact_files", self.compact_files))
        by_files = {int(b) for b, fs in snap["bucket_files"].items() if len(fs) >= thr}
        max_layers = int(props.get("retention.max_delete_layers", 4))
        layer_counts: dict[int, int] = {}
        for lay in snap.get("delete_layers") or []:
            for b in lay["files"]:
                layer_counts[int(b)] = layer_counts.get(int(b), 0) + 1
        layered = {b for b, c in layer_counts.items() if c >= max_layers}
        due = sorted(by_files | layered)
        decision = {
            "buckets": due,
            "due_by_files": len(by_files),
            "due_by_layers": len(layered),
            "compact_files": thr,
            "max_delete_layers": max_layers,
        }
        return decision, self.compact(due) if due else None

    def maintain(self) -> dict:
        """One property-driven maintenance pass (the reference's TTL
        side tables + partition GC cadence, build_partition_dag.py:
        113-146 72h/7d TTLs, build_clean_dag.py:99-115 — here a single
        idempotent entry point a scheduler calls on whatever cadence):

        * ``retention.compact_files``  — fold buckets at/over this many
          files down to one (threshold compaction);
        * ``retention.snapshot_ttl_sec`` + ``retention.keep_last`` —
          expire snapshots older than the TTL (never dropping the last
          ``keep_last``), GC unreferenced data files;
        * ``retention.max_delete_layers`` (default 4) — buckets whose
          pending merge-on-read delete layers (delete_where_lazy /
          delete_keys_lazy) reach this depth are compacted, draining
          the layers: read amplification from lazy deletes stays
          bounded without the caller tracking them."""
        report: dict = {}
        due, _ = self._compact_due()
        if due["due_by_layers"]:
            report["delete_layers_drained_buckets"] = due["due_by_layers"]
        if due["buckets"]:
            report["compacted_buckets"] = len(due["buckets"])
        props = self.snapshot()["properties"]
        ttl = props.get("retention.snapshot_ttl_sec")
        keep = int(props.get("retention.keep_last", 2))
        report["files_removed"] = self.expire_snapshots(
            keep_last=keep,
            ttl_sec=float(ttl) if ttl is not None else None,
            orphan_grace_sec=float(props.get("retention.orphan_grace_sec", 600.0)),
        )
        return report

    def expire_snapshots(
        self,
        keep_last: int = 2,
        ttl_sec: float | None = None,
        orphan_grace_sec: float = 600.0,
    ) -> int:
        """Drop expired manifests and GC data files no live manifest
        references (reference: build_clean_dag.py partition GC, M3;
        Iceberg expire_snapshots). Live = the newest ``keep_last``
        snapshots, plus every named-ref head (branch and tag heads are
        never expired — the Iceberg ref-retention rule), plus — when
        ``ttl_sec`` is given — every snapshot younger than the TTL
        (age-based retention window).

        Unreferenced files fall in two classes with DIFFERENT safety:

        * files referenced by a manifest being expired right now are
          known-dead history — removed immediately;
        * files NO manifest ever referenced are orphans (a crashed
          write) — or an IN-FLIGHT commit: ``commit()`` writes data
          files before it takes the publish lock, so a concurrent
          writer's files are briefly unreferenced by design. Those are
          removed only once older than ``orphan_grace_sec`` (Iceberg's
          remove_orphan_files ``older_than`` discipline; pass 0 to
          force, e.g. in tests or when no writer can be live)."""
        cur = self.ref_version("main")
        if cur < 0:
            return 0
        existing = sorted(
            int(e.split("-")[1].split(".")[0])
            for e in os.listdir(self._meta)
            if e.startswith("snapshot-") and e.endswith(".json")
        )
        live_versions = set(existing[-keep_last:]) if keep_last > 0 else set()
        live_versions.update(r["version"] for r in self.refs().values())
        live_versions.discard(-1)
        if ttl_sec is not None:
            cutoff = time.time() - ttl_sec
            for entry in os.listdir(self._meta):
                if not entry.startswith("snapshot-"):
                    continue
                v = int(entry.split("-")[1].split(".")[0])
                if v in live_versions:
                    continue
                try:
                    with open(os.path.join(self._meta, entry)) as f:
                        if json.load(f).get("committed_at", 0) >= cutoff:
                            live_versions.add(v)
                except (OSError, ValueError):
                    pass
        referenced: set[str] = set()
        ever_referenced: set[str] = set()
        for entry in os.listdir(self._meta):
            if not (entry.startswith("snapshot-") and entry.endswith(".json")):
                continue
            v = int(entry.split("-")[1].split(".")[0])
            with open(os.path.join(self._meta, entry)) as f:
                snap_json = json.load(f)
            for files in snap_json["bucket_files"].values():
                ever_referenced.update(files)
                if v in live_versions:
                    referenced.update(files)
            # equality-delete key files are data files too — referenced
            # through delete_layers, not bucket_files
            for lay in snap_json.get("delete_layers") or []:
                kf = lay.get("key_file")
                if kf:
                    ever_referenced.add(kf)
                    if v in live_versions:
                        referenced.add(kf)
        removed = 0
        orphan_cutoff = time.time() - orphan_grace_sec
        for dirpath, _dirnames, filenames in os.walk(self._data):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                if not fn.endswith(".parquet") or rel in referenced:
                    continue
                if rel not in ever_referenced:
                    # true orphan OR a concurrent writer's in-flight
                    # files — only reap past the grace age
                    try:
                        if os.path.getmtime(full) > orphan_cutoff:
                            continue
                    except OSError:
                        continue
                os.remove(full)
                removed += 1
        for entry in os.listdir(self._meta):
            if entry.startswith("snapshot-"):
                v = int(entry.split("-")[1].split(".")[0])
                if v not in live_versions:
                    os.remove(os.path.join(self._meta, entry))
        return removed
