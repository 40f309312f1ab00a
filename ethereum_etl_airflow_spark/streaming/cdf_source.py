"""SnapshotTable change-data-feed as a NATIVE Structured Streaming
source (PySpark 4 Python Data Source API).

``spark.readStream.format("snapshot_cdf").option("path", root)`` turns
the table's commit log into a real streaming DataFrame — watermarks,
stream-stream joins, ``foreachBatch`` and checkpoint recovery all work
unmodified. It is the raw event stream next to the pull-based
``CdfFollower`` (streaming/cdf_follow.py, net diffs through
``table_changes``), and the push surface the reference's live-view
freshness chain implies (``build_verify_streaming_dag.py:81-100``:
externally-streamed tables feeding lag-checked views).

Semantics — the raw change-event stream:

* **offsets are table versions** (``{"version": N}``): immutable
  manifests make every ``(start, end]`` range deterministically
  replayable, so checkpoint recovery re-reads exactly the same rows —
  the source side of exactly-once.
* each micro-batch emits the DELTA rows appended by CDC commits
  (``lineage.op == "cdc_apply"``) in the version range: insert/update
  images and tombstone rows (``_tombstone = true``) with their
  ``(_seq, _epoch)``, plus ``_commit_version``. Downstream folds with
  ``fold_lww`` if it needs table state rather than the event stream.
* **maintenance commits emit nothing** (compaction, delete_where,
  rebucket, rename: rewrites of existing logical rows). A CDC commit
  only appends; ``apply_changes`` compacts in a commit of its own.
  A CDC commit written before that split, whose manifest still lists
  ``compacted_buckets``, mixes delta and rewritten rows in one file:
  planning it raises rather than re-emit the rewritten rows.
* **scale**: ``partitions()`` plans on the driver from manifest JSON
  (zero Spark jobs); each data file becomes one input partition read
  on an EXECUTOR via pyarrow, yielded as Arrow RecordBatches (the
  vectorized path — no per-row Python). Schema is pinned at stream
  start; later files project/pad onto it (evolution-tolerant).

Register once per session with :func:`register_cdf_source`, then::

    spark.readStream.format("snapshot_cdf")
        .option("path", table_root)
        .option("starting_version", -1)   # -1 = from the first commit
        .load()

To maintain a downstream table from the stream, write each micro-batch
through the table's one write path, fenced on the batch id::

    changes.writeStream.foreachBatch(
        lambda df, e: apply_changes(downstream, df, "chain", epoch=e)
    ).option("checkpointLocation", ckpt).start()

``apply_changes`` gathers each micro-batch to the driver, so one batch
must fit in ``spark.driver.maxResultSize`` (an over-limit batch fails
before publishing). A trigger takes every commit up to the head as
one micro-batch, so do not replay a large table from
``starting_version`` -1: seed the downstream table with
``ChangeLogTailer.bootstrap_from_state`` (the upstream's
``read_raw()``) and follow from the head.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

_CHANGE_COL = "_commit_version"


def _read_pointer(root: str) -> int:
    try:
        with open(os.path.join(root, "_meta", "VERSION")) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return -1


def _read_manifest(root: str, version: int) -> dict | None:
    path = os.path.join(root, "_meta", f"snapshot-{version:012d}.json")
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None  # expired or a version number used by another ref


@dataclass
class _FilePartition(InputPartition):
    path: str
    version: int
    schema_json: str


class SnapshotCdfStreamReader(DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict):
        self.root = options["path"]
        self.schema = schema
        start = int(options.get("starting_version", _read_pointer(self.root)))
        self._start = start

    # ------------------------------------------------------------ offsets

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        return {"version": _read_pointer(self.root)}

    # ---------------------------------------------------------- planning

    def partitions(self, start: dict, end: dict):
        out: list[_FilePartition] = []
        schema_json = json.dumps(self.schema.jsonValue())
        # walk END's parent chain down to START rather than the numeric
        # version range: version numbers are allocated globally across
        # refs, so an abandoned WAP/audit branch's staged commits can sit
        # inside (start, end] numerically without ever being part of
        # main's history — the ancestry walk emits exactly the commits
        # the stream's ref actually advanced through (promoted WAP
        # commits are ancestors after fast_forward, so they ARE walked).
        chain: list[tuple[int, dict]] = []
        v = end["version"]
        while v > start["version"] and v >= 0:
            snap = _read_manifest(self.root, v)
            if snap is None:
                raise RuntimeError(
                    f"cdf range ({start['version']}, {end['version']}] "
                    f"needs expired snapshot v{v} — the range is no "
                    "longer replayable; restart from a retained "
                    "starting_version or bootstrap from the table state"
                )
            chain.append((v, snap))
            v = int(snap.get("parent_version", v - 1))
        for v, snap in reversed(chain):
            lin = snap.get("lineage") or {}
            if lin.get("op") != "cdc_apply":
                continue  # maintenance rewrite — no new logical changes
            if lin.get("compacted_buckets"):
                raise RuntimeError(
                    f"cdf planning for commit v{v}: it compacted buckets "
                    "in the same commit as its delta, so its new files "
                    "mix this batch's rows with rewritten ones — restart "
                    "the stream from a later starting_version, or seed "
                    "the downstream table with "
                    "ChangeLogTailer.bootstrap_from_state"
                )
            added = snap.get("added_files")
            if added is None:
                # legacy manifest (pre added_files): infer the commit's
                # new files by diffing against the parent. If the parent
                # snapshot was expired, the diff would re-emit every
                # carried-forward file as a duplicate change burst —
                # fail the batch explicitly instead.
                parent = _read_manifest(
                    self.root, snap.get("parent_version", v - 1)
                )
                if parent is None and snap.get("parent_version", v - 1) >= 0:
                    raise RuntimeError(
                        f"cdf planning for commit v{v} needs parent "
                        f"manifest v{snap.get('parent_version')} which was "
                        "expired — restart the stream from a retained "
                        "version (starting_version) or re-commit with a "
                        "manifest that records added_files"
                    )
                prev_files = (
                    {f for fs in parent["bucket_files"].values() for f in fs}
                    if parent
                    else set()
                )
                added = {
                    b: [f for f in files if f not in prev_files]
                    for b, files in snap["bucket_files"].items()
                }
            # one partition per file: a multi-bucket (L0) file is listed
            # under every bucket it holds
            for rel in dict.fromkeys(f for fs in added.values() for f in fs):
                out.append(
                    _FilePartition(
                        path=os.path.join(self.root, rel),
                        version=v,
                        schema_json=schema_json,
                    )
                )
        return out or [
            # Spark requires >= 1 partition per batch; an empty marker
            # partition yields no rows
            _FilePartition(path="", version=-1, schema_json=schema_json)
        ]

    # ------------------------------------------------------------ reading

    def read(self, partition: _FilePartition):
        if not partition.path:
            return iter(())
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        declared = T.StructType.fromJson(json.loads(partition.schema_json))
        tbl = pq.read_table(partition.path)
        n = tbl.num_rows
        cols = []
        for f in declared.fields:
            at = to_arrow_type(f.dataType)
            if f.name == _CHANGE_COL:
                cols.append(pa.array([partition.version] * n, type=at))
            elif f.name in tbl.column_names:
                cols.append(tbl[f.name].combine_chunks().cast(at))
            else:
                cols.append(pa.nulls(n, type=at))  # pre-evolution file
        batch = pa.record_batch(cols, names=[f.name for f in declared.fields])
        return iter([batch])

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint; manifests are immutable


class SnapshotCdfDataSource(DataSource):
    """``format("snapshot_cdf")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_cdf"

    def schema(self) -> T.StructType:
        root = self.options["path"]
        head = _read_pointer(root)
        snap = _read_manifest(root, head)
        if snap is None or not snap.get("schema"):
            raise ValueError(f"no snapshot with a schema at {root}")
        base = T.StructType.fromJson(snap["schema"])
        return T.StructType(
            [*base.fields, T.StructField(_CHANGE_COL, T.LongType(), False)]
        )

    def streamReader(self, schema: T.StructType) -> SnapshotCdfStreamReader:
        return SnapshotCdfStreamReader(schema, dict(self.options))


def register_cdf_source(spark: SparkSession) -> None:
    spark.dataSource.register(SnapshotCdfDataSource)
