"""Span tracing around the package's layer entry points.

The wrappers are installed at run time from this file only — the
package carries no tracing code. Each span records its name, start,
end, parent span and the run id; spans stay in memory until the run
ends and are then written out as JSON lines. Wrappers check
``Tracer.active`` on every call, so one process can measure a window
untraced and then the same workload traced (the difference between the
two is the tracing overhead).
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------- spans

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @property
    def active(self) -> bool:
        return self.enabled and not getattr(self._local, "suppress", False)

    @contextmanager
    def suppressed(self):
        """Record nothing from this thread inside the block (for the
        benchmark's own bookkeeping calls into the package)."""
        self._local.suppress = True
        try:
            yield
        finally:
            self._local.suppress = False

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "parent": stack[-1]["id"] if stack else None,
            "name": name,
            "run": self.run_id,
            "start": time.perf_counter(),
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` (function, method, classmethod or
        staticmethod) with a span-recording wrapper. ``on_result(rec,
        args, kwargs, result)`` may annotate the span; it runs after the
        span has ended, so its own work is not timed."""
        raw = inspect.getattr_static(owner, attr)
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(rec, args, kwargs, out)
            return out

        setattr(owner, attr, kind(wrapper) if kind else wrapper)
        self._patches.append((owner, attr, raw))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec, default=str) + "\n")

    # ---------------------------------------------------------- queries

    def find(
        self, name: str, since: float = float("-inf"), until: float = float("inf")
    ) -> list[dict]:
        """Spans called ``name`` that started in ``[since, until]``."""
        return [s for s in self.spans if s["name"] == name and since <= s["start"] <= until]

    def ancestors(self, rec: dict) -> list[str]:
        by_id = {s["id"]: s for s in self.spans}
        out = []
        p = rec["parent"]
        while p is not None and p in by_id:
            out.append(by_id[p]["name"])
            p = by_id[p]["parent"]
        return out

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it covered by child spans."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def install(tracer: Tracer) -> None:
    """Wrap every layer entry point the benchmark reports on."""
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    from ethereum_etl_airflow_spark import session
    from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable
    from ethereum_etl_airflow_spark.sources import feed
    from ethereum_etl_airflow_spark.streaming import tailer

    def on_apply(rec, args, kwargs, lineage):
        if lineage is not None:
            rec["events_in"] = lineage["events_in"]
            rec["rows_out"] = lineage["rows_out"]
            rec["compacted_buckets"] = lineage["compacted_buckets"]
            rec["max_seq"] = lineage["offset_range"][1]

    def on_snapshot(rec, args, kwargs, snap):
        table = args[0]
        v = snap.get("version", -1)
        path = os.path.join(table._meta, f"snapshot-{v:012d}.json")
        rec["bytes"] = os.path.getsize(path) if v >= 0 else 0

    def on_parquet_write(rec, args, kwargs, _):
        path = args[1] if len(args) > 1 else kwargs.get("path")
        rec["bytes"] = _dir_bytes(path) if path else 0

    def on_plan_lookup(rec, args, kwargs, rels):
        rec["files"] = len(rels)

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(feed, "write_feed", "sources.feed.write_feed")
    tracer.wrap(tailer.ChangeLogTailer, "replay_batches", "streaming.tailer.replay_batches")
    tracer.wrap(tailer.ChangeLogTailer, "run_stream", "streaming.tailer.run_stream")
    tracer.wrap(tailer, "apply_changes", "operators.cdc.apply_changes", on_apply)
    tracer.wrap(SnapshotTable, "commit", "sinks.snapshot_table.commit")
    tracer.wrap(SnapshotTable, "snapshot", "sinks.snapshot_table.snapshot", on_snapshot)
    tracer.wrap(SnapshotTable, "read", "sinks.snapshot_table.read")
    tracer.wrap(SnapshotTable, "read_raw", "sinks.snapshot_table.read_raw")
    tracer.wrap(SnapshotTable, "lookup", "sinks.snapshot_table.lookup")
    tracer.wrap(SnapshotTable, "plan_lookup", "sinks.snapshot_table.plan_lookup", on_plan_lookup)
    tracer.wrap(SnapshotTable, "read_seq_range", "sinks.snapshot_table.read_seq_range")
    tracer.wrap(DataFrameWriter, "parquet", "pyspark.DataFrameWriter.parquet", on_parquet_write)

    original = pq.ParquetFile

    class TracedParquetFile(original):
        """Times the footer read done when a ParquetFile opens."""

        def __init__(self, *args, **kwargs):
            with tracer.span("pyarrow.ParquetFile"):
                super().__init__(*args, **kwargs)

    pq.ParquetFile = TracedParquetFile
    tracer._patches.append((pq, "ParquetFile", original))
