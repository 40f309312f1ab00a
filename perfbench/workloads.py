"""The benchmark's workloads, driven through the package's public
entry points only: ``session.get_spark``, ``sources.feed``,
``streaming.tailer.ChangeLogTailer`` and ``sinks.snapshot_table``.

Every workload has the same life cycle:

* ``setup()``    — build the inputs from the seed (timed as set-up);
* ``warmup()``   — untimed work that lets lazy initialisation finish;
* ``measure()``  — one measured window of about ``window_s`` seconds,
  returning a ``Window`` of per-operation latencies and the work done;
* ``check()``    — outside any timed region, compare the program's
  outputs with an oracle; returns (attempted, failed) operations.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import subprocess
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import curation
from harness import log, median, state_hash, tree_cpu_s
from tracing import duration

from ethereum_etl_airflow_spark.sources import feed
from ethereum_etl_airflow_spark.streaming.tailer import ChangeLogTailer


@dataclass
class Window:
    """One measured window: per-operation latencies (s), the work done
    (events applied) over ``busy_s`` seconds, and the CPU time the
    process tree spent on it."""

    latencies: list[float] = field(default_factory=list)
    #: latencies of the operations that did not compact the table
    steady: list[float] = field(default_factory=list)
    work: float = 0.0
    busy_s: float = 0.0
    cpu_s: float = 0.0
    start: float = 0.0  # perf_counter at window start
    end: float = 0.0  # perf_counter when the window's last operation ended
    records: list[dict] = field(default_factory=list)

    @property
    def throughput(self) -> float:
        return self.work / self.busy_s if self.busy_s else 0.0

    @property
    def typical(self) -> list[float]:
        """The latencies of operations that did not compact, or all of
        them when every one did."""
        return self.steady or self.latencies

    @property
    def cpu_per_event_us(self) -> float:
        return 1e6 * self.cpu_s / self.work if self.work else 0.0


def _gate_cols(df, evolved: bool):
    from pyspark.sql import functions as F

    cols = [
        F.col("doc_id"),
        F.col("_seq").cast("long").alias("_seq"),
        F.col("tokens"),
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("source"),
    ]
    if evolved:
        cols.append(F.col("lang"))
    return df.select(*cols)


def _keys(df) -> set[tuple[str, int]]:
    return {(r["doc_id"], r["_seq"]) for r in df.select("doc_id", "_seq").collect()}


class Oracle:
    """The state a table must hold after every event of a feed through
    batch ``upto``: ``sources.feed.lww_expected_state``, a
    from-first-principles LWW fold, kept as an order-insensitive
    xxhash64 sum plus row count (and, with ``keys``, the surviving
    ``(doc_id, _seq)`` pairs). Built before the measured windows, so
    the check after them only reads the table."""

    def __init__(self, spark, cfg: feed.FeedConfig, upto: int, keys: bool = False):
        self.evolved = cfg.evolve_at_batch is not None and upto >= cfg.evolve_at_batch
        want = _gate_cols(feed.lww_expected_state(spark, cfg, upto), self.evolved)
        self.hash = state_hash(want, want.columns)
        self.keys = _keys(want) if keys else set()

    def matches(self, table) -> bool:
        """``table.read()`` equals the oracle state."""
        got = _gate_cols(table.read(), self.evolved)
        return state_hash(got, got.columns) == self.hash


class Workload:
    name = ""

    def __init__(
        self,
        spark,
        seed: int,
        work: str,
        tracer=None,
        scale: float = 1.0,
        windows: int = 1,
        seconds: float = 10.0,
    ):
        """``windows`` measured windows share ``seconds`` after the
        set-up; ``scale`` shrinks the inputs (the self-test uses it)."""
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.scale = scale
        self.windows = windows
        self.window_s = seconds / windows
        self.fixture_s = 0.0  # set-up time of the inputs, see write_batches

    def _n(self, base: int) -> int:
        return max(500, int(base * self.scale))

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def quiet(self):
        """Keeps the benchmark's own bookkeeping calls into the package
        out of the trace."""
        return self.tracer.suppressed() if self.tracer else nullcontext()

    def write_batches(self, cfg: feed.FeedConfig, feed_dir: str) -> None:
        """Write the feed one batch at a time. The batches of a feed
        are alike, so the fixture's set-up time is taken as the batch
        count times the median batch write: one stall on a shared host
        does not move it."""
        times = []
        for b in range(cfg.n_batches):
            t = time.perf_counter()
            feed.write_feed(self.spark, cfg, feed_dir, batches=range(b, b + 1))
            times.append(time.perf_counter() - t)
        self.fixture_s += cfg.n_batches * median(times)

    def setup(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        pass

    def measure(self) -> Window:
        raise NotImplementedError

    def check(self) -> tuple[int, int]:
        raise NotImplementedError

    def table(self):
        """The table whose file layout the per-layer report describes."""
        raise NotImplementedError

    def close(self) -> None:
        pass

    def layer_extras(self, window: Window) -> dict[str, float]:
        return {}

    def prepare_reads(self) -> None:
        pass

    def read_probe(self) -> float | None:
        """Traced runs only: read operations after the windows; returns
        their start, or None when the workload has none."""
        return None

    def report(self, window: Window) -> dict:
        """Workload-specific metrics printed on the detail line."""
        return {}


class BulkBackfill(Workload):
    """Closed loop, one writer: replay a pre-written feed of a few large
    batches into an empty table, again and again for the window."""

    name = "bulk_backfill"
    EVENTS_PER_BATCH = 120_000
    N_BATCHES = 3
    #: untimed replays after the oracle, before the window. The JIT keeps
    #: lowering the apply path's CPU time for minutes, so the warm-up is a
    #: fixed amount of work: every run measures from the same point
    WARMUP_REPLAYS = 2

    def setup(self) -> None:
        ev = self._n(self.EVENTS_PER_BATCH)
        self.cfg = feed.FeedConfig(
            n_docs=ev,
            events_per_batch=ev,
            n_batches=self.N_BATCHES,
            seed=self.seed,
            dup_tail=ev // 50,
            evolve_at_batch=self.N_BATCHES - 1,  # last batch widens the schema
        )
        self.feed_dir = os.path.join(self.work, "feed")
        self.write_batches(self.cfg, self.feed_dir)
        self.expected_events = ev * self.N_BATCHES + self.cfg.dup_tail * (self.N_BATCHES - 1)
        self.replays: list[list[dict]] = []  # lineage of each complete replay
        self._tables = 0
        self._last = None

    def _fresh_tailer(self) -> ChangeLogTailer:
        self._tables += 1
        root = os.path.join(self.work, f"table-{self._tables}")
        return ChangeLogTailer(self.spark, self.feed_dir, root, app_id="bulk")

    def warmup(self) -> None:
        """The oracle, then ``WARMUP_REPLAYS`` complete replays (so every
        batch kind has run)."""
        self.oracle = Oracle(self.spark, self.cfg, self.N_BATCHES - 1)
        replays = []
        for _ in range(self.WARMUP_REPLAYS):
            t = time.perf_counter()
            tailer = self._fresh_tailer()
            tailer.replay_batches()
            shutil.rmtree(tailer.table.root)
            replays.append(time.perf_counter() - t)
        log("warm-up replays (s): " + " ".join(f"{x:.2f}" for x in replays))

    def measure(self) -> Window:
        """Complete replays, batch by batch into fresh tables, until the
        window has passed: every window holds whole replays, so the mix
        of batch kinds behind the median stays the same."""
        cpu = tree_cpu_s()
        w = Window(start=time.perf_counter())
        deadline = w.start + self.window_s
        while time.perf_counter() < deadline:
            tailer = self._fresh_tailer()
            lineage = []
            for b in range(self.N_BATCHES):
                with self.span("op.replay_batch"):
                    t = time.perf_counter()
                    out = tailer.replay_batches(start=b, end=b)
                    dt = time.perf_counter() - t
                lineage += out
                w.latencies.append(dt)
                w.busy_s += dt
                w.work += sum(li["events_in"] for li in out)
            self.replays.append(lineage)
            if self._last is not None:  # keep one table for check()
                shutil.rmtree(self._last.table.root)
            self._last = tailer
        w.end = time.perf_counter()
        w.cpu_s = tree_cpu_s() - cpu
        w.steady = w.latencies
        return w

    def check(self) -> tuple[int, int]:
        """Every replay applied every event and laid out the same rows
        per bucket; the last one's state equals the oracle."""
        attempted = self.N_BATCHES * len(self.replays)
        failed = 0
        reference = [li["bucket_rows_written"] for li in self.replays[-1]]
        for lineage in self.replays:
            events = sum(li["events_in"] for li in lineage)
            layout = [li["bucket_rows_written"] for li in lineage]
            if events != self.expected_events or layout != reference:
                failed += self.N_BATCHES
        if not self.oracle.matches(self._last.table):
            failed = attempted
        return attempted, failed

    def table(self):
        return self._last.table

    def report(self, w: Window) -> dict:
        return {
            "ingest_eps": (w.throughput, "1/s"),
            "batch_apply_p50_s": (median(w.latencies), "s"),
            "batch_applies": (len(w.latencies), "count"),
        }

    def single_core_eps(self) -> float:
        """Same feed replayed at ``local[1]`` in a child process pinned
        to one CPU (the single-threaded baseline)."""
        script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "single_core.py")
        out = subprocess.run(
            [sys.executable, script, self.feed_dir],
            capture_output=True,
            text=True,
            timeout=120,
            check=True,
        )
        return float(out.stdout.strip().splitlines()[-1])


class FollowTrickle(Workload):
    """Open loop: the benchmark's main thread, as publisher, renames
    pre-written small batch directories into the followed feed
    directory on a fixed schedule; the tailer follows them with a
    processing-time trigger on the stream's own thread.

    Each batch lands in its own commit, and every commit adds one file
    to every bucket, so threshold compaction fires on every
    ``compact_files - 1``-th commit after the first. Warm-up commits
    are chosen so that this is the last batch of the first window: its
    freshness shows the compaction pause while the median stays that
    of ordinary batches, and no batch queues behind the pause."""

    name = "follow_trickle"
    EVENTS_PER_BATCH = 10_000
    PERIOD_S = 2.5
    #: staged batches replayed into a scratch table before the followed
    #: table's warm-up commits: they take the apply path past the JIT's
    #: steepest part, so a run's freshness depends less on how fast the
    #: JIT got there
    SCRATCH_BATCHES = 6
    TRIGGER = "100 milliseconds"
    DRAIN_S = 60.0
    LOOKUP_KEYS = 20

    def setup(self) -> None:
        ev = self._n(self.EVENTS_PER_BATCH)
        self.feed_dir = os.path.join(self.work, "feed")
        self.staging = os.path.join(self.work, "staging")
        self.tailer = ChangeLogTailer(
            self.spark, self.feed_dir, os.path.join(self.work, "table"), app_id="follow"
        )
        period = self.tailer.table.compact_files - 1
        self.per_window = min(period, max(1, math.ceil(self.window_s / self.PERIOD_S)))
        self.n_warm = period - self.per_window
        # after the windows, the read probe (traced runs) refills every
        # bucket to one file under the compaction threshold; the first
        # window's last commit leaves one file per bucket
        files = 1 + (self.windows - 1) * self.per_window % period
        self.n_fill = period - files if self.tracer is not None else 0
        self.cfg = feed.FeedConfig(
            n_docs=4 * ev,
            events_per_batch=ev,
            n_batches=1 + self.n_warm + self.windows * self.per_window + self.n_fill,
            seed=self.seed,
            dup_tail=ev // 50,
        )
        self.write_batches(self.cfg, self.staging)
        t = time.perf_counter()
        os.makedirs(self.feed_dir)
        self._publish(0)  # the stream takes its schema from the first batch
        self.query = self.tailer.run_stream(
            os.path.join(self.work, "checkpoint"),
            available_now=False,
            processing_time=self.TRIGGER,
        )
        if not self._wait_committed(0, time.time() + 120):
            raise RuntimeError("follow_trickle: first batch not committed")
        self.fixture_s += time.perf_counter() - t
        self.published = 1
        self.batches: list[dict] = []  # one record per measured batch
        self.reads: dict[str, list[float]] = {}
        self.queries = (0, 0)  # (attempted, failed) of the curation pass

    def _publish(self, k: int) -> None:
        name = f"batch-{k:06d}"
        os.rename(os.path.join(self.staging, name), os.path.join(self.feed_dir, name))

    def _max_seq(self, k: int) -> int:
        return (k + 1) * self.cfg.events_per_batch - 1

    def _covering(self, k: int) -> dict | None:
        """Lineage of the first apply whose offset range covers batch
        ``k``'s highest seq."""
        for li in list(self.tailer.applied):
            hi = li["offset_range"][1]
            if hi is not None and hi >= self._max_seq(k):
                return li
        return None

    def _committed_at(self, k: int) -> float | None:
        """committed_at of the first snapshot that holds batch ``k``."""
        li = self._covering(k)
        if li is None:
            return None
        with self.quiet():
            return self.tailer.table.snapshot(li["snapshot_version"])["committed_at"]

    def _wait_committed(self, k: int, deadline: float) -> bool:
        while time.time() < deadline:
            if self._committed_at(k) is not None:
                return True
            if self.query.exception() is not None:
                raise RuntimeError(f"follow_trickle: stream failed: {self.query.exception()}")
            time.sleep(0.05)
        return False

    def _publish_closed_loop(self, n: int) -> None:
        """Publish ``n`` batches, each once the one before is committed."""
        for _ in range(n):
            self._publish(self.published)
            self._wait_committed(self.published, time.time() + self.DRAIN_S)
            self.published += 1

    def warmup(self) -> None:
        """The oracle of the whole feed (every batch is published by the
        check), a replay of staged batches into a scratch table, then
        closed-loop commits that place compaction."""
        self.oracle = Oracle(
            self.spark, self.cfg, self.cfg.n_batches - 1, keys=self.tracer is not None
        )
        scratch = ChangeLogTailer(
            self.spark, self.staging, os.path.join(self.work, "scratch"), app_id="warm"
        )
        scratch.replay_batches(start=1, end=min(self.SCRATCH_BATCHES, self.cfg.n_batches - 1))
        shutil.rmtree(scratch.table.root)
        self._publish_closed_loop(self.n_warm)

    def measure(self) -> Window:
        """Publish the window's batches on schedule, then wait for the
        last one to commit. Throughput is the program's own rate:
        events applied over the summed wall time of the window's
        applies, not over the publisher's schedule."""
        ks = list(range(self.published, self.published + self.per_window))
        self.published += len(ks)
        first_apply = len(self.tailer.applied)
        wall_offset = time.time() - time.perf_counter()
        cpu = tree_cpu_s()
        w = Window(start=time.perf_counter())
        t0 = w.start + 0.1
        w.records = [{"k": k, "due": t0 + i * self.PERIOD_S} for i, k in enumerate(ks)]
        for rec in w.records:
            time.sleep(max(0.0, rec["due"] - time.perf_counter()))
            self._publish(rec["k"])
            rec["late"] = time.perf_counter() - rec["due"]
        self._wait_committed(ks[-1], time.time() + self.DRAIN_S)
        w.end = time.perf_counter()
        w.cpu_s = tree_cpu_s() - cpu
        for rec in w.records:
            rec["due_wall"] = rec["due"] + wall_offset
            c = self._committed_at(rec["k"])
            rec["freshness"] = None if c is None else c - rec["due_wall"]
            rec["compacted"] = c is not None and self._covering(rec["k"])["compacted_buckets"] > 0
        done = [r for r in w.records if r["freshness"] is not None]
        w.latencies = [r["freshness"] for r in done]
        w.steady = [r["freshness"] for r in done if not r["compacted"]]
        applies = self.tailer.applied[first_apply:]
        log("applies (s): " + " ".join(f"{li['wall_sec']:.2f}" for li in self.tailer.applied))
        w.work = sum(li["events_in"] for li in applies)
        w.busy_s = sum(li["wall_sec"] for li in applies)
        self.batches += w.records
        return w

    def prepare_reads(self) -> None:
        """Refill every bucket to one file under the compaction
        threshold, then stop following."""
        self._publish_closed_loop(self.n_fill)
        self.close()

    def read_probe(self) -> float:
        """The read side on the followed table, with the most files per
        bucket and with tombstones: a projected full scan of ``tokens``
        (the training read), three lookups of hot and cold keys, and a
        ``_seq``-range scan over the last two batches, then the
        curation-query pass (``perfbench/curation.py``). Closed loop,
        one client; returns its start."""
        table = self.tailer.table
        rng = random.Random(self.seed)
        n_hot = max(1, int(self.cfg.n_docs * self.cfg.hot_doc_fraction))
        half = self.LOOKUP_KEYS // 2
        self.lookups = [
            sorted(
                {f"doc{rng.randrange(n_hot):09d}" for _ in range(half)}
                | {f"doc{rng.randrange(self.cfg.n_docs):09d}" for _ in range(half)}
            )
            for _ in range(3)
        ]
        hi_seq = self._max_seq(self.published - 1)
        self.ranges = [(hi_seq - 2 * self.cfg.events_per_batch, hi_seq)]
        self.reads = {"scan": [], "lookup": [], "range": []}

        def scan():
            table.read(columns=["tokens"]).write.format("noop").mode("overwrite").save()

        start = time.perf_counter()
        self._timed_read("scan", scan)
        self.lookup_rows = [
            self._timed_read("lookup", lambda: _keys(table.lookup(keys))) for keys in self.lookups
        ]
        self.range_rows = [
            self._timed_read("range", lambda: _keys(table.read_seq_range(lo, hi)))
            for lo, hi in self.ranges
        ]
        self.queries = curation.run(self.spark, self.span)
        return start

    def _timed_read(self, kind: str, op):
        """Run one read operation (planning included) as a span."""
        with self.span(f"op.{kind}"):
            t = time.perf_counter()
            out = op()
            self.reads[kind].append(time.perf_counter() - t)
        return out

    def close(self) -> None:
        if getattr(self, "query", None) is not None:
            self.query.stop()
            self.query.awaitTermination()
            self.query = None

    def _reads_failed(self) -> int:
        """Lookups must return exactly the oracle's rows for their keys;
        a ``_seq`` range must hold every surviving row whose ``_seq``
        falls in it and nothing outside it."""
        want = self.oracle.keys
        failed = 0
        for keys, got in zip(self.lookups, self.lookup_rows):
            failed += got != {(d, s) for d, s in want if d in keys}
        for (lo, hi), got in zip(self.ranges, self.range_rows):
            in_range = {(d, s) for d, s in want if lo <= s <= hi}
            failed += not in_range <= got or any(not lo <= s <= hi for _, s in got)
        return failed

    def check(self) -> tuple[int, int]:
        """Every measured batch committed before the drain deadline, and
        the final state (and every read the probe made) equals the
        oracle."""
        self.close()
        n_reads = sum(len(v) for v in self.reads.values())
        attempted = len(self.batches) + n_reads + self.queries[0]
        if not self.oracle.matches(self.tailer.table):
            return attempted, attempted
        failed = sum(1 for r in self.batches if r["freshness"] is None)
        failed += self.queries[1]
        return attempted, failed + (self._reads_failed() if n_reads else 0)

    def table(self):
        return self.tailer.table

    def report(self, w: Window) -> dict:
        out = {
            "freshness_p50_s": (median(w.latencies), "s"),
            "freshness_max_s": (max(w.latencies, default=0.0), "s"),
            "freshness_samples": (len(w.latencies), "count"),
            "publisher_late_s": (max(r["late"] for r in w.records), "s"),
            "applied_eps": (w.throughput, "1/s"),
        }
        if self.reads:
            out["scan_p50_s"] = (median(self.reads["scan"]), "s")
            out["lookup_p50_ms"] = (1000 * median(self.reads["lookup"]), "ms")
            out["range_p50_s"] = (median(self.reads["range"]), "s")
        return out

    def layer_extras(self, window: Window) -> dict[str, float]:
        """Due time -> start of the apply that first covers each batch."""
        applies = sorted(
            (
                s
                for s in self.tracer.find("operators.cdc.apply_changes", window.start, window.end)
                if "max_seq" in s
            ),
            key=lambda s: s["start"],
        )
        waits = []
        for rec in window.records:
            first = next((s for s in applies if s["max_seq"] >= self._max_seq(rec["k"])), None)
            if first is not None:
                waits.append(first["start"] - rec["due"])
        return {
            "streaming.tailer.trigger_wait_s": median(waits),
            "publisher_late_s": max(r["late"] for r in window.records),
        }


WORKLOADS = {cls.name: cls for cls in (BulkBackfill, FollowTrickle)}

#: every per-layer metric with its unit; a layer a workload does not
#: exercise reports 0
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.feed.write_s": "s",
    "streaming.tailer.trigger_wait_s": "s",
    "streaming.tailer.microbatches": "count",
    "streaming.tailer.events_per_microbatch": "count",
    "operators.cdc.apply_s": "s",
    "operators.cdc.apply_self_s": "s",
    "operators.cdc.compacted_buckets": "count",
    "operators.cdc.compaction_apply_s": "s",
    "operators.cdc.rows_out_per_event": "ratio",
    "sinks.snapshot_table.commit_s": "s",
    "sinks.snapshot_table.write_job_s": "s",
    "sinks.snapshot_table.bytes_written_per_event": "B",
    "sinks.snapshot_table.footer_reads": "count",
    "sinks.snapshot_table.footer_read_s": "s",
    "sinks.snapshot_table.manifest_reads": "count",
    "sinks.snapshot_table.manifest_read_s": "s",
    "sinks.snapshot_table.manifest_bytes": "B",
    "sinks.snapshot_table.live_files": "count",
    "sinks.snapshot_table.max_files_per_bucket": "count",
    "sinks.snapshot_table.read_s": "s",
    "sinks.snapshot_table.lookup_plan_s": "s",
    "sinks.snapshot_table.lookup_files_scanned": "count",
    "trace_overhead_ratio": "ratio",
    "throughput_per_s": "1/s",
    "cpu_per_event_us": "us",
    "ingest_eps_1core": "1/s",
    "scaling_eff": "ratio",
    "publisher_late_s": "s",
    "peak_rss_mb": "MB",
    **curation.layer_units(),
}


def layer_metrics(tracer, window: Window, workload: Workload, reads_since=None) -> dict[str, float]:
    """Per-layer numbers from the spans of the traced ``window`` (the
    tracer records nothing outside it, except during set-up and the
    read probe, which starts at ``reads_since``)."""
    since, until = window.start, window.end

    def find(name):
        return tracer.find(name, since, until)

    applies = [s for s in find("operators.cdc.apply_changes") if "events_in" in s]
    stream_applies = [
        s for s in applies if "streaming.tailer.replay_batches" not in tracer.ancestors(s)
    ]
    events = sum(s["events_in"] for s in applies)
    commits = find("sinks.snapshot_table.commit")
    commit_ids = {s["id"] for s in commits}
    writes = [s for s in find("pyspark.DataFrameWriter.parquet") if s["parent"] in commit_ids]
    write_per_commit: dict[int, float] = {}
    for s in writes:
        write_per_commit[s["parent"]] = write_per_commit.get(s["parent"], 0.0) + duration(s)
    compacting = [s for s in applies if s["compacted_buckets"]]
    footers = find("pyarrow.ParquetFile")
    manifests = find("sinks.snapshot_table.snapshot")
    file_counts = list(workload.table().file_counts().values())
    out = {
        "session.start_s": sum(duration(s) for s in tracer.find("session.get_spark")),
        "sources.feed.write_s": sum(duration(s) for s in tracer.find("sources.feed.write_feed")),
        "streaming.tailer.microbatches": float(len(stream_applies)),
        "streaming.tailer.events_per_microbatch": (
            sum(s["events_in"] for s in stream_applies) / len(stream_applies)
            if stream_applies
            else 0.0
        ),
        "operators.cdc.apply_s": median([duration(s) for s in applies]),
        "operators.cdc.apply_self_s": median([tracer.self_time(s) for s in applies]),
        "operators.cdc.compacted_buckets": float(sum(s["compacted_buckets"] for s in applies)),
        "operators.cdc.compaction_apply_s": median([duration(s) for s in compacting]),
        "operators.cdc.rows_out_per_event": (
            sum(s["rows_out"] for s in applies) / events if events else 0.0
        ),
        "sinks.snapshot_table.commit_s": median([duration(s) for s in commits]),
        "sinks.snapshot_table.write_job_s": median(list(write_per_commit.values())),
        "sinks.snapshot_table.bytes_written_per_event": (
            sum(s["bytes"] for s in writes) / events if events else 0.0
        ),
        "sinks.snapshot_table.footer_reads": float(len(footers)),
        "sinks.snapshot_table.footer_read_s": sum(duration(s) for s in footers),
        "sinks.snapshot_table.manifest_reads": float(len(manifests)),
        "sinks.snapshot_table.manifest_read_s": sum(duration(s) for s in manifests),
        "sinks.snapshot_table.manifest_bytes": float(sum(s["bytes"] for s in manifests)),
        "sinks.snapshot_table.live_files": float(sum(file_counts)),
        "sinks.snapshot_table.max_files_per_bucket": float(max(file_counts, default=0)),
    }
    if reads_since is not None:
        scans = tracer.find("op.scan", reads_since)
        plans = tracer.find("sinks.snapshot_table.plan_lookup", reads_since)
        out["sinks.snapshot_table.read_s"] = median([duration(s) for s in scans])
        out["sinks.snapshot_table.lookup_plan_s"] = median([duration(s) for s in plans])
        out["sinks.snapshot_table.lookup_files_scanned"] = median([s["files"] for s in plans])
        for s in tracer.find("op.query", reads_since):
            out[s["layer"]] = out.get(s["layer"], 0.0) + duration(s)
            out["queries.total_s"] = out.get("queries.total_s", 0.0) + duration(s)
    out.update(workload.layer_extras(window))
    return out
