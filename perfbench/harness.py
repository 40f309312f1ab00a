"""Process-level plumbing shared by the benchmark entry points.

Everything a run touches lives under ``<checkout>/.perfbench_work``:
table and feed data, Spark's scratch space, the JVM's temp files and
the trace files. The Spark session is sized for a 4-core host
(``local[4]``, shuffle partitions at 2x cores, a 3 GB driver heap).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
CORES = 4
DRIVER_MEM = "3g"


def require_package() -> None:
    """Fail fast (before any JVM starts) when the checkout lacks the
    package under test."""
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    try:
        import ethereum_etl_airflow_spark.session  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: package under test not importable: {e}")


def make_workdir(name: str) -> Path:
    """A fresh per-run directory; also points every temp-file consumer
    (Python, Spark local dirs) inside it."""
    work = WORK_ROOT / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "spark-local").mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM (the launcher's too) would otherwise keep a perf-data
    # file, native libraries and artifact dirs under /tmp, outside the
    # checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return work


def spark_conf(work: Path) -> dict[str, str]:
    return {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }


def start_session(get_spark, work: Path, cores: int = CORES):
    """Start the package's session at ``local[cores]``; the first Spark
    job is part of the start (it is what the first user query pays)."""
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf=spark_conf(work),
    )
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait for it and every process
    it started (Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    children = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    wait_gone(children)


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.time() + timeout
    live = list(pids)
    while live and time.time() < deadline:
        live = [p for p in live if os.path.exists(f"/proc/{p}")]
        if live:
            time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, 9)
        except OSError:
            pass


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled every ``interval`` s."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _sample(self) -> int:
        total = 0
        for p in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it (the JVM and its Python workers), children they
    have reaped included. Unlike wall time it does not grow while the
    hypervisor gives this machine's CPUs to other guests."""
    ticks = 0
    for p in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host's CPUs so far, from
    ``/proc/stat``. Steal is time the hypervisor gave this machine's
    CPUs to other guests; on a shared host the end-to-end metrics
    follow it, so it is printed next to them to tell a slowed-down
    host from a slower program."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float] | None:
    """Highest percentile with at least ten samples beyond it, as
    ``(percentile, value)``; None when there are too few samples."""
    n = len(values)
    if n < 20:
        return None
    pct = math.floor(100 * (n - 10) / n)
    ordered = sorted(values)
    return pct, float(ordered[min(n - 1, math.ceil(pct / 100 * n) - 1)])


def state_hash(df, cols):
    """Order-insensitive content hash of a DataFrame: sum of per-row
    xxhash64 plus the row count."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    row = df.agg(F.sum(h).alias("h"), F.count("*").alias("n")).collect()[0]
    return int(row["h"] or 0), int(row["n"])


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def emit(result: dict) -> None:
    """The contract line: last line of stdout, one JSON object."""
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
