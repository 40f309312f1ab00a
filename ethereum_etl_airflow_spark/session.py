"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what the engine would set cluster-side:
AQE on (runtime re-plan + skew-join), Arrow on (vectorized pandas UDF
transfer), shuffle partitions sized to cores instead of the 200
default, UTC session timezone so results compare bit-for-bit against
the DuckDB oracle.

Streaming checkpoints are written by Spark's
``FileSystemBasedCheckpointFileManager`` instead of its default
``FileContextBasedCheckpointFileManager``. pip-installed PySpark ships
no ``libhadoop``, so Hadoop's local file system cannot call
``NativeIO`` and forks a process for file metadata: ``chmod`` for each
file it creates, and, through the FileContext API, ``readlink`` for
each status check in a checkpoint rename. A Java Flight Recorder run of
a followed feed counted about 32 forks per data trigger on the stream
thread (100 ``chmod`` and 384 ``readlink`` over 15 triggers). The
FileSystem-based manager writes a temp file and renames it with
``File.renameTo``, which forks nothing: ``readlink`` went 384 -> 0,
and a 35-trigger drain of a feed forked 29.5 processes per trigger
instead of 78.5. On a followed feed (10k-event batches, 100 ms trigger,
``local[4]``) the medians of Spark's ``latestOffset`` / ``walCommit`` /
``commitOffsets`` went from about 40 / 35 / 35 ms to 15 / 9 / 9 ms.
Checksums stay: ``fs.file.impl`` is left alone, so every checkpoint
file keeps its ``.crc`` sidecar. See ``streaming.tailer.run_stream``
for what the manager changes about exactly-once.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

#: the checkpoint manager every streaming query of the session uses
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

#: ceiling of the derived driver heap, in GiB
MAX_DRIVER_MEM_GB = 32


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap that fits the host: half of ``MemTotal`` in whole
    GiB, at least 1g and at most ``MAX_DRIVER_MEM_GB``. In local mode
    the driver JVM holds every executor too, and the Python workers and
    the OS need the other half. Hosts without ``/proc/meminfo`` get the
    ceiling."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{max(1, min(MAX_DRIVER_MEM_GB, kib // 2 // 1024**2))}g"
    except OSError:
        pass
    return f"{MAX_DRIVER_MEM_GB}g"


def get_spark(
    app_name: str = "ethereum_etl_airflow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back
    to ``local[*]``) so the bench harness can pin core counts for the
    N-vs-4N scaling measurement.

    A live session is returned with only what the caller passed
    applied to it (``shuffle_partitions`` when given, and
    ``extra_conf``): PySpark's ``getOrCreate`` re-applies every builder
    option to a running session, so the defaults would reset whatever
    the session was started or since set with.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    elif master == "inherit":
        # spark-submit path: cluster manager / --master comes from the
        # submit command line, the builder must not override it
        master = None
    # make the package importable in Python UDF workers (local-mode
    # `--py-files` equivalent); must be set before the JVM launches
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in os.environ.get("PYTHONPATH", ""):
        os.environ["PYTHONPATH"] = repo + os.pathsep + os.environ.get("PYTHONPATH", "")
    builder = SparkSession.builder
    if SparkSession.getActiveSession() is not None:
        if shuffle_partitions:
            builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        return builder.config(map=extra_conf or {}).getOrCreate()
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # zstd: ~2x smaller files than snappy for token-array payloads —
        # at 100 TB the scan-IO saving dominates the extra encode CPU
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # no libhadoop in a pip install: the default FileContext manager
        # forks readlink per status check and chmod per file, about 32
        # processes per trigger; this one renames with File.renameTo.
        # The .crc checksums stay (fs.file.impl untouched). The class
        # sits in ...streaming.checkpointing from Spark 4.1 on.
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    )
    spark = builder.config(map=extra_conf or {}).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register every testdata parquet as a temp view; return dict of DataFrames."""
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(n)
            out[n] = df
    return out
