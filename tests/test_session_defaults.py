"""Session defaults. The driver-heap default fits the host: half of
MemTotal, whole GiB, between 1g and 32g; hosts without /proc/meminfo
get the 32g ceiling. Streaming checkpoints are written by Spark's
FileSystem-based checkpoint manager unless ``extra_conf`` says
otherwise. ``get_spark`` on a live session applies only what its caller
passed."""

import pytest

from ethereum_etl_airflow_spark.session import (
    CHECKPOINT_FILE_MANAGER,
    DEFAULT_SHUFFLE_PARTITIONS,
    default_driver_memory,
    get_spark,
)

CHECKPOINT_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _meminfo(tmp_path, kib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_half_of_host_memory_in_whole_gib(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 16456384)) == "7g"  # 15.7 GiB host
    assert default_driver_memory(_meminfo(tmp_path, 64 * 1024**2)) == "32g"


def test_capped_and_floored(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 512 * 1024**2)) == "32g"
    assert default_driver_memory(_meminfo(tmp_path, 1024**2)) == "1g"


def test_no_meminfo_falls_back_to_ceiling(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "32g"


def _checkpoint_manager(spark, path) -> str:
    """Class of the manager Spark's streaming engine builds for a
    checkpoint at ``path`` under the session's current conf."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    return (
        manager.create(
            jvm.org.apache.hadoop.fs.Path(str(path)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
        .getClass()
        .getName()
    )


@pytest.fixture
def conf_restored(spark):
    """The shared session, with every conf put back as it was after the
    test (``get_spark`` on a live session applies the caller's
    ``shuffle_partitions`` and ``extra_conf`` to it)."""
    before = dict(spark.conf.getAll)
    yield spark
    for k, v in dict(spark.conf.getAll).items():
        if k not in before:
            spark.conf.unset(k)
        elif v != before[k]:
            spark.conf.set(k, before[k])
    assert dict(spark.conf.getAll) == before


def test_checkpoints_use_the_filesystem_manager(conf_restored, tmp_path):
    spark = conf_restored
    assert spark.conf.get(CHECKPOINT_KEY) == CHECKPOINT_FILE_MANAGER
    # the class name resolves on the installed Spark, and the streaming
    # engine builds that manager for a checkpoint directory
    assert _checkpoint_manager(spark, tmp_path / "cp") == CHECKPOINT_FILE_MANAGER


def test_extra_conf_overrides_the_checkpoint_manager(conf_restored, tmp_path):
    spark = conf_restored
    sc = spark.sparkContext
    same = get_spark(
        app_name=sc.appName,
        master=sc.master,
        shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
        extra_conf={CHECKPOINT_KEY: FILE_CONTEXT_MANAGER},
    )
    assert same is spark
    assert spark.conf.get(CHECKPOINT_KEY) == FILE_CONTEXT_MANAGER
    assert _checkpoint_manager(spark, tmp_path / "cp") == FILE_CONTEXT_MANAGER


def test_live_session_keeps_its_conf(conf_restored):
    """A bare ``get_spark()`` leaves a live session's conf as it is,
    not reset to the defaults (shuffle partitions, codec); the caller's
    ``shuffle_partitions`` and ``extra_conf`` still apply."""
    spark = conf_restored
    spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS + 3))
    spark.conf.set("spark.sql.parquet.compression.codec", "snappy")
    before = dict(spark.conf.getAll)
    assert get_spark() is spark
    assert dict(spark.conf.getAll) == before
    tz = {"spark.sql.session.timeZone": "Asia/Tokyo"}
    assert get_spark(shuffle_partitions=3, extra_conf=tz) is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
    assert spark.conf.get("spark.sql.parquet.compression.codec") == "snappy"
