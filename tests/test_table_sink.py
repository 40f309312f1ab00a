"""Streaming into a SnapshotTable through foreachBatch -> apply_changes.

Every micro-batch reaches the table through its one write path
(apply_changes -> SnapshotTable.commit), fenced on the micro-batch id:
a stream converges to the upstream LWW state, deletes arrive as
tombstones, idle drains commit nothing, and a replayed batchId adds no
version.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ethereum_etl_airflow_spark.operators.cdc import apply_changes
from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable
from ethereum_etl_airflow_spark.streaming.cdf_source import register_cdf_source

SCHEMA1 = "op string, doc_id string, seq long, eid long, val string"


def _changes(spark, rows):
    return spark.createDataFrame(rows, SCHEMA1)


def _table(spark, tmp_path, name):
    return SnapshotTable(spark, str(tmp_path / name), num_buckets=4)


def _state(t):
    return {r["doc_id"]: (r["eid"], r["val"]) for r in t.read().collect()}


def test_replayed_epoch_is_fenced(spark, tmp_path):
    feed = str(tmp_path / "feed")
    rows = [("U", str(i), i, i, f"v{i}") for i in range(8)]
    _changes(spark, rows).write.parquet(feed + "/b1")
    t = _table(spark, tmp_path, "t")

    def body(df, epoch):
        return apply_changes(t, df, "sink", epoch=epoch)

    def drain():
        df = spark.readStream.schema(SCHEMA1).parquet(feed + "/*")
        q = (
            df.writeStream.foreachBatch(body)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert t.last_epoch("sink") == 0
    assert _state(t) == {str(i): (i, f"v{i}") for i in range(8)}
    v = t.current_version()
    # a crashed-and-recovered batch re-invokes the body with the SAME id:
    # the fence skips it without a new version, even when its rows differ
    assert body(_changes(spark, [("U", "3", 999, 3, "replayed")]), 0) is None
    assert t.current_version() == v
    assert _state(t)["3"] == (3, "v3")
    # a restart on the same checkpoint replays nothing
    drain()
    assert t.current_version() == v


def test_native_stream_chain_cdf_to_sink(spark, tmp_path):
    """table A --readStream(snapshot_cdf)--> transform
    --foreachBatch(apply_changes)--> table B: the reference's live-view
    chain through the public streaming APIs and the table's one write
    path; B converges to A's LWW state, and idle drains add no version."""
    a = _table(spark, tmp_path, "a")
    b = _table(spark, tmp_path, "b")
    rows = [("U", str(i), i, i, f"v{i}") for i in range(20)]
    apply_changes(a, _changes(spark, rows[:10]), "st", epoch=0)
    apply_changes(a, _changes(spark, rows[10:]), "st", epoch=1)

    def drain():
        register_cdf_source(spark)
        changes = (
            spark.readStream.format("snapshot_cdf")
            .option("path", a.root)
            .option("starting_version", -1)
            .load()
            .select(
                F.when(F.col("_tombstone"), "D").otherwise("U").alias("op"),
                "doc_id",
                F.col("_seq").alias("seq"),
                "eid",
                "val",
            )
        )
        q = (
            changes.writeStream.foreachBatch(
                lambda df, epoch: apply_changes(b, df, "chain", epoch=epoch)
            )
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert _state(b) == _state(a)
    # more upstream changes incl. a delete; the chain catches up
    apply_changes(
        a,
        _changes(spark, [("U", "3", 103, 3, "v3b"), ("D", "5", 105, None, None)]),
        "st",
        epoch=2,
    )
    drain()
    assert _state(b) == _state(a)
    assert "5" not in _state(b) and _state(b)["3"][1] == "v3b"
    # an idle drain commits nothing
    v = b.current_version()
    drain()
    assert b.current_version() == v
