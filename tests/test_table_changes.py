"""Change-data-feed reader (table_changes): net inserts/updates/deletes
between snapshot versions."""

import pyspark.sql.functions as F
import pytest

from ethereum_etl_airflow_spark.operators.cdc import apply_changes
from ethereum_etl_airflow_spark.operators.changes import table_changes
from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable


def _batch(spark, rows):
    df = spark.createDataFrame(rows, "op string, doc_id string, seq long, val long")
    return df.withColumn("ts", F.timestamp_seconds(F.col("seq")).cast("timestamp_ntz"))


def test_net_changes_between_versions(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    apply_changes(t, _batch(spark, [("I", "a", 1, 10), ("I", "b", 2, 20), ("I", "c", 3, 30)]), "cf", 0)
    v0 = t.current_version()
    apply_changes(
        t,
        _batch(spark, [("U", "a", 4, 11), ("D", "b", 5, None), ("I", "d", 6, 40), ("U", "c", 7, 30)]),
        "cf", 1,
    )
    got = {
        r["doc_id"]: (r["_change_type"], r["val"])
        for r in table_changes(t, v0).collect()
    }
    assert got["a"] == ("update", 11)
    assert got["b"] == ("delete", 20)  # delete carries last-known image
    assert got["d"] == ("insert", 40)
    # c rewritten with the SAME value -> no net change... unless seq
    # bumps count: payload compare says identical, so it must be absent
    assert "c" not in got


def test_changes_collapse_intermediate_flips(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    apply_changes(t, _batch(spark, [("I", "a", 1, 1)]), "cf", 0)
    v0 = t.current_version()
    apply_changes(t, _batch(spark, [("D", "a", 2, None)]), "cf", 1)
    apply_changes(t, _batch(spark, [("I", "a", 3, 99)]), "cf", 2)
    got = {r["doc_id"]: (r["_change_type"], r["val"]) for r in table_changes(t, v0).collect()}
    assert got == {"a": ("update", 99)}  # net effect of delete+reinsert


def test_changes_from_minus_one_is_full_insert_feed(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    apply_changes(t, _batch(spark, [("I", "a", 1, 1), ("I", "b", 2, 2)]), "cf", 0)
    got = table_changes(t, -1).collect()
    assert {r["_change_type"] for r in got} == {"insert"} and len(got) == 2


def test_changes_across_rebucket_are_exact(spark, tmp_path):
    """ADVICE r2 (low): bucket ids are layout-relative — a diff range
    spanning a rebucket (here 8 -> 2 buckets) must fall back to a full
    scan, or unchanged rows in old-layout buckets >= the new fan-out
    get misreported as inserts."""
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=8)
    rows = [("I", f"k{i}", i + 1, i * 10) for i in range(40)]
    apply_changes(t, _batch(spark, rows), "cf", 0)
    v0 = t.current_version()
    t.rebucket(2)
    apply_changes(t, _batch(spark, [("U", "k0", 100, 999), ("I", "new", 101, 1)]), "cf", 1)
    got = {r["doc_id"]: r["_change_type"] for r in table_changes(t, v0).collect()}
    # ONLY the genuinely-changed rows appear; no phantom inserts from
    # unchanged keys that moved buckets
    assert got == {"k0": "update", "new": "insert"}


def test_empty_range_rejected(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    apply_changes(t, _batch(spark, [("I", "a", 1, 1)]), "cf", 0)
    with pytest.raises(ValueError, match="empty change range"):
        table_changes(t, t.current_version())


def test_per_bucket_lineage_rows_written(spark, tmp_path):
    """North-rule per-partition lineage: each apply records rows landed
    per bucket; their sum equals the batch's folded output rows."""
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    lineage = apply_changes(
        t, _batch(spark, [("I", f"k{i}", i + 1, i) for i in range(25)]), "pl", 0
    )
    per_bucket = lineage["bucket_rows_written"]
    assert per_bucket and sum(per_bucket.values()) == 25
    assert set(per_bucket) <= {str(b) for b in range(4)}


def test_full_changelog_emits_pre_and_post_images(spark, tmp_path):
    """changelog_mode='full': updates become update_preimage (old
    payload) + update_postimage (new payload) — the Delta-CDF full
    contract a retract/apply consumer needs; inserts/deletes keep one
    image."""
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    apply_changes(t, _batch(spark, [("I", "a", 1, 10), ("I", "b", 2, 20)]), "cf", 0)
    v0 = t.current_version()
    apply_changes(
        t, _batch(spark, [("U", "a", 3, 11), ("D", "b", 4, None), ("I", "c", 5, 30)]),
        "cf", 1,
    )
    rows = table_changes(t, v0, changelog_mode="full").collect()
    got = {(r["_change_type"], r["doc_id"]): r["val"] for r in rows}
    assert got[("update_preimage", "a")] == 10
    assert got[("update_postimage", "a")] == 11
    assert got[("delete", "b")] == 20
    assert got[("insert", "c")] == 30
    assert len(rows) == 4  # exactly one extra row per update


def test_full_changelog_preimage_nulls_new_columns(spark, tmp_path):
    """A column added between the versions is null in the preimage
    (the old snapshot never had it) but populated in the postimage."""
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=4)
    apply_changes(t, _batch(spark, [("I", "a", 1, 10)]), "cf", 0)
    v0 = t.current_version()
    wide = _batch(spark, [("U", "a", 2, 11)]).withColumn("extra", F.lit(7))
    apply_changes(t, wide, "cf", 1)
    rows = {r["_change_type"]: r for r in table_changes(t, v0, changelog_mode="full").collect()}
    assert rows["update_preimage"]["extra"] is None
    assert rows["update_postimage"]["extra"] == 7


def test_changelog_mode_rejects_unknown(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), num_buckets=2)
    apply_changes(t, _batch(spark, [("I", "a", 1, 1)]), "cf", 0)
    with pytest.raises(ValueError, match="changelog_mode"):
        table_changes(t, -1, changelog_mode="bogus")
