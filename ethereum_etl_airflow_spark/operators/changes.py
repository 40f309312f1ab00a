"""Change-data-feed reader: the table's own downstream CDC surface.

``table_changes(table, from_v, to_v)`` computes the net row-level
changes between two retained snapshots — the Iceberg incremental-read /
Delta Change-Data-Feed analogue, and the engine's answer to the
reference's derived-table rebuild cadence (downstream consumers diff
the published table instead of re-scanning it,
``build_partition_dag.py:157-220``).

Semantics (NET changes — intermediate flips inside the range collapse,
exactly like the LWW fold itself):

* ``insert``  — key live at ``to_v`` but absent/tombstoned at ``from_v``
* ``update``  — key live at both, any payload column differing
  (null-safe struct compare)
* ``delete``  — key live at ``from_v`` but tombstoned/absent at ``to_v``

Only the buckets touched by commits in ``(from_v, to_v]`` are read
(manifest lineage), so the diff costs O(changed buckets) — the same
pruning the incremental rollup and secondary index ride. Downstream
maintenance (rollup, index) could be re-expressed over this feed; they
keep their fused forms for one-pass efficiency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable


def _live(df: DataFrame) -> DataFrame:
    if "_tombstone" not in df.columns:
        return df
    return df.where(~F.coalesce(F.col("_tombstone"), F.lit(False)))


def table_changes(
    table: SnapshotTable,
    from_version: int,
    to_version: int | None = None,
    changelog_mode: str = "net",
) -> DataFrame:
    """Net row changes between two snapshot versions, as
    ``(_change_type, doc_id, <payload columns at to_version>)`` — for
    deletes the payload carries the LAST-KNOWN (from_version) values,
    matching Delta CDF's delete image.

    ``changelog_mode="full"`` emits the Delta-CDF full contract
    instead: updates become TWO rows — ``update_preimage`` (payload at
    ``from_version``) + ``update_postimage`` (payload at ``to_v``) —
    so a downstream incremental aggregate can retract the old image
    and apply the new one. Inserts/deletes are unchanged. Same single
    full-outer join; the second update row is an inline explode of the
    joined row, never a second scan. The relational oracle-checked
    twin is ``functions/cdclog.cdc_changelog_images``."""
    if changelog_mode not in ("net", "full"):
        raise ValueError(f"unknown changelog_mode {changelog_mode!r}")
    to_v = table.current_version() if to_version is None else to_version
    if to_v <= from_version:
        raise ValueError(f"empty change range ({from_version}, {to_v}]")
    try:
        touched: set[int] = set()
        for v in range(from_version + 1, to_v + 1):
            touched.update(table.snapshot(v).get("commit_buckets", []))
        buckets: list[int] | None = sorted(touched)
        # bucket ids are layout-relative: if the range spans a rebucket
        # the two snapshots disagree on what bucket b means, so pruning
        # with one layout misreads the other -> full-scan diff (ADVICE r2)
        if from_version >= 0 and table.snapshot(from_version).get(
            "num_buckets"
        ) != table.snapshot(to_v).get("num_buckets"):
            buckets = None
    except FileNotFoundError:
        buckets = None  # expired intermediate manifest: scan all buckets
    new_all = table.read_raw(buckets, version=to_v)
    old_all = (
        table.read_raw(buckets, version=from_version) if from_version >= 0 else None
    )
    payload = [
        c for c in new_all.columns if c not in ("doc_id", "_seq", "_epoch", "_tombstone")
    ]
    new = _live(new_all).alias("n")
    if old_all is None:
        return new.select(
            F.lit("insert").alias("_change_type"), "doc_id", *payload
        )
    old = _live(old_all).alias("o")
    joined = old.join(new, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
    o_here = F.col("o.doc_id").isNotNull()
    n_here = F.col("n.doc_id").isNotNull()
    # null-safe whole-payload compare: common columns only (schema may
    # have gained columns between the versions)
    common = [c for c in payload if c in old_all.columns]
    changed = ~F.struct(*[F.col(f"o.{c}") for c in common]).eqNullSafe(
        F.struct(*[F.col(f"n.{c}") for c in common])
    ) | F.lit(len(common) != len(payload))
    kind = (
        F.when(o_here & ~n_here, F.lit("delete"))
        .when(~o_here & n_here, F.lit("insert"))
        .when(changed, F.lit("update"))
    )
    out_cols = [
        F.coalesce(F.col("n.doc_id"), F.col("o.doc_id")).alias("doc_id")
    ] + [
        (
            F.when(n_here, F.col(f"n.{c}")).otherwise(
                F.col(f"o.{c}") if c in old_all.columns else F.lit(None)
            )
        ).alias(c)
        for c in payload
    ]
    if changelog_mode == "net":
        return (
            joined.withColumn("_change_type", kind)
            .where(F.col("_change_type").isNotNull())
            .select("_change_type", *out_cols)
        )

    # full mode: updates fan out to preimage+postimage via one inline
    # explode over the joined row (no join-back, no second scan). The
    # payload struct types must agree across images: columns the old
    # schema lacks are null in the preimage.
    def image(kind_lit, side: str):
        fields = [
            (
                F.col(f"{side}.{c}")
                if (side == "n" or c in old_all.columns)
                else F.lit(None).cast(new_all.schema[c].dataType)
            ).alias(c)
            for c in payload
        ]
        return F.struct(F.lit(kind_lit).alias("_change_type"), *fields)

    is_upd = o_here & n_here & changed
    images = F.array(
        F.when(~o_here & n_here, image("insert", "n")),
        F.when(o_here & ~n_here, image("delete", "o")),
        F.when(is_upd, image("update_preimage", "o")),
        F.when(is_upd, image("update_postimage", "n")),
    )
    doc = F.coalesce(F.col("n.doc_id"), F.col("o.doc_id")).alias("doc_id")
    return (
        joined.select(
            doc, F.explode(F.filter(images, lambda x: x.isNotNull())).alias("img")
        )
        .select(F.col("img._change_type").alias("_change_type"), "doc_id",
                *[F.col(f"img.{c}").alias(c) for c in payload])
    )
