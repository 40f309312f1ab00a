"""Deterministic ordered change-event feed (the reference's export stage).

The reference exports date-partitioned change batches from a chain
(``build_export_dag.py:87-90``) with a total order key per row
(``raw/schemas/logs.json``: block_number+log_index). The engine's
equivalent is an ordered feed of ``(op, doc_id, seq, ts, batch_id,
tokens, n_tok, source)`` events (FIXTURES.md §1).

Generation is fully distributed: ``spark.range`` plus deterministic
column expressions (xxhash64-based pseudo-randomness) — no driver-side
loops, no Python UDFs — so the same generator that makes 10k test
events makes 10^10 bench events with the same per-event values.

Feed properties (all seeded, FIXTURES.md §1 generator requirements):
  * skewed keys: ~10% of events hit a hot set of ~1% of doc_ids
  * monotone seq: global event index, strictly increasing per doc
  * duplicates: each batch re-emits the tail of the previous batch
    (replay tolerance — same (doc_id, seq, payload))
  * out-of-order arrival within a batch (shuffled file order)
  * deletes (~5%) with null payload; reinserts happen naturally
  * schema evolution: batches >= evolve_at_batch carry an added
    ``lang`` column and a widened ``n_tok`` (int -> long), mirroring
    docs/eip_1559_migration.md + adjust_schema_for_kovan
    (build_load_dag.py:351-376)
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethereum_etl_airflow_spark.config import SOURCES, VOCAB_SIZE


@dataclass
class FeedConfig:
    n_docs: int = 10_000
    events_per_batch: int = 5_000
    n_batches: int = 4
    seed: int = 42
    dup_tail: int = 200  # events of batch k-1 re-emitted in batch k
    hot_doc_fraction: float = 0.01  # 1% of docs are hot
    hot_event_fraction: float = 0.10  # >=10% of events hit hot docs
    delete_fraction: float = 0.05
    max_tokens: int = 64
    evolve_at_batch: int | None = None  # batch idx where schema evolves
    tokens_null_for_delete: bool = True


def _h(seed: int, *cols):
    """Deterministic 64-bit hash column from seed + columns."""
    return F.xxhash64(F.lit(seed), *cols)


def _doc_id_col(cfg: FeedConfig, idx):
    """Map event index -> doc_id with a hot-key head (skew)."""
    n_hot = max(1, int(cfg.n_docs * cfg.hot_doc_fraction))
    is_hot = F.pmod(_h(cfg.seed + 1, idx), F.lit(100)) < int(cfg.hot_event_fraction * 100)
    hot_doc = F.pmod(_h(cfg.seed + 2, idx), F.lit(n_hot))
    cold_doc = F.pmod(_h(cfg.seed + 3, idx), F.lit(cfg.n_docs))
    doc_num = F.when(is_hot, hot_doc).otherwise(cold_doc)
    return F.format_string("doc%09d", doc_num)


def _event_columns(cfg: FeedConfig, batch_id: int, evolved: bool):
    """Column expressions keyed purely on the global event index ``id``.

    The same ``id`` always produces the same event, so re-emitting an
    index range yields byte-identical duplicates (replay semantics).
    """
    idx = F.col("id")
    doc_id = _doc_id_col(cfg, idx)
    is_delete = F.pmod(_h(cfg.seed + 4, idx), F.lit(1000)) < int(cfg.delete_fraction * 1000)
    n_tok = (1 + F.pmod(_h(cfg.seed + 5, idx), F.lit(cfg.max_tokens))).cast(
        "bigint" if evolved else "int"
    )
    tokens = F.transform(
        F.sequence(F.lit(1), n_tok.cast("int")),
        lambda i: F.pmod(_h(cfg.seed + 6, idx, i), F.lit(VOCAB_SIZE)).cast("int"),
    )
    source = F.element_at(
        F.array(*[F.lit(s) for s in SOURCES]),
        (1 + F.pmod(_h(cfg.seed + 7, idx), F.lit(len(SOURCES)))).cast("int"),
    )
    cols = [
        F.when(is_delete, F.lit("D"))
        .when(F.pmod(_h(cfg.seed + 8, idx), F.lit(2)) == 0, F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
        doc_id.alias("doc_id"),
        idx.alias("seq"),
        F.timestamp_seconds(F.lit(1_700_000_000) + idx).cast("timestamp_ntz").alias("ts"),
        F.lit(batch_id).cast("bigint").alias("batch_id"),
        F.when(is_delete, F.lit(None)).otherwise(tokens).alias("tokens"),
        F.when(is_delete, F.lit(None)).otherwise(n_tok).alias("n_tok"),
        F.when(is_delete, F.lit(None)).otherwise(source).alias("source"),
    ]
    if evolved:
        lang = F.element_at(
            F.array(F.lit("en"), F.lit("es"), F.lit("zh"), F.lit("de")),
            (1 + F.pmod(_h(cfg.seed + 9, idx), F.lit(4))).cast("int"),
        )
        cols.append(F.when(is_delete, F.lit(None)).otherwise(lang).alias("lang"))
    return cols


def generate_batch(spark: SparkSession, cfg: FeedConfig, batch_id: int) -> DataFrame:
    """One change batch: its own index range + a duplicated tail of the
    previous batch (same events re-emitted — the feed's at-least-once)."""
    evolved = cfg.evolve_at_batch is not None and batch_id >= cfg.evolve_at_batch
    start = batch_id * cfg.events_per_batch
    end = start + cfg.events_per_batch
    parallelism = spark.sparkContext.defaultParallelism
    out = spark.range(start, end, 1, parallelism).select(
        *_event_columns(cfg, batch_id, evolved)
    )
    if batch_id > 0 and cfg.dup_tail > 0:
        # at-least-once: re-emit the previous batch's tail BYTE-IDENTICAL —
        # including its original schema state (a duplicate of a
        # pre-evolution event must not retroactively gain new columns)
        evolved_tail = cfg.evolve_at_batch is not None and (batch_id - 1) >= cfg.evolve_at_batch
        dup = spark.range(max(0, start - cfg.dup_tail), start, 1, 1).select(
            *_event_columns(cfg, batch_id - 1, evolved_tail)
        )
        out = out.unionByName(dup, allowMissingColumns=True)
    return out


def lww_expected_state(spark: SparkSession, cfg: FeedConfig, upto_batch: int) -> DataFrame:
    """Oracle: last-writer-wins fold of ALL events through ``upto_batch``
    computed from first principles (no dedup machinery) — highest seq
    wins per doc, deletes drop the doc. Used by replay-equivalence tests."""
    from pyspark.sql import Window as W

    batches = [generate_batch(spark, cfg, b) for b in range(upto_batch + 1)]
    all_events = batches[0]
    for b in batches[1:]:
        all_events = all_events.unionByName(b, allowMissingColumns=True)
    w = W.partitionBy("doc_id").orderBy(F.desc("seq"))
    latest = all_events.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    cols = ["doc_id", "tokens", "n_tok", "source"]
    if cfg.evolve_at_batch is not None and upto_batch >= cfg.evolve_at_batch:
        cols.append("lang")
    return latest.where(F.col("op") != "D").select(*cols, F.col("seq").alias("_seq"))


def write_feed(
    spark: SparkSession,
    cfg: FeedConfig,
    feed_dir: str,
    batches: range | None = None,
) -> list[str]:
    """Materialize batches as parquet dirs ``feed_dir/batch-N/`` —
    the file-stream layout the tailer consumes (the reference's
    ``export/{table}/block_date={ds}/`` layout, build_export_dag.py:87-90).
    Deliberately NOT Hive ``batch_id=N`` syntax: the in-file batch_id
    column (int64) would clash with partition-column inference."""
    paths = []
    for b in batches or range(cfg.n_batches):
        p = os.path.join(feed_dir, f"batch-{b:06d}")
        generate_batch(spark, cfg, b).write.mode("overwrite").parquet(p)
        paths.append(p)
    return paths
