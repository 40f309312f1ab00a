"""Incrementally-maintained token vocabulary over the CDC
tokenized-sequence table.

``operators/rollup.py`` maintains bounded-cardinality per-group stats
(docs, tokens per source) by rewriting its tiny stats table each
refresh.  The VOCABULARY is the unbounded twin: per-token occurrence
and document counts over the live corpus.  On raw web text the token
type count grows with the corpus, so the stats table here is a real
keyed table and each refresh must touch only what changed:

    delta(token) = (occurrences, containing-docs) in NEW versions of
                   changed docs  -  the same in OLD versions

Both measures are additive, so maintenance is: snapshot-diff the
target (only commit-touched buckets), explode tokens on BOTH sides
with opposite signs, sum — then merge the per-token deltas into the
vocab table by rewriting ONLY the vocab buckets that received a
delta.  At 10^10 docs a commit touching 10^5 docs costs
O(changed docs * tokens/doc + touched vocab buckets), never a corpus
rescan.

Exactly-once: the vocab table fences on the target snapshot version
(same epoch-fence discipline as ``IncrementalRollup`` / the CDC
apply), so crash-replays of ``refresh()`` are no-ops.  If retention
expired the diff base, refresh falls back to a full recompute —
always correct, just unpruned.

Reference parity note: the reference rebuilds derived aggregate
tables per load day (``build_partition_dag.py:157-220`` runs the full
SQL again); this operator is the incremental-view-maintenance
replacement for the token/vocab family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable, bucket_expr

#: payload column holding the token array in the target table
TOKENS_COL = "tokens"


def _token_contrib(df: DataFrame, sign: int) -> DataFrame:
    """(token, d_occ, d_docs) contributions of the LIVE rows of one
    snapshot side, with the given sign.  Per-doc grouping happens
    BEFORE the global sum so d_docs counts documents, not occurrences;
    both aggregates combine map-side."""
    live = df.where(
        ~F.coalesce(F.col("_tombstone"), F.lit(False)) & F.col(TOKENS_COL).isNotNull()
    )
    return (
        live.select("doc_id", F.explode(TOKENS_COL).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("occ"))
        .select(
            "token",
            (F.lit(sign) * F.col("occ")).alias("d_occ"),
            F.lit(sign).cast("long").alias("d_docs"),
        )
    )


def token_delta(table: SnapshotTable, from_version: int, to_version: int) -> DataFrame:
    """Per-token (d_occ, d_docs) between two snapshots of the target,
    scanning only commit-touched buckets (same pruning discipline as
    ``rollup.rollup_delta``; falls back to all live buckets when an
    intermediate snapshot was expired)."""
    touched: set[int] = set()
    try:
        for v in range(from_version + 1, to_version + 1):
            touched.update(table.snapshot(v).get("commit_buckets", []))
        buckets = sorted(touched)
    except FileNotFoundError:
        buckets = [int(b) for b in table.snapshot(to_version)["bucket_files"]]
    new = table.read_raw(buckets, version=to_version)
    contrib = _token_contrib(new, +1)
    if from_version >= 0:
        old = table.read_raw(buckets, version=from_version)
        if TOKENS_COL in old.columns:
            contrib = contrib.unionByName(_token_contrib(old, -1))
    return (
        contrib.groupBy("token")
        .agg(F.sum("d_occ").alias("d_occ"), F.sum("d_docs").alias("d_docs"))
        .where((F.col("d_occ") != 0) | (F.col("d_docs") != 0))
    )


class TokenVocabRollup:
    """Maintains ``token -> (n_occ, n_docs)`` for a CDC target table
    carrying a ``tokens array<string>`` payload column.

    Unlike ``IncrementalRollup`` (bounded groups, full rewrite), the
    vocab table is keyed storage: ``refresh()`` rewrites only the
    vocab buckets a delta lands in, so refresh cost tracks the size of
    the CHANGE, not the vocabulary."""

    def __init__(self, target: SnapshotTable, vocab_root: str, num_buckets: int = 16):
        self.target = target
        self.vocab = SnapshotTable(
            target.spark, vocab_root, num_buckets=num_buckets, compact_files=4
        )
        self._app = "vocab_rollup"

    def last_target_version(self) -> int:
        return self.vocab.last_epoch(self._app)

    def _base_available(self, version: int) -> bool:
        try:
            self.target.snapshot(version)
            return True
        except FileNotFoundError:
            return False

    def _full_counts(self, to_v: int) -> DataFrame:
        df = self.target.read(version=to_v)
        return (
            df.where(F.col(TOKENS_COL).isNotNull())
            .select("doc_id", F.explode(TOKENS_COL).alias("token"))
            .groupBy("token")
            .agg(
                F.count(F.lit(1)).alias("n_occ"),
                F.count_distinct("doc_id").alias("n_docs"),
            )
        )

    def refresh(self) -> dict | None:
        """Advance the vocab to the target's current version; returns
        commit info or None when already current / fenced."""
        from_v = self.last_target_version()
        to_v = self.target.current_version()
        if to_v <= from_v:
            return None
        nb = self.vocab.num_buckets
        if from_v >= 0 and not self._base_available(from_v):
            merged = self._full_counts(to_v)
            affected = set(range(nb))
        else:
            delta = token_delta(self.target, from_v, to_v).withColumn(
                "_vb", bucket_expr(F.col("token"), nb)
            )
            # bounded driver list: at most num_buckets entries
            affected = {
                r["_vb"] for r in delta.select("_vb").distinct().collect()
            }
            if not affected:
                # nothing token-visible changed; still fence the version
                affected = set()
                merged = self.target.spark.createDataFrame(
                    [], "token string, n_occ long, n_docs long"
                )
            else:
                cur = self._read_counts_raw(sorted(affected))
                merged = (
                    delta.select("token", "d_occ", "d_docs")
                    .join(cur, "token", "full_outer")
                    .select(
                        "token",
                        (
                            F.coalesce(F.col("n_occ"), F.lit(0))
                            + F.coalesce(F.col("d_occ"), F.lit(0))
                        ).alias("n_occ"),
                        (
                            F.coalesce(F.col("n_docs"), F.lit(0))
                            + F.coalesce(F.col("d_docs"), F.lit(0))
                        ).alias("n_docs"),
                    )
                    .where(F.col("n_occ") > 0)
                )
        out = merged.select(
            F.col("token").alias("doc_id"),
            F.lit(to_v).cast("long").alias("_seq"),
            F.lit(to_v).cast("long").alias("_epoch"),
            F.lit(False).alias("_tombstone"),
            "n_occ",
            "n_docs",
        ).withColumn("_bucket", bucket_expr(F.col("doc_id"), nb))
        snap = self.vocab.commit(
            out,
            replace_buckets=(set(range(nb)) if from_v < 0 else affected),
            app_id=self._app,
            epoch=to_v,
            new_schema=out.drop("_bucket").schema,
            lineage={
                "op": "vocab_refresh",
                "from_version": from_v,
                "to_version": to_v,
                "buckets_rewritten": len(affected),
            },
        )
        return {"from_version": from_v, "to_version": to_v, "vocab_version": snap["version"]}

    def _read_counts_raw(self, buckets: list[int]) -> DataFrame:
        df = self.vocab.read(buckets=buckets)
        if "n_occ" not in df.columns:
            return self.target.spark.createDataFrame(
                [], "token string, n_occ long, n_docs long"
            )
        return df.select(F.col("doc_id").alias("token"), "n_occ", "n_docs")

    def read_vocab(self) -> DataFrame:
        """Live vocabulary: (token, n_occ, n_docs)."""
        df = self.vocab.read()
        if "n_occ" not in df.columns:
            return self.target.spark.createDataFrame(
                [], "token string, n_occ long, n_docs long"
            )
        return df.where(F.col("n_occ") > 0).select(
            F.col("doc_id").alias("token"), "n_occ", "n_docs"
        )


# ---------------------------------------------------------------------------
# Oracle-checked lifecycle query: two commits (insert-all, then
# delete/retokenize a slice), two incremental refreshes; final vocab
# must equal a from-scratch recount of the final logical state.
# ---------------------------------------------------------------------------

from ethereum_etl_airflow_spark.queries import _scratch_dir, _t, register  # noqa: E402


@register(
    "vocab_rollup_incremental",
    oracle="""
    WITH final AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN string_split(text, ' ')[1:3]
                    ELSE string_split(text, ' ') END AS toks
        FROM documents WHERE doc_id % 7 <> 0
    ), occ AS (
        SELECT doc_id, unnest(toks) AS token FROM final
    )
    SELECT token, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
    FROM occ GROUP BY token
    """,
    doc="incrementally-maintained token vocabulary: insert-all commit, "
    "then delete (id%7=0) + retokenize (id%5=0) commit, each followed by "
    "a snapshot-diff refresh; result equals a full recount",
    survey_ref="build_partition_dag.py:157-220 derived aggregates, made "
    "incremental at token grain (north-rule tokenized-sequence table)",
)
def vocab_rollup_incremental(spark, sf_dir: str):
    from ethereum_etl_airflow_spark.operators.cdc import apply_changes

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id"),
        F.split(F.col("text"), " ").alias("toks"),
    )
    ins = docs.select(
        F.lit("U").alias("op"),
        F.col("id").cast("string").alias("doc_id"),
        F.col("id").alias("seq"),
        F.col("toks").alias(TOKENS_COL),
    )
    upd = (
        docs.where((F.col("id") % 7 == 0) | (F.col("id") % 5 == 0))
        .select(
            F.when(F.col("id") % 7 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
            F.col("id").cast("string").alias("doc_id"),
            (F.col("id") + 1_000_000).alias("seq"),
            F.when(F.col("id") % 7 == 0, F.lit(None)).otherwise(
                F.slice(F.col("toks"), 1, 3)
            ).alias(TOKENS_COL),
        )
    )
    root = _scratch_dir("vocab_rollup_")
    table = SnapshotTable(spark, f"{root}/t", num_buckets=8)
    vr = TokenVocabRollup(table, f"{root}/vocab", num_buckets=8)
    apply_changes(table, ins, "vr", epoch=0)
    vr.refresh()  # full build (from empty)
    apply_changes(table, upd, "vr", epoch=1)
    vr.refresh()  # incremental: signed token deltas only
    return vr.read_vocab().select("token", "n_occ", "n_docs")
