"""Dead-letter quarantine: malformed change events split out of the
CDC stream into a side table instead of poisoning the batch.

The reference pipeline gets this implicitly from BigQuery load-job
semantics — a malformed row fails the whole load task and an operator
retries after a human fixes the export (``build_load_dag.py``'s
load/enrich task chain simply halts). A streaming CDC engine cannot
halt the world on one bad event: the standard design (Debezium's
dead-letter topic, Delta Live Tables' expectations, Kafka Connect's
``errors.deadletterqueue``) routes rows that violate the contract to a
quarantine sink WITH the reason and full original payload, and lets
the healthy stream proceed.

Validation is a single ``CASE``-chain column expression (JVM-side,
whole-stage codegen — no UDF), so the split costs one predicate per
row, not a second pass. The rule set derives from the batch schema:

  null_key            doc_id IS NULL
  bad_seq             seq IS NULL OR seq < 0
  bad_op              op NOT IN ('I','U','D')
  null_payload        op <> 'D' AND tokens IS NULL          (tokens col)
  token_null_element  op <> 'D' AND any token IS NULL        (tokens col)
  length_mismatch     n_tok <> size(tokens)                  (n_tok col)

First matching rule wins (documented, deterministic). The token rules
enforce the north rule's per-row invariant — token-array equality is
only meaningful if no malformed array ever reaches the table.

Exactly-once across BOTH tables without a cross-table transaction:
the quarantine rows are re-keyed by a synthetic unique doc_id
(reason:key:seq) and applied through the SAME ``apply_changes`` core
with the same (app_id, epoch), so each table fences independently. A
crash between the two commits replays the batch: the already-committed
table skips (fenced), the other commits — both land exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethereum_etl_airflow_spark.operators.cdc import apply_changes
from ethereum_etl_airflow_spark.queries import register
from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable

ERROR_COL = "_error"

VALID_OPS = ("I", "U", "D")


def validation_rules(columns: list[str]) -> list[tuple[str, F.Column]]:
    """Ordered (reason, predicate) rules derived from the batch schema."""
    rules: list[tuple[str, F.Column]] = [
        ("null_key", F.col("doc_id").isNull()),
        ("bad_seq", F.col("seq").isNull() | (F.col("seq") < 0)),
        ("bad_op", ~F.col("op").isin(*VALID_OPS)),
    ]
    not_delete = F.col("op") != "D"
    if "tokens" in columns:
        rules.append(("null_payload", not_delete & F.col("tokens").isNull()))
        rules.append(
            (
                "token_null_element",
                not_delete & F.exists("tokens", lambda x: x.isNull()),
            )
        )
    if "tokens" in columns and "n_tok" in columns:
        rules.append(
            ("length_mismatch", F.col("n_tok") != F.size(F.col("tokens")))
        )
    return rules


def validate_changes(
    batch_df: DataFrame, rules: list[tuple[str, F.Column]] | None = None
) -> DataFrame:
    """Stamp ``_error`` (NULL = valid; else first violated rule's name).

    One CASE chain — stays inside whole-stage codegen; a NULL predicate
    result (e.g. a rule probing a NULL array) skips that rule on both
    Spark and ANSI-SQL semantics, so oracles reproduce the split.
    """
    if rules is None:
        rules = validation_rules(batch_df.columns)
    err = F.lit(None).cast("string")
    for reason, pred in reversed(rules):
        err = F.when(pred, F.lit(reason)).otherwise(err)
    return batch_df.withColumn(ERROR_COL, err)


def split_quarantine(
    batch_df: DataFrame, rules: list[tuple[str, F.Column]] | None = None
) -> tuple[DataFrame, DataFrame]:
    """(good, bad) — good has ``_error`` dropped, bad keeps it."""
    v = validate_changes(batch_df, rules)
    return (
        v.where(F.col(ERROR_COL).isNull()).drop(ERROR_COL),
        v.where(F.col(ERROR_COL).isNotNull()),
    )


def quarantine_changes(bad: DataFrame, epoch: int) -> DataFrame:
    """Reshape rejected rows into insert events for the quarantine table.

    The synthetic key (reason:key:seq:epoch-less) is unique per rejected
    event, so replays of the same feed converge to the same quarantine
    content (idempotent at event level, like the main fold).
    """
    payload = [c for c in bad.columns if c not in ("op", "seq", ERROR_COL)]
    return bad.select(
        F.lit("I").alias("op"),
        F.greatest(F.coalesce(F.col("seq"), F.lit(0)), F.lit(0))
        .cast("long")
        .alias("seq"),
        F.concat_ws(
            ":",
            F.col(ERROR_COL),
            F.coalesce(F.col("doc_id").cast("string"), F.lit("<null>")),
            F.coalesce(F.col("seq").cast("string"), F.lit("<null>")),
        ).alias("doc_id"),
        F.col(ERROR_COL).alias("reason"),
        F.col("op").alias("src_op"),
        F.col("doc_id").cast("string").alias("src_doc_id"),
        F.col("seq").alias("src_seq"),
        *[F.col(c).cast("string").alias(f"src_{c}") for c in payload if c != "doc_id"],
    )


def apply_changes_quarantined(
    table: SnapshotTable,
    quarantine: SnapshotTable,
    batch_df: DataFrame,
    app_id: str,
    epoch: int,
    **apply_kwargs,
) -> dict:
    """Apply one batch with dead-lettering; returns combined lineage.

    Both commits carry the same (app_id, epoch) fence — a replay after
    a crash between them completes only the missing side (exactly-once
    per table, convergent for the pair).
    """
    good, bad = split_quarantine(batch_df)
    main_lineage = apply_changes(table, good, app_id, epoch, **apply_kwargs)
    try:
        q_lineage = apply_changes(
            quarantine, quarantine_changes(bad, epoch), app_id, epoch
        )
    except Exception as e:
        # the quarantine's compaction failed after its delta commit: the
        # lineage a caller records for the epoch is the main table's
        if getattr(e, "lineage", None) is not None:
            e.lineage = main_lineage
        raise
    return {
        "main": main_lineage,
        "quarantine": q_lineage,
        "quarantined_events": (q_lineage or {}).get("events_in"),
    }


# ---------------------------------------------------------------------------
# Oracle-checked query: the validation split over a change feed with
# deterministically planted malformations (one plant family per prime
# modulus so the reasons don't all collapse onto the same rows).
# ---------------------------------------------------------------------------

_PLANT_DOC = """\
change feed derived from events with planted malformations:
  event_id %% 97 == 0 -> doc_id NULL         (null_key)
  event_id %% 89 == 0 -> seq negated          (bad_seq)
  event_id %% 83 == 0 -> op 'X'               (bad_op)
  event_id %% 79 == 0 -> tokens NULL          (null_payload)
  event_id %% 73 == 0 -> tokens[1] NULL       (token_null_element)
  event_id %% 71 == 0 -> n_tok wrong          (length_mismatch)
first matching rule wins; output = per-reason event/key counts"""


@register(
    "cdc_quarantine_split",
    oracle="""
    WITH feed AS (
        SELECT
            CASE WHEN event_id % 97 = 0 THEN NULL
                 ELSE CAST(user_id AS VARCHAR) END AS doc_id,
            CASE WHEN event_id % 89 = 0 THEN -event_id
                 ELSE event_id END AS seq,
            CASE WHEN event_id % 83 = 0 THEN 'X'
                 WHEN event_type = 'error' THEN 'D'
                 WHEN event_type = 'signup' THEN 'I'
                 ELSE 'U' END AS op,
            CASE WHEN event_type = 'error' OR event_id % 79 = 0 THEN NULL
                 WHEN event_id % 73 = 0 THEN
                     [CAST(event_id % 50 AS INT), NULL,
                      CAST(user_id % 50 AS INT)]
                 ELSE
                     [CAST(event_id % 50 AS INT),
                      CAST((event_id + user_id) % 50 AS INT),
                      CAST(user_id % 50 AS INT)]
                 END AS tokens,
            CASE WHEN event_type = 'error' OR event_id % 79 = 0 THEN NULL
                 WHEN event_id % 71 = 0 THEN 99
                 ELSE 3 END AS n_tok
        FROM events
    ),
    validated AS (
        SELECT *,
            CASE WHEN doc_id IS NULL THEN 'null_key'
                 WHEN seq IS NULL OR seq < 0 THEN 'bad_seq'
                 WHEN op NOT IN ('I','U','D') THEN 'bad_op'
                 WHEN op <> 'D' AND tokens IS NULL THEN 'null_payload'
                 WHEN op <> 'D'
                      AND len(list_filter(tokens, x -> x IS NULL)) > 0
                      THEN 'token_null_element'
                 WHEN n_tok <> len(tokens) THEN 'length_mismatch'
                 END AS _error
        FROM feed
    )
    SELECT COALESCE(_error, '_ok') AS reason,
           COUNT(*) AS n_events,
           COUNT(DISTINCT doc_id) AS n_keys,
           MIN(seq) AS min_seq,
           MAX(seq) AS max_seq
    FROM validated
    GROUP BY COALESCE(_error, '_ok')
    """,
    doc="dead-letter validation split (CDC quarantine): " + _PLANT_DOC,
    survey_ref="build_load_dag.py load-task failure semantics generalized to "
    "row-level dead-lettering (Debezium/Kafka-Connect DLQ pattern)",
)
def cdc_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    eid, uid = F.col("event_id"), F.col("user_id")
    tok = lambda c: c.cast("int")  # noqa: E731
    tokens_ok = F.array(
        tok(eid % 50), tok((eid + uid) % 50), tok(uid % 50)
    )
    tokens_nullelt = F.array(
        tok(eid % 50), F.lit(None).cast("int"), tok(uid % 50)
    )
    is_tok_null = (F.col("event_type") == "error") | (eid % 79 == 0)
    feed = ev.select(
        F.when(eid % 97 == 0, F.lit(None)).otherwise(uid.cast("string")).alias("doc_id"),
        F.when(eid % 89 == 0, -eid).otherwise(eid).alias("seq"),
        F.when(eid % 83 == 0, F.lit("X"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .when(F.col("event_type") == "signup", F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.when(is_tok_null, F.lit(None))
        .when(eid % 73 == 0, tokens_nullelt)
        .otherwise(tokens_ok)
        .alias("tokens"),
        F.when(is_tok_null, F.lit(None))
        .when(eid % 71 == 0, F.lit(99))
        .otherwise(F.lit(3))
        .cast("int")
        .alias("n_tok"),
    )
    return (
        validate_changes(feed)
        .groupBy(F.coalesce(F.col(ERROR_COL), F.lit("_ok")).alias("reason"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("doc_id").alias("n_keys"),
            F.min("seq").alias("min_seq"),
            F.max("seq").alias("max_seq"),
        )
    )
