"""Curation-query pass of traced runs: the ``queries``/``functions.*``
layers.

A fixed list of registry queries from ``queries.get_queries()``, one
per module of the functions behind them, runs over the small tables in
``perfbench/data/sf0.001`` (a copy of the repository's sf0.001 test
tables, so the benchmark reads nothing outside its checkout). Each
query is built and materialised (``collect()``) inside an
``op.query`` span; the rows are then checked, outside the span,
against the query's DuckDB oracle with the canonical-row comparison of
``tests/oracle_harness.py``. The layer numbers are the materialisation
times per module, as ``queries.<module>_s``.
"""

from __future__ import annotations

import sys
from pathlib import Path

from harness import ROOT

DATA = Path(__file__).resolve().parent / "data" / "sf0.001"

#: one query per module, for the 33 modules whose first registered
#: query builds and runs in about a second or less at sf0.001 on a cold
#: JVM (together about 30 s on a 4-core host); the other 18 modules'
#: first queries take 1.2-11 s, or minutes in their DuckDB oracle
QUERIES = (
    "balances_ledger",
    "cdc_scd2_history",
    "asof_join_last_order",
    "events_hopping_window",
    "agg_salted_hotkeys",
    "dedup_exact",
    "multimodal_decode_stats",
    "text_quality_score",
    "bm25_search_topk",
    "corpus_pack_sequences",
    "sketch_cms_heavy_hitters",
    "suppliers_sole_late",
    "text_redact_pii",
    "vocab_drift_splits",
    "zorder_layout_key",
    "token_pmi_bigrams",
    "embedding_quantize_int8",
    "dedup_paragraph_exact",
    "domain_blocklist_filter",
    "events_funnel_conversion",
    "corpus_span_corruption",
    "dedup_edit_distance",
    "orders_shipping_priority",
    "embedding_pca_power_iter",
    "promo_revenue_share",
    "embedding_norm_outliers",
    "dsir_importance_weights",
    "quality_gopher_census",
    "join_salted_skew",
    "text_bigram_surprisal_backoff",
    "corpus_fim_transform",
    "quality_hashed_linear_score",
    "forecast_revenue_change",
)


def layer_name(module: str) -> str:
    """``ethereum_etl_airflow_spark.functions.dedup`` ->
    ``queries.functions.dedup_s``."""
    return f"queries.{module.split('.', 1)[1]}_s"


def layer_units() -> dict[str, str]:
    from ethereum_etl_airflow_spark.queries import get_queries

    fns = get_queries()
    names = {layer_name(fns[q].__module__): "s" for q in QUERIES}
    return {**names, "queries.total_s": "s"}


def run(spark, span) -> tuple[int, int]:
    """Every query of ``QUERIES`` once; returns (attempted, failed).
    ``span(name, **attrs)`` opens the tracer's span."""
    if str(ROOT / "tests") not in sys.path:
        sys.path.insert(0, str(ROOT / "tests"))
    import oracle_harness as oh

    from ethereum_etl_airflow_spark.queries import get_oracles, get_queries

    fns, oracles = get_queries(), get_oracles()
    sf = str(DATA)
    failed = 0
    for q in QUERIES:
        fn = fns[q]
        with span("op.query", query=q, layer=layer_name(fn.__module__)):
            df = fn(spark, sf)
            rows = [tuple(r) for r in df.collect()]
        con = oh.duckdb_conn(sf)
        res = con.execute(oracles[q])
        want_cols = [d[0] for d in res.description]
        want = res.fetchall()
        con.close()
        ok = sorted(df.columns) == sorted(want_cols) and oh.canonical_rows(
            df.columns, rows
        ) == oh.canonical_rows(want_cols, want)
        failed += not ok
    return len(QUERIES), failed
