"""Named query registry — the driver-facing surface of the engine.

Every operator from SURVEY.md §2 (and each north-star extension) is
exposed as a named query ``(spark, sf_dir) -> DataFrame`` plus, when
SQL-expressible, an equivalent ANSI-SQL oracle string for DuckDB.
``__spark_entry__.py`` re-exports these dicts to the driver.

Column-name contract: every computed column is aliased identically in
the Spark plan and the oracle SQL (the driver sorts columns by name
before hashing values).

The driver's correctness sweep checks the FIRST 50 registry entries;
``_reorder`` moves ``_PRIORITY`` there. The window rotates each round so
every query keeps a driver-green row in some CORRECTNESS_r*.json. Rule:
flagship ``zscore_anomaly``, then new queries, then code-changed queries,
then padding: the stalest driver-green member of each family not yet
represented, then the stalest names overall. Past windows live in git
history and the CORRECTNESS artifacts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query, optionally with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# Import side effects populate the registry.
from climate_anomaly_bigdata_pipeline_spark.queries import anomaly  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import relational  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import timeseries  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import gold  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import parsing  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import textops  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import dedupq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import similarityq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import multimodalq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import coverage  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import curation  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import analyticsq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import advancedq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import statsq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import tpchq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import storageq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import streamingq  # noqa: E402,F401

# Plan or oracle changed after the last driver row (no query is new).
_CODE_CHANGED = [
    # PQ/IVF serving-path literals (operators/similarity.py) + guards:
    "pq_ann_topk",
    "pq_code_histogram",
    "pq_rescore_topk",
    "pq_reconstruction_error",
    "ivfpq_ann_topk",
    "ivf_train_codebook",
    "knn_join_ivf",
    "ivf_ann_topk",
    "ann_serve_external",
    "ivf_recall_vs_nprobe",
    "ann_recall_at_k",
    # statsq surgery + stable_global_index/running_totals input pin
    # (operators/relational.py) and every inheritor; the hex_t sortedness
    # assert (poisson) and pin_input opt-outs (spearman, isotonic):
    "poisson_bootstrap_order_value",
    "spectral_seasonality_daily",
    "theil_sen_slope_daily",
    "cusum_changepoint_daily",
    "ks_test_purchase_click",
    "cvm_test_purchase_click",
    "wasserstein_purchase_click",
    "lorenz_curve_order_value",
    "kruskal_wallis_event_values",
    "page_hinkley_drift_daily",
    "isotonic_regression_daily",
    "runs_test_daily_revenue",
    "conformal_interval_coverage",
    "spearman_parts_rev_vs_qty",
    # other optimizer changes:
    "market_basket_lift",
    "ewma_user_value",
    # stable_global_index inheritors outside statsq (pin_input call sites
    # in coverage.py; curation/textops inherit the operator pin):
    "stable_global_index_events",
    "ntile_deciles_orders",
    "time_embargo_split_events",
    "zipf_fit_terms",
    # star connected components: driver-local endgame (operators/dedup.py)
    "dedup_clusters_embedding",
    "dedup_keep_representatives",
    "entity_resolution_customers",
    "chain_components_star",
    # bucketed-layout builder split out for the cold bench row:
    "bucketed_join_revenue",
    # verify-skew, regression triage and re-measure targets:
    "prefix_jaccard_pairs",
    "dedup_threshold_sweep",
    "cross_split_semantic_leakage",
    "funnel_view_click_purchase",
]

# Family keepers (last green driver row in parentheses), then the stalest
# fill. Five families lack a code-changed member; graph already has
# chain_components_star, so its keeper stays only because it is stale.
_PADDING = [
    "copurchase_degree_assortativity",  # graph, for staleness (r07)
    "embedding_dim_scale",              # sketches keeper (r08)
    "idle_rich_customers",              # incremental/history keeper (r08)
    "jpeg_progressive_profile",         # multimodal keeper (r08)
    "rbo_bm25_vs_tf",                   # retrieval keeper (r10)
    "weighted_sample_customers",        # sampling keeper (r10)
    "locf_gap_fill_events",             # stalest fill (r05)
    "mix_rebalance_sources",            # stalest fill (r05)
    "pack_sequences_512",               # stalest fill (r05)
]

_PRIORITY = ["zscore_anomaly", *_CODE_CHANGED, *_PADDING]
assert len(_PRIORITY) == 50
assert len(set(_PRIORITY)) == 50


def _reorder() -> None:
    missing = [n for n in _PRIORITY if n not in QUERIES]
    assert not missing, f"priority names not registered: {missing}"
    for registry in (QUERIES, ORACLE):
        snapshot = dict(registry)
        registry.clear()
        for n in _PRIORITY:
            if n in snapshot:
                registry[n] = snapshot.pop(n)
        registry.update(snapshot)


_reorder()
