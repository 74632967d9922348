"""Query corpus: every operator the engine claims, as a named query.

Each :class:`Query` pairs a Spark DataFrame program with (where SQL can
express it) an equivalent ANSI-SQL oracle string that DuckDB runs on the
same parquet tables. The driver's correctness gate compares the two at
sf=0.01 (row count + schema + order-insensitive value hash), so:

- every computed column is aliased to the SAME name on both sides;
- double-typed aggregates are rounded identically on both sides (sums to
  2 dp, ratios/avgs to 4 dp) so cross-engine float summation order can't
  flip the hash; every rounding — helper or inline — ends `+ 0.0`
  because DuckDB's double round keeps NEGATIVE ZERO where Spark's
  BigDecimal round does not (rounding.py has the full story);
- any LIMIT/top-k query orders by a unique tiebreaker so the selected SET
  is deterministic.

Queries that Spark can express but ANSI SQL can't (streaming, stateful
ops) set ``oracle=None`` → the driver records a weaker rows-only check.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..rounding import dround, sql_round  # noqa: F401  (re-export for corpus modules)

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    description: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the global registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name, fn, oracle, description, tags)
        return fn

    return deco


_MODULES = (
    "relational",
    "relational_extra",
    "tpch_extra",
    "tpch_extra2",
    "coverage_extra",
    "aggregates",
    "windows",
    "setops",
    "scalar_functions",
    "joins_advanced",
    "udf_surface",
    "model_chain",
    "training_pipeline",
    "packing",
    "sampling",
    "dedup",
    "similarity",
    "textanalysis",
    "textsearch",
    "multimodal",
    "streaming_queries",
    "advanced_sql",
    "analytics_extra",
    "mining",
    "curation",
    "bucketed",
    "reference_pipeline",
    "funnel",
)

# The driver's correctness gate checks the registry PREFIX (50 entries),
# and `registry()` lists these names first, then every other query in
# module order. The prefix is the queue `python tools/rotation_audit.py
# --queue 50` proposed when it was last rotated: never-driver-checked
# gates first (`layout_cdc_commit_time`), then the stalest green rows,
# in audit order. Rotate it by replacing the tuple with a fresh queue.
_PRIORITY = (
    "layout_cdc_commit_time",  # round-14 gate, never driver-checked
    "agg_heavy_hitters_mg",
    "dedup_entity_resolution",
    "dedup_semantic_trained",
    "dedup_sorted_neighborhood",
    "graph_common_neighbors",
    "join_bloom_prefilter_membership",
    "layout_manifest_delete",
    "layout_merge_upsert",
    "layout_time_travel",
    "ml_als_rank1",
    "ml_assoc_rules_pairs",
    "ml_decision_stump",
    "ml_item_cofiltering",
    "ml_kmeans_cells",
    "ml_kn_trigram_lm",
    "ml_logreg_gd",
    "ml_naive_bayes_langid",
    "ml_power_iteration_pc1",
    "ml_psi_value_drift",
    "profile_benford_digits",
    "profile_chi2_independence",
    "profile_gini_concentration",
    "profile_ks_two_sample",
    "profile_mad_outliers",
    "sample_weighted_noreplacement",
    "sim_brp_euclidean_topk",
    "sim_ivf_trained_topk",
    "sim_neardup_pairs_lsh",
    "sql_recursive_reachability",
    "stream_domain_cap",
    "stream_ewma_alert",
    "stream_hourly_type_counts",
    "stream_trending_topk",
    "text_bigram_surprisal",
    "text_bpe_encode_tokens",
    "text_bpe_learn_merges",
    "text_domain_filter",
    "text_pmi_collocations",
    "text_proximity_search",
    "train_contrastive_negatives",
    "ts_attribution_position_based",
    "ts_cusum_changepoint",
    "ts_event_transition_matrix",
    "ts_ewma_smoothing",
    "ts_forward_fill_hourly",
    "ts_rfm_segments",
    "ts_session_paths_topk",
    "window_running_revenue",
    "window_sessionize_batch",
)

def registry() -> dict[str, Query]:
    """Import all corpus modules (populating the registry) and return it,
    priority entries first (see ``_PRIORITY``)."""
    for mod in _MODULES:
        importlib.import_module(f"{__name__}.{mod}")
    missing = [n for n in _PRIORITY if n not in _REGISTRY]
    if missing:
        raise RuntimeError(f"_PRIORITY names not in registry: {missing}")
    ordered = {n: _REGISTRY[n] for n in _PRIORITY}
    ordered.update({n: q for n, q in _REGISTRY.items() if n not in ordered})
    return ordered
