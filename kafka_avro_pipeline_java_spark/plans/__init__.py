"""Query catalog. Importing this package registers every plan module.

Import order is registration order, and registration order is bench and
driver order: keep the list below as it is unless a query is meant to move.
"""

from .registry import ORACLES, QUERIES, query

from . import relational  # noqa: F401
from . import hierarchy  # noqa: F401
from . import attribution  # noqa: F401
from . import tpch  # noqa: F401
from . import events  # noqa: F401
from . import text  # noqa: F401
from . import graph  # noqa: F401  (needs text's oracles)
from . import vectors  # noqa: F401
from . import pipeline  # noqa: F401
from . import sampling  # noqa: F401
from . import sketches  # noqa: F401
from . import stats  # noqa: F401
from . import tokenizer  # noqa: F401
from . import layout  # noqa: F401
from . import governance  # noqa: F401
from . import mlprep  # noqa: F401

# The driver's correctness report covers the first 50 registered queries,
# so these names are moved to the head of the registry (everything else
# keeps its import order). They are the plans whose shape changed most
# recently, so each is checked by the driver at its current shape; the
# list must stay at most 50 names.
_PRIORITY = [
    "dedup_semantic_text_e2e",
    "dedup_semantic",
    "pipeline_decontaminate_semantic",
    "graph_hierarchy_depths",
    "graph_bom_rollup",
    "graph_hierarchy_closure",
    "graph_subtree_sizes",
    "text_kneser_ney_bigram",
    "text_unigram_em_counts",
    "text_bigram_logprob",
    "text_collocations",
    "stats_levene_brown_forsythe",
    "stats_permutation_test",
    "agg_percentiles",
    "join_bloom_runtime_filter",
    "sketch_histogram_sliding_p95",
    "pipeline_stage_funnel",
    "pipeline_split_drift",
    "events_resample_interpolate",
    "dedup_capture_recapture_estimate",
    "dedup_embedding_bucketed",
    "dedup_similarity_join",
    "stats_spearman_corr",
    "sketch_hll_sliding_24h",
    "embedding_dbscan_core",
    "text_textrank_keywords",
    "agg_covariance_matrix",
    "quality_referential_orphans",
    "dedup_rate_by_source",
    "embedding_outliers",
    "layout_clustering_depth",
    "pipeline_source_overlap",
    "dedup_golden_record",
    "dedup_near_dup_groups",
    "graph_component_sizes",
    "graph_modularity",
    "dedup_jaro_winkler",
    "sketch_join_cardinality",
    "features_mutual_information",
    "stats_kendall_tau",
    "dedup_linkage_patterns",
    "sketch_bloom_fpr_audit",
    "privacy_t_closeness_audit",
    "stats_ljung_box_daily",
    "stats_theil_sen_trend",
    "events_attribution_shapley",
    "text_js_divergence_sources",
    "sketch_kmv_setops",
    "search_hybrid_rrf",
    "text_ndcg_bm25",
]


def _apply_priority_order() -> None:
    ordered = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
    ordered.update({n: f for n, f in QUERIES.items() if n not in ordered})
    QUERIES.clear()
    QUERIES.update(ordered)


_apply_priority_order()

__all__ = ["QUERIES", "ORACLES", "query"]
