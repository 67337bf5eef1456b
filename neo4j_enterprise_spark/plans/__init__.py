"""Declared-query registry.

Every implemented operator from SURVEY.md §2 is exposed here as a named
pair: a PySpark plan ``(spark, sf_dir) -> DataFrame`` and (where SQL can
express it) the equivalent DuckDB oracle SQL over the driver's
pre-registered views. The driver hash-compares the two at sf0.01
(CORRECTNESS_r{N}.json); ``tests/test_oracle_parity.py`` runs the same
comparison locally at sf0.001.

Determinism rules every query follows:
- money/ratio aggregates are computed on exact DECIMAL casts, and only the
  *final* value is cast to DOUBLE (identical nearest-double on both
  engines) — never sum raw doubles (order-dependent);
- every computed column is aliased identically in both plans;
- timestamps are reduced to DATE or epoch BIGINT at the output boundary.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    bench: bool = False,
) -> Callable:
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        # A duplicate name would silently shadow the earlier registration
        # (the r10 verdict found two such accidents); fail loudly instead.
        if name in REGISTRY:
            raise ValueError(
                f"duplicate query registration: {name!r} is already "
                f"registered ({REGISTRY[name].spark.__module__})"
            )
        REGISTRY[name] = Query(name=name, spark=fn, oracle=oracle, doc=doc, bench=bench)
        return fn

    return deco


# The external correctness harness certifies the FIRST 50 entries of
# ``queries()`` in iteration order (``WINDOW_SIZE`` in
# tools/window_manifest.py); ``_DRIVER_PRIORITY`` orders that window and
# registry order fills the rest. tests/test_window_staleness.py enforces,
# against the plans/_query_hashes.json snapshot:
#   - a query whose plan source or oracle changed, or that is new since the
#     snapshot, leads this tuple so its green is re-earned the same round;
#   - a query changed only through a shared helper sits in the window or
#     is named in ``_DEEP_CHANGE_ACK`` with a reason.
# Remaining slots go to the queries with the oldest certified evidence.
# bench.py and the local parity tests are order-independent.
_DRIVER_PRIORITY: tuple[str, ...] = (
    # -- one chain-linking helper for the generator and tx-log replay
    #    (graph.model.link_*); record_model_validation calls it directly
    "record_model_validation",
    "txlog_replay_lww",
    "txlog_as_of_read",
    "txlog_replay_roundtrip",
    "graph_validation_suite_100k",
    # -- driver-side frames built as Arrow LocalRelations (catalog.local_frame)
    "docs_bpe_merges",
    "cypher_merge_nodes",
    "cypher_merge_rels",
    "graph_rich_club",
    "events_hourly_autocorr",
    # -- prefix marginal as a window (OPTIMIZATION_r13.md §5)
    "docs_bigram_counts",
    # -- graph-algorithm merge: one loop per algorithm
    "bfs_2hop_reach",
    "bfs_shortest_hops",
    "graph_harmonic_centrality",
    "traverse_pruned_2hop",
    "traverse_dfs_preorder",
    "cypher_shortest_path",
    "graph_label_propagation_derived",
    "graph_betweenness_exact_small",
    # -- b1 record-check fusion (OPTIMIZATION_r13.md §1); with the path-
    #    independent manifest every check_fixture oracle hash moved
    "check_fixture_nodes",
    "check_fixture_relationships",
    "check_fixture_first_property",
    "check_fixture_properties",
    "check_fixture_ownership",
    "check_fixture_dictionaries",
    "check_fixture_graph_props",
    "check_fixture_summary",
    # -- ANN filter-and-refine stages: shared re-rank, cell probe, fixed PQ
    #    and Arrow matmul scorer
    "ann_cosine_top5",
    "ann_lsh_md5_top5",
    "ann_ivf_fixed_top5",
    "ann_pq_fixed_top5",
    "ann_ivf_pq_fixed_top5",
    "emb_hard_negatives",
    # -- oldest certified evidence (last checked r7), name order
    "cypher_optional_match",
    "cypher_property_map_match",
    "cypher_return_distinct",
    "cypher_skip_page",
    "cypher_string_predicates",
    "cypher_where_aggregate",
    "docs_bigram_fluency",
    "docs_collocations",
    "docs_dsir_importance",
    "docs_exact_dup_groups",
    "docs_lang_source_rollup",
    "docs_nb_lang_classifier",
    "docs_repetition_stats",
    "docs_winnow_overlap",
    "graph_kcore_summary",
    "graph_label_propagation",
    "index_lookup_materialized",
    # ---- end of the 50-slot window: the entries below sit past it
    "index_put_if_absent",
    "parts_copurchase_top20",
    "parts_triangle_clustering",
    "parts_weighted_distances",
    "property_stats_histogram",
    "property_store_scan",
    "property_upsert_projection",
    "q11_part_value_threshold",
    "q13_customer_distribution",
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_parts_supplier_counts",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "q20_supplier_part_share",
    "q21_sole_late_supplier",
    "q22_global_sales_opportunity",
    "q2_best_supplier_per_part",
    "q3_shipping_priority",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_profit_by_nation_year",
)


# Deep-only changes (shared-helper edits) acknowledged OUT of the window,
# each with the evidence that stands in for a window slot. A reason string
# is REQUIRED (tests/test_window_staleness.py).
_ANN_STAGES_ACK = (
    "rows-only query (no oracle); its operator now ends in the shared "
    "similarity._rerank stage (and, for IVF, _probe; for PQ, "
    "_codebook_arrays) — the same expressions, window and join order as "
    "the inline copies they replace. Evidence: result hashes equal to "
    "the parent commit at sf0.001 and sf0.01, plus the unchanged recall "
    "and full-probe tests in tests/test_pipeline.py"
)
_DEEP_CHANGE_ACK: dict[str, str] = {
    "graph_validation_suite_100k": (
        "rows-only query (no oracle); executes the fused record_checks "
        "plans over the 100k fixture (persisted with size-derived "
        "partitioning — a layout-only change). Evidence in place of a "
        "window slot: all 7 fused families proven row-IDENTICAL against "
        "the previous implementation on the corrupted checker fixture "
        "(OPTIMIZATION_r13.md §1, old-only=0/new-only=0 per family), the "
        "clean fixture still validates to 0 violations "
        "(tests/test_record_checks.py), and the 7 oracle-bearing "
        "check_fixture twins + check_fixture_summary + "
        "record_model_validation lead this window. validate() builds "
        "each family inside its pool thread (OPTIMIZATION_r13.md §11); "
        "its lazy single-plan branch, which no caller used, is gone, and "
        "the thread-pool path every caller ran is unchanged (it now lives "
        "in _run_families, shared with is_consistent). The generator links "
        "its chains with graph.model.link_*: optimized plans and "
        "fixture_graph rows equal the parent commit's"
    ),
    "graph_full_validation": (
        "rows-only query (no oracle); runs rc.validate() on a corrupted "
        "500-node graph — same fused plans, same evidence as "
        "graph_validation_suite_100k (corrupted-fixture row-compare "
        "identical per family; corruption matrix green; oracle twins "
        "lead this window); validate() lost only its unused lazy branch. "
        "generate_graph now builds its dictionaries, slot tables and "
        "graph properties with catalog.local_frame (Arrow LocalRelations "
        "of the same rows and schemas); evidence: generate_graph and "
        "fixture_graph tables hash-equal to the parent commit, and "
        "tests/test_local_frame.py. Its chain windows and node-head "
        "joins now come from graph.model.link_*, and validate() runs its "
        "families through _run_families: generate_graph's optimized "
        "plans equal the parent's apart from expression ids, and this "
        "query's rows hash-equal to the parent commit's"
    ),
    "ann_lsh_top5": _ANN_STAGES_ACK + (
        "; its optimized plan is identical to the parent's apart from "
        "expression ids, and perfbench's query_mix hash check still holds"
    ),
    "ann_ivf_top5": _ANN_STAGES_ACK,
    "ann_pq_top5": _ANN_STAGES_ACK,
    "ann_ivf_pq_top5": _ANN_STAGES_ACK,
    "media_feature_neighbors": (
        "rows-only query (no oracle); cosine_topk_bruteforce now runs the "
        "Arrow scorer shared with hard_negatives (similarity._matmul_topk) "
        "— the same quantize, matmul, lexsort and window. Evidence: "
        "result hashes equal to the parent commit at sf0.001 and sf0.01; "
        "ann_cosine_top5, the oracle-bearing caller, leads this window"
    ),
    "graph_betweenness_sampled": (
        "rows-only query (no oracle); betweenness_sampled now shares its "
        "forward sweep, DAG build and backward sweep with "
        "betweenness_exact_tree, moved verbatim into helpers. The one "
        "plan change is a distinct() on the undirected adjacency, which "
        "is a no-op on this input (edges are canonical a < b pairs). "
        "Evidence: the python-Brandes property test, the star test, and "
        "the exact-equals-sampled tree test"
    ),
    "graph_personalized_pagerank": (
        "rows-only query (no oracle); pagerank and personalized_pagerank "
        "now run one loop with a per-node teleport weight fixed before "
        "it (is_seed/n_seeds here) instead of joining is_seed and "
        "n_seeds every iteration — the same formula, factored. Evidence: "
        "the unchanged mass/concentration test and the new "
        "pagerank-equals-all-seeds personalized test (1e-9)"
    ),
    **{
        name: (
            "reaches pattern.shortest_path_match only through the "
            "cypher_query dispatcher; the query has no shortestPath() "
            "clause, so its plan is unchanged (cypher_shortest_path, "
            "the one caller, leads this window)"
        )
        for name in (
            "cypher_case_classify",
            "cypher_collect_unwind",
            "cypher_exists_inactive",
            "cypher_rel_var_counts",
            "cypher_set_tier",
            "cypher_type_alternation",
            "cypher_union_dedup",
            "cypher_where_or",
            "cypher_with_collect",
            "cypher_with_having",
            "cypher_with_topk_expand",
        )
    },
}


def all_queries() -> dict[str, Query]:
    # import side-effect populates REGISTRY
    from . import checker  # noqa: F401
    from . import graph_queries  # noqa: F401
    from . import pipeline  # noqa: F401
    from . import relational  # noqa: F401

    ordered: dict[str, Query] = {}
    for name in _DRIVER_PRIORITY:
        if name in REGISTRY:
            ordered[name] = REGISTRY[name]
    for name, query in REGISTRY.items():
        if name not in ordered:
            ordered[name] = query
    return ordered
