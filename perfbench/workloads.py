"""The four workloads: the registered queries each one runs, in order.

``refjob`` runs ``refcli.run_reference_jobs`` instead of registered queries.
Every query listed has a DuckDB oracle; the MinHash step uses the oracled
twin ``q_dedup_minhash_lsh_portable`` of the rows-only query.
"""

from __future__ import annotations

QUERIES: dict[str, tuple[str, ...]] = {
    "refjob": (),
    # driver-side plan construction (eager checkpoints, convergence counts)
    # dominates components and Lloyd; label propagation is the
    # shuffle-heavy loop. PageRank (a second shuffle loop), BFS, triangles
    # (build-dominated like the first two) and the LSH-ANN gate are left
    # out to fit the time budget.
    "iterative": (
        "q_dedup_components",
        "q_vec_kmeans_lloyd",
        "q_graph_label_propagation",
    ),
    # pair generation and verification in operators.dedup / similarity
    "pairs": (
        "q_dedup_jaccard_prefix_t7",
        "q_dedup_jaccard_prefix_t8",
        "q_dedup_jaccard_prefix",
        "q_dedup_minhash_lsh_portable",
        "q_dedup_containment",
        "q_dedup_semantic",
        "q_sim_hybrid_rrf",
    ),
    # short single-plan queries: the control for kernel-specific changes
    "relational": (
        "q1_pricing_summary",
        "q_join_multiway",
        "q_join_range",
        "q_agg_cube",
        "q_window_rank",
        "q_window_rank_salted",
        "q_window_ntile_distributed",
        "q_topk_per_group",
        "q_scalar_json",
        "q_asof_join",
        "q_stream_tumbling_batch",
        "q_stream_session_batch",
        "q_stream_interval_join_batch",
        "q_events_gapfill",
        "q_events_funnel",
        "q_events_winsorize",
        "q_agg_sketch_reaggregate",
        "q_join_bloom_prefilter",
        "q_udf_grouped_map",
        "q_udf_cogrouped_map",
    ),
}

#: Timed passes a run makes, however long they take. Passes keep speeding
#: up for a minute or more as the JIT warms up, so a run that fit fewer
#: passes into the window on a slow host would report a median slower than
#: the host alone explains. Each count takes longer than the 15 s window on
#: a 4-core box, so the count, not the clock, ends a run.
PASSES = {"refjob": 6, "iterative": 3, "pairs": 3, "relational": 3}

#: Untimed passes after the checked warm-up pass, before the window opens.
WARM_PASSES = {"refjob": 3, "iterative": 1, "pairs": 1, "relational": 1}

#: refjob corpus size and center count
REFJOB_DOCS = 300
REFJOB_CENTERS = 5

#: Modules whose queries get their own ``operators.<module>.*`` metrics.
MODULES = (
    "dedup",
    "graph",
    "vectors",
    "similarity",
    "relational",
    "relational2",
    "relational3",
    "events_analytics",
    "skew",
    "udf_surface",
    "streaming.windows",
)


def module_of(fn) -> str:
    """``hadoop_web_browsing_logs_spark.operators.dedup`` → ``dedup``;
    ``...streaming.windows`` → ``streaming.windows``."""
    mod = fn.__module__.split(".", 1)[1]
    return mod.removeprefix("operators.")
