"""Physical-plan structure tests — pin the scale properties SCALE.md claims:
pushdown reaches the scan, dims broadcast, global top-k is TakeOrdered, the
stopword anti-join broadcasts, partial aggregation exists for collect_set.
Every registered query's node counts are checked against the digest
``plan_shapes.json``; ``make plans`` (``python -m tests.test_plans``)
rebuilds it after an intended plan change."""

from __future__ import annotations

import json
import os

import pytest

from hadoop_web_browsing_logs_spark.plans.registry import get_query
from hadoop_web_browsing_logs_spark.plans.shape import PYTHON_NODES, plan_shape

from .conftest import CPUS, SF_DIR

DIGEST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_shapes.json")


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan(spark, name: str) -> str:
    return _executed(get_query(name).fn(spark, SF_DIR))


def test_q1_pushdown_and_pruning(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the untouched key columns must not be read
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    assert "Batched: true" in plan  # vectorized parquet reader


def test_multiway_join_broadcasts_dims(spark):
    plan = _plan(spark, "q_join_multiway")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # at fixture scale everything fits


def test_global_topk_is_take_ordered(spark):
    plan = _plan(spark, "q_topk_global")
    assert "TakeOrderedAndProject" in plan  # not a full Sort + Limit


def test_stopword_antijoin_is_broadcast(spark):
    plan = _plan(spark, "q_text_stopword_filter")
    assert "LeftAnti, BuildRight" in plan or "BroadcastHashJoin" in plan


def test_inverted_index_has_partial_aggregation(spark):
    plan = _plan(spark, "q_text_inverted_index")
    # collect_set runs as ObjectHashAggregate with a partial phase before the
    # exchange (the correct version of the reference's disabled combiner)
    assert "ObjectHashAggregate" in plan
    assert "Exchange hashpartitioning(term" in plan


@pytest.mark.parametrize("name", ["q_vec_nearest_center", "q_sim_ivf_candidates", "q_sim_ivf_ann"])
def test_nearest_center_is_broadcast_nested_loop(spark, name):
    assert "BroadcastNestedLoopJoin" in _plan(spark, name)


def test_cache_reuse_in_plan(spark):
    """.cache() surfaces as InMemoryTableScan on the second use — the knob
    for reusing the inverted index across Job-1 export and Job-2 assignment."""
    from pyspark.sql import functions as F

    from hadoop_web_browsing_logs_spark.sources.readers import load_table

    df = load_table(spark, SF_DIR, "nation").groupBy("n_regionkey").count().cache()
    try:
        df.count()  # materialize
        reused = df.filter(F.col("count") > 0)
        plan = reused._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
    finally:
        df.unpersist()


def test_containment_cap_is_default_on():
    """Round 13 (VERDICT r12 item 2): the hot-shingle df cap must stay
    DEFAULT-ON — a signature regression to None would silently restore the
    quadratic hot-key pair fanout on boilerplate corpora, and the oracle
    (which mirrors the 128 cap) would flag it only on a fixture where the
    cap is non-dormant. Pin the default AND the oracle mirror."""
    import inspect

    from hadoop_web_browsing_logs_spark.operators.dedup import (
        CONTAINMENT_MAX_SHINGLE_DF,
        containment_report,
    )
    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    default = inspect.signature(containment_report).parameters["max_shingle_df"].default
    assert default == CONTAINMENT_MAX_SHINGLE_DF == 128
    assert f"COUNT(*) <= {CONTAINMENT_MAX_SHINGLE_DF}" in get_query("q_dedup_containment").oracle


def test_multipoint_kernel_families():
    """Round 16 (VERDICT r15 item 5): the second-query-point audit
    (SCALE.md, round 15) found every kernel whose FIXED parameter drives
    candidate generation or ranking needs >= 2 independently
    driver-provable fixed points — one point can be accidentally green
    (the q_sim_hybrid_rrf/rrf2 lesson). This lint machine-pins the
    invariant via `multipoint:<family>` registry tags: each declared
    family must keep >= 2 registered oracled queries, and the three
    audited families must stay declared (deleting a tag or a query point
    fails here, not in a forgotten SCALE.md note)."""
    from collections import defaultdict

    from hadoop_web_browsing_logs_spark.plans.registry import all_queries

    families: dict[str, list[str]] = defaultdict(list)
    for name, q in all_queries().items():
        for tag in q.tags:
            if tag.startswith("multipoint:"):
                families[tag.removeprefix("multipoint:")].append(name)
                # a fixed point only counts if the driver can hash-prove it
                assert q.oracle is not None, name
    # the families the round-15 audit identified as candidate-driving
    assert {"bm25", "hybrid_rrf", "jaccard_prefix"} <= set(families)
    for fam, members in families.items():
        assert len(members) >= 2, (fam, members)
    # spot-pin the membership so a rename doesn't silently empty a family
    assert sorted(families["bm25"]) == ["q_text_bm25", "q_text_bm25_2"]
    assert sorted(families["hybrid_rrf"]) == [
        "q_sim_hybrid_rrf", "q_sim_hybrid_rrf2",
    ]
    assert sorted(families["jaccard_prefix"]) == [
        "q_dedup_jaccard_prefix",
        "q_dedup_jaccard_prefix_t7",
        "q_dedup_jaccard_prefix_t8",
    ]


def test_coverage_totals_match_registry():
    """COVERAGE.md's totals line must equal the live registry (VERDICT r9
    item 2: the paragraph had silently drifted to 148/138 while the
    registry held 180/168 — this pin makes the drift a suite failure)."""
    import re

    from hadoop_web_browsing_logs_spark.plans.registry import all_queries

    qs = all_queries()
    n_oracled = sum(1 for q in qs.values() if q.oracle is not None)
    text = open("COVERAGE.md", encoding="utf-8").read()
    m = re.search(
        r"Totals: \*\*(\d+) registered queries\*\* \((\d+) DuckDB-oracled, "
        r"(\d+) rows-only\)",
        text,
    )
    assert m, "COVERAGE.md totals line missing or reformatted"
    assert (int(m[1]), int(m[2]), int(m[3])) == (
        len(qs),
        n_oracled,
        len(qs) - n_oracled,
    ), f"COVERAGE.md says {m.groups()}, registry has {len(qs)}/{n_oracled}"


def test_driver_priority_window():
    """The driver's correctness gate samples the first 50 registered queries;
    DRIVER_PRIORITY pins that window (COVERAGE.md 'Driver 50-slot allocation')."""
    from hadoop_web_browsing_logs_spark.plans.registry import DRIVER_PRIORITY, all_queries

    names = list(all_queries())
    assert len(DRIVER_PRIORITY) == 50
    assert len(set(DRIVER_PRIORITY)) == 50
    assert names[:50] == list(DRIVER_PRIORITY)
    # every priority name actually resolves to a registered query
    assert set(DRIVER_PRIORITY) <= set(names)
    # round-16 allocation (registry.py comment, VERDICT r15 item 1):
    # slot 1 = the never-driver-certified round-16 registration
    # (q_dedup_jaccard_prefix_t7 — the decimal-above-double tau class on
    # the floored-fraction fallback + LONG-widened arithmetic), slots 2-5
    # = the round-16-MODIFIED re-seats (the CC rewrite + exact-pair-source
    # swap consumers, the round-12 precedent), then the round-12 cohort
    # tail (29 rows, the oldest driver rows in the system), then the
    # round-13 cohort head (16 of 50) — the sixth full rotation closes
    window = set(DRIVER_PRIORITY)
    assert DRIVER_PRIORITY[0] == "q_dedup_jaccard_prefix_t7"
    assert DRIVER_PRIORITY[1] == "q_dedup_components"
    assert DRIVER_PRIORITY[2] == "q_dedup_keep_canonical"
    assert DRIVER_PRIORITY[3] == "q_llm_split_leakage_safe"
    assert DRIVER_PRIORITY[4] == "q_dedup_minhash_lsh_gate"
    assert DRIVER_PRIORITY[5] == "q_events_path_mining"
    assert DRIVER_PRIORITY[33] == "q_window_range_frame"
    assert DRIVER_PRIORITY[34] == "q1_pricing_summary"
    assert DRIVER_PRIORITY[49] == "q_events_rollup_multires"
    for core in (
                 # round-12 cohort tail (oldest driver rows in the system)
                 "q_events_robust_zscore", "q_llm_decontaminate",
                 "q_scalar_date", "q_scalar_math", "q_set_ops_bag",
                 "q_stream_dedup_batch", "q_stream_interval_equiv_gate",
                 "q_stream_scd2_equiv_gate", "q_subquery_correlated",
                 "q_text_fingerprint", "q_text_langid",
                 "q_text_porter_gate", "q_text_token_stats",
                 "q_udf_grouped_agg", "q_vec_kmeans_gate",
                 "q_window_navigation",
                 # round-13 cohort head
                 "q_agg_approx_distinct_gate", "q_agg_histogram",
                 "q_dedup_containment", "q_dedup_embedding_bucketed",
                 "q_dedup_exact", "q_dedup_simhash", "q_events_ab_welch",
                 "q_events_retention", "q_events_gapfill",
                 "q_events_rollup_multires"):
        assert core in window, core
    # the demoted quadratic all-pairs baseline must NEVER be re-seated
    # (VERDICT r10 item 1); its bucketed twin carries the driver proof
    assert "q_dedup_embedding" not in window
    # every window entry is oracled — rows-only queries would waste a slot
    qs = all_queries()
    assert all(qs[n].oracle is not None for n in DRIVER_PRIORITY)


def test_cte_pipeline_take_ordered(spark):
    """Round-3: the CTE rank runs over a 25-row TakeOrdered result, not a
    global row_number() window over the customer-cardinality aggregate."""
    plan = _plan(spark, "q_cte_pipeline")
    assert "TakeOrderedAndProject" in plan
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            first_arg = line.split("windowspecdefinition(", 1)[1].split(",")[0]
            assert "ASC" not in first_arg and "DESC" not in first_arg, line


def test_ntile_distributed_plan(spark):
    """Round-3: the distributed global-rank path keeps every window
    partitioned — no single-partition WindowExec. The range-repartitioned
    input is lazily localCheckpoint'd (materialized once, read by both the
    local-rank and counts branches), so it surfaces as Scan ExistingRDD in
    the outer plan rather than a rangepartitioning exchange; the offsets
    arrive via BroadcastExchange."""
    plan = _plan(spark, "q_window_ntile_distributed")
    assert "Scan ExistingRDD" in plan
    assert "BroadcastExchange" in plan
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            first_arg = line.split("windowspecdefinition(", 1)[1].split(",")[0]
            assert "ASC" not in first_arg and "DESC" not in first_arg, line


def test_topk_rank_sites_take_ordered(spark):
    """Round-2 fix (VERDICT r1 item 3): global top-k-with-rank must be
    distributed TakeOrdered + tiny ranked tail, not a row_number() window
    over the full aggregated vocab (single-partition sort at 100 TB)."""
    for name in ("q_text_term_doc_freq", "q_text_ngrams", "q_ref_pipeline"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        # no empty-partition-spec window remains: every windowspecdefinition
        # must carry a partition expression (pmod(length(...), 1) or a key)
        for line in plan.splitlines():
            if "windowspecdefinition(" in line:
                spec = line.split("windowspecdefinition(", 1)[1]
                first_arg = spec.split(",")[0]
                assert "ASC" not in first_arg and "DESC" not in first_arg, (name, line)


def test_quantize_is_map_only(spark):
    """Round-3: int8 quantization must stay a shuffle-free scan->project pass
    (a map-only 4x compression job at 100 TB)."""
    plan = _plan(spark, "q_vec_quantize_int8")
    assert "Exchange" not in plan
    assert "Scan parquet" in plan


def test_funnel_single_user_exchange(spark):
    """Round-3: the three funnel window passes and the per-user group-by all
    reuse ONE user_id hash exchange; only the final single-row rollup
    re-exchanges."""
    plan = _plan(spark, "q_events_funnel")
    n_hash_exchanges = plan.count("Exchange hashpartitioning(user_id")
    assert n_hash_exchanges == 1, plan[:500]
    # and no unpartitioned window snuck in
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            first_arg = line.split("windowspecdefinition(", 1)[1].split(",")[0]
            assert "ASC" not in first_arg and "DESC" not in first_arg, line


def test_substring_dedup_shuffles_hashes_only(spark):
    """Round-3: the window-fingerprint dedup's exchange must carry the MD5
    hash and doc_id — never the token arrays or window text."""
    plan = _plan(spark, "q_dedup_substring")
    assert "Exchange hashpartitioning(win_hash" in plan, plan[:800]


def _registry_plans(spark) -> dict:
    """ONE pass over the whole registry for the registry-wide plan lints
    and the shape digest: build every query once and capture the three
    renderings they consume. A pass costs a full Catalyst build of every
    query plus the iterative queries' driver-side fixpoints, so no lint
    rebuilds the registry itself. The temp-view leak check rides the
    construction pass (it is about what PLAN CONSTRUCTION leaks, so it
    must be snapshotted around exactly this loop)."""
    from hadoop_web_browsing_logs_spark.plans.registry import all_queries

    pre_views = {v.name for v in spark.catalog.listTables()}
    plans = {}
    for name, q in all_queries().items():
        df = q.fn(spark, SF_DIR)
        qe = df._jdf.queryExecution()
        plans[name] = {
            "simple": df._sc._jvm.PythonSQLUtils.explainString(qe, "simple"),
            "analyzed": qe.analyzed().toString(),
            "executed": qe.executedPlan().toString(),
        }
    leaked = [v.name for v in spark.catalog.listTables() if v.name not in pre_views]
    return {"plans": plans, "leaked": leaked}


@pytest.fixture(scope="module")
def registry_plans(spark):
    return _registry_plans(spark)


def _shape_digest(spark, plans: dict) -> dict[str, dict]:
    """The header (the SF and core count the plans were built at) and one
    :func:`plan_shape` row per registered query."""
    sf = os.path.basename(SF_DIR.rstrip("/"))
    header = {"sf": sf, "cpus": spark.sparkContext.defaultParallelism}
    rows = {name: plan_shape(rendered["executed"]) for name, rendered in sorted(plans.items())}
    return {"_header": header, **rows}


def test_plan_shapes_match_digest(spark, registry_plans):
    """Every registered query keeps the node counts recorded in
    plan_shapes.json: a new shuffle, a lost broadcast or a Python stage
    moving in shows up here, named by query. After an intended change,
    rebuild the digest with ``make plans`` and review its diff."""
    with open(DIGEST, encoding="utf-8") as fh:
        want = json.load(fh)
    got = _shape_digest(spark, registry_plans["plans"])
    built, session = want.pop("_header"), got.pop("_header")
    assert built == session, f"{DIGEST} was built at {built}, this session runs at {session}"
    changes = []
    for name in sorted(want.keys() | got.keys()):
        old, new = want.get(name), got.get(name)
        if old is None or new is None:
            changes.append(f"{name}: {old} -> {new}")
        elif old != new:
            moved = [
                f"{k} {old.get(k, 0)} -> {new.get(k, 0)}"
                for k in sorted(old.keys() | new.keys())
                if old.get(k, 0) != new.get(k, 0)
            ]
            changes.append(f"{name}: " + ", ".join(moved))
    assert not changes, "plan shapes differ from the digest:\n" + "\n".join(changes)


def test_plan_shape_counts_node_kinds(spark):
    from pyspark.sql import functions as F

    df = spark.range(50).selectExpr("id", "id % 5 AS k")
    before = plan_shape(_executed(df))
    after = plan_shape(_executed(df.repartition(3)))
    assert after == {**before, "Exchange RoundRobinPartitioning": 1}
    joined = plan_shape(_executed(df.join(F.broadcast(spark.range(5).withColumnRenamed("id", "k")), "k")))
    assert joined["BroadcastExchange"] == 1 and joined["BroadcastHashJoin"] == 1, joined
    # column names and expression ids are not part of the shape
    a = spark.range(5).toDF("a").localCheckpoint()
    b = spark.range(5).toDF("b").localCheckpoint()
    assert plan_shape(_executed(a)) == plan_shape(_executed(b)) == {"Scan ExistingRDD": 1}


def test_no_cartesian_product_anywhere(registry_plans):
    """Registry-wide plan lint: NO query may compile to a CartesianProduct.
    Pair-generation queries must stay broadcast-nested-loop (small side
    broadcast, documented sampled baselines) or bucketed equi-joins — an
    unbroadcastable cartesian is the canonical 100 TB scale-killer, and this
    pins every current and future registry entry against it."""
    offenders = []
    for name, rendered in registry_plans["plans"].items():
        if "CartesianProduct" in rendered["simple"]:
            offenders.append(name)
    assert not offenders, f"cartesian plans: {offenders}"


def test_multires_rollup_single_expand_single_exchange(spark):
    """The hour/day/week rollup must be ONE grouping-sets pass: one Expand,
    one hash exchange — not three separate aggregation jobs."""
    plan = _plan(spark, "q_events_rollup_multires")
    assert plan.count("Expand") == 1, plan[:400]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:400]


def test_gapfill_windows_are_partitioned(spark):
    """The forward-fill window must partition on the series key — no
    single-partition window; and the whole plan needs only the hourly-rollup
    and spine-join exchanges."""
    plan = _plan(spark, "q_events_gapfill")
    assert plan.count("Exchange hashpartitioning") == 2, plan[:400]
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            first_arg = line.split("windowspecdefinition(", 1)[1].split(",")[0]
            assert "ASC" not in first_arg and "DESC" not in first_arg, line


def test_window_rank_salted_two_phase(spark):
    """Round-4: the salted top-k twin must run a LOCAL top-5 window per
    (l_returnflag, _salt) — spread over 8 tasks per flag — before the final
    ranking window sees the <= 40 survivors per flag."""
    plan = _plan(spark, "q_window_rank_salted")
    assert "Exchange hashpartitioning(l_returnflag" in plan
    specs = [l for l in plan.splitlines() if "windowspecdefinition(" in l]
    assert len(specs) >= 2, plan[:600]
    assert any("_salt" in s for s in specs), specs


def test_tfidf_collocations_vocab_joins_unhinted(spark):
    """Round-4 (VERDICT r3 item 2): the vocabulary-sized df/unigram joins
    carry NO forced broadcast hint — only the 1-row corpus/bigram total may
    be hinted. AQE broadcasting the vocab side at fixture scale is fine; a
    FORCED hint on unbounded cardinality is the 100 TB OOM."""
    for name in ("q_text_tfidf", "q_text_collocations"):
        df = get_query(name).fn(spark, SF_DIR)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("ResolvedHint") <= 1, (name, analyzed[:800])


def test_no_forced_broadcast_of_sf_scaled_tables(registry_plans):
    """Registry-wide plan lint (round 4): a FORCED broadcast hint whose
    subtree scans an SF-scaled table unreduced is the 100 TB OOM pattern the
    round-3 verdict flagged on tfidf/collocations — this pins every current
    and future registry entry against it. Exemptions: subtrees whose only
    Aggregates are UNGROUPED (global totals are 1-row by construction; a
    grouped aggregate keyed on an unbounded column scales with SF and is the
    very OOM pattern this lint targets — ADVICE r4), an explicit allowlist
    for the one grouped case (the bloom words table, hard 2^27-bit cap), and
    the similarity family, whose broadcast sides are caller-bounded query
    batches or literal-bounded center sets (documented baselines / probes)."""
    # analyzed-plan leaves print columns, not paths — identify SF-scaled
    # scans by their key column signature
    sf_scaled_sigs = {
        "c_custkey": "customer", "s_suppkey": "supplier", "p_partkey": "part",
        "o_orderkey": "orders", "l_orderkey": "lineitem", "event_id": "events",
        "doc_id": "documents", "vec_id": "embeddings",
    }
    allowed = {
        # broadcast side = the query batch (caller-bounded) and/or the
        # k-center set (Filter on a literal key range)
        "q_sim_cosine_topk", "q_sim_range_search",
        "q_sim_lsh_ann", "q_sim_lsh_ann_gate",
        "q_sim_ivf_ann", "q_sim_ivf_ann_gate",
        # round 12: the hybrid-RRF dense leg broadcasts the query side of
        # brute_force_topk — a Filter on the literal RRF_QUERY_VEC key,
        # <=1 row at any SF (same caller-bounded-probe contract as the
        # rest of the similarity family)
        "q_sim_hybrid_rrf",
        # round 14: the second fixed query point — same shape, a Filter
        # on the literal RRF2_QUERY_VEC key through the shared kernel
        "q_sim_hybrid_rrf2",
    }
    # broadcast of a GROUPED aggregate over an SF-scaled scan is allowed only
    # here, each with a hard cardinality bound independent of SF:
    grouped_agg_allowed = {
        # bloom word table: grouped on word index, capped at 2^27 bits / 64
        # = 2M rows (skew.py sizes the bitset from an approx count + clamp)
        "q_join_bloom_prefilter",
        # per-event-type hourly stats: event_type is a bounded enum domain
        # (one row per type), not an SF-scaled key
        "q_events_anomaly_zscore",
        # heavy-hitter candidate set: grouped on the bucket key but trimmed
        # by a distributed TakeOrdered to <= HH_K = 80 rows before the
        # broadcast — a hard cap independent of SF (skew.py heavy_hitters)
        "q_agg_heavy_hitters",
        # SemDeDup hot-cluster guard (round 12): the sub-bucket-count table
        # is grouped on center_id — bounded by k, the Lloyd center count (a
        # query constant), never by SF; ceil(size/cap) per center is k rows
        # at any corpus size
        "q_dedup_semantic", "q_dedup_semantic_keepfar",
    }

    def node_depth(line: str) -> int:
        for marker in ("+- ", ":- "):
            j = line.find(marker)
            if j != -1:
                return j // 3 + 1
        return 0

    offenders = {}
    for name, rendered in registry_plans["plans"].items():
        if name in allowed:
            continue
        lines = rendered["analyzed"].splitlines()
        for k, line in enumerate(lines):
            if "ResolvedHint" not in line or "broadcast" not in line:
                continue
            d = node_depth(line)
            sub = []
            for l2 in lines[k + 1:]:
                if node_depth(l2) <= d:
                    break
                sub.append(l2)
            subtext = "\n".join(sub)
            agg_lines = [l2 for l2 in sub if l2.lstrip(" :+-|").startswith("Aggregate ")]
            if agg_lines:
                # Only the SHALLOWEST Aggregate(s) bound the broadcast size —
                # deeper ones feed it and are reduced before the exchange.
                # `Aggregate [groups], [outputs]` (grouped, two bracket lists)
                # vs `Aggregate [outputs]` (global, one list). Safe: ungrouped
                # (1 row), or grouped solely on a spark_partition_id column
                # (`_pid`, the global-cumsum/rank prefix-offset pattern —
                # ≤ num_partitions rows at any SF).
                dmin = min(node_depth(l2) for l2 in agg_lines)
                top = [l2 for l2 in agg_lines if node_depth(l2) == dmin]

                def _first_bracket_list(body: str) -> tuple[str, str]:
                    """Return (content of the first [..]-balanced list, rest).

                    Bracket-DEPTH-aware (ADVICE r5): an aggregate expression
                    whose text itself contains '], [' — nested array/struct
                    literals, lambdas — mis-splits under a substring split
                    and could silently misclassify a broadcast subtree."""
                    start = body.index("[")
                    depth = 0
                    for i in range(start, len(body)):
                        if body[i] == "[":
                            depth += 1
                        elif body[i] == "]":
                            depth -= 1
                            if depth == 0:
                                return body[start + 1 : i], body[i + 1 :]
                    return body[start + 1 :], ""

                def _agg_safe(l2: str) -> bool:
                    body = l2.lstrip(" :+-|")
                    first, rest = _first_bracket_list(body)
                    if not rest.lstrip().startswith(", ["):
                        return True  # single list — ungrouped global total
                    groups = first
                    # ONLY a spark_partition_id key qualifies — a composite
                    # (_pid, <unbounded col>) grouping scales with SF and
                    # must not slip through on the prefix alone
                    return groups.startswith("_pid#") and "," not in groups

                if all(_agg_safe(l2) for l2 in top):
                    continue
                if name in grouped_agg_allowed:
                    continue
            scanned = sorted(
                {t for sig, t in sf_scaled_sigs.items() if sig + "#" in subtext}
            )
            if scanned:
                offenders.setdefault(name, []).append(scanned)
    assert not offenders, f"forced broadcast of SF-scaled scans: {offenders}"
    # piggybacked registry-wide lint (round 5): building every plan must
    # leave NO temp view behind — SQL-text queries bind tables via
    # spark.sql {df} templating, not createOrReplaceTempView, so concurrent
    # queries on a shared session can't collide on a session-global name.
    # The snapshot diff rides the registry_plans construction pass (round
    # 17): earlier tests in the shared session legitimately register
    # memory-sink views (streaming replays), and this lint is about what
    # PLAN CONSTRUCTION leaks.
    assert not registry_plans["leaked"], (
        f"temp views leaked by plan construction: {registry_plans['leaked']}"
    )


def test_oracle_output_types_never_widen(duck):
    """Registry-wide ORACLE lint (VERDICT r4 item 3): DuckDB widens
    SUM(BIGINT) — windowed or grouped — to HUGEINT and decimal-literal
    arithmetic to DECIMAL; both surface as non-int64/double under the
    driver's Arrow-typed value hash and red an otherwise-correct engine
    result (round 4: q_llm_pack_sequences). This mechanizes the COVERAGE.md
    explicit-CAST rule: DESCRIBE every oracle against the fixture views and
    reject any HUGEINT/UHUGEINT/DECIMAL output column."""
    from hadoop_web_browsing_logs_spark.plans.registry import all_queries

    duck.execute("SET schema 'sf0_001'")
    offenders = []
    for name, q in all_queries().items():
        if q.oracle is None:
            continue
        for col, typ, *_ in duck.execute(f"DESCRIBE {q.oracle}").fetchall():
            t = typ.upper()
            # substring match on purpose: catches DECIMAL/HUGEINT nested
            # inside STRUCT(...)/LIST types too, not just top-level columns
            if "HUGEINT" in t or "DECIMAL" in t:
                offenders.append((name, col, typ))
    assert not offenders, f"oracle columns the driver's Arrow hash would widen: {offenders}"


def test_comparator_catches_uncast_window_sum(duck):
    """Round 4's harness blind spot, pinned: duckdb fetchall() collapses
    HUGEINT to Python int, so an uncast `SUM(bigint) OVER` oracle passed 215
    local tests and failed only at the driver. The Arrow-typed fetch must
    keep the widened type visible and refuse to match an int-typed engine
    result."""
    from hadoop_web_browsing_logs_spark.plans.oracle import canonical_rows, duck_fetch_typed

    res = duck.execute("SELECT SUM(x) OVER () AS s FROM (VALUES (1),(2)) t(x)")
    cols, rows = duck_fetch_typed(res)
    engine_rows = [(3,), (3,)]  # what Spark's bigint column collects to
    assert canonical_rows(cols, rows) != canonical_rows(cols, engine_rows), (
        "comparator equated HUGEINT with bigint — driver skew would pass locally"
    )
    # an int/float type skew must not compare equal either
    assert canonical_rows(["v"], [(5,)]) != canonical_rows(["v"], [(5.0,)]), (
        "comparator equated 5 with 5.0"
    )


def test_release_caches_drops_checkpoint_blocks(spark):
    """ADVICE r5: the lazy localCheckpoint frames in the similarity recall
    paths intentionally outlive their consuming action (single-shot query
    factories); long-lived sessions reclaim them via release_caches. Pin
    that the utility actually drops every persistent RDD block."""
    from hadoop_web_browsing_logs_spark.session import release_caches

    df = get_query("q_sim_lsh_candidates_portable").fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    jsc = spark.sparkContext._jsc
    assert jsc.getPersistentRDDs().size() > 0, "expected pinned checkpoint blocks"
    released = release_caches(spark)
    assert released > 0
    assert jsc.getPersistentRDDs().size() == 0


def test_release_query_caches_keeps_memos_drops_query_blocks(spark):
    """Round 17 (VERDICT r16 item 8): the bench's between-query hygiene
    release must drop QUERY-LOCAL checkpoint blocks and cached tables while
    keeping the session memos alive — a memoized plan over dropped blocks
    crashes its next consumer (the round-11 lesson), so pin both sides:
    the memo DataFrame stays collectable after the release, and the
    query-local pin is gone."""
    from pyspark.sql import functions as F

    from hadoop_web_browsing_logs_spark.operators.graph import _purchase_el
    from hadoop_web_browsing_logs_spark.session import (
        release_caches,
        release_query_caches,
    )

    release_caches(spark)  # clean slate: no memos, no blocks
    jsc = spark.sparkContext._jsc
    el = _purchase_el(spark, SF_DIR)  # publishes the memo entry
    memo_rows = el.count()  # materialize the memo's checkpoint blocks
    local = spark.range(200).select((F.col("id") * 3).alias("x")).localCheckpoint(
        eager=False
    )
    local.count()  # materialize the query-local pin
    before = jsc.getPersistentRDDs().size()
    assert before >= 2, "expected memo + query-local blocks pinned"
    released = release_query_caches(spark)
    assert released >= 1, f"expected the query-local block released, got {released}"
    assert jsc.getPersistentRDDs().size() == before - released
    # the memo must still be LIVE: same object returned, still collectable
    el2 = _purchase_el(spark, SF_DIR)
    assert el2 is el, "memo entry must survive the query-local release"
    assert el2.count() == memo_rows  # blocks intact — no CHECKPOINT_RDD error
    release_caches(spark)  # leave the session clean for later tests


def test_release_query_caches_keeps_unmaterialized_memo_usable(spark):
    """A memo entry no action has run on yet still reads its lineage, and
    the Lloyd centers' lineage holds kmeans' query-local lazy checkpoints.
    Releasing query caches before the first action must not drop those
    blocks from under the entry: both the held frame and a re-fetch stay
    collectable (no CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    from hadoop_web_browsing_logs_spark.operators.vectors import (
        N_CENTERS,
        fixture_lloyd_centers,
    )
    from hadoop_web_browsing_logs_spark.session import (
        SessionMemo,
        release_caches,
        release_query_caches,
    )

    release_caches(spark)  # clean slate: no memos, no blocks
    c = fixture_lloyd_centers(spark, SF_DIR)  # published, never materialized
    # an entry that is no checkpoint cannot be pinned: it is dropped so the
    # next fetch rebuilds it, and the release still goes ahead
    odd = SessionMemo()
    odd.put(spark, SF_DIR, spark.range(3))
    assert release_query_caches(spark) > 0
    assert len(odd) == 0
    assert c.count() == N_CENTERS
    assert fixture_lloyd_centers(spark, SF_DIR).count() == N_CENTERS
    release_caches(spark)  # leave the session clean for later tests


def test_unpersist_checkpoint_frees_evicted_memo_blocks(spark):
    """Round 12 (ADVICE r11): memo eviction/displacement must free the old
    entry's localCheckpoint storage instead of leaking it until
    release_caches. Pin the helper end-to-end: a materialized lazy
    checkpoint pins exactly one persistent RDD; unpersist_checkpoint drops
    it (and stays a silent no-op on a plain un-checkpointed frame)."""
    from pyspark.sql import functions as F

    from hadoop_web_browsing_logs_spark.session import release_caches, unpersist_checkpoint

    release_caches(spark)  # clean slate
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    ck = spark.range(100).select(F.col("id") * 2).localCheckpoint(eager=False)
    ck.count()  # materialize
    assert jsc.getPersistentRDDs().size() == base + 1
    unpersist_checkpoint(ck)
    assert jsc.getPersistentRDDs().size() == base
    # best-effort contract: anything without a LogicalRDD plan degrades
    # to a no-op, never an exception
    unpersist_checkpoint(spark.range(3))
    assert jsc.getPersistentRDDs().size() == base


def test_no_fat_payload_exchanges(registry_plans):
    """Registry-wide plan lint (round 6): no Exchange may carry a wide
    payload column — document text, embeddings, token-hash arrays, raw JSON
    props — as part of its partitioning/output. Shuffling payloads instead
    of ids/fingerprints is the 100 TB fat-shuffle anti-pattern; every
    near-dup/profile operator in this engine ships ids + 16-byte
    fingerprints and joins payloads back post-reduction. This pins it for
    every current and future registry entry (the round-6 sweep caught
    q_profile_documents' multi-countDistinct Expand shuffling raw text).

    Scope: hash/range-partitioned exchanges. BroadcastExchange of a
    bounded side (query batches, centers, stopwords) is a different, pinned
    pattern (test_no_forced_broadcast_of_sf_scaled_tables)."""
    fat = ("text#", "embedding#", "toks#", "toks_a#", "toks_b#",
           "q_vec#", "c_vec#", "props#", "hashes#")
    offenders = {}
    for name, rendered in registry_plans["plans"].items():
        for line in rendered["executed"].splitlines():
            body = line.lstrip(" :+-*")
            if body.startswith("Exchange ") and "Broadcast" not in body:
                hits = sorted({f for f in fat if f in line})
                if hits:
                    offenders.setdefault(name, []).append((hits, body[:160]))
    assert not offenders, f"payload columns riding a shuffle: {offenders}"


def test_python_stage_allowlist(registry_plans):
    """Registry-wide plan lint (round 6): Python evaluation nodes may appear
    ONLY in the queries that declare a Python kernel — the Porter stemmer
    (Arrow pandas_udf), the multimodal mapInPandas featurizer, and the B14
    UDF-surface demos. Python in any other path is the row-at-a-time slow
    path this engine's boundary policy (SCALE.md 'Python boundary policy')
    forbids."""
    allowed = {
        "q_ref_pipeline", "q_text_stemmed_terms", "q_text_porter_gate",  # Porter stem
        "q_multimodal_features",                                         # mapInPandas
        "q_udf_grouped_map", "q_udf_grouped_agg", "q_udf_python_row",    # B14 demos
        "q_agg_heavy_hitters",  # Misra-Gries sketch kernel (mapInPandas)
        "q_udtf_context_windows",  # PySpark-4 UDTF lateral-join demo (B14)
        "q_udf_cogrouped_map",  # cogrouped-map applyInPandas demo (B14)
        # per-batch numpy Gram partials — the declared covariance scale path
        # (rows-only + calibrated gate vs the bit-exact JVM twin)
        "q_vec_covariance_fast", "q_vec_covariance_fast_gate",
    }
    offenders = {}
    for name, rendered in registry_plans["plans"].items():
        hits = sorted({m for m in PYTHON_NODES if m in rendered["executed"]})
        if hits and name not in allowed:
            offenders[name] = hits
    assert not offenders, f"undeclared Python stages: {offenders}"


def test_semantic_dedup_pair_join_keys_include_salt(spark):
    """Round 12 (VERDICT r11 item 1, structural pin): the SemDeDup pair
    stage's equi-join keys must be (center_id, salt), not center_id alone
    — salt is what spreads a hot cluster's pair space over its sub-buckets
    instead of landing m² pairs on one shuffle partition. The physical
    join node (broadcast at fixture scale, sort-merge with a
    (center_id, salt) exchange at production stats) must list BOTH."""
    import re

    plan = _plan(spark, "q_dedup_semantic")
    pair_joins = [
        ln
        for ln in plan.splitlines()
        if re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin).*center_id#\d+, salt#\d+", ln)
    ]
    assert pair_joins, f"no pair join keyed on (center_id, salt):\n{plan}"
    # and the guard's salt expression is the portable Knuth hash
    assert "2654435761" in plan and "shiftright" in plan


if __name__ == "__main__":
    from hadoop_web_browsing_logs_spark.session import get_spark

    spark = get_spark("engine-tests", cpus=CPUS)
    digest = _shape_digest(spark, _registry_plans(spark)["plans"])
    with open(DIGEST, "w", encoding="utf-8") as fh:
        fh.write("{\n" + ",\n".join(f"  {json.dumps(k)}: {json.dumps(v)}" for k, v in digest.items()) + "\n}\n")
    print(f"wrote {DIGEST}: {len(digest) - 1} queries")
