"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total of per-query medians over ``MEDIAN_OF`` timed passes
(after a warm-up pass of the session), so ±0.1 s single-run noise can't
masquerade as a regression signal between rounds.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoop_web_browsing_logs_spark.plans.registry import all_queries
from hadoop_web_browsing_logs_spark.session import DEFAULT_CPUS, get_spark, release_query_caches

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MEDIAN_OF = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

#: Round-1 anchor (BENCH_r01.json's 21-query total): the reference publishes
#: no numbers, so this is the standing baseline every round is graded
#: against; reporting the ratio here stops round-over-round verdicts from
#: re-deriving it (VERDICT r6 item 7).
R1_ANCHOR_SEC = 19.423

#: Headline set: one representative per operator family (kept small enough for
#: a per-round driver run, broad enough to catch a regression in any family).
HEADLINE = [
    "q1_pricing_summary",
    "q_join_multiway",
    "q_join_range",
    "q_agg_cube",
    "q_window_rank",
    "q_topk_per_group",
    "q_scalar_json",
    "q_text_inverted_index",
    "q_text_tfidf",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_dedup_simhash",
    "q_sim_cosine_topk",
    "q_vec_nearest_center",
    "q_stream_tumbling_batch",
    "q_stream_session_batch",
    "q_stream_interval_join_batch",
    "q_asof_join",
    "q_llm_chunk",
    "q_udf_grouped_map",
    "q_ref_pipeline",
    # round-4 additions (VERDICT r3 item 5): the round-3 operator families,
    # so regressions in the new operators are visible round-over-round
    "q_events_gapfill",
    "q_events_funnel",
    "q_dedup_minhash_lsh_portable",
    "q_join_bloom_prefilter",
    "q_llm_pack_sequences",
    # round-8 additions (VERDICT r7 item 5): the certified 100 TB twins of
    # the two windowed headliners — salted rank and distributed ntile — so
    # their cost is tracked round-over-round, not just their correctness.
    # BASELINE_SET stays HEADLINE[:21]; the anchor ratio is unaffected.
    "q_window_rank_salted",
    "q_window_ntile_distributed",
    # round-8 addition: the bigram corpus-LM scorer — the heaviest new op of
    # the round (corpus-wide bigram explode + two count tables + keyed join),
    # tracked from birth so its cost history starts at its first round.
    "q_llm_bigram_logprob",
    # late-round-8 additions, tracked from birth: the iterative PageRank
    # (3 dst-keyed shuffles + checkpointed edge build — the heaviest new
    # plan), the percentile-bounded winsorization (exact per-group
    # percentile + clamp join), and the HLL sketch re-aggregation (two-level
    # sketch rollup over the events scan).
    "q_graph_pagerank",
    "q_events_winsorize",
    "q_agg_sketch_reaggregate",
    # round-9 addition (VERDICT r8 item 4): triangle counting — the only
    # query with a super-linear (m^1.5-bounded) intermediate, benched from
    # its first certified round so wedge-explosion regressions are visible.
    "q_graph_triangles",
    # round-9 additions, tracked from birth: BM25 retrieval (one doc-keyed
    # conditional-count shuffle + exact micro-BIGINT TakeOrdered top-k) and
    # the embedding covariance matrix (the d²-wide per-vector explode is the
    # heaviest new map stage; welch/ewma ride already-benched exchanges).
    "q_text_bm25",
    "q_vec_covariance",
    # round-9 addition: label propagation — the second iterative graph op
    # (2 exchanges/iteration), benched from birth like PageRank.
    "q_graph_label_propagation",
    # the covariance scale twin: benched next to its exact baseline so the
    # Gram-partial speedup is tracked round-over-round
    "q_vec_covariance_fast",
    # round-10 additions (VERDICT r9 items 4+5), tracked from first
    # certified round: the dangling-redistribution PageRank (the variant
    # with one extra per-iteration scalar exchange — SCALE.md records the
    # plain-vs-dangling delta) and the hash-provable Lloyd k-means (3
    # iterations × broadcast assignment fold + K·d-bounded centroid sums).
    "q_graph_pagerank_dangling",
    "q_vec_kmeans_lloyd",
    # round-11 additions, tracked from birth: the DISTINCT-frontier
    # multi-seed BFS — K node-keyed exchanges where the recursive-CTE
    # variant overflows — and the SemDeDup semantic dedup (Lloyd clustering
    # + cluster-bounded cosine prune, the heaviest new composition of the
    # round); benched so frontier-growth / pair-space regressions are
    # visible round-over-round.
    "q_graph_bfs_frontier",
    "q_dedup_semantic",
    # round-11 late addition, tracked from birth: corpus trigram novelty
    # (distinct-shingle df table + per-doc micro-nat aggregate; round 12
    # moved its exchanges onto xxhash64 shingle fingerprints).
    "q_text_novelty",
    # round-12 addition, tracked from its first certified round: the
    # paper-keep-rule SemDeDup variant — same guarded pair stage as
    # q_dedup_semantic plus the bucket-partitioned priority rank window
    # and it reads the shared assignment memo (the delta between the two
    # IS the memo + rank cost, worth watching round-over-round).
    "q_dedup_semantic_keepfar",
    # round-12 late addition, tracked from birth: contamination SPAN
    # report (positioned fingerprinted shingle join + gaps-and-islands
    # over hit positions) — the doc-keyed islands window rides the same
    # exchange family as decontaminate, so their delta isolates the
    # positions/window cost.
    "q_llm_contamination_span",
    # round-12 late addition, tracked from birth: hybrid RRF retrieval —
    # BM25 top-20 + cosine top-20 fused by exact BIGINT micro-RRF; its
    # cost is ~the sum of its two input kernels, so a regression here
    # that doesn't show in q_text_bm25 isolates the dense-list/fusion leg.
    "q_sim_hybrid_rrf",
    # round-12 late addition, tracked from birth: shingle containment —
    # the inverted-index self-join is the engine's only pair generator
    # keyed on RAW shingle fingerprints (no banding), so its cost curve
    # vs q_dedup_minhash_lsh shows what the banded family saves.
    "q_dedup_containment",
    # round-14 addition, tracked from birth: the second hybrid-RRF query
    # point (different lexical terms + different dense point through the
    # same hybrid_rrf kernel) — benched beside q_sim_hybrid_rrf so a cost
    # divergence between the two isolates data-dependent skew in one
    # query's lists rather than a kernel regression.
    "q_sim_hybrid_rrf2",
    # round-14 late addition, tracked from birth: the prefix-filtered exact
    # Jaccard join — its cost vs q_dedup_minhash_lsh (probabilistic) and the
    # candidate count implied by its wall time are the knobs to watch as the
    # strided pair universe grows with SF.
    "q_dedup_jaccard_prefix",
    # round-15 addition, tracked from birth: the tau=0.8 prefix-join point
    # — the threshold where the prefix lengthens into shared tokens and
    # the PPJoin positional filter carries the candidate bound; benched
    # beside the tau=0.9 point so their gap tracks the filter's work.
    "q_dedup_jaccard_prefix_t8",
    # round-15 addition, tracked from birth: the second BM25 query point
    # (same bm25_rank kernel, the rrf2 term set at full top-20 depth) —
    # benched beside q_text_bm25 so a cost divergence between the two
    # isolates term-frequency skew in one query's postings rather than a
    # kernel regression (the q_sim_hybrid_rrf/rrf2 pairing, one leg down).
    "q_text_bm25_2",
    # round-16 addition, tracked from birth: the tau=0.7 prefix-join point
    # — the decimal-above-double tau class running on the floored-fraction
    # fallback and the LONG-widened filter arithmetic (ADVICE r15 item 1);
    # the widest registered prefix (the most candidate-stage work), so its
    # trend vs the tau=0.8 point tracks the positional filter's headroom
    # as the corpus grows.
    "q_dedup_jaccard_prefix_t7",
    # round-16 sweep folds (VERDICT r15 item 3: the full-registry sweep
    # found 13 untracked queries above the headline p90; these four are the
    # representative folds — the rest are adjudicated in SCALE.md round 16):
    # the CC-family representative (pairs -> eager-checkpoint pointer-
    # jumping fixpoint; keep_canonical and split_leakage_safe share ~90% of
    # this plan, so one trend line covers the family)...
    "q_dedup_components",
    # ...the heaviest Python-stage surface (cogrouped pandas UDF over the
    # full orders x lineitem cogroup — Arrow transfer + pandas cost, the
    # thing to watch if the Python boundary regresses)...
    "q_udf_cogrouped_map",
    # ...the LSH-ANN query path (bucketed candidates + top-k; its gate twin
    # is adjudicated-by-design, but the path itself deserves a trend)...
    "q_sim_lsh_ann",
    # ...and the Gopher repetition-rules scorer (the heaviest pure-SQL
    # text-quality kernel: n-gram explodes at three widths over documents).
    "q_llm_repetition_rules",
]

#: The original round-1 headline set — reported as its own subtotal
#: (``value_baseline_set``) so the grown HEADLINE list never inflates the
#: round-over-round total: BENCH_r01..r03's ``value`` covered exactly these 21.
BASELINE_SET = HEADLINE[:21]


def _load_trend(sf: str, cpus: int, per_query: dict[str, float]) -> dict[str, dict[str, float]]:
    """Per-query median history: every committed ``BENCH_r*.json`` snapshot
    taken at the same SF and core count (top-level ``cpus``;
    ``BENCH_r<N>_c<cores>.json`` keys as ``r<N>`` too), plus
    this run under the ``"now"`` key. A snapshot from another core count
    would read as a regression or a speed-up that the code never made."""
    import glob as _glob
    import re as _re

    trend: dict[str, dict[str, float]] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(_glob.glob(os.path.join(here, "BENCH_r*.json"))):
        m = _re.search(r"BENCH_r(\d+)(?:_c\d+)?\.json$", path)
        if not m:
            continue
        try:
            with open(path) as fh:
                snap = json.load(fh)
            parsed = snap.get("parsed") or {}
            if not parsed or str(snap.get("sf")) != sf or snap.get("cpus") != cpus:
                continue
            queries = parsed.get("queries") or {}
            items = queries.items() if hasattr(queries, "items") else []
        except Exception:
            continue  # one malformed snapshot must not sink the history
        for qn, sec in items:
            if isinstance(sec, (int, float)):
                trend.setdefault(qn, {})[f"r{int(m[1])}"] = sec
    for qn, sec in per_query.items():
        trend.setdefault(qn, {})["now"] = sec
    return trend


def _detect_regressions(
    trend: dict[str, dict[str, float]],
    min_now_sec: float = 0.5,
    ratio_gate: float = 1.5,
    tier1_last_sec: float = 1.0,
    tier1_ratio_gate: float = 1.25,
) -> dict[str, dict[str, float]]:
    """Queries whose current median is > gate × their LAST committed
    same-SF round median and now cost > ``min_now_sec`` (small queries
    swing whole multiples inside the ±20% ambient band — SCALE.md
    noise-band rules). TIERED gate (VERDICT r12 item 4): queries whose
    last-committed median is >= ``tier1_last_sec`` flag at
    ``tier1_ratio_gate`` = 1.25× — SCALE.md's measured same-day sf0.1
    ambient band is ±15-20%, so on a >=1 s query 1.25× already clears
    noise (the r12 q_graph_pagerank +33% drift sailed under the flat
    1.5×); sub-second queries keep the looser 1.5×. Returns
    {query: {last_committed, round, now, ratio, gate}}; a non-empty
    result also lands in BENCH_DETAIL.json as the nonzero
    ``regression_count`` sentinel."""
    out: dict[str, dict[str, float]] = {}
    for qn, hist in trend.items():
        rounds = sorted((k for k in hist if k != "now"), key=lambda k: int(k[1:]))
        now = hist.get("now")
        if not rounds or now is None or now <= min_now_sec:
            continue
        last = hist[rounds[-1]]
        gate = tier1_ratio_gate if last >= tier1_last_sec else ratio_gate
        if last > 0 and now > gate * last:
            out[qn] = {
                "last_committed": last,
                "round": int(rounds[-1][1:]),
                "now": now,
                "ratio": round(now / last, 2),
                "gate": gate,
            }
    return out


def _ambient_shift(
    trend: dict[str, dict[str, float]],
    min_queries: int = 8,
    min_last_sec: float = 0.05,
    flag_ratio: float = 1.2,
) -> dict[str, float | int | bool] | None:
    """Machine-wide ambient-shift discriminator (VERDICT r13 item 5).

    The tiered per-query gate compares each query against its own committed
    median, so a UNIFORM machine-wide slowdown (post-suite page-cache
    pressure, a contended box, a session-conf change) either hides under
    every per-query gate or fires them all at once — the r13 driver
    snapshot moved +13.7% uniformly and the gate rightly stayed quiet, but
    a real all-query regression would have looked identical. This computes
    the MEDIAN now/last-committed ratio across every headline query with a
    committed same-SF history (the median is robust: fewer than half the
    queries being genuinely code-touched cannot move it past the flag on
    their own) and flags when it exceeds ``flag_ratio`` = 1.2x — just
    outside SCALE.md's measured ±15-20% ambient band. Interpretation when
    flagged: the shift is machine-wide — if the code is untouched, rerun
    idle (ambient); if a session-level change landed, bisect THAT, not the
    individual queries. Returns ``{"median_ratio", "n", "flagged"}`` or
    ``None`` when fewer than ``min_queries`` queries have both a committed
    median above ``min_last_sec`` (sub-50 ms queries are timer jitter) and
    a current sample."""
    ratios: list[float] = []
    long_ratios: list[float] = []
    for hist in trend.values():
        rounds = sorted((k for k in hist if k != "now"), key=lambda k: int(k[1:]))
        now = hist.get("now")
        if not rounds or now is None:
            continue
        last = hist[rounds[-1]]
        if last >= min_last_sec:
            ratios.append(now / last)
        if last >= 1.0:
            long_ratios.append(now / last)
    if len(ratios) < min_queries:
        return None
    med = statistics.median(ratios)
    out: dict[str, float | int | bool] = {
        "median_ratio": round(med, 3),
        "n": len(ratios),
        "flagged": med > flag_ratio,
        # the all-query tier's own verdict, preserved before the long-tier
        # OR below so _annotate_ambient can branch on it instead of
        # re-stating flag_ratio (ADVICE r15 item 2)
        "all_flagged": med > flag_ratio,
    }
    # Long-query tier (round 15, VERDICT r14 item 2): a machine under
    # bench-time LOAD slows the longest multi-stage iterative jobs far more
    # than the sub-second majority — the r14 driver run flagged exactly the
    # graph family 1.25-1.37x while the uniform median read 1.018, and the
    # idle worktree A/B vs the r12 tag then measured the family at
    # 1.01-1.04x (SCALE.md round 15: code-state parity, load artifact).
    # The median over queries whose committed median is >= 1 s SEES that
    # duration-correlated shape; the all-query median cannot.
    if len(long_ratios) >= 3:
        lmed = statistics.median(long_ratios)
        out["long_median_ratio"] = round(lmed, 3)
        out["long_n"] = len(long_ratios)
        out["long_flagged"] = lmed > flag_ratio
        out["flagged"] = bool(out["flagged"]) or lmed > flag_ratio
    return out


def _annotate_ambient(
    regressions: dict[str, dict], ambient: dict | None
) -> str:
    """Wire the ambient discriminator INTO the per-query regression lines
    (VERDICT r14 item 8): when the machine-wide flag fires, every
    REGRESSION line this run is suspect — annotate it (never suppress it)
    so a later reader of BENCH_DETAIL.json / the driver log can tell
    adjudicated-ambient from unexplained at a glance. Mutates each
    regression record with ``ambient_flagged: True`` and returns the
    suffix to append to the printed line ('' when the flag is down)."""
    if not (ambient and ambient.get("flagged")):
        return ""
    for r in regressions.values():
        r["ambient_flagged"] = True
    if ambient.get("long_flagged") and not ambient.get("all_flagged"):
        # the duration-correlated shape: long jobs slowed, the sub-second
        # majority did not — bench-time load, per the r15 adjudication
        return (
            f" [AMBIENT-FLAGGED (long-query tier): median shift "
            f"{ambient['long_median_ratio']}x across the {ambient['long_n']} "
            f">=1s queries while the all-query median reads "
            f"{ambient['median_ratio']}x — duration-correlated load; "
            f"adjudicate vs an idle rerun before bisecting this query]"
        )
    return (
        f" [AMBIENT-FLAGGED: machine-wide median shift "
        f"{ambient['median_ratio']}x — adjudicate vs an idle rerun "
        f"before bisecting this query]"
    )


def main() -> None:
    spark = get_spark("bench")
    queries = all_queries()
    names = [n for n in HEADLINE if n in queries] or sorted(queries)[:5]

    def run_once(n: str) -> float:
        t0 = time.perf_counter()
        queries[n].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        # outside the timed span: drop the query-local blocks just
        # abandoned, keep the session memos
        release_query_caches(spark)
        return dt

    # Warm-up pass: full execution (JVM JIT, parquet footers, Python workers,
    # broadcast caches) — first-query JIT otherwise dominates the measurement.
    for n in names:
        run_once(n)

    # Interleaved rounds (all queries, then repeat) rather than back-to-back
    # repeats per query, so a transient GC pause penalizes one round, not one
    # query's every sample.
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(MEDIAN_OF):
        for n in names:
            samples[n].append(run_once(n))
    per_query = {n: round(statistics.median(ts), 3) for n, ts in samples.items()}
    total = sum(per_query.values())
    baseline_total = sum(per_query[n] for n in BASELINE_SET if n in per_query)
    # minima + load average ride along as noise diagnostics: round-over-round
    # medians on a contended machine can show ±20% phantom swings (observed
    # round 6); the min is the steadier floor signal for regression triage.
    per_query_min = {n: round(min(ts), 3) for n, ts in samples.items()}
    try:
        load_avg = round(os.getloadavg()[0], 2)
    except OSError:
        load_avg = None

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    line = {
        "metric": "headline_queries_total_wall_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "value_baseline_set": round(baseline_total, 3),
        "queries": per_query,
        "value_min": round(sum(per_query_min.values()), 3),
        "value_min_baseline_set": round(
            sum(per_query_min[n] for n in BASELINE_SET if n in per_query_min), 3
        ),
        "anchor_r1_sec": R1_ANCHOR_SEC,
        "vs_r1_anchor": round(baseline_total / R1_ANCHOR_SEC, 3),
        "load_avg_1m": load_avg,
        "median_of": MEDIAN_OF,
        "sf": float(sf) if sf else None,
        "cpus": DEFAULT_CPUS,
    }
    # Full detail (per-query minima + every raw sample) goes to a FILE, not
    # the stdout line: round 8's line grew past the driver's tail capture and
    # came back "parsed": null (VERDICT r8 item 2) — the one-line contract
    # only survives if the line stays small, so everything diagnostic lives
    # in BENCH_DETAIL.json and the line carries just the graded numbers.
    detail = dict(line)
    detail["queries_min"] = per_query_min
    detail["samples"] = {n: [round(x, 3) for x in ts] for n, ts in samples.items()}
    # Trend block (VERDICT r10 item 8): per-query median history across the
    # committed BENCH_r*.json snapshots (same-SF, same-cpus rows only), plus
    # this run — so a regression surfaces from BENCH_DETAIL alone instead
    # of hand-diffing ten snapshot files. Missing rounds (query not yet
    # registered / not sampled) are simply absent from that query's map.
    try:
        trend = _load_trend(str(line["sf"]), DEFAULT_CPUS, per_query)
        detail["trend"] = trend
        # Loud regression gate (VERDICT r11 item 3, tiered r13): flag every
        # query now >0.5 s that runs past its tier's gate vs its LAST
        # COMMITTED same-SF round median — 1.25x for queries whose last
        # median was >=1 s, 1.5x below (thresholds justified against the
        # SCALE.md ±15-20% ambient band; see _detect_regressions).
        regressions = _detect_regressions(trend)
        detail["regressions"] = regressions
        detail["regression_count"] = len(regressions)
        # Ambient-shift discriminator (VERDICT r13 item 5): the median
        # now/last ratio across all historied queries separates a
        # machine-wide shift (rerun idle / bisect the session conf) from
        # isolated per-query regressions (bisect the query's kernel).
        ambient = _ambient_shift(trend)
        detail["ambient_shift"] = ambient
        if ambient is not None:
            line["ambient_shift_ratio"] = ambient["median_ratio"]
            line["ambient_shift_flag"] = ambient["flagged"]
            if ambient["flagged"]:
                print(
                    f"AMBIENT SHIFT: median now/last ratio "
                    f"{ambient['median_ratio']}x across {ambient['n']} "
                    f"historied queries — machine-wide, not per-query; if "
                    f"the code is untouched rerun idle, else bisect the "
                    f"session-level change (per-query flags above are "
                    f"suspect until then)",
                    file=sys.stderr,
                )
        amb_suffix = _annotate_ambient(regressions, ambient)
        for qn, r in sorted(regressions.items()):
            print(
                f"REGRESSION {qn}: {r['last_committed']}s (r{r['round']}) -> "
                f"{r['now']}s ({r['ratio']}x; gate {r['gate']}x, noise band ±20%)"
                f"{amb_suffix}",
                file=sys.stderr,
            )
    except Exception as ex:
        # trend/regression is diagnostic sugar; never fail the bench — but
        # say WHY the gate went dark, or a gate bug reads as "no
        # regressions" (ADVICE r11: the old OSError/ValueError catch let a
        # malformed snapshot's AttributeError abort the run post-sampling)
        print(f"TREND-GATE ERROR (non-fatal): {ex!r}", file=sys.stderr)
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: the stdout line still carries the grades
    print(json.dumps(line))


if __name__ == "__main__":
    main()
