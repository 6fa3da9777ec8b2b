"""DuckDB-differential tests for the relational core (SURVEY B2-B8)."""

from __future__ import annotations

import pytest

from hadoop_web_browsing_logs_spark.plans.registry import all_queries

from .conftest import assert_query_matches_oracle

RELATIONAL_CATEGORIES = {"projection", "join", "aggregation", "window", "sort", "setop", "scalar"}


def _oracle_query_names():
    return sorted(
        n for n, q in all_queries().items() if q.oracle is not None and q.category in RELATIONAL_CATEGORIES
    )


@pytest.mark.parametrize("name", _oracle_query_names())
def test_matches_duckdb_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name)


def test_approx_count_distinct_within_bounds(spark):
    from hadoop_web_browsing_logs_spark.plans.registry import get_query
    from .conftest import SF_DIR

    rows = get_query("q_agg_approx_distinct").fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # HLL++ default rsd = 5%; allow generous 15% envelope on small groups
        assert abs(r.approx_orders - r.exact_orders) <= max(5, 0.15 * r.exact_orders)


def test_bloom_prefilter_selectivity_and_no_false_negatives(spark):
    """The Bloom prefilter must pass every true match (no false negatives —
    the oracle replay proves result equality) and actually DROP rows on the
    fact side (otherwise it isn't filtering anything)."""
    import pyspark.sql.functions as F

    from hadoop_web_browsing_logs_spark.operators.skew import (
        bloom_filter_join,
        bloom_prefilter,
        sized_bloom_bits,
    )
    from hadoop_web_browsing_logs_spark.sources.readers import load_table

    from .conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey")
    urgent = (
        load_table(spark, SF_DIR, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    n_fact = li.count()
    n_true = li.join(urgent, li.l_orderkey == urgent.o_orderkey).count()
    n_joined = bloom_filter_join(li, urgent, "l_orderkey", "o_orderkey").count()
    assert n_joined == n_true  # no false negatives
    # the key-count-sized bitset keeps the false-positive rate ~1%: survivors
    # beyond the true matches must stay under 5% of the fact side
    bits = sized_bloom_bits(urgent.count())
    n_survivors = bloom_prefilter(li, urgent, "l_orderkey", "o_orderkey", bits).count()
    assert n_survivors >= n_true
    assert n_survivors - n_true <= 0.05 * n_fact


def test_gapfill_gaps_carry_forward(spark):
    """Gap rows exist on the fixture, carry the previous observed sum, and
    every (event_type, hour) spine cell is contiguous hourly."""
    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    from .conftest import SF_DIR

    rows = get_query("q_events_gapfill").fn(spark, SF_DIR).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    assert by_type
    for evs in by_type.values():
        evs.sort(key=lambda r: r.hour)
        # contiguous hourly spine
        for a, b in zip(evs, evs[1:]):
            assert (b.hour - a.hour).total_seconds() == 3600
        # first row is observed (spine starts at first active hour)
        assert evs[0].is_gap == 0
        last_obs = None
        for r in evs:
            if r.is_gap:
                assert r.n_events == 0
                assert r.filled_sum == last_obs
            else:
                last_obs = r.filled_sum
            assert r.filled_sum is not None


def test_approx_percentile_error_envelope(spark):
    """approx_percentile at accuracy 10k: relative error per quantile must
    sit well inside 1% on the fixture (measured ~2e-4)."""
    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    from .conftest import SF_DIR

    rows = get_query("q_agg_approx_percentile").fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        for p in ("p50", "p90", "p99"):
            assert r[f"{p}_rel_err"] <= 0.01, (r.returnflag, p, r[f"{p}_rel_err"])


def test_sized_bloom_bits_properties():
    """Power-of-two, >= 10 bits/key, clamped to [2^10, 2^27]."""
    from hadoop_web_browsing_logs_spark.operators.skew import (
        BLOOM_MAX_BITS,
        BLOOM_MIN_BITS,
        sized_bloom_bits,
    )

    for n in (0, 1, 100, 102, 103, 6553, 150_000, 10**9):
        m = sized_bloom_bits(n)
        assert m & (m - 1) == 0, (n, m)
        assert BLOOM_MIN_BITS <= m <= BLOOM_MAX_BITS
        if BLOOM_MIN_BITS < m < BLOOM_MAX_BITS:
            assert m >= 10 * n and m // 2 < 10 * n, (n, m)


def test_snapshot_diff_classification(spark):
    """snapshot_diff classifies a constructed 5-key universe exactly: key
    only in new -> added, only in old -> removed, both with different
    fingerprints -> changed, identical -> unchanged; NULL payloads
    fingerprint through the coalesce so a NULL->'x' edit is a change, not
    a dropped row."""
    import pyspark.sql.functions as F

    from hadoop_web_browsing_logs_spark.operators.relational3 import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (5, "same")], ["k", "payload"]
    )
    new = spark.createDataFrame(
        [(2, "B"), (3, "x"), (4, "fresh"), (5, "same")], ["k", "payload"]
    )
    fp = F.md5(F.coalesce(F.col("payload"), F.lit("")))
    got = {r.k: r.status for r in snapshot_diff(old, new, "k", fp).collect()}
    assert got == {
        1: "removed",
        2: "changed",
        3: "changed",
        4: "added",
        5: "unchanged",
    }


def test_scalar_json_variant_fuzz_typed_casts(spark, tmp_path):
    """Round 10: seeded fuzz over the JSON typed-cast space. The round-10
    probe found the q_scalar_variant/q_scalar_json oracles diverging from
    Spark on float/boolean/decimal-string k; both oracles now replicate
    Spark per json_type. This test generates 400 random props values —
    ints (including int64-edge), floats (plain + exponent), booleans,
    numeric-looking strings, nested objects/arrays, JSON null, missing k,
    malformed text — as ONE batch and replays both queries differentially
    against their registered oracles over that corpus."""
    import random

    import duckdb as _duck

    from hadoop_web_browsing_logs_spark.plans.oracle import oracle_mismatch
    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    rng = random.Random(20261015)

    def rand_props(i: int) -> str | None:
        kind = rng.randrange(14)
        if kind == 0:
            return None
        if kind == 1:
            return "not json {"
        if kind == 2:
            return "null"
        if kind == 3:
            return f'{{"x": {rng.randrange(100)}}}'  # missing k
        if kind == 4:
            return f'{{"k": {rng.randrange(-10**6, 10**6)}}}'
        if kind == 5:  # int64 edges + overflow
            v = rng.choice([2**63 - 1, -(2**63), 2**63, 10**23, -(10**20)])
            return f'{{"k": {v}}}'
        if kind == 6:
            return f'{{"k": {rng.uniform(-1e4, 1e4):.4f}}}'
        if kind == 7:
            return f'{{"k": {rng.uniform(-1, 1):.3e}}}'
        if kind == 8:
            return f'{{"k": {rng.randrange(100)}.0}}'
        if kind == 9:
            return f'{{"k": {rng.choice(["true", "false"])}}}'
        if kind == 10:
            # \\t / \\n / \\u000b etc. are JSON ESCAPES in the props text —
            # both engines decode them to real control chars; round 11
            # (ADVICE r10) pins Spark's full [\x00-\x20] try_cast trim
            # (DuckDB trim() strips spaces only; oracle regexp-strips)
            s = rng.choice(
                [str(rng.randrange(1000)), f"{rng.randrange(100)}.5",
                 f"{rng.randrange(100)}.0", "+7", " 42 ", "abc", "",
                 f"\\t{rng.randrange(100)}", f"\\n {rng.randrange(100)} \\r",
                 f"\\u000b+{rng.randrange(100)}", f"\\u00a0{rng.randrange(10)}",
                 f"{rng.randrange(10)}\\t{rng.randrange(10)}", "\\t\\n"]
            )
            return f'{{"k": "{s}"}}'
        if kind == 11:
            return f'{{"k": {{"nested": {rng.randrange(10)}}}}}'
        if kind == 12:
            return f'{{"k": [{rng.randrange(10)}, {rng.randrange(10)}]}}'
        return f'{{"k": null}}'

    rows = [
        (i, "2024-01-01 00:00:00", i % 7, f"t{i % 3}", 1.0, rand_props(i))
        for i in range(400)
    ]
    con = _duck.connect()
    vals = ", ".join(
        f"({i}, TIMESTAMP '{ts}', {u}, '{t}', {v}, "
        + ("NULL" if p is None else "'" + p.replace("'", "''") + "'")
        + ")"
        for i, ts, u, t, v, p in rows
    )
    con.execute(
        f"""COPY (SELECT * FROM (VALUES {vals})
                  AS x(event_id, ts, user_id, event_type, value, props))
            TO '{tmp_path}/events.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    for name in ("q_scalar_variant", "q_scalar_json"):
        q = get_query(name)
        why = oracle_mismatch(q.fn(spark, str(tmp_path)), con.execute(q.oracle))
        assert why is None, f"{name}: engine/oracle diverge on fuzzed JSON corpus: {why}"
    con.close()
