"""Relational core — SURVEY.md §2 Table B2-B8.

The reference has no relational surface at all (its only join-shaped constructs
are a broadcast anti-lookup, ProcessData.java:408/416, and a broadcast
nested-loop argmin, ProcessData.java:521-532; its only aggregations are the
incidence-vector build at :454-472 and collect-list at :607-618). This module
declares the full relational operator set the new engine supports, each as a
lazy DataFrame plan that Catalyst optimizes (predicate pushdown, column
pruning, join selection, partial aggregation — all automatic).

Scale notes (100 TB mindset):

- Joins are written fact-side-large: small dimensions (region/nation/customer
  at TPC-H ratios) broadcast — either by Catalyst's threshold or an explicit
  ``F.broadcast`` hint — so the big fact table never shuffles for them.
- Aggregations rely on Spark's automatic partial (map-side) aggregation; no
  hand-rolled combiners (the reference's combiner was disabled in Job 1,
  ProcessData.java:653, and corrupt in Job 2, :670 — SURVEY Appendix A B3).
- Top-k per group uses window + ``row_number`` filter; global top-k uses
  ``orderBy().limit()`` which Spark runs as a distributed TakeOrdered (no full
  sort, no single-node bottleneck).

Float determinism (the oracle gate's #1 hazard):

- Row-level computed floats are emitted UNROUNDED — both engines evaluate the
  identical IEEE-754 expression over identical inputs, so the bits match.
  Rounding would *introduce* divergence: fixed-point products like
  ``price*(1-disc)`` land exactly on decimal halves, and Spark (BigDecimal
  HALF_UP on the shortest repr) vs DuckDB (float multiply) disagree there.
- Sums over fixed-point data use :func:`dsum` — sum exact integer multiples,
  divide once at the end. Integer summation is associative, so the result is
  bit-identical regardless of partitioning/summation order, at any scale.
- Only transcendental outputs (ln) are rounded, to absorb last-ulp libm
  differences between the JVM and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..plans.registry import query
from ..session import barrier
from ._util import one_group, t


def dsum(col: Column | str, ndigits: int = 2) -> Column:
    """Order-independent sum of fixed-point data: ``round(x*10^n)`` is summed
    as BIGINT (exact, associative), then scaled back — deterministic across
    engines, partitionings, and scale factors. Result is DOUBLE.

    ``try_cast``, not ``cast`` (round 7): a single NaN/±Inf value — routine
    garbage in a 100 TB metric column — made ANSI Spark throw CAST_OVERFLOW
    and DuckDB a Conversion Error, crashing every money-sum query. Under
    try_cast a value whose scaled form does not fit BIGINT (NaN, ±Inf,
    |x| ≳ 9.2e16 at n=2) contributes NULL — skipped by SUM — in BOTH engines,
    so the fixed-point sum is total over garbage with unchanged results on
    finite in-range data (the adversarial fixture pins both properties).

    For data wider than ~1e18/10^n rows·magnitude, switch the accumulator to
    DECIMAL(38,n); at the fixture scales BIGINT has huge headroom.
    """
    scale = 10**ndigits
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.round(c * scale).try_cast("bigint")) / float(scale)


def dsum_sql(expr: str, ndigits: int = 2) -> str:
    # CAST to DOUBLE before dividing: in Spark SQL a bare `100.0` literal is
    # DECIMAL, which would change the result type vs the DataFrame API.
    # TRY_CAST mirrors dsum's non-finite tolerance (NaN/±Inf/overflow → NULL,
    # skipped by SUM) with DuckDB's identical TRY_CAST semantics.
    scale = 10**ndigits
    return f"CAST(SUM(TRY_CAST(ROUND(({expr}) * {scale}) AS BIGINT)) AS DOUBLE) / {scale}"


# ---------------------------------------------------------------------------
# Scans, projection, filter, expressions (B1, B2)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')}                                          AS sum_qty,
           {dsum_sql('l_extendedprice')}                                     AS sum_base_price,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 4)}               AS sum_disc_price,
           {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
           {dsum_sql('l_quantity')} / COUNT(*)                               AS avg_qty,
           {dsum_sql('l_extendedprice')} / COUNT(*)                          AS avg_price,
           {dsum_sql('l_discount')} / COUNT(*)                               AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    category="aggregation",
    description="TPC-H Q1-style pricing summary: scan→filter(pushdown)→hash agg (partial+final).",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            (dsum("l_quantity") / n).alias("avg_qty"),
            (dsum("l_extendedprice") / n).alias("avg_price"),
            (dsum("l_discount") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "q_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           CASE WHEN l_discount > 0.05 THEN 'HI' ELSE 'LO' END AS disc_band,
           CAST(l_quantity AS INTEGER) AS qty_int
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag = 'A'
    """,
    category="projection",
    description="Projection + predicate + CASE/CAST expressions; filter and column pruning push to the parquet scan.",
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity").between(10, 20)) & (F.col("l_returnflag") == "A")).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.when(F.col("l_discount") > 0.05, "HI").otherwise("LO").alias("disc_band"),
        F.col("l_quantity").cast("int").alias("qty_int"),
    )


# ---------------------------------------------------------------------------
# Joins (B3) — inner / left / right / full / semi / anti / multi-way / theta / range
# ---------------------------------------------------------------------------


@query(
    "q_join_inner",
    oracle=f"""
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_orders,
           {dsum_sql('o.o_totalprice')} AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    category="join",
    description="Inner equi-join fact→dim; customer UNHINTED — it scales with SF (~15B rows at 100 TB), so the planner broadcasts while it fits and shuffle-joins beyond.",
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total_price"))
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           COUNT(*) AS n_rows,
           COUNT(o.o_orderkey) AS n_orders,
           COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)), 0) / 100.0 AS total_price
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
    category="join",
    description="Left outer join preserving customers without orders; COUNT(col) vs COUNT(*) null semantics.",
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    cents = F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderkey").alias("n_orders"),
            (F.coalesce(cents, F.lit(0)) / 100.0).alias("total_price"),
        )
    )


@query(
    "q_join_full",
    oracle="""
    SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
           COUNT(o.o_orderkey) AS n_orders,
           MAX(c.c_name) AS name
    FROM customer c FULL JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY COALESCE(c.c_custkey, o.o_custkey)
    """,
    category="join",
    description="Full outer join; grouped on coalesced key so both null sides are exercised.",
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "full")
        .groupBy(F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"))
        .agg(F.count("o_orderkey").alias("n_orders"), F.max("c_name").alias("name"))
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 50000)
    GROUP BY c_nationkey
    """,
    category="join",
    description="Left-semi join (EXISTS): customers having at least one order > 50k.",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 50000)
    c = t(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_nationkey
    """,
    category="join",
    description=(
        "Left-anti join (NOT EXISTS) — the reference's stop-word rejection is exactly this "
        "shape, done with a DistributedCache HashSet (ProcessData.java:408, 416)."
    ),
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "q_join_multiway",
    oracle=f"""
    SELECT c.c_mktsegment AS mktsegment, o.o_orderpriority AS orderpriority,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY c.c_mktsegment, o.o_orderpriority
    """,
    category="join",
    description="Three-way star join (TPC-H Q3 flavor): lineitem⋈orders shuffles on orderkey; customer UNHINTED (SF-scaled) — broadcast at small SF by stats, shuffle join at 100 TB.",
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
    c = t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("mktsegment"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "q_join_range",
    oracle=f"""
    SELECT p.p_brand AS brand, COUNT(*) AS n_matches,
           {dsum_sql('l.l_extendedprice')} AS total_price
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
                AND l.l_quantity BETWEEN p.p_size - 5 AND p.p_size + 5
    GROUP BY p.p_brand
    """,
    category="join",
    description="Equi+range join (band predicate on quantity vs size); equi key carries the hash join, range is a post-filter.",
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    cond = (
        (li.l_partkey == p.p_partkey)
        & (li.l_quantity >= p.p_size - 5)
        & (li.l_quantity <= p.p_size + 5)
    )
    return (
        # part is SF-scaled, so no forced hint — the equi key keeps this a
        # hash join either way; the planner picks broadcast only while part
        # fits the threshold
        li.join(p, cond)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).alias("n_matches"), dsum("l_extendedprice").alias("total_price"))
    )


@query(
    "q_join_theta",
    oracle="""
    SELECT r.r_name AS region_name, COUNT(*) AS n_other_nations
    FROM region r JOIN nation n ON r.r_regionkey <> n.n_regionkey
    GROUP BY r.r_name
    """,
    category="join",
    description="Theta (non-equi) join via broadcast nested loop — the physical op the reference's center-assignment loop is (ProcessData.java:521-532).",
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    return (
        r.join(n, r.r_regionkey != n.n_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(F.count(F.lit(1)).alias("n_other_nations"))
    )


# ---------------------------------------------------------------------------
# Aggregations (B4)
# ---------------------------------------------------------------------------


@query(
    "q_agg_stats",
    oracle=f"""
    SELECT o_orderpriority AS orderpriority,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           {dsum_sql('o_totalprice')} AS sum_price,
           {dsum_sql('o_totalprice')} / COUNT(*) AS avg_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    category="aggregation",
    description="count/sum/avg/min/max + exact count-distinct per group.",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    return o.groupBy(F.col("o_orderpriority").alias("orderpriority")).agg(
        n.alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        dsum("o_totalprice").alias("sum_price"),
        (dsum("o_totalprice") / n).alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@query(
    "q_agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) + 2 * GROUPING(l_linestatus) AS gid,
           {dsum_sql('l_quantity')} AS sum_qty, COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    category="aggregation",
    description="ROLLUP hierarchy totals with GROUPING marker disambiguating subtotal nulls.",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        (F.grouping("l_returnflag").cast("bigint") + F.grouping("l_linestatus").cast("bigint") * 2).alias("gid"),
        dsum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) + 2 * GROUPING(l_linestatus) AS gid,
           {dsum_sql('l_extendedprice')} AS sum_price, COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    category="aggregation",
    description="CUBE over two dims — all 4 grouping-set combinations in one pass (Expand + partial agg).",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        (F.grouping("l_returnflag").cast("bigint") + F.grouping("l_linestatus").cast("bigint") * 2).alias("gid"),
        dsum("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_agg_grouping_sets",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           {dsum_sql('o_totalprice')} AS sum_price, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
    category="aggregation",
    description="Explicit GROUPING SETS (priority-only, status-only, grand total).",
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # {orders} templating instead of a temp view: no session-global name is
    # registered, so concurrent queries on one shared session can't collide
    return spark.sql(
        f"""
        SELECT o_orderpriority, o_orderstatus,
               {dsum_sql('o_totalprice')} AS sum_price, COUNT(*) AS n
        FROM {{orders}}
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """,
        orders=t(spark, sf_dir, "orders"),
    )


@query(
    "q_agg_approx_distinct",
    oracle=None,  # approximate (HLL) — no exact SQL twin; bounds asserted in pytest
    category="aggregation",
    description="approx_count_distinct (HyperLogLog++) vs the exact count — the 100 TB path for cardinality.",
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )


@query(
    "q_agg_approx_percentile",
    oracle=None,  # approximate (KLL-style quantile sketch) — no exact SQL
    # twin; the query is self-evaluating (est vs exact per quantile) and the
    # error envelope is asserted in pytest.
    category="aggregation",
    description=(
        "approx_percentile (mergeable quantile sketch, accuracy 10k) vs the "
        "exact percentile at p50/p90/p99 — the 100 TB path for quantiles: "
        "the sketch merges across partitions in fixed memory where exact "
        "percentile must materialize and sort each group. Self-evaluating "
        "output carries both values and the relative error per quantile."
    ),
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.percentile_approx("l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10000).alias("est"),
        F.expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").alias("exact"),
    )
    cols = [agg.returnflag]
    for i, p in enumerate(("p50", "p90", "p99"), start=1):
        e, x = F.element_at("est", i), F.element_at("exact", i)
        cols += [
            e.alias(f"{p}_est"),
            x.alias(f"{p}_exact"),
            (F.abs(e - x) / x).alias(f"{p}_rel_err"),
        ]
    return agg.select(*cols)


def all_rows_gate(df: DataFrame, within: F.Column) -> DataFrame:
    """One-row ``ok`` boolean: ``df`` is non-empty AND every row satisfies
    ``within``. The shared reduction for the constant-oracle driver gates
    (a NULL predicate makes min() skip the row, so NULLs count as failures
    only through the non-empty check — predicates must not yield NULL)."""
    return df.agg(
        F.count(F.lit(1)).alias("_n"), F.min(within.cast("int")).alias("_m")
    ).select(((F.col("_n") > 0) & (F.col("_m") == 1)).alias("ok"))


@query(
    "q_agg_approx_distinct_gate",
    oracle="SELECT TRUE AS ok",
    category="aggregation",
    description=(
        "Driver gate for HLL++ cardinality: every group's "
        "approx_count_distinct must sit within the pytest envelope "
        "(max(5, 15%) of exact). Constant-oracle pattern — the sketch's "
        "exact output isn't portable, its error bound is."
    ),
    tags=("calibrated",),
)
def q_agg_approx_distinct_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = q_agg_approx_distinct(spark, sf_dir)
    within = F.abs(F.col("approx_orders") - F.col("exact_orders")) <= F.greatest(
        F.lit(5.0), F.lit(0.15) * F.col("exact_orders")
    )
    return all_rows_gate(d, within)


@query(
    "q_agg_approx_percentile_gate",
    oracle="SELECT TRUE AS ok",
    category="aggregation",
    description=(
        "Driver gate for the quantile sketch: every group's p50/p90/p99 "
        "relative error must stay under 1% at accuracy 10k (the pytest "
        "envelope). Constant-oracle pattern."
    ),
    tags=("calibrated",),
)
def q_agg_approx_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = q_agg_approx_percentile(spark, sf_dir)
    within = F.greatest("p50_rel_err", "p90_rel_err", "p99_rel_err") <= 0.01
    return all_rows_gate(p, within)


# ---------------------------------------------------------------------------
# Window functions (B5)
# ---------------------------------------------------------------------------


_WINDOW_RANK_ORACLE = """
    SELECT * FROM (
        SELECT l_returnflag, l_orderkey, l_linenumber,
               l_extendedprice AS price,
               ROW_NUMBER()  OVER w AS rn,
               RANK()        OVER w AS rnk,
               DENSE_RANK()  OVER w AS drnk
        FROM lineitem
        WINDOW w AS (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
    ) WHERE rn <= 5
    """


@query(
    "q_window_rank",
    oracle=_WINDOW_RANK_ORACLE,
    category="window",
    description="row_number/rank/dense_rank with full deterministic ordering; top-5 per partition.",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # l_returnflag has 3 distinct values, so this window sorts in 3 tasks —
    # measured FASTER at sf0.1 than a salted two-phase top-k (1.30 s vs
    # 1.52 s: the salt's extra full shuffle dominates while per-group data
    # fits a task). Past ~task-sized groups the trade flips; the salted
    # rewrite (pmod(l_orderkey, P) salt → local top-5 per (flag, salt) →
    # 15·P-row final window, identical output since the composite order is
    # total) is the 100 TB shape.
    w = W.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return (
        li.select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").alias("price"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 5)
    )


TOPK_SALTS = 8


@query(
    "q_window_rank_salted",
    oracle=_WINDOW_RANK_ORACLE,
    category="window",
    description=(
        "The 100 TB shape of q_window_rank: salt each row by "
        "pmod(l_orderkey, 8), take a LOCAL top-5 per (returnflag, salt) "
        "window first, then run the ranking window over the <= 5*8 "
        "survivors per flag. Identical output to the unsalted query (same "
        "oracle proves it): the composite order is total, so every global "
        "top-5 row — and every row ranked above it — survives its "
        "salt-local top-5. No task ever sorts more than its salt shard; "
        "the final window touches 40 rows per flag instead of the whole "
        "partition. Locally the extra shuffle loses to the 3-task sort "
        "(1.52 s vs 1.30 s at sf0.1), which is why both shapes stay "
        "registered."
    ),
)
def q_window_rank_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    order = [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")]
    w_local = W.partitionBy("l_returnflag", "_salt").orderBy(*order)
    survivors = (
        li.withColumn("_salt", F.pmod(F.col("l_orderkey"), F.lit(TOPK_SALTS)))
        .withColumn("_lrn", F.row_number().over(w_local))
        .filter(F.col("_lrn") <= 5)
    )
    w = W.partitionBy("l_returnflag").orderBy(*order)
    return (
        survivors.select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").alias("price"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 5)
    )


@query(
    "q_window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           o_totalprice AS price,
           o_totalprice - LAG(o_totalprice) OVER w AS delta_prev,
           LEAD(o_totalprice) OVER w               AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    category="window",
    description="lag/lead along each customer's order history.",
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("delta_prev"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


@query(
    "q_window_frames",
    oracle="""
    SELECT o_custkey, o_orderkey,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running_total,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0
             / COUNT(*)
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg3
    FROM orders
    """,
    category="window",
    description="Aggregate-over-window with explicit ROWS frames: running total + 3-row moving average (exact fixed-point accumulation).",
)
def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    mov = w.rowsBetween(-2, W.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(cents).over(run) / 100.0).alias("running_total"),
        (F.sum(cents).over(mov) / 100.0 / F.count(F.lit(1)).over(mov)).alias("moving_avg3"),
    )


@query(
    "q_window_ntile",
    oracle="""
    SELECT c_custkey,
           NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS balance_quartile,
           ROUND(PERCENT_RANK() OVER (ORDER BY c_acctbal DESC, c_custkey), 6) AS pct_rank
    FROM customer
    """,
    category="window",
    description="ntile + percent_rank over a global ordering (single-partition window — fine for dims, not facts).",
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    w = W.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return c.select(
        "c_custkey",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


def with_global_rank(df: DataFrame, order_cols: list, num_partitions: int = 32, rn_col: str = "rn") -> DataFrame:
    """Distributed global row-number over a total order — the scale path that
    the built-in unpartitioned window (WindowExec, single-partition funnel)
    can't take.

    Range-repartition on the sort keys → per-partition local ``row_number`` →
    add broadcast per-partition offsets (prefix sums of the P-row count
    table). The global position is invariant to where the range boundaries
    land, so the result is deterministic under any sampling the range
    partitioner does. Adds ``rn_col`` (BIGINT, 1-based) and ``_n_total``.

    The range-partitioned input feeds two branches (local ranks and the
    per-partition count table); a lazy barrier materializes it once —
    no recomputation of the upstream plan, and both branches structurally see
    the SAME partition boundaries instead of relying on the range sampler
    re-executing identically.
    """
    s = barrier(df.repartitionByRange(num_partitions, *order_cols))
    pid_df = s.withColumn("_pid", F.spark_partition_id())
    wl = W.partitionBy("_pid").orderBy(*order_cols)
    local = pid_df.withColumn("_lrn", F.row_number().over(wl))
    counts = pid_df.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    # prefix-sum offsets over the P-row counts table (single-group window on
    # P rows — constant-size frame, not a data-sized funnel)
    wo = W.partitionBy(one_group("_pid")).orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(wo), F.lit(0)).alias("_off")
    )
    totals = counts.agg(F.sum("_n").alias("_n_total"))
    return (
        local.join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(totals))
        .withColumn(rn_col, (F.col("_lrn") + F.col("_off")).cast("bigint"))
        .drop("_pid", "_lrn", "_off")
    )


def with_global_cumsum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    num_partitions: int = 32,
    out_col: str = "cumsum",
) -> DataFrame:
    """Distributed running SUM over a total order — the cumulative-sum twin of
    :func:`with_global_rank`, replacing the unpartitioned
    ``SUM() OVER (ORDER BY ...)`` single-partition funnel.

    Range-repartition on the sort keys → per-partition local running sum →
    add broadcast per-partition value totals' prefix sums. Adds ``out_col``
    (BIGINT, inclusive running total in the global order). The partitioned
    input goes behind a barrier, as in :func:`with_global_rank`."""
    s = barrier(df.repartitionByRange(num_partitions, *order_cols))
    pid_df = s.withColumn("_pid", F.spark_partition_id())
    wl = (
        W.partitionBy("_pid").orderBy(*order_cols).rowsBetween(W.unboundedPreceding, 0)
    )
    local = pid_df.withColumn("_lcs", F.sum(value_col).over(wl))
    sums = pid_df.groupBy("_pid").agg(F.sum(value_col).alias("_s"))
    wo = W.partitionBy(one_group("_pid")).orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = sums.select(
        "_pid", F.coalesce(F.sum("_s").over(wo), F.lit(0)).alias("_soff")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_lcs") + F.col("_soff")).cast("bigint"))
        .drop("_pid", "_lcs", "_soff")
    )


@query(
    "q_window_ntile_distributed",
    oracle="""
    SELECT c_custkey,
           NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS balance_quartile,
           ROUND(PERCENT_RANK() OVER (ORDER BY c_acctbal DESC, c_custkey), 6) AS pct_rank
    FROM customer
    """,
    category="window",
    description=(
        "Global ntile + percent_rank WITHOUT the single-partition window: "
        "range-repartition + local row_number + broadcast prefix-sum offsets "
        "give each row its global position, then ntile/percent_rank are "
        "recomputed arithmetically from (rn, N). Same oracle as "
        "q_window_ntile — the all-pairs window semantics, the 100 TB plan."
    ),
)
def q_window_ntile_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    order = [F.col("c_acctbal").desc(), F.col("c_custkey")]
    ranked = with_global_rank(c, order, rn_col="_rn")
    k = F.lit(4).cast("bigint")
    n, rn = F.col("_n_total"), F.col("_rn")
    q = F.floor(n / k).cast("bigint")  # bucket base size
    r = n % k  # first r buckets get q+1 rows (SQL NTILE semantics)
    big = q + F.lit(1)
    bucket = F.when(rn <= r * big, F.ceil(rn / big)).otherwise(
        r + F.ceil((rn - r * big) / F.greatest(q, F.lit(1)))
    )
    # composite order is total → rank == rn, so percent_rank = (rn-1)/(N-1)
    pct = F.when(n > 1, F.round((rn - 1) / (n - 1), 6)).otherwise(F.lit(0.0))
    return ranked.select(
        "c_custkey",
        bucket.cast("int").alias("balance_quartile"),
        pct.alias("pct_rank"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k (B6)
# ---------------------------------------------------------------------------


@query(
    "q_topk_global",
    oracle="""
    SELECT o_orderkey, o_totalprice AS price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    category="sort",
    description="Global top-k: Spark executes orderBy+limit as TakeOrdered (per-partition top-k, then merge) — no full sort.",
)
def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", F.col("o_totalprice").alias("price"))
        .limit(10)
    )


@query(
    "q_topk_per_group",
    oracle="""
    SELECT * FROM (
        SELECT c.c_mktsegment AS mktsegment, o.o_orderkey,
               o.o_totalprice AS price,
               ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                  ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rn <= 3
    """,
    category="sort",
    description="Top-3 orders per market segment: window row_number ≤ k after an unhinted dim join (customer is SF-scaled).",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    w = W.partitionBy("mktsegment").orderBy(F.col("price").desc(), F.col("o_orderkey"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(F.col("c_mktsegment").alias("mktsegment"), "o_orderkey", F.col("o_totalprice").alias("price"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Set operations (B7)
# ---------------------------------------------------------------------------


@query(
    "q_set_ops",
    oracle="""
    SELECT 'union' AS op, nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer
        UNION SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'intersect' AS op, nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'except' AS op, nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT SELECT s_nationkey FROM supplier)
    """,
    category="setop",
    description="union(distinct) / intersect / except between customer and supplier nation sets, tagged by op.",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    union = c.union(s).distinct().select(F.lit("union").alias("op"), "nationkey")
    inter = c.intersect(s).select(F.lit("intersect").alias("op"), "nationkey")
    exc = c.subtract(s).select(F.lit("except").alias("op"), "nationkey")  # EXCEPT (distinct) semantics
    return union.unionByName(inter).unionByName(exc)


@query(
    "q_distinct",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
    category="setop",
    description="DISTINCT == dropDuplicates — exact dedup on a projection (hash agg on the pair).",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").dropDuplicates()


# ---------------------------------------------------------------------------
# Scalar function surface (B8): string / date / math / JSON / array
# ---------------------------------------------------------------------------


@query(
    "q_scalar_string",
    oracle="""
    SELECT p_partkey,
           LOWER(p_name)                          AS lower_name,
           UPPER(p_brand)                         AS upper_brand,
           SUBSTR(p_name, 1, 4)                   AS name_prefix,
           LENGTH(p_name)                         AS name_len,
           CONCAT_WS('|', p_brand, p_type)        AS brand_type,
           REPLACE(p_name, ' ', '_')              AS snake_name,
           INSTR(p_name, 'widget')                AS widget_pos,
           SPLIT_PART(p_name, ' ', 1)             AS first_word,
           LEVENSHTEIN(p_brand, 'Brand#1')        AS brand_dist,
           REGEXP_EXTRACT(p_brand, '([0-9]+)', 1) AS brand_num
    FROM part
    """,
    category="scalar",
    description="String function surface: case, substring, length, concat_ws, replace, instr, split, levenshtein, regexp_extract.",
)
def q_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("lower_name"),
        F.upper("p_brand").alias("upper_brand"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("snake_name"),
        F.instr("p_name", "widget").alias("widget_pos"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.levenshtein("p_brand", F.lit("Brand#1")).alias("brand_dist"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
    )


@query(
    "q_scalar_date",
    oracle=f"""
    SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month,
           COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS sum_price,
           MIN(EXTRACT(year  FROM o_orderdate)) AS min_year,
           MAX(EXTRACT(month FROM o_orderdate)) AS max_month,
           MAX(EXTRACT(day   FROM o_orderdate)) AS max_day
    FROM orders
    GROUP BY 1
    """,
    category="scalar",
    description="Date/time surface: date_trunc bucketing + year/month/day extraction (the pattern behind time-partitioned 100 TB layouts).",
)
def q_scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
            F.min(F.year("o_orderdate")).alias("min_year"),
            F.max(F.month("o_orderdate")).alias("max_month"),
            F.max(F.dayofmonth("o_orderdate")).alias("max_day"),
        )
    )


@query(
    "q_scalar_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ABS(l_quantity - 25) AS DOUBLE)              AS abs_dev,
           CAST(FLOOR(l_quantity / 10) AS BIGINT)            AS qty_bucket,
           CAST(CEIL(l_discount * 100) AS BIGINT)            AS disc_pct,
           CAST(SQRT(l_extendedprice) AS DOUBLE)             AS sqrt_price,
           CAST(ROUND(LN(l_extendedprice + 1), 6) AS DOUBLE) AS log_price,
           CAST(l_quantity * l_quantity AS DOUBLE)           AS qty_sq,
           CAST(l_quantity AS BIGINT) % 7                    AS qty_mod7,
           CAST(SIGN(l_discount - 0.05) AS DOUBLE)           AS disc_sign
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    """,
    category="scalar",
    description="Math surface: abs/floor/ceil/sqrt/ln/mod/sign (ln rounded to absorb libm last-ulp differences; sqrt is IEEE-exact). Every numeric output is explicitly CAST on both engines: DuckDB FLOOR/CEIL return DOUBLE and SIGN returns BIGINT while Spark floor/ceil return LONG and signum returns DOUBLE — the round-1 driver hash-FAIL was exactly this representation skew (VERDICT.md round 1).",
)
def q_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).cast("double").alias("abs_dev"),
        F.floor(F.col("l_quantity") / 10).cast("bigint").alias("qty_bucket"),
        F.ceil(F.col("l_discount") * 100).cast("bigint").alias("disc_pct"),
        F.sqrt("l_extendedprice").cast("double").alias("sqrt_price"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).cast("double").alias("log_price"),
        (F.col("l_quantity") * F.col("l_quantity")).cast("double").alias("qty_sq"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod7"),
        F.signum(F.col("l_discount") - 0.05).cast("double").alias("disc_sign"),
    )


@query(
    "q_scalar_json",
    oracle="""
    -- json_valid guard + TRY_CAST (round 7): Spark's get_json_object is
    -- total (malformed JSON → NULL) but DuckDB's json_extract_string RAISES
    -- on it, and a non-numeric k crashed both engines' BIGINT cast — under
    -- the guard+try_cast, malformed JSON and wrong-typed values contribute
    -- NULL (skipped by SUM/MAX) identically in both engines.
    -- Strict-integral regexp guard (round 10, probe-verified): Spark's
    -- try_cast(string AS BIGINT) is NULL on ANY non-integral string
    -- ('5.7', '5.0', '0.25', 'true') where DuckDB's TRY_CAST would round
    -- ('5.7' -> 6) or accept ('5.0' -> 5); both trim and accept a sign.
    -- Full <=0x20 trim (round 11, ADVICE r10, probe-verified): Spark's
    -- try_cast trims ALL ASCII whitespace/control chars <= 0x20
    -- (try_cast of tab+'5' = 5), while DuckDB trim() strips only spaces —
    -- regexp-strip the whole [0x00-0x20] band on both ends. NBSP ( )
    -- is deliberately NOT trimmed by either engine.
    WITH x AS (
        SELECT event_type,
               regexp_replace(
                   CASE WHEN json_valid(props)
                        THEN json_extract_string(props, '$.k') END,
                   '^[\\x00- ]+|[\\x00- ]+$', '', 'g') AS kst
        FROM events
    )
    -- TRY_CAST on the final sum (round 10, fuzz-found): DuckDB's
    -- SUM(BIGINT) widens to HUGEINT, so several int64-edge values in one
    -- group sum exactly; the Spark side sums in DECIMAL(38,0) for the same
    -- exactness and both sides NULL on int64 overflow of the final value
    SELECT event_type,
           COUNT(*) AS n_events,
           TRY_CAST(SUM(CASE WHEN regexp_matches(kst, '^[+-]?[0-9]+$')
                             THEN TRY_CAST(kst AS BIGINT) END) AS BIGINT) AS sum_k,
           CAST(MAX(CASE WHEN regexp_matches(kst, '^[+-]?[0-9]+$')
                         THEN TRY_CAST(kst AS BIGINT) END) AS BIGINT) AS max_k
    FROM x
    GROUP BY event_type
    """,
    category="scalar",
    description="JSON scalar extraction from events.props (get_json_object) feeding a grouped aggregate.",
)
def q_scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("bigint")
    # DECIMAL(38,0) accumulator (round 10, fuzz-found): ANSI SUM(BIGINT)
    # throws ARITHMETIC_OVERFLOW when several int64-edge values share a
    # group, while DuckDB widens to HUGEINT — sum exactly, NULL only if the
    # FINAL value exceeds int64 (mirrored by the oracle's TRY_CAST)
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k.cast("decimal(38,0)")).try_cast("bigint").alias("sum_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "q_scalar_array",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(len(seq) AS BIGINT)                              AS seq_len,
           CAST(list_sum(list_transform(seq, x -> x * x)) AS BIGINT) AS sum_sq,
           list_contains(seq, 3)                                 AS has_3,
           array_to_string(list_reverse_sort(seq), ',')          AS desc_str
    FROM (SELECT l_orderkey, l_linenumber,
                 generate_series(1, CAST(l_quantity AS INTEGER) % 7 + 1) AS seq
          FROM lineitem WHERE l_orderkey % 100 = 0)
    """,
    category="scalar",
    description="Higher-order array functions (sequence/transform/aggregate/contains/sort) — the kernel the incidence vector and all vector math build on.",
)
def q_scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    seq = F.sequence(F.lit(1), (F.col("l_quantity").cast("int") % 7) + 1)
    df = li.select("l_orderkey", "l_linenumber", seq.alias("seq"))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.size("seq").cast("bigint").alias("seq_len"),
        F.aggregate(
            F.transform("seq", lambda x: x * x),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_sq"),
        F.array_contains("seq", 3).alias("has_3"),
        F.array_join(F.sort_array("seq", asc=False), ",").alias("desc_str"),
    )
