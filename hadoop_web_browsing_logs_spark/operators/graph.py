"""Graph analytics: weighted PageRank, triangle counting, and label-propagation
community detection over edge DataFrames.

The reference repo has no graph operator (its two chained jobs are a text
pipeline, ProcessData.java:650-678); this module is part of the engine's
beyond-the-reference surface (SURVEY.md §2 Table B) alongside the other
iterative algorithm already shipped, connected-components label propagation
(``dedup.connected_components``). Both use the standard Spark shape for
iteration when GraphFrames isn't on the classpath: a driver-side loop over
distributed joins, with lazy ``localCheckpoint`` lineage truncation.

Scale shape (100 TB): per iteration, ONE shuffle — the contribution
aggregation keyed on ``dst``. The edge table (with out-weight ratios folded
in) and the (node, n) base are repartitioned + sorted on their join keys and
lazily checkpointed ONCE before the loop (under an AQE-off toggle so the
LogicalRDD records the partitioning — see ``_aqe_off``); every iteration's
two sort-merge joins then consume the static sides with zero exchange and
zero sort (plan-pinned by ``tests/test_graph.py``), re-sorting only the
node-sized contribution table. The rank table is never wider than
(node, pr).

Float policy (README "Correctness & performance"): the per-destination
contribution sum is the one cross-row float reduction — it runs through the
fixed-point ``dsum`` kernel (round-to-integer-grid, exact associative BIGINT
sum), so results are bit-identical across engines, partitionings, and
retries. All remaining arithmetic is per-row double expressions with one
fixed evaluation shape, mirrored literally in the DuckDB oracle.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..session import SessionMemo
from ._util import t
from .relational import dsum, dsum_sql

#: Fixed-point digits for the contribution sum. Rank mass totals 1.0, so at
#: 10^15 the summed integers stay ~3 orders below BIGINT overflow at ANY
#: node count, while the absolute grid (1e-15) sits near double's own
#: resolution for rank values. (For graphs past ~1e12 nodes, where
#: individual ranks approach the grid, widen the accumulator to
#: DECIMAL(38,n) — same note as dsum.)
PR_DIGITS = 15

#: Shared constants: the oracle embeds ``repr()`` of these exact Python
#: doubles, so both engines teleport with the SAME bits (1 - 0.85 is
#: 0.15000000000000002 in binary — spelling "0.15" in SQL would diverge).
PR_DAMPING = 0.85
PR_ITERATIONS = 3


@contextmanager
def _aqe_off(spark: SparkSession):
    """Plan a subtree with AQE disabled. ``localCheckpoint`` copies the
    physical plan's outputPartitioning/outputOrdering onto the resulting
    LogicalRDD — but only when that plan is NOT an AdaptiveSparkPlanExec
    wrapper, which reports unknown partitioning before materialization
    (measured: with AQE on, a repartition+sort+checkpoint table was
    re-exchanged AND re-sorted by every downstream join). The static-table
    builds here are a single shuffle+sort, so AQE has nothing to re-plan
    anyway; the OUTER iterative query still runs fully adaptive."""
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def pagerank(
    edges: DataFrame,
    iterations: int = PR_ITERATIONS,
    damping: float = PR_DAMPING,
    truncate_every: int = 4,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Weighted PageRank after a FIXED number of synchronous iterations.

    ``edges`` has columns (src, dst, w); multi-edges should be pre-summed.
    Every node starts at rank 1/N; each iteration every node keeps the
    teleport share (1-d)/N plus d times the rank mass its in-edges carry,
    where an edge carries ``w / out_weight(src)`` of its source's rank.

    Dangling nodes (no out-edges): by default they simply leak their damped
    mass — the plain power-iteration variant, which needs no per-iteration
    global scalar. With ``redistribute_dangling=True`` each iteration also
    dsum-aggregates the rank mass sitting on dangling nodes into ONE scalar
    row (broadcast cross join — no driver action, no collect) and spreads
    it uniformly: ``pr = (1-d)/N + d*(contrib + dm/N)``. That conserves
    total mass exactly (the semantics most users mean by "PageRank") at the
    cost of one extra tiny all-to-one aggregation per iteration; both
    variants stay exactly SQL-expressible (the DuckDB oracles unroll the
    same K steps).

    Fixed iteration count, not convergence-tested: the result is a
    deterministic function of the graph (run-to-run identical), which is
    what a differential gate can hash. Callers wanting convergence loop
    over this with their own delta probe.
    """
    teleport = 1.0 - damping
    spark = edges.sparkSession
    # one-time builds, lazily checkpointed: iterations must not re-run them.
    # Each static table is repartition+sortWithinPartitions'ed on its join
    # key BEFORE its checkpoint, under the _aqe_off toggle so the LogicalRDD
    # actually records that partitioning/ordering (VERDICT r8: the
    # un-partitioned checkpoints were re-exchanged and re-sorted by BOTH
    # sort-merge joins in every iteration — 2-3 exchanges per step instead
    # of the one the design intends).
    with _aqe_off(spark):
        nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
        # (node, n) base, checkpointed ONCE: every iteration's teleport term
        # reads it directly instead of re-aggregating the node count and
        # re-broadcasting it per iteration (3 extra jobs at K=3, measured);
        # hash(node) + sorted, so the per-iteration base⋈contrib left join
        # (contrib arrives hash-partitioned on dst from its groupBy) moves
        # and sorts NOTHING on the static side.
        base = (
            nodes.crossJoin(F.broadcast(nn))
            .repartition("node")
            .sortWithinPartitions("node")
            .localCheckpoint(eager=False)
        )
        outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
        # same move for the edge table: hash(src) + sorted once, so the
        # per-iteration ew⋈rank sort-merge join re-sorts only the node-sized
        # rank side and the ONLY per-iteration exchange left is the
        # dst-keyed contribution aggregation.
        ew = (
            edges.join(outw, "src")
            .select(
                "src",
                "dst",
                # try_divide, not `/`: a node whose out-weights SUM to zero
                # (all-zero or cancelling +/- weights — legal inputs to this
                # public API) makes ANSI Spark throw DIVIDE_BY_ZERO where
                # DuckDB's division yields NULL. try_divide is DuckDB's
                # exact semantics and bit-identical for non-zero
                # denominators; a NULL ratio makes the edge carry no mass
                # (NULL products are skipped by the dsum kernel in both
                # engines), so such a node leaks its mass like a dangling
                # node — deterministic, engine-identical.
                F.try_divide(
                    F.col("w").cast("double"), F.col("ow").cast("double")
                ).alias("ratio"),
            )
            .repartition("src")
            .sortWithinPartitions("src")
            .localCheckpoint(eager=False)
        )
        # dangling node set (no out-edges), static and node-sized; only
        # built when the redistribution variant needs it
        dang = None
        if redistribute_dangling:
            dang = (
                nodes.join(
                    outw.select(F.col("src").alias("node")), "node", "left_anti"
                )
                .repartition("node")
                .sortWithinPartitions("node")
                .localCheckpoint(eager=False)
            )
    ranks = base.select("node", (F.lit(1.0) / F.col("n")).alias("pr"))
    for i in range(iterations):
        contrib = (
            ew.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(dsum(F.col("pr") * F.col("ratio"), PR_DIGITS).alias("contrib"))
            .withColumnRenamed("dst", "node")
        )
        if redistribute_dangling:
            # ONE scalar row: dangling rank mass this iteration, through the
            # same fixed-point kernel as the contribution sums (exact,
            # order-independent). Empty dangling set → SUM over no rows is
            # NULL in both engines → coalesce to 0 in both oracles alike.
            dm = ranks.join(dang, "node", "left_semi").agg(
                F.coalesce(dsum(F.col("pr"), PR_DIGITS), F.lit(0.0)).alias("dm")
            )
            ranks = (
                base.crossJoin(F.broadcast(dm))
                .join(contrib, "node", "left")
                .select(
                    "node",
                    (
                        F.lit(teleport) / F.col("n")
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("contrib"), F.lit(0.0))
                            + F.col("dm") / F.col("n")
                        )
                    ).alias("pr"),
                )
            )
        else:
            ranks = (
                base.join(contrib, "node", "left")
                .select(
                    "node",
                    (
                        F.lit(teleport) / F.col("n")
                        + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                    ).alias("pr"),
                )
            )
        # Lineage truncation. The redistribution variant checkpoints EVERY
        # iteration: its rank table is consumed twice per step (contribution
        # join + dangling-mass scalar), so an un-truncated lazy plan
        # duplicates the previous iteration's subtree 2^k times — exponential
        # plan growth AND double execution. The node-sized materialization is
        # cheap; _aqe_off preserves hash(node) partitioning + ordering into
        # the LogicalRDD, keeping the one-exchange-per-iteration shape.
        if redistribute_dangling:
            if (i + 1) < iterations:
                with _aqe_off(spark):
                    ranks = ranks.localCheckpoint(eager=False)
        elif (i + 1) % truncate_every == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


#: The checkpointed purchase edge list, shared per (session, sf_dir). The
#: plain and dangling PageRank variants (and the other graph queries) all
#: start from the same lineitem⋈orders build; sharing the lazily
#: checkpointed table is the local analogue of materializing the edge list
#: once as a warehouse table that every graph query reads.
_EL_MEMO = SessionMemo()


def _build_purchase_el(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("o_custkey").isNotNull() & F.col("l_suppkey").isNotNull())
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=False)
    )


def _purchase_el(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DIRECTED edge customer→supplier per pair that traded, weighted by
    lineitem count. Node ids are prefixed strings ('c'/'s') because the two
    key spaces overlap numerically. Memoized per (session, sf_dir) as a
    lazily-checkpointed table — the first consumer materializes the
    join+groupBy, later graph queries in the same session reuse it."""
    return _EL_MEMO.get_or_build(spark, sf_dir, _build_purchase_el)


def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undirected customer↔supplier purchase graph: the directed edge
    list materialized in BOTH directions so the random walk can traverse
    the bipartite graph."""
    el = _purchase_el(spark, sf_dir)
    rev = el.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    return el.union(rev)


def _pagerank_oracle() -> str:
    """Unrolled K-iteration PageRank as one DuckDB CTE chain — an
    independent restatement (plain SQL window-free joins) of the same
    fixed-point recurrence, sharing only the spelled-out constants."""
    contrib = dsum_sql("r.pr * ew.ratio", PR_DIGITS)
    sql = f"""
    WITH el AS (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst,
               COUNT(*) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
        GROUP BY 1, 2
    ),
    edges AS (SELECT src, dst, w FROM el
              UNION ALL SELECT dst AS src, src AS dst, w FROM el),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
    ew AS (SELECT e.src, e.dst,
                  CAST(e.w AS DOUBLE) / CAST(o.ow AS DOUBLE) AS ratio
           FROM edges e JOIN outw o ON e.src = o.src),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS pr
           FROM nodes CROSS JOIN nn)"""
    for k in range(PR_ITERATIONS):
        sql += f""",
    r{k + 1} AS (
        SELECT nodes.node,
               {1.0 - PR_DAMPING!r} / nn.n
                 + {PR_DAMPING!r} * COALESCE(s.contrib, CAST(0 AS DOUBLE)) AS pr
        FROM nodes CROSS JOIN nn
        LEFT JOIN (
            SELECT ew.dst, {contrib} AS contrib
            FROM ew JOIN r{k} r ON ew.src = r.node
            GROUP BY ew.dst
        ) s ON nodes.node = s.dst
    )"""
    sql += f"""
    SELECT node, pr FROM r{PR_ITERATIONS} ORDER BY node"""
    return sql


@query(
    "q_graph_pagerank",
    oracle=_pagerank_oracle(),
    category="graph",
    description=(
        "Weighted PageRank (3 synchronous iterations, damping 0.85) over "
        "the undirected customer↔supplier purchase graph built from "
        "lineitem⋈orders — an SF-scaled node domain (every customer and "
        "supplier is a node). The iterative-join Spark shape shared with "
        "connected components: one dst-keyed shuffle per iteration, edge "
        "and node tables lazily checkpointed once before the loop, rank "
        "table never wider than (node, pr). Contribution sums run through "
        "the fixed-point dsum kernel so the result is hash-provable "
        "against a DuckDB oracle that unrolls the same recurrence as a "
        "CTE chain."
    ),
    tags=("graph", "iterative"),
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = pagerank(_purchase_edges(spark, sf_dir))
    return ranks.orderBy("node")


def _pagerank_dangling_oracle() -> str:
    """Unrolled K-iteration dangling-redistribution PageRank over the
    DIRECTED customer→supplier graph (every supplier is dangling, so the
    redistribution term is live at every step, not a degenerate zero)."""
    contrib = dsum_sql("r.pr * ew.ratio", PR_DIGITS)
    dm = dsum_sql("r.pr", PR_DIGITS)
    sql = f"""
    WITH edges AS (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst,
               COUNT(*) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
        GROUP BY 1, 2
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
    ew AS (SELECT e.src, e.dst,
                  CAST(e.w AS DOUBLE) / CAST(o.ow AS DOUBLE) AS ratio
           FROM edges e JOIN outw o ON e.src = o.src),
    dang AS (SELECT node FROM nodes
             WHERE NOT EXISTS (SELECT 1 FROM outw WHERE outw.src = nodes.node)),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS pr
           FROM nodes CROSS JOIN nn)"""
    for k in range(PR_ITERATIONS):
        sql += f""",
    dm{k} AS (
        SELECT COALESCE({dm}, CAST(0 AS DOUBLE)) AS dm
        FROM r{k} r JOIN dang d ON r.node = d.node
    ),
    r{k + 1} AS (
        SELECT nodes.node,
               {1.0 - PR_DAMPING!r} / nn.n
                 + {PR_DAMPING!r} * (COALESCE(s.contrib, CAST(0 AS DOUBLE))
                                     + dm{k}.dm / nn.n) AS pr
        FROM nodes CROSS JOIN nn CROSS JOIN dm{k}
        LEFT JOIN (
            SELECT ew.dst, {contrib} AS contrib
            FROM ew JOIN r{k} r ON ew.src = r.node
            GROUP BY ew.dst
        ) s ON nodes.node = s.dst
    )"""
    sql += f"""
    SELECT node, pr FROM r{PR_ITERATIONS} ORDER BY node"""
    return sql


@query(
    "q_graph_pagerank_dangling",
    oracle=_pagerank_dangling_oracle(),
    category="graph",
    description=(
        "Dangling-mass-redistribution PageRank (VERDICT r8 item 6) over "
        "the DIRECTED customer→supplier purchase graph — every supplier "
        "has no out-edges, so the redistribution scalar is live at every "
        "iteration. Each step dsum-aggregates the dangling rank mass into "
        "one broadcast scalar row (no driver action) and spreads it "
        "uniformly, conserving total mass exactly — the semantics most "
        "users expect from 'PageRank'. Hash-proved against a DuckDB "
        "oracle unrolling the same recurrence with per-step dm CTEs."
    ),
    tags=("graph", "iterative"),
)
def q_graph_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = pagerank(_purchase_el(spark, sf_dir), redistribute_dangling=True)
    return ranks.orderBy("node")


def triangle_participation(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph.

    ``edges`` holds each undirected edge ONCE as (a, b) with ``a < b`` (any
    total order), no self-loops. The implementation is the compact-forward /
    degree-orientation algorithm: direct every edge from its lower-(degree,
    id) endpoint to its higher one, enumerate wedges as two out-edges of a
    pivot node, and close each wedge with a semi-check against the oriented
    edge set. Orienting by DEGREE (not id) is the 100 TB move: a node's
    out-degree is then at most O(sqrt(m)), so the wedge count — the one
    super-linear intermediate — is bounded by m^1.5 instead of being
    quadratic in the hottest node's degree (a celebrity node with 10^6
    neighbors contributes zero wedges as a pivot unless its neighbors are
    even hotter). Every join is an equi-join Catalyst can shuffle on the
    pivot/endpoint keys; the degree table is node-sized (AQE broadcasts it
    while it fits).
    """
    # Pin the two multiply-consumed edge tables (round 17, guide §7.2
    # "duplicated subtrees"): `edges` feeds the degree union (twice) AND
    # the orientation join, `oriented` feeds both wedge legs AND the
    # closing semi-join — Catalyst does not CSE across join/union inputs,
    # so the unpinned plan re-ran the upstream edge build and the
    # 3-table orientation join per consumer (AQE's exchange reuse only
    # dedups the shuffles, not the operator work above them). Both
    # materializations are EDGE-sized — the standard persisted
    # intermediates of any multi-pass triangle algorithm at scale.
    # Adjudicated warm AND cold (the novelty lesson): interleaved A/B
    # 2.97 -> 2.11 s, cold fresh-process A/B 3.19/4.28 -> 2.66/3.45 s at
    # sf0.1, rows identical.
    edges = edges.localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    lt = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lt, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lt, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(lt, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_dst"),
            F.when(lt, F.col("b")).otherwise(F.col("a")).alias("key_dst"),
        )
        .localCheckpoint(eager=False)
    )
    # wedge (u→v, u→w) deduped by the same (deg, id) order on v, w; the
    # closing edge, if present, is oriented v→w by transitivity
    e1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"),
        F.col("deg_dst").alias("dv"), F.col("key_dst").alias("kv"),
    )
    e2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"),
        F.col("deg_dst").alias("dw"), F.col("key_dst").alias("kw"),
    )
    wedges = e1.join(e2, "u").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("kv") < F.col("kw")))
    )
    closer = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closer, ["v", "w"], "left_semi").select("u", "v", "w")
    return (
        tri.select(F.col("u").alias("node"))
        .union(tri.select("v"))
        .union(tri.select("w"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


#: Co-order edge threshold: pairs of parts must share >= this many orders.
#: Keeps the projected graph sparse at every SF (repeat co-orders are rare),
#: so the triangle query's cost tracks the TRUE co-purchase signal instead
#: of the quadratic one-off-basket noise.
TRI_MIN_W = 2


def _coorder_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-order graph: an undirected edge (a, b), a < b, for each part
    pair appearing together in >= TRI_MIN_W orders (pair multiplicity =
    line-item row pairs, the reference self-join semantics).

    REWRITTEN round 16 (guide §2.4 "remove shuffles outright"): the
    original lineitem⋈lineitem self-join on l_orderkey shuffled the table
    twice (both join inputs) before the (a, b) aggregation; one
    groupBy(l_orderkey).collect_list + an in-array combination explode
    produces the identical row-pair multiset with ONE basket-sized
    exchange. Per-order fan-out stays quadratic only in basket size
    (bounded ~7 lines in this schema — a hot ORDER cannot blow up), and
    the sorted array emits each unordered pair as (low, high) exactly as
    the a < b join filter did, duplicate parts excluded by the strict
    inequality. Measured at sf0.1: triangles end-to-end 4.5 s -> 3.1 s,
    output bit-identical."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return _coorder_edges_from(li)


def _coorder_edges_from(li: DataFrame) -> DataFrame:
    """Edge build over explicit (l_orderkey, l_partkey) rows — split out of
    :func:`_coorder_edges` so the row-pair multiplicity semantics (pairs of
    ROWS, not distinct parts — duplicate parts in one order contribute one
    pair per row combination) are unit-testable against the naive self-join
    definition on crafted baskets."""
    per = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_partkey")).alias("ps")
    )
    pairs = per.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ps",
                    lambda x, i: F.filter(
                        F.transform(
                            F.slice(
                                "ps", i + 2, F.greatest(F.size("ps") - i - 1, F.lit(0))
                            ),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                        lambda s: s["a"] != s["b"],
                    ),
                )
            )
        ).alias("p")
    ).select("p.a", "p.b")
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= TRI_MIN_W)
        .select("a", "b")
    )


@query(
    "q_graph_triangles",
    oracle=f"""
    WITH e AS (
        SELECT x.l_partkey AS a, y.l_partkey AS b
        FROM lineitem x JOIN lineitem y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_W}
    ),
    tri AS (
        SELECT e1.a AS u, e1.b AS v, e2.b AS w
        FROM e e1 JOIN e e2 ON e1.b = e2.a
                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    nodes AS (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri
    )
    SELECT node, COUNT(*) AS n_triangles FROM nodes GROUP BY node
    """,
    category="graph",
    description=(
        "Per-node triangle participation over the part co-order graph "
        "(edges: part pairs sharing >= 2 orders). Spark runs the "
        "degree-orientation compact-forward algorithm — every edge "
        "directed low-degree→high-degree, wedges enumerated at the pivot, "
        "closed by a left-semi join against the oriented edge set — so "
        "the super-linear wedge intermediate is bounded by m^1.5 "
        "regardless of hot nodes. The DuckDB oracle is deliberately the "
        "OPPOSITE plan (naive id-oriented three-way self-join), so the "
        "hash equality proves the orientation theorem (every triangle "
        "enumerated exactly once) rather than mere expression parity. "
        "Pure integer counting: no float policy needed."
    ),
    tags=("graph", "triangles"),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_participation(_coorder_edges(spark, sf_dir)).orderBy("node")


# ---------------------------------------------------------------------------
# Label propagation (round 9): synchronous weighted LPA — the community-
# detection sibling of PageRank on the same iterative-join skeleton.
# ---------------------------------------------------------------------------

LPA_ITERATIONS = 3


def label_propagation(edges: DataFrame, iterations: int = LPA_ITERATIONS) -> DataFrame:
    """Synchronous weighted label propagation after a FIXED iteration count.

    ``edges`` has columns (src, dst, w) and should be symmetrized for
    undirected semantics (each edge delivers src's label to dst). Every node
    starts labeled with itself; each iteration every node adopts the label
    whose incident-edge weight sum is largest, ties broken by the SMALLEST
    label — a total, deterministic rule, so the fixed-K result is a pure
    function of the graph (hash-provable, like the PageRank gates).

    Scale shape: per iteration, exactly TWO exchanges — the (dst,label)-keyed
    weight sums (map-side partial combine reduces edge-sized input to
    label-frontier size BEFORE the wire) and the dst-keyed argmax over those
    sums. The label table itself enters the sort-merge join against the
    src-partitioned checkpointed edge table with NO exchange or sort: it
    leaves the argmax aggregation hash(dst)=hash(node) partitioned and
    sorted, and the per-iteration ``_aqe_off`` checkpoint preserves both
    (plan-pinned by the dump in docs/plans/).
    Collapsing to one exchange by pre-repartitioning on dst would ship the
    RAW edge-sized join output; at corpus scale the partial-agg route moves
    strictly less data. All weight sums are exact BIGINTs — no float policy
    needed anywhere; the argmax is min(struct(-weight, label)), identical to
    the oracle's ROW_NUMBER(ORDER BY weight DESC, label).
    """
    spark = edges.sparkSession
    with _aqe_off(spark):
        e = (
            edges.select("src", "dst", F.col("w").cast("bigint").alias("w"))
            .repartition("src")
            .sortWithinPartitions("src")
            .localCheckpoint(eager=False)
        )
        labels = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .select("node", F.col("node").alias("label"))
            .localCheckpoint(eager=False)
        )
    for i in range(iterations):
        votes = (
            e.join(labels, e.src == labels.node)
            .groupBy("dst", "label")
            .agg(F.sum("w").alias("lw"))
        )
        best = votes.groupBy("dst").agg(
            F.min(F.struct((-F.col("lw")).alias("nw"), F.col("label").alias("label"))).alias("b")
        )
        labels = best.select(F.col("dst").alias("node"), F.col("b.label").alias("label"))
        if (i + 1) < iterations:
            with _aqe_off(spark):
                labels = labels.localCheckpoint(eager=False)
    return labels


def _lpa_oracle() -> str:
    sql = """
    WITH el AS (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst,
               COUNT(*) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
        GROUP BY 1, 2
    ),
    edges AS (SELECT src, dst, w FROM el
              UNION ALL SELECT dst AS src, src AS dst, w FROM el),
    l0 AS (SELECT node, node AS label FROM
           (SELECT src AS node FROM edges UNION SELECT dst FROM edges))"""
    for k in range(LPA_ITERATIONS):
        sql += f""",
    l{k + 1} AS (
        SELECT dst AS node, label FROM (
            SELECT dst, label,
                   ROW_NUMBER() OVER (PARTITION BY dst
                                      ORDER BY lw DESC, label) AS rn
            FROM (SELECT e.dst, l.label, SUM(e.w) AS lw
                  FROM edges e JOIN l{k} l ON e.src = l.node
                  GROUP BY e.dst, l.label)
        ) WHERE rn = 1
    )"""
    sql += f"""
    SELECT node, label FROM l{LPA_ITERATIONS} ORDER BY node"""
    return sql


@query(
    "q_graph_label_propagation",
    oracle=_lpa_oracle(),
    category="graph",
    description=(
        "Synchronous weighted label propagation (3 iterations) over the "
        "undirected customer↔supplier purchase graph — community detection "
        "on the same iterative-join skeleton as PageRank (checkpointed "
        "src-partitioned edges, label table never wider than (node, "
        "label)). Weight sums are exact BIGINTs and the argmax tie-breaks "
        "to the smallest label, so the fixed-K assignment is fully "
        "deterministic and hash-provable against a DuckDB oracle that "
        "unrolls the same recurrence (ROW_NUMBER argmax per step)."
    ),
    tags=("graph", "iterative"),
)
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_propagation(_purchase_edges(spark, sf_dir)).orderBy("node")


# ---------------------------------------------------------------------------
# Recursive CTE reachability (round 9): Spark 4's WITH RECURSIVE surface,
# exercised as hop-bounded BFS with exact path counts.
# ---------------------------------------------------------------------------

REACH_MAX_HOPS = 2
REACH_SEED_MOD = 100

#: The recursion body, ONE text shared by both engines (seeds/edges differ
#: only in how each engine binds the inputs). Spark supports UNION ALL
#: recursion only (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so termination
#: comes from the hop bound, not frontier dedup — see the scale note below.
_REACH_BODY = f"""
    walk(node, hop) AS (
        SELECT node, 0 AS hop FROM {{seeds}}
        UNION ALL
        SELECT e.dst AS node, w.hop + 1 AS hop
        FROM walk w JOIN {{edges}} e ON e.src = w.node
        WHERE w.hop < {REACH_MAX_HOPS}
    )
    SELECT node, CAST(MIN(hop) AS INT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_walks
    FROM walk GROUP BY node
"""


def _reachability_oracle() -> str:
    return f"""
    WITH RECURSIVE el AS (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
        GROUP BY 1, 2
    ),
    edges AS (SELECT src, dst FROM el UNION ALL SELECT dst, src FROM el),
    seeds AS (
        SELECT 'c' || CAST(MIN(o_custkey) AS VARCHAR) AS node
        FROM orders WHERE o_custkey % {REACH_SEED_MOD} = 0
    ),
    {_REACH_BODY.format(seeds="seeds", edges="edges")}
    """


@query(
    "q_graph_reachability",
    oracle=_reachability_oracle(),
    category="graph",
    description=(
        "Ego-network probe via Spark 4's WITH RECURSIVE: from ONE "
        "deterministic seed customer (the smallest custkey divisible by "
        f"{REACH_SEED_MOD}), every node within {REACH_MAX_HOPS} hops of "
        "the undirected purchase graph, with its BFS distance AND its "
        "exact <=K-hop walk count — all integer arithmetic, hash-identical "
        "to DuckDB's recursive CTE running the SAME recursion body text. "
        "Spark's recursive CTEs allow UNION ALL only (no frontier dedup), "
        "so the walk multiplies by node degree each level and Spark "
        "hard-stops at 1,000,000 recursion rows — a multi-seed 3-hop "
        "variant hit that limit even at sf0.01 (measured), which is "
        "exactly why this surface is for bounded-depth LOCAL neighborhood "
        "queries; unbounded-depth reachability belongs to the "
        "DISTINCT-frontier iterative shape (dedup.connected_components), "
        "whose frontier is node-bounded. The walk table stays "
        "(node, hop)-narrow; the outer MIN/COUNT is one hash aggregation."
    ),
    tags=("graph", "recursive"),
)
def q_graph_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    el = _purchase_el(spark, sf_dir).select("src", "dst")
    edges = el.union(el.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % REACH_SEED_MOD == 0)
        .agg(
            F.concat(F.lit("c"), F.min("o_custkey").cast("string")).alias("node")
        )
    )
    # DataFrame parameter substitution ({seeds}/{edges} placeholders) binds
    # the inputs without polluting the session catalog with temp views
    return spark.sql(f"WITH RECURSIVE {_REACH_BODY}", seeds=seeds, edges=edges)


# ---------------------------------------------------------------------------
# DISTINCT-frontier iterative BFS (round 11, VERDICT r10 item 5): the
# certified escape hatch for exactly the cliff documented on
# q_graph_reachability — Spark's UNION-ALL-only recursive CTEs multiply the
# walk by node degree each level and hard-stop at 1,000,000 recursion rows
# (a multi-seed 3-hop run hit it at sf0.01). Deduping the frontier per hop
# keeps every intermediate node-bounded, so the same multi-seed 3-hop
# neighborhood that breaks WITH RECURSIVE runs here in K node-keyed
# exchanges.
# ---------------------------------------------------------------------------

BFS_MAX_HOPS = 3


def bfs_frontier(edges: DataFrame, seeds: DataFrame, max_hops: int = BFS_MAX_HOPS) -> DataFrame:
    """Multi-source BFS distances via the DISTINCT-frontier iteration (the
    connected-components skeleton, frontier deduped per hop).

    ``edges`` has (src, dst) directed rows (pass both directions for an
    undirected walk); ``seeds`` has (node). Returns (node, dist INT) — the
    minimum hop count from any seed, for every node within ``max_hops``.

    Scale shape: per hop ONE src-keyed join plus a distinct + left_anti
    against the visited set — every table is bounded by the node domain
    (never by walk multiplicity, which is what overflows the recursive-CTE
    variant). Both the frontier and the visited set are lazily checkpointed
    per hop: each is consumed by the next hop's join AND the anti-join, so
    an untruncated plan would re-expand the whole prefix each level. A hop
    with an empty frontier makes every later join trivially empty — no
    driver-side convergence probe is needed for a bounded-depth run.
    """
    visited = seeds.select("node").distinct().select("node", F.lit(0).alias("dist"))
    frontier = visited.select("node")
    for hop in range(1, max_hops + 1):
        frontier = (
            edges.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        visited = visited.union(
            frontier.select("node", F.lit(hop).alias("dist"))
        ).localCheckpoint(eager=False)
    return visited.select("node", F.col("dist").cast("int").alias("dist"))


def _bfs_frontier_oracle() -> str:
    return f"""
    WITH RECURSIVE el AS (
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
        GROUP BY 1, 2
    ),
    edges AS (SELECT src, dst FROM el UNION ALL SELECT dst, src FROM el),
    seeds AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS node
        FROM orders WHERE o_custkey % {REACH_SEED_MOD} = 0
    ),
    -- UNION (not ALL): DuckDB dedups the recursive working table per
    -- (node, hop) row, so the recursion is node*hops-bounded — the
    -- DISTINCT-frontier semantics Spark's UNION-ALL-only recursion lacks
    walk AS (
        SELECT node, 0 AS hop FROM seeds
        UNION
        SELECT e.dst AS node, w.hop + 1 AS hop
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.hop < {BFS_MAX_HOPS}
    )
    SELECT node, CAST(MIN(hop) AS INT) AS dist
    FROM walk GROUP BY node ORDER BY node
    """


@query(
    "q_graph_bfs_frontier",
    oracle=_bfs_frontier_oracle(),
    category="graph",
    description=(
        "Multi-seed 3-hop BFS distances over the undirected purchase graph "
        "via the DISTINCT-frontier iteration — the certified escape hatch "
        "(VERDICT r10 item 5) for the documented WITH RECURSIVE cliff: "
        "this exact seed set (every customer with custkey % "
        f"{REACH_SEED_MOD} = 0) at {BFS_MAX_HOPS} hops overflows Spark's "
        "1,000,000-row UNION-ALL recursion even at sf0.01, but the deduped "
        "frontier keeps every intermediate node-bounded. All-integer "
        "output; the DuckDB oracle is the recursive CTE WITH UNION "
        "(per-row dedup) + MIN(hop), proving frontier-BFS == recursive "
        "min-distance semantics."
    ),
    tags=("graph", "iterative"),
)
def q_graph_bfs_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    el = _purchase_el(spark, sf_dir).select("src", "dst")
    edges = el.union(el.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % REACH_SEED_MOD == 0)
        .select(F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("node"))
        .distinct()
    )
    return bfs_frontier(edges, seeds).orderBy("node")
