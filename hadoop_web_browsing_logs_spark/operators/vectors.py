"""Vectors & clustering — reference Job 2 parity (A11-A20) + full k-means (B12).

The reference's "KMeans Job" (ProcessData.java:667-678) is a single assignment
pass: load centers into every mapper (DistributedCache, :493-503), compute a
(buggy) cosine distance to each (:521-532), emit (center, term), group by
center and number the groups with mutable reducer state (:607-618). Spark-first
re-expression, with the evident intent (correct cosine B1, correct argmin B2,
deterministic numbering B4):

- centers = a small DataFrame, **broadcast** (A12) as one array-of-structs row
  into a crossJoin — the same side-load the reference hand-rolled;
- nearest center = ``array_min`` over per-center (dist, center_id) structs —
  deterministic argmin with tie-break (A14), evaluated map-side with no
  exchange;
- group members = ``collect_list`` with ``sort_array`` (A16, deterministic
  where the reference depended on shuffle arrival order);
- cluster ordinal = ``row_number() over (order by center_id)`` (A18 — global
  and collision-free where the reference's per-reducer counter was neither);
- full iterative Lloyd's k-means (the capability the job's name promises,
  A20) via ``pyspark.ml.clustering.KMeans`` with a fixed seed.

Scale: the broadcast side is the k-center array, so the big side never
shuffles — the whole assignment is a map-only pass over the scan
partitioning. For k in the thousands, switch to LSH pre-bucketing
(see similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vector import duck_cosine_distance
from ..plans.registry import query
from ..session import SessionMemo
from ._util import fan_out, one_group, t

N_CENTERS = 8

#: Declared embedding dimensionality (FIXTURES.md §2) — the model contract a
#: production embedding store carries in its schema. Pairwise vector math
#: (cosine, Hamming-banded candidates, IVF assignment) is UNDEFINED between
#: vectors of different dimensions, and the engines genuinely disagree on the
#: garbage: Spark's ``zip_with`` NULL-pads the short side (dot → NULL) while
#: DuckDB's range-indexed ``list_sum`` SKIPS the NULL products (dot → partial
#: sum). So every pairwise-vector query scans through :func:`load_vectors`,
#: which drops rows violating the contract — identically mirrored by
#: :data:`DUCK_VECTORS` in the oracles (round-7 adversarial extension).
EMBEDDING_DIM = 64

#: Oracle-side twin of :func:`load_vectors` — substitute for ``embeddings``.
DUCK_VECTORS = (
    f"(SELECT * FROM embeddings WHERE len(embedding) = {EMBEDDING_DIM}"
    f" AND len(list_filter(embedding, x -> x IS NULL)) = 0)"
)


def load_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table under the declared-dimension contract: NULL or
    wrong-dimension vectors (dead rows, truncated writes, mixed-model
    contamination — routine at corpus scale) are excluded at the scan.
    A vector with a NULL ELEMENT is equally garbage under the contract
    (round 8, ADVICE r7): the engines genuinely disagree on it — Spark's
    aggregate-based dot absorbs the NULL product into a NULL sum while
    DuckDB's list_sum skips it — so it is excluded identically on both
    sides, like the wrong-dimension case."""
    return t(spark, sf_dir, "embeddings").filter(
        (F.size("embedding") == EMBEDDING_DIM)
        & ~F.exists("embedding", lambda x: x.isNull())
    )


def nearest_center(points: DataFrame, centers: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Assign every point to its nearest center by cosine distance
    (A13+A14, correct math). ``centers`` must have (center_id, cvec).

    The k centers are folded into ONE broadcast row holding an array of
    (center_id, cvec, norm) structs; each point then evaluates its argmin as
    ``array_min`` over that array — a codegen'd fold, so the assignment is
    map-only. The earlier window form (row_number over partitionBy point)
    exchanged k rows per point just to pick the minimum; this shape never
    shuffles the big side at all. Tie-break parity: ``array_min`` compares
    struct fields in order (dist, center_id) — identical to the window's
    ORDER BY dist, center_id. Point/center norms are computed once per
    vector, not once per (point, center) pair."""
    from ..functions.vector import dot, norm

    p = points.withColumn("_pn", norm(vec_col))
    c = centers.withColumn("_cn", norm("cvec"))
    c_arr = c.agg(F.collect_list(F.struct("center_id", "cvec", "_cn")).alias("_cs"))
    best = F.array_min(
        F.transform(
            "_cs",
            lambda c0: F.struct(
                (
                    F.lit(1.0)
                    - F.try_divide(dot(F.col(vec_col), c0["cvec"]), F.col("_pn") * c0["_cn"])
                ).alias("dist"),
                c0["center_id"].alias("center_id"),
            ),
        )
    )
    return (
        p.crossJoin(F.broadcast(c_arr))
        .withColumn("_best", best)
        .select(id_col, F.col("_best.center_id").alias("center_id"), F.col("_best.dist").alias("dist"))
    )


def fixture_centers(spark: SparkSession, sf_dir: str, k: int = N_CENTERS) -> DataFrame:
    """Deterministic center set: the first k embedding rows (stands in for the
    reference's centers.txt side file, ProcessData.java:579-590)."""
    e = load_vectors(spark, sf_dir)
    return e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("center_id"), F.col("embedding").alias("cvec")
    )


_DUCK_ASSIGN = f"""
    WITH centers AS (
        SELECT CAST(vec_id AS INTEGER) AS center_id, embedding AS cvec
        FROM {DUCK_VECTORS} v WHERE vec_id < {N_CENTERS}
    ),
    assign AS (
        SELECT e.vec_id, c.center_id,
               {duck_cosine_distance('e.embedding', 'c.cvec')} AS dist,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_cosine_distance('e.embedding', 'c.cvec')}, c.center_id) AS rn
        FROM {DUCK_VECTORS} e CROSS JOIN centers c
    )
"""


@query(
    "q_vec_nearest_center",
    oracle=_DUCK_ASSIGN
    + """
    SELECT vec_id, center_id, dist FROM assign WHERE rn = 1
    """,
    category="vector",
    description="Nearest-center assignment: broadcast crossJoin + deterministic argmin window (reference Job 2 map, ProcessData.java:521-536, with B1/B2 bugs fixed).",
)
def q_vec_nearest_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    points = load_vectors(spark, sf_dir)
    return nearest_center(points, fixture_centers(spark, sf_dir))


@query(
    "q_vec_cluster_groups",
    oracle=_DUCK_ASSIGN
    + """
    SELECT ROW_NUMBER() OVER (ORDER BY center_id) AS cluster_id,
           center_id,
           COUNT(*) AS n_members,
           array_to_string(list_sort(list(vec_id)), ' ') AS members
    FROM assign WHERE rn = 1
    GROUP BY center_id
    """,
    category="vector",
    description="Cluster grouping + deterministic sequence numbering (reference Job 2 reduce, ProcessData.java:607-618, with B3/B4 fixed: sorted members, global ordinals).",
)
def q_vec_cluster_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = q_vec_nearest_center(spark, sf_dir)
    return (
        assign.groupBy("center_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.array_join(F.sort_array(F.collect_list("vec_id")), " ").alias("members"),
        )
        .withColumn(
            # k-row input (one row per center); one_group keeps the window an
            # explicit single-group partition instead of an empty spec.
            "cluster_id",
            F.row_number().over(W.partitionBy(one_group("center_id")).orderBy("center_id")),
        )
    )


@query(
    "q_vec_quantize_int8",
    oracle="""
    WITH base0 AS (
        -- len > 0: an empty vector has nothing to quantize, and the engines
        -- diverge on empty-collection sums (Spark's aggregate-with-init → 0,
        -- DuckDB's list_sum → NULL). Any non-empty finite vector quantizes
        -- fine per-vector, so unlike the pairwise ops this query does NOT
        -- impose the declared-dimension contract.
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
        FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    -- int8 quantization is only defined for finite vectors: a NaN/Inf
    -- element poisons the max-abs scale and crashes the integer cast in
    -- BOTH engines — excluded identically on both sides (round 7). The
    -- `x IS NULL OR` arm (round 8, ADVICE r7): a NULL element must also
    -- disqualify the vector on BOTH sides — without it DuckDB's
    -- list_filter silently dropped NULL elements from the check (kept the
    -- row) while Spark's forall evaluated NULL (filtered the row).
    base AS (
        SELECT * FROM base0
        WHERE len(list_filter(xd, x -> x IS NULL OR NOT isfinite(x))) = 0
    ),
    s AS (
        SELECT vec_id, xd,
               GREATEST(list_max(list_transform(xd, x -> abs(x))), 1e-30) AS scale
        FROM base
    ),
    qq AS (
        SELECT vec_id, xd, scale,
               list_transform(xd, x -> CAST(FLOOR(x * 127.0 / scale + 0.5) AS BIGINT)) AS q
        FROM s
    )
    SELECT vec_id, scale,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(q, v -> abs(v))) AS BIGINT) AS q_abs_sum,
           CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS q_sq_sum,
           list_max(list_transform(range(1, len(xd)+1),
                    i -> abs(xd[i] - CAST(q[i] AS DOUBLE) * scale / 127.0))) AS max_abs_err
    FROM qq
    """,
    category="vector",
    description=(
        "Symmetric int8 quantization of the embedding column: per-vector "
        "max-abs scale, FLOOR-half-up rounding (engine-portable — no ROUND, "
        "whose half-case differs across engines), integer checksums of the "
        "quantized codes, and max reconstruction error. The 4x "
        "storage-compression pass a 100 TB embedding store runs before ANN "
        "indexing; all math is codegen'd array HOFs, the narrow int8 codes "
        "(not the floats) are what a real sink would write."
    ),
)
def q_vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    xd = F.transform("embedding", lambda x: x.cast("double"))
    # finite NON-NULL vectors only, mirroring the oracle: abs(x) < inf is
    # false for both ±Inf and NaN (Spark orders NaN above Infinity), and the
    # explicit isNotNull arm makes a NULL element a definite disqualifier on
    # both engines instead of a three-valued-logic divergence (ADVICE r7)
    finite = F.forall("xd", lambda x: x.isNotNull() & (F.abs(x) < F.lit(float("inf"))))
    scale = F.greatest(F.array_max(F.transform("xd", F.abs)), F.lit(1e-30))
    quant = F.transform("xd", lambda x: F.floor(x * 127.0 / F.col("scale") + 0.5).cast("long"))

    def long_sum(arr: F.Column) -> F.Column:
        return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, v: acc + v)

    err = F.zip_with("xd", "q", lambda x, qi: F.abs(x - qi.cast("double") * F.col("scale") / 127.0))
    return (
        e.select("vec_id", xd.alias("xd"))
        .filter(finite)
        .withColumn("scale", scale)
        .withColumn("q", quant)
        .select(
            "vec_id",
            "scale",
            long_sum(F.col("q")).alias("q_sum"),
            long_sum(F.transform("q", F.abs)).alias("q_abs_sum"),
            long_sum(F.transform("q", lambda v: v * v)).alias("q_sq_sum"),
            F.array_max(err).alias("max_abs_err"),
        )
    )


@query(
    "q_vec_kmeans",
    oracle=None,  # iterative MLlib algorithm — seeded-deterministic, but no
    # SQL twin; convergence/purity asserted in pytest instead.
    category="vector",
    description="Full iterative Lloyd's k-means (pyspark.ml, seed=42) — the capability the reference's 'KMeans Job' name promises but never implements (single pass, no iteration — ProcessData.java:650-678).",
)
def q_vec_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = load_vectors(spark, sf_dir).select(
        "vec_id", "label", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    # k = the fixture's ground-truth label count (10, FIXTURES.md §2)
    model = KMeans(k=10, seed=42, maxIter=20).fit(e)
    pred = model.transform(e)
    # purity: how well discovered clusters align with the ground-truth label
    per = pred.groupBy("prediction", "label").count()
    best = per.groupBy("prediction").agg(F.max("count").alias("best"), F.sum("count").alias("n"))
    return best.select(
        F.col("prediction").alias("cluster_id"),
        F.col("n").alias("n_members"),
        (F.col("best") / F.col("n")).alias("purity"),
    )


@query(
    "q_vec_kmeans_gate",
    oracle="SELECT TRUE AS ok",
    category="vector",
    description=(
        "Driver gate for the iterative k-means: 8-10 non-empty clusters "
        "(k=10 configured; the smallest observed cluster holds 1 point on "
        "the near-isotropic fixture, so an occasional empty cell after a "
        "fixture regeneration must not red the gate), every embedding "
        "assigned exactly once (member counts sum to the table count), and "
        "weighted purity above the 0.113 floor — re-derived round 12 as "
        "margin-over-measured-baseline (VERDICT r11 item 5): the midpoint "
        "between the 0.1 random (1/k) baseline and the worst of an 8-seed "
        "sweep (0.126 at sf0.1; SCALE.md), replacing the 0.12 guess that "
        "left only 5% margin to a seed redraw. Converts the "
        "seeded-but-SQL-inexpressible q_vec_kmeans into a driver-hashable "
        "row."
    ),
    tags=("calibrated",),
)
def q_vec_kmeans_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = q_vec_kmeans(spark, sf_dir)
    total = load_vectors(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_vecs"))
    stats = clusters.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_members").alias("n_assigned"),
        (F.sum(F.col("purity") * F.col("n_members")) / F.sum("n_members")).alias("wpurity"),
    )
    return stats.crossJoin(F.broadcast(total)).select(
        (
            F.col("k").between(8, 10)
            & (F.col("n_assigned") == F.col("n_vecs"))
            & (F.col("wpurity") > 0.113)
        ).alias("ok")
    )


# ---------------------------------------------------------------------------
# Round 9: covariance matrix of the embedding corpus — the d×d reduction
# PCA / whitening / decorrelation preprocessing starts from.
# ---------------------------------------------------------------------------


def _covariance_oracle() -> str:
    from .relational import dsum_sql

    d1 = EMBEDDING_DIM + 1
    return f"""
    WITH v AS (SELECT * FROM {DUCK_VECTORS}),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v),
    p AS (
        SELECT u.i AS i, w.j AS j,
               CAST(embedding[u.i] AS DOUBLE) * CAST(embedding[w.j] AS DOUBLE) AS xy
        FROM v, UNNEST(range(1, {d1})) AS u(i), UNNEST(range(u.i, {d1})) AS w(j)
    ),
    m AS (SELECT i, j, {dsum_sql('xy', 6)} AS sxy FROM p GROUP BY i, j),
    mean AS (
        SELECT u.i AS i, {dsum_sql('CAST(embedding[u.i] AS DOUBLE)', 6)} AS s
        FROM v, UNNEST(range(1, {d1})) AS u(i) GROUP BY u.i
    )
    SELECT m.i, m.j, m.sxy / n.n - (ma.s / n.n) * (mb.s / n.n) AS cov
    FROM m JOIN mean ma ON ma.i = m.i JOIN mean mb ON mb.i = m.j CROSS JOIN n
    """


@query(
    "q_vec_covariance",
    oracle=_covariance_oracle(),
    category="vector",
    description=(
        "Population covariance matrix of the embedding corpus (upper "
        "triangle, 1-based dims): the d×d reduction PCA, whitening, and "
        "decorrelation preprocessing start from. Per vector the d(d+1)/2 "
        "upper-triangle products are generated by a codegen'd nested "
        "transform (no self-join of the corpus) as d tail-product ARRAYS, "
        "and the moment sums are d element-wise aggregates per i-group — "
        "map-side partial aggregation collapses every partition to ≤d "
        "d-wide rows before the ONE i-keyed exchange, so the shuffle is "
        "dimension-bounded, not corpus-bounded (and the aggregate "
        "processes d rows per vector instead of d²/2). Products are "
        "float→double (exact) BEFORE multiplying and individually "
        "dsum-quantized at 1e-6 before the BIGINT sums — bit-identical "
        "across engines and partitionings; non-finite elements drop out "
        "of the sums identically in both engines (try_cast NULL), the "
        "standing garbage-tolerance semantics."
    ),
)
def q_vec_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import dsum

    d = EMBEDDING_DIM
    # fan_out (round 17): the single-row-group embeddings scan is ONE task,
    # so the d tail-product arrays + the 64-column quantized partial sums —
    # the whole query's scalar work — ran on one core (driver bench read
    # FLAT 8v32 ratios, 0.87/1.04 at sf0.1/sf1.0). Spreading the raw
    # vector rows first parallelizes the explode + partial agg; every
    # cross-row sum is on the 1e-6 dsum grid, so the result is
    # partition-count-independent (bit-identical, rows_equal verified).
    # Interleaved A/B at sf0.1: 3.72 -> 2.39 s.
    vs = fan_out(load_vectors(spark, sf_dir))
    n = vs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    # ROW-PER-(vector, i) shape (round 16, guide §1.2 "per-task work"): the
    # original form exploded one STRUCT ROW per product — n·d(d+1)/2 rows
    # (10.4M at sf0.1) through generate + hash-agg probing. Here each
    # vector emits d rows, row i carrying the tail-product ARRAY for
    # j >= i, and the (i,j) sums become d element-wise aggregates per
    # i-group: 64x fewer rows through the aggregate for the same scalar
    # work. Each product is STILL quantized individually on the 1e-6 dsum
    # grid before the BIGINT sum (the aggregate input is
    # round(arr[k]*1e6) per element), so the result is bit-identical to
    # the dsum form — measured 4.86 -> 2.75 s at sf0.1, rows equal.
    # try_element_at: slots past row i's tail (j > d) are NULL and dropped
    # by the j <= d filter below; keeping that filter positional (not
    # IS NOT NULL) preserves the all-NULL cell (every product non-finite)
    # as a NULL-sum row exactly like the original groupBy.
    rows = vs.select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda x, i: F.transform(
                    F.slice("embedding", i + 1, F.lit(d)),
                    lambda y: x.cast("double") * y.cast("double"),
                ),
            )
        ).alias("i0", "arr")
    ).select((F.col("i0") + 1).alias("i"), "arr")
    col_sums = [
        F.sum(
            F.round(F.try_element_at("arr", F.lit(k)) * 1000000).try_cast("bigint")
        ).alias(f"_s{k}")
        for k in range(1, d + 1)
    ]
    m = (
        rows.groupBy("i")
        .agg(*col_sums)
        .select(
            "i",
            F.posexplode(
                F.array(*[F.col(f"_s{k}") for k in range(1, d + 1)])
            ).alias("k0", "_ssum"),
        )
        .filter(F.col("i") + F.col("k0") <= d)
        .select(
            "i",
            (F.col("i") + F.col("k0")).alias("j"),
            (F.col("_ssum") / 1000000.0).alias("sxy"),
        )
    )
    mean = (
        vs.select(F.posexplode("embedding").alias("i0", "x"))
        .select((F.col("i0") + 1).alias("i"), F.col("x").cast("double").alias("x"))
        .groupBy("i")
        .agg(dsum("x", 6).alias("s"))
    )
    ma = mean.select(F.col("i").alias("i"), F.col("s").alias("sa"))
    mb = mean.select(F.col("i").alias("j"), F.col("s").alias("sb"))
    nn = F.col("n")
    return (
        # mean is EMBEDDING_DIM rows (dimension-bounded, not SF-bounded) but
        # is a grouped aggregate, so no forced hint (lint discipline) — AQE
        # broadcasts it from observed size; only the 1-row count keeps one.
        m.join(ma, "i")
        .join(mb, "j")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            (F.col("sxy") / nn - (F.col("sa") / nn) * (F.col("sb") / nn)).alias("cov"),
        )
    )


#: Agreement tolerance for the fast-vs-exact covariance gate: the exact path
#: quantizes each product on the 1e-6 dsum grid, so after the /n the two
#: paths can differ by ~5e-7 per moment; 1e-5 is 20x that margin.
COV_FAST_TOL = 1e-5


def covariance_fast(vs: DataFrame) -> DataFrame:
    """The 100 TB covariance path: per-Arrow-batch numpy Gram matrices.

    The exact q_vec_covariance explodes d(d+1)/2 product rows per vector —
    JVM-side and bit-exact, but the explode is ~d²/2 CPU per row. This twin
    computes X'X per batch with one BLAS call inside ``mapInPandas`` and
    ships only (d² upper triangle + d + 1) partial rows PER BATCH to one
    tiny (i,j)-keyed sum — the classic distributed-Gram shape. The float
    partial sums are batch-order dependent, so this is rows-only; its
    calibrated gate proves agreement with the exact path within
    COV_FAST_TOL on every cell. Non-finite elements are masked to 0.0 —
    the same contribution the exact path's dsum skip gives their products.
    """
    d = EMBEDDING_DIM

    def gram(batches):
        import numpy as np
        import pandas as pd

        iu0, iu1 = np.triu_indices(d)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
            X = np.where(np.isfinite(X), X, 0.0)
            G = X.T @ X
            yield pd.DataFrame(
                {
                    "i": np.concatenate(
                        [iu0 + 1, np.zeros(d, dtype=np.int64), [0]]
                    ),
                    "j": np.concatenate(
                        [iu1 + 1, np.arange(1, d + 1, dtype=np.int64), [0]]
                    ),
                    "v": np.concatenate(
                        [G[iu0, iu1], X.sum(axis=0), [float(len(pdf))]]
                    ),
                }
            )

    part = vs.select("embedding").mapInPandas(gram, "i int, j int, v double")
    # one tiny exchange: <= (d(d+1)/2 + d + 1) keys regardless of corpus size;
    # checkpointed once for its three consumers (gram / mean / count slices)
    agg = part.groupBy("i", "j").agg(F.sum("v").alias("v")).localCheckpoint(eager=False)
    n = agg.filter((F.col("i") == 0) & (F.col("j") == 0)).select(F.col("v").alias("n"))
    mean = agg.filter((F.col("i") == 0) & (F.col("j") > 0))
    ma = mean.select(F.col("j").alias("i"), F.col("v").alias("sa"))
    mb = mean.select(F.col("j").alias("j"), F.col("v").alias("sb"))
    nn = F.col("n")
    return (
        agg.filter(F.col("i") > 0)
        .join(ma, "i")
        .join(mb, "j")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            (F.col("v") / nn - (F.col("sa") / nn) * (F.col("sb") / nn)).alias("cov"),
        )
    )


@query(
    "q_vec_covariance_fast",
    category="vector",
    description=(
        "Covariance matrix via per-batch numpy Gram partials (rows-only: "
        "float partial sums are batch-order dependent; its calibrated gate "
        "q_vec_covariance_fast_gate proves every cell agrees with the "
        "bit-exact q_vec_covariance within 1e-5). The 100 TB scale path: "
        "one BLAS X'X per Arrow batch, dimension-bounded partial rows, one "
        "tiny keyed sum — no corpus-sized explode."
    ),
)
def q_vec_covariance_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return covariance_fast(load_vectors(spark, sf_dir))


@query(
    "q_vec_covariance_fast_gate",
    oracle="SELECT TRUE AS ok",
    category="vector",
    description=(
        "Gate: the fast Gram-partial covariance equals the exact dsum-grid "
        "covariance on EVERY upper-triangle cell within COV_FAST_TOL "
        "(1e-5 — 20x the quantization-grid divergence bound), same cell "
        "set, no NULLs. Calibrated-tagged: the tolerance is tuned for "
        "finite-variance corpora; poison fixtures exercise both paths "
        "through their own queries."
    ),
    tags=("calibrated",),
)
def q_vec_covariance_fast_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = q_vec_covariance(spark, sf_dir).withColumnRenamed("cov", "c_exact")
    fast = q_vec_covariance_fast(spark, sf_dir).withColumnRenamed("cov", "c_fast")
    d = EMBEDDING_DIM
    n_cells = d * (d + 1) // 2
    j = exact.join(fast, ["i", "j"], "full_outer")
    return j.agg(
        (
            (F.count(F.lit(1)) == n_cells)
            & (F.count("c_exact") == n_cells)
            & (F.count("c_fast") == n_cells)
            & (F.max(F.abs(F.col("c_exact") - F.col("c_fast"))) <= COV_FAST_TOL)
        ).alias("ok")
    )


# ---------------------------------------------------------------------------
# Round 10 (VERDICT r9 item 5): hash-provable Lloyd's k-means.
#
# q_vec_kmeans stays the full MLlib capability (seeded, rows-only + purity
# gate); this twin makes the ITERATIVE RECURRENCE itself driver-hashable —
# the same move that turned PageRank/LPA/BPE hash-provable. Fixed K (the
# N_CENTERS seed points), fixed iteration count, squared-L2 assignment with
# the deterministic (dist, center_id) struct-min tie-break, and centroid
# updates whose per-dimension sums run through the fixed-point dsum kernel —
# so every centroid coordinate is bit-identical across engines and
# partitionings, and a DuckDB oracle can unroll the same recurrence as a
# CTE chain. Empty clusters (and all-non-finite dimensions, which dsum
# skips) COALESCE to the previous centroid per dimension on both engines.
# ---------------------------------------------------------------------------

LLOYD_ITERATIONS = 3


def _l2sq(vec: F.Column | str, c: F.Column) -> F.Column:
    """Sequential-accumulation squared L2 distance in DOUBLE — same fold
    shape as functions.vector.dot (verified bit-identical with DuckDB's
    ordered list_sum)."""
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.aggregate(
        F.zip_with(
            v, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def kmeans_lloyd(
    vs: DataFrame, centers: DataFrame, iterations: int = LLOYD_ITERATIONS
) -> DataFrame:
    """Fixed-iteration Lloyd's k-means over (vec_id, embedding) rows.

    ``centers`` must have (center_id INT, c ARRAY<DOUBLE>). Returns the
    final (center_id, c, n_members) — n_members from the LAST assignment
    (0 for a cluster that went empty; its centroid carries forward).

    Total on ragged input (round 11, ADVICE r10): members are counted once
    per ROW via a posexplode_outer dim-0 sentinel — not per dimension — so
    n_members is exact even when embeddings differ in length (empty and
    NULL embeddings count as members of their assigned cluster). Each
    dimension's mean averages the values PRESENT at that dimension; under
    the :func:`load_vectors` fixed-dimension contract this is the ordinary
    centroid. A row whose length mismatches a center's has NULL distance
    to it (zip_with pads), and NULL sorts FIRST in the struct-min — so a
    fully-ragged row deterministically assigns to the lowest center_id,
    never silently drops (pinned by test_kmeans_lloyd_ragged_member_counts).

    Scale shape (the PageRank iterative-join skeleton): per iteration the
    corpus is scanned ONCE, assignment is a map-only broadcast of the
    K-row center array (array_min struct fold — no exchange), and the only
    shuffle is the (center_id, dim)-keyed centroid sum, which partial
    aggregation collapses to <= K*d rows per partition before the exchange.
    The K-row center table is lazily checkpointed per iteration: it is
    consumed twice per step (assignment + carry-forward join), so an
    untruncated plan would re-execute the corpus scan 2^k times.
    """
    from .relational import dsum

    for it in range(iterations):
        c_arr = centers.agg(F.collect_list(F.struct("center_id", "c")).alias("_cs"))
        best = F.array_min(
            F.transform(
                "_cs",
                lambda c0: F.struct(
                    _l2sq("embedding", c0["c"]).alias("dist"),
                    c0["center_id"].alias("center_id"),
                ),
            )
        )
        assign = (
            vs.crossJoin(F.broadcast(c_arr))
            .withColumn("_best", best)
            .select(F.col("_best.center_id").alias("center_id"), "embedding")
        )
        # posexplode_outer + dim-0 sentinel: an empty/NULL embedding emits
        # one (i=0, x=NULL) row, a d-dim one emits i=1..d — so counting the
        # i<=1 rows counts each member exactly once, in the SAME single
        # corpus scan that feeds the per-dimension sums (no second pass)
        sums = (
            assign.select("center_id", F.posexplode_outer("embedding").alias("i0", "x"))
            .select(
                "center_id",
                F.coalesce(F.col("i0") + 1, F.lit(0)).alias("i"),
                F.col("x").cast("double").alias("x"),
            )
            .groupBy("center_id", "i")
            .agg(dsum("x", 6).alias("s"), F.count(F.lit(1)).alias("n"))
        )
        upd = sums.groupBy("center_id").agg(
            F.transform(
                # when() without otherwise is NULL on the i=0 sentinel row,
                # which collect_list skips — only real dimensions survive
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("i") >= 1, F.struct("i", (F.col("s") / F.col("n")).alias("m")))
                    )
                ),
                lambda s: s["m"],
            ).alias("c_new"),
            F.sum(F.when(F.col("i") <= 1, F.col("n")).otherwise(F.lit(0))).alias("n_new"),
        )
        centers = (
            centers.select("center_id", F.col("c").alias("c_prev"))
            .join(upd, "center_id", "left")
            .select(
                "center_id",
                # per-dimension carry-forward: NULL mean (empty cluster, or
                # a dimension whose every contribution was non-finite and
                # dsum-skipped) keeps the previous coordinate
                F.zip_with(
                    F.coalesce("c_new", F.array_repeat(F.lit(None).cast("double"), F.size("c_prev"))),
                    "c_prev",
                    lambda m, p: F.coalesce(m, p),
                ).alias("c"),
                F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_members"),
            )
        )
        # truncate lineage between iterations (the center table is consumed
        # twice per step); the LAST iteration stays un-checkpointed so the
        # caller's plan shows the real per-iteration shape and the final
        # K-row table is not pointlessly materialized twice
        if (it + 1) < iterations:
            centers = centers.localCheckpoint(eager=False)
    return centers


def lloyd_kmeans(
    df: DataFrame,
    k: int,
    iterations: int = LLOYD_ITERATIONS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """User-parameterized Lloyd's k-means (VERDICT r10 item 4) — the public
    library entry next to ``pagerank()``/``label_propagation()``.

    Seeds deterministically from the ``k`` smallest ``id_col`` rows
    (center_id = 0-based rank), then runs :func:`kmeans_lloyd` for
    ``iterations`` fixed steps. Deterministic seeds + fixed-point dsum
    centroid sums make the result bit-identical across partition counts —
    no RNG, so the run is reproducible and hash-provable (the registered
    ``q_vec_kmeans_lloyd`` calls this with k=8 against a DuckDB CTE-chain
    oracle). The MLlib path (``q_vec_kmeans``) remains the
    convergence-criterion variant.

    Scale: the seed pick is a distributed TakeOrdered of k rows; everything
    after is the map-only-broadcast-assignment / (center,dim)-keyed-dsum
    loop documented on :func:`kmeans_lloyd`.
    """
    # fan_out (round 17): the assignment fold + posexplode + dsum partial
    # aggregation run in the corpus scan stage EVERY iteration — on the
    # single-row-group fixture scan that is one core for the whole loop.
    # The docstring's bit-identity across partition counts (dsum sums,
    # deterministic seeds) makes the spread free of result risk; at real
    # scale the scan already parallelizes and this is a no-op.
    vs = fan_out(
        df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    )
    seeds = (
        vs.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(W.orderBy("vec_id")) - 1).cast("int").alias("center_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("c"),
        )
    )
    return kmeans_lloyd(vs, seeds, iterations)


def duck_lloyd_l2() -> str:
    """The oracle-side squared-L2 between row ``e`` and center ``c`` —
    range-indexed so the accumulation order matches :func:`_l2sq`."""
    d1 = EMBEDDING_DIM + 1
    return (
        f"list_sum(list_transform(range(1, {d1}), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - c.c[i])"
        " * (CAST(e.embedding[i] AS DOUBLE) - c.c[i])))"
    )


def lloyd_cte_chain() -> str:
    """The Lloyd recurrence as a DuckDB CTE body — ``v``, ``c0`` (rank-based
    k-smallest-id seeds), then a{k}/s{k}/c{k} per iteration, ending at
    ``c{LLOYD_ITERATIONS}`` (the final centers). No ``WITH`` prefix, no
    final SELECT: shared by the q_vec_kmeans_lloyd oracle and the
    q_dedup_semantic oracle, which compose different tails onto the same
    unrolled recurrence."""
    from .relational import dsum_sql

    d1 = EMBEDDING_DIM + 1
    l2 = duck_lloyd_l2()
    sql = f"""
    v AS (SELECT vec_id, embedding FROM {DUCK_VECTORS}),
    c0 AS (
        -- k-smallest-id deterministic seeding, center_id = 0-based rank
        -- (matches lloyd_kmeans; on the fixture where vec_ids 0..k-1 all
        -- satisfy the dimension contract this equals the old vec_id<k)
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS center_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c,
               CAST(0 AS BIGINT) AS n_members
        FROM (SELECT * FROM v ORDER BY vec_id LIMIT {N_CENTERS})
    )"""
    for k in range(1, LLOYD_ITERATIONS + 1):
        sql += f""",
    a{k} AS (
        SELECT vec_id, center_id FROM (
            SELECT e.vec_id, c.center_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {l2}, c.center_id) AS rn
            FROM v e CROSS JOIN c{k - 1} c
        ) WHERE rn = 1
    ),
    s{k} AS (
        SELECT a.center_id, u.i,
               {dsum_sql('CAST(e.embedding[u.i] AS DOUBLE)', 6)} AS s,
               COUNT(*) AS n
        FROM a{k} a JOIN v e USING (vec_id), UNNEST(range(1, {d1})) AS u(i)
        GROUP BY a.center_id, u.i
    ),
    c{k} AS (
        SELECT p.center_id,
               list_transform(range(1, {d1}),
                              i -> COALESCE(m.c[i], p.c[i])) AS c,
               CAST(COALESCE(m.n, 0) AS BIGINT) AS n_members
        FROM c{k - 1} p LEFT JOIN (
            SELECT center_id, list(s / n ORDER BY i) AS c, MAX(n) AS n
            FROM s{k} GROUP BY center_id
        ) m USING (center_id)
    )"""
    return sql


def _lloyd_oracle() -> str:
    d1 = EMBEDDING_DIM + 1
    return f"""
    WITH {lloyd_cte_chain()}
    SELECT center_id, u.i AS dim,
           CAST(ROUND(c[u.i] * 1000000) AS BIGINT) AS micro,
           n_members
    FROM c{LLOYD_ITERATIONS}, UNNEST(range(1, {d1})) AS u(i)
    ORDER BY center_id, dim"""


#: The fixture Lloyd centers, shared per (session, sf_dir):
#: q_vec_kmeans_lloyd and q_dedup_semantic run the IDENTICAL recurrence
#: (same contract-filtered corpus, same rank-based seeds, same k and
#: iteration count), so the K-row centers table — the expensive part, 3
#: corpus scans — materializes once per session like the graph module's
#: shared edge list. The generic lloyd_kmeans API stays memo-free (callers
#: own their inputs); only the fixture-bound registered queries share.
_LLOYD_MEMO = SessionMemo()


def _fixture_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lloyd_kmeans(load_vectors(spark, sf_dir), N_CENTERS).localCheckpoint(eager=False)


def _lloyd_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute the fixture Lloyd centers FRESH and publish the checkpointed
    K-row table to the memo, replacing any entry. The registered
    q_vec_kmeans_lloyd always goes through this, so its bench samples keep
    measuring the real recurrence — the memo only spares OTHER consumers."""
    return _LLOYD_MEMO.put(spark, sf_dir, _fixture_lloyd(spark, sf_dir))


def fixture_lloyd_centers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered queries' shared Lloyd centers: the memoized K-row
    table if a consumer already built it this session, else computed and
    published. q_dedup_semantic reads through this — the warehouse
    shared-MV pattern — while q_vec_kmeans_lloyd recomputes+publishes so
    the kernel's cost stays visible to the bench."""
    return _LLOYD_MEMO.get_or_build(spark, sf_dir, _fixture_lloyd)


@query(
    "q_vec_kmeans_lloyd",
    oracle=_lloyd_oracle(),
    category="vector",
    description=(
        "Hash-provable Lloyd's k-means (VERDICT r9 item 5, delivered as a "
        "fully-oracled query rather than the suggested boolean gate): "
        f"{LLOYD_ITERATIONS} fixed iterations from the {N_CENTERS} "
        "deterministic seed points, squared-L2 assignment with the "
        "(dist, center_id) struct-min tie-break (map-only broadcast fold, "
        "no exchange), centroid updates from (center_id, dim)-keyed "
        "fixed-point dsum(6) sums (the ONLY per-iteration shuffle, "
        "partial-agg-bounded to K*d rows per partition), empty clusters "
        "carried forward per dimension. Emits every final centroid "
        "coordinate on the micro grid plus final member counts — the "
        "DuckDB oracle unrolls the identical recurrence as a CTE chain, "
        "so the hash proves the full iterative loop like PageRank/LPA/BPE."
    ),
    tags=("vector", "iterative"),
)
def q_vec_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    final = _lloyd_publish(spark, sf_dir)
    return final.select(
        "center_id",
        F.posexplode("c").alias("i0", "m"),
        "n_members",
    ).select(
        "center_id",
        (F.col("i0") + 1).alias("dim"),
        F.round(F.col("m") * 1000000).cast("bigint").alias("micro"),
        "n_members",
    )
