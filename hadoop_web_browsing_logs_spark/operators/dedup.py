"""Deduplication — SURVEY B10 + the LLM-pipeline dedup family.

Exact dedup (hash-groupBy), n-gram/unigram Jaccard near-dup, MinHash
signatures with LSH banding, SimHash, and embedding-cosine near-dup. The
reference has no dedup surface; the closest ancestor is its distinct-presence
incidence semantics (duplicate (term,doc) pairs collapse — ProcessData.java:464,
SURVEY Q1), which is exactly the ``collect_set``/``dropDuplicates`` shape
productized here.

Scale notes:

- Exact dedup keys on a fingerprint (MD5 here; xxhash64 for speed when
  portability doesn't matter) → shuffle on the hash, never on the payload.
- All-pairs Jaccard is O(n²) — the registered query demonstrates it on a
  strided sample; the scale path is MinHash+LSH banding, which turns
  near-dup candidate generation into an equi-join on (band, slot) keys.
- SimHash uses an engine-portable polynomial token hash so the whole
  computation (hash → per-bit vote → pack) runs as one codegen'd SQL
  expression on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text_stats import fingerprint_md5
from ..functions.vector import duck_cosine_similarity
from ..plans.registry import query
from ..session import SessionMemo
from .vectors import DUCK_VECTORS, load_vectors
from ._util import fan_out, t

PAIR_STRIDE = 5  # doc_id % stride == 0 → sampled pair universe
JACCARD_THRESHOLD = 0.9

MINHASH_PERMS = 32
MINHASH_PRIME = 2147483647  # 2^31 - 1 (Mersenne)
MINHASH_BANDS = 8

HASH_MOD = 2147483647
SIMHASH_BITS = 16


def distinct_tokens(text_col: str = "text") -> Column:
    return F.array_distinct(
        F.filter(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda x: x != "")
    )


_DUCK_TOKS = "list_distinct(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))"


def _poly_hash(tok: Column) -> Column:
    """Portable 31-base polynomial hash of a token, mod 2^31-1 — identical in
    DuckDB via list_reduce(string_split(tok,''), acc*31+ascii). Shared by
    SimHash and the oracle-checkable portable MinHash variant."""
    chars = F.filter(F.split(tok, ""), lambda c: c != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % HASH_MOD,
    )


_DUCK_POLY = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(list_filter(string_split(tok, ''), c -> c <> ''), "
    "c -> CAST(ascii(c) AS BIGINT))), "
    "(acc, ch) -> (acc * 31 + ch) % 2147483647)"
)

# Spark-SQL-text twins of distinct_tokens()/_poly_hash(), used by the hot LSH
# path (round 6): one parsed expression replaces dozens of py4j Column calls —
# the SAME expression tree after parsing, so results are bit-identical to the
# Column-API forms above (which remain the library surface for other callers).
_TOKS_SQL = r"array_distinct(filter(split(trim(lower(text)), '\\s+'), x -> x != ''))"
_POLY_SQL = (
    "aggregate(filter(split(tok, ''), c -> c != ''), 0L, "
    f"(acc, ch) -> (acc * 31 + ascii(ch)) % {HASH_MOD})"
)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle="""
    SELECT source,
           COUNT(*)                                   AS n_docs,
           COUNT(DISTINCT md5(lower(trim(text))))     AS n_distinct,
           COUNT(*) - COUNT(DISTINCT md5(lower(trim(text)))) AS n_exact_dups
    FROM documents
    GROUP BY source
    """,
    category="dedup",
    description="Exact dedup accounting per source: fingerprint (MD5) group-by — the shuffle key is 16 bytes, not the document payload.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").withColumn("fp", fingerprint_md5("text"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_exact_dups"),
    )


def dedup_exact(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Library form: keep one row per exact duplicate group
    (``dropDuplicates`` — hash agg on the chosen columns)."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


# ---------------------------------------------------------------------------
# Near-dup: n-gram Jaccard (exact, sampled) — the brute-force baseline
# ---------------------------------------------------------------------------


@query(
    "q_dedup_jaccard_pairs",
    oracle=f"""
    WITH d0 AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks
        FROM documents WHERE doc_id % {PAIR_STRIDE} = 0
    ),
    d AS (SELECT * FROM d0 WHERE len(toks) > 0)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= {JACCARD_THRESHOLD}
    """,
    category="dedup",
    description="Token-set Jaccard near-dup pairs over a strided sample (exact quadratic baseline the MinHash path approximates).",
)
def q_dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % PAIR_STRIDE == 0)
        .select("doc_id", distinct_tokens().alias("toks"))
        # empty-token docs are excluded from token-set near-dup (round 6):
        # Jaccard(∅,∅) is 0/0 — ANSI Spark throws where DuckDB's
        # divide-by-zero NULL silently drops the pair (found by the
        # randomized property test, tests/test_properties.py)
        .filter(F.size("toks") > 0)
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    # |A∪B| = |A|+|B|-|A∩B| for the (distinct) token sets — one hash-
    # intersect instead of intersect+union; integer arithmetic, bit-identical
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter.cast("double") / (F.size("toks_a") + F.size("toks_b") - inter)
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        # same barrier as jaccard_prefix_pairs (round 16): without it the
        # threshold pushes into the theta-join condition and the intersect
        # runs up to 4x per pair; the scored all-pairs table IS this
        # query's labeled quadratic intermediate, so materializing it
        # changes nothing about its (deliberate) O(n^2) COMPUTE shape.
        # STORAGE note (ADVICE r16): the barrier also gives the scored
        # pairs quadratic executor-storage residency the lazy plan did not
        # have — acceptable for the labeled differential baseline at
        # fixture SFs, and this query must never run beyond them (the
        # prefix join is the declared scale path).
        .localCheckpoint(eager=False)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _prefix_threshold_fraction(tau: float):
    """The exact rational threshold the prefix/size filters run on — a
    num/den pair with BOTH properties the candidate stage needs:

    1. ``Fraction(num, den) <= Fraction(tau)`` (the exact binary double the
       final ``jaccard >= tau`` verify compares against). Pruning with a
       threshold ABOVE the verify's would drop a candidate the quadratic
       baseline keeps — for taus whose shortest decimal repr exceeds the
       double (e.g. 0.7: 7/10 > double(0.7)) a pair with exact J in
       [double(tau), decimal(tau)) diverges. Unreachable below union sizes
       ~1e16, but provable, so it is closed here rather than documented
       away (ADVICE r14 item 2). A threshold slightly BELOW only lengthens
       the prefix — superset candidates, never a dropped one.
    2. ``num`` small enough that ``num * sz`` stays far inside BIGINT
       (which rules out the exact binary Fraction(tau) itself: its ~2^52
       numerator times a document size overflows the integer prefix
       arithmetic).

    For the common decimal-below-or-equal taus (0.5, 0.8, 0.9, …) this is
    exactly ``Fraction(str(tau))`` — bit-for-bit the pre-round-15
    behavior. For decimal-above taus it floors the double's exact decimal
    expansion at 1e-6 (den <= 10^6, so num*sz <= ~2^51 at INT_MAX doc
    sizes)."""
    from decimal import ROUND_FLOOR, Decimal
    from fractions import Fraction

    frac = Fraction(str(tau))
    # den > 10^6 (a full-17-digit repr like 1/3) would overflow num*sz on
    # its own — same floor fallback, same superset-candidates safety
    if frac > Fraction(tau) or frac.denominator > 10**6:
        frac = Fraction(Decimal(tau).quantize(Decimal("1e-6"), rounding=ROUND_FLOOR))
    assert frac <= Fraction(tau)
    return frac.numerator, frac.denominator


def _jaccard_prefix_candidates(docs: DataFrame, tau: float):
    """The candidate stage of ``jaccard_prefix_pairs``, factored out so the
    skew harness (docs/ab_round15.py) can count the candidate set the
    verify join actually consumes without re-deriving the plan. Returns
    ``(d, cands)``: the checkpointed (doc_id, toks) table and the distinct
    (doc_a, doc_b) candidate pairs."""
    num, den = _prefix_threshold_fraction(tau)
    # All fraction-literal arithmetic below is widened to LONG: num/den go
    # up to 10^6 (the decimal-floor fallback), sz is int32, and Spark
    # multiplies IntegerType columns in 32-bit — num*sz overflows at
    # ~2148 distinct tokens for tau=0.7 (ANSI: ARITHMETIC_OVERFLOW;
    # non-ANSI: silent wrap dropping qualifying pairs). After widening,
    # every product is <= ~2*10^6 * 2^31 < 2^52, and the floor-division
    # quotient's distance from any integer is >= 1/den > half-ulp, so the
    # integer arithmetic stays exact.
    num_l = F.lit(num).cast("long")
    den_l = F.lit(den).cast("long")
    # fan_out measured and REJECTED here (round 17): spreading the strided
    # 1/4-corpus scan parallelizes only a light tokenize, while the kernel
    # has the round's deepest stage chain (df groupBy, per-doc ordering,
    # prefix self-join, verify, barrier) — the extra 32-way task launches
    # across every stage cost more than the map win (bench: t8 2.29 ->
    # 2.50 s AGAINST a 1.23x ambient tailwind; plain/t7 flat-to-worse).
    d = (
        docs.select("doc_id", distinct_tokens().alias("toks"))
        # empty-token docs: same 0/0 exclusion as the quadratic baseline
        .filter(F.size("toks") > 0)
        .localCheckpoint(eager=False)  # df build + verify joins (3 consumers)
    )
    tok = d.select("doc_id", F.explode("toks").alias("token"))
    df_tbl = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # per-doc global-order sort WITHOUT a global rank table: the order key
    # (df, token) is carried per row, array_sort gives rarest-first
    ordered = (
        tok.join(df_tbl, "token")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "token"))).alias("o"))
        .select(
            "doc_id",
            F.transform("o", lambda s: s["token"]).alias("ord_toks"),
            F.size("o").alias("sz"),
        )
    )
    # prefix length |A| - ceil(tau*|A|) + 1, ceil as exact integer div
    plen = (
        F.col("sz")
        - F.floor((num_l * F.col("sz") + F.lit(den - 1).cast("long")) / den_l)
        + 1
    ).cast("int")
    pt = ordered.select(
        "doc_id",
        "sz",
        F.posexplode(F.slice("ord_toks", 1, plen)).alias("pos0", "token"),
    ).select(
        "doc_id", "sz", (F.col("pos0") + 1).alias("pos"), "token"
    )
    # PPJoin POSITIONAL filter (round 15, VERDICT r14 item 3 — measured at
    # real skew first: on a boilerplate corpus at tau=0.8 the plain prefix
    # join fans a hot shared token out to 319,700 candidates for 100 real
    # pairs). For a qualifying pair's FIRST common token in the global
    # order, at positions (pos_a, pos_b) within the ordered docs, every
    # other common token sits strictly after it on both sides, so
    #   overlap <= ubound = 1 + min(sz_a - pos_a, sz_b - pos_b),
    # while J >= tau forces overlap >= tau/(1+tau)*(sz_a+sz_b) — as exact
    # integers: ubound*(num+den) >= num*(sz_a+sz_b). A pair survives if ANY
    # of its candidate rows passes (the first-common-token row always does
    # for a true pair — Xiao et al.'s PPJoin bound), so pruning rows can
    # only drop pairs the verify would reject: output provably unchanged,
    # and the existing cross-join oracle keeps proving it.
    ubound = F.lit(1) + F.least(
        F.col("sz_a") - F.col("pos_a"), F.col("sz_b") - F.col("pos_b")
    )
    cands = (
        pt.select(
            F.col("doc_id").alias("doc_a"),
            F.col("sz").alias("sz_a"),
            F.col("pos").alias("pos_a"),
            "token",
        )
        .join(
            pt.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sz").alias("sz_b"),
                F.col("pos").alias("pos_b"),
                "token",
            ),
            "token",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        # size filter, exact: J >= tau forces den*min(|A|,|B|) >= num*max
        .filter(
            den_l * F.least("sz_a", "sz_b") >= num_l * F.greatest("sz_a", "sz_b")
        )
        .filter(
            F.lit(num + den).cast("long") * ubound
            >= num_l * (F.col("sz_a") + F.col("sz_b"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return d, cands


def jaccard_prefix_pairs(
    docs: DataFrame, tau: float = JACCARD_THRESHOLD
) -> DataFrame:
    """EXACT token-set Jaccard similarity join via PREFIX FILTERING
    (Chaudhuri et al.'s SSJoin / the PPJoin candidate rule) — the scale
    path whose output is row-identical to the quadratic all-pairs form
    (q_dedup_jaccard_pairs), proved by running it against that very
    oracle (the fuzzy_vocab/SymSpell adjudication pattern: the DuckDB
    twin IS the naive cross-join, so the hash equality proves the
    prefix-filter theorem on every fixture).

    The theorem: order every doc's distinct tokens by ONE global total
    order (here (corpus df ASC, token ASC) — rarest first, the standard
    efficiency choice; ANY total order is correct). If J(A,B) >= tau then
    overlap o >= tau*max(|A|,|B|) (from o >= tau*(|A|+|B|-o) and
    o <= min), so the FIRST common token in that order sits within the
    first |A| - ceil(tau*|A|) + 1 tokens of A AND the first
    |B| - ceil(tau*|B|) + 1 tokens of B — an equi-join on PREFIX tokens
    alone generates every qualifying pair. Both the prefix length and the
    size filter (den*min >= num*max) are computed as exact integer
    arithmetic on tau's Fraction — a float ceil of 0.9*|A| can land one
    ulp high at exact-multiple sizes and silently shorten the prefix,
    which is a CORRECTNESS bug, not a performance one. The fraction comes
    from _prefix_threshold_fraction, which guarantees it never exceeds the
    binary double the final verify compares against (ADVICE r14 item 2:
    for taus like 0.7 the shortest decimal repr sits one float-ulp above
    the double, and pruning at the higher threshold could in principle —
    union sizes ~1e16 — drop a pair the quadratic baseline keeps).

    Scale shape: the df table is one token-keyed exchange (vocab-sized,
    partial-agg reduced); per-doc ordering is a doc-keyed collect_list
    (narrow (doc_id, df, token) rows — the token ARRAYS never ride an
    exchange); candidate generation equi-joins prefix tokens (at tau=0.9
    a prefix is ~|A|/10 tokens, and they are each doc's RAREST tokens by
    construction, so hot-key fanout is the inverse of the boilerplate
    blow-up the containment cap guards); the exact verify joins the token
    arrays back for surviving candidates only (AQE broadcasts the
    candidate side while it fits — the minhash_lsh verify discipline).
    At LOWER tau the prefix lengthens into shared tokens and a
    boilerplate-heavy corpus CAN fan a hot prefix token out quadratically
    — measured at real skew in round 15 (SCALE.md: 319,700 candidates
    for 100 true pairs at tau=0.8) and closed by the PPJoin POSITIONAL
    filter in _jaccard_prefix_candidates: each candidate row's prefix
    positions upper-bound the overlap, pruning the junk rows before the
    verify join with output provably unchanged (same corpus: candidates
    319,700 -> 100, wall-clock 6.5 s -> 0.7 s).
    At web scale, swap the string token arrays for xxhash64 fingerprints
    as minhash_lsh_pairs does (cheaper intersects, 2^-64 collision
    caveat); strings are kept here so the DuckDB twin is exact."""
    scored = (
        _jaccard_prefix_scored(docs, tau)
        # Materialization barrier BEFORE the threshold filter (round 16,
        # guide §7.2 "duplicated subtrees"): left as one lazy plan,
        # Catalyst pushes `jaccard >= tau` through the projection into the
        # verify join's condition, so array_intersect — the per-candidate
        # hot loop — is evaluated up to four times per pair (twice in the
        # join condition's numerator/denominator, twice again in the
        # output projection). Checkpointing the scored candidates pins the
        # intersect to ONE evaluation per candidate; the materialized
        # table is candidate-linear (doc_a, doc_b, jaccard — 24 bytes a
        # row), and the measured effect at sf0.1 is 2.2-2.3x on the
        # tau=0.7/0.8 query points. Same rows, same IEEE bits: the filter
        # below compares the identical double expression value.
        .localCheckpoint(eager=False)
    )
    # final threshold on the double value — the same expression (and
    # therefore the same IEEE bits) as the quadratic baseline/oracle
    return scored.filter(F.col("jaccard") >= tau)


def _jaccard_prefix_scored(docs: DataFrame, tau: float) -> DataFrame:
    """The verify stage's scored-candidates subtree (candidate pairs with
    their exact jaccard), factored out of :func:`jaccard_prefix_pairs` so
    plan dumps can show the verify-join shape that the checkpoint barrier
    otherwise truncates to a LogicalRDD scan."""
    d, cands = _jaccard_prefix_candidates(docs, tau)
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter.cast("double") / (F.size("toks_a") + F.size("toks_b") - inter)
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


@query(
    "q_dedup_jaccard_prefix",
    oracle=f"""
    WITH d0 AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks
        FROM documents WHERE doc_id % {PAIR_STRIDE} = 0
    ),
    d AS (SELECT * FROM d0 WHERE len(toks) > 0)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= {JACCARD_THRESHOLD}
    """,
    category="dedup",
    description=(
        "Exact Jaccard similarity join via PREFIX FILTERING (SSJoin/"
        "PPJoin candidate rule): identical output to the quadratic "
        "all-pairs baseline q_dedup_jaccard_pairs — the oracle IS that "
        "naive cross-join, so the hash equality proves the prefix-filter "
        "theorem — but pair generation is an equi-join on each doc's "
        "(df ASC, token ASC)-ordered prefix tokens plus an exact integer "
        "size filter, with the exact verify on surviving candidates only. "
        "The deterministic exact-threshold complement to the probabilistic "
        "MinHash-LSH path: no recall loss, no banding parameters, linear "
        "in candidates instead of quadratic in docs."
    ),
    tags=("dedup", "multipoint:jaccard_prefix"),
)
def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % PAIR_STRIDE == 0)
    return jaccard_prefix_pairs(docs, JACCARD_THRESHOLD)


#: Second fixed threshold for the prefix join (round 15): at tau=0.9 the
#: prefix is short enough that the PPJoin positional filter barely acts;
#: 0.8 lengthens the prefix into shared-token territory, so THIS query
#: point drives the positional-filter path through the driver gate.
JACCARD_THRESHOLD_2 = 0.8


@query(
    "q_dedup_jaccard_prefix_t8",
    oracle=f"""
    WITH d0 AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks
        FROM documents WHERE doc_id % {PAIR_STRIDE} = 0
    ),
    d AS (SELECT * FROM d0 WHERE len(toks) > 0)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= {JACCARD_THRESHOLD_2}
    """,
    category="dedup",
    description=(
        "Prefix-filtered exact Jaccard join at the SECOND fixed threshold "
        "(tau=0.8, round 15): the q_sim_hybrid_rrf2 argument applied to "
        "the prefix join — at tau=0.9 the prefix rarely reaches a shared "
        "token and the PPJoin positional filter is nearly dormant, so "
        "this point pins the lengthened-prefix + positional-filter path "
        "(the one the round-15 skew study exercised) against the same "
        "naive cross-join oracle. ~10x the tau=0.9 output on the organic "
        "corpus; candidates stay ~2x output thanks to the positional "
        "bound."
    ),
    tags=("dedup", "multipoint:jaccard_prefix"),
)
def q_dedup_jaccard_prefix_t8(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % PAIR_STRIDE == 0)
    return jaccard_prefix_pairs(docs, JACCARD_THRESHOLD_2)


#: Third fixed threshold (round 16, ADVICE r15 item 1): tau=0.7 is the
#: DECIMAL-ABOVE-DOUBLE tau class — _prefix_threshold_fraction falls back
#: to the floored decimal expansion 699999/1000000, the den<=10^6 fraction
#: whose literals drove the int32 overflow the round-16 LONG widening
#: fixed. This query point pins that fallback + widened arithmetic path
#: through the driver gate (the registered tau=0.9/0.8 points never leave
#: num<=9 and so never touch it).
JACCARD_THRESHOLD_3 = 0.7


@query(
    "q_dedup_jaccard_prefix_t7",
    oracle=f"""
    WITH d0 AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks
        FROM documents WHERE doc_id % {PAIR_STRIDE} = 0
    ),
    d AS (SELECT * FROM d0 WHERE len(toks) > 0)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= {JACCARD_THRESHOLD_3}
    """,
    category="dedup",
    description=(
        "Prefix-filtered exact Jaccard join at the THIRD fixed threshold "
        "(tau=0.7, round 16): the decimal-above-double tau class, where "
        "the candidate stage runs on _prefix_threshold_fraction's floored "
        "decimal fallback (699999/1000000) and the LONG-widened filter "
        "arithmetic (ADVICE r15 item 1) — the tau=0.9/0.8 points keep "
        "num<=9 and never drive either. Same naive cross-join oracle; the "
        "hash equality proves the fallback fraction under-generates "
        "nothing and the final double-threshold verify drops the "
        "superset-candidates back to the exact answer."
    ),
    tags=("dedup", "multipoint:jaccard_prefix"),
)
def q_dedup_jaccard_prefix_t7(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % PAIR_STRIDE == 0)
    return jaccard_prefix_pairs(docs, JACCARD_THRESHOLD_3)


CONTAINMENT_TAU = 0.5

#: Default hot-shingle document-frequency cap for containment_report —
#: DEFAULT-ON (round 13, VERDICT r12 item 2; the SEMDEDUP_MAX_CLUSTER
#: pattern). The pair stage equi-joins docs on shingle fingerprints, so a
#: boilerplate sentence shared by f docs puts f² pairs on one join key:
#: round-12's own measurement (SCALE.md) saw df≈1200 → 14M pair rows, 3.9×
#: slower AND 1201 junk "contained" docs; at web-corpus df=10⁶ the key is
#: 10¹² pairs. 128 bounds any single key's fanout at 128² = 16384 pairs
#: (the same per-bucket budget the SemDeDup salt enforces) while staying
#: far above the fixture corpora's near-unique shingle df (max df 2–4
#: measured at sf0.01/sf0.1, SCALE.md — the cap is dormant there, so
#: capped and uncapped results are identical on the registered fixtures).
#: A shingle with df > 128 is boilerplate, not evidence of containment —
#: dropping it from the pair space AND the |A| denominator keeps the
#: ratio well-defined over the discriminative shingles.
CONTAINMENT_MAX_SHINGLE_DF = 128

_DUCK_SH5 = (
    "list_distinct(list_transform(range(1, GREATEST(len(tk) - 3, 1)), "
    "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] "
    "|| ' ' || tk[i+4]))"
)


@query(
    "q_dedup_containment",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS tk
        FROM documents
    ),
    sh0 AS (SELECT doc_id, UNNEST({_DUCK_SH5}) AS s FROM toks),
    -- hot-shingle df cap, mirroring the engine's default-on guard: shingles
    -- shared by more than CONTAINMENT_MAX_SHINGLE_DF docs leave the pair
    -- space AND the |A| denominator (dormant on this near-unique fixture)
    keep AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= {CONTAINMENT_MAX_SHINGLE_DF}),
    sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
    sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_id, b.doc_id AS container_id, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    ),
    hits AS (
        SELECT p.doc_id, p.container_id,
               CAST(p.shared AS DOUBLE) / sz.n_sh AS containment
        FROM pairs p JOIN sz ON sz.doc_id = p.doc_id
        WHERE CAST(p.shared AS DOUBLE) / sz.n_sh >= {CONTAINMENT_TAU}
    ),
    r AS (
        SELECT doc_id, container_id, containment,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY containment DESC, container_id) AS rnk,
               COUNT(*) OVER (PARTITION BY doc_id) AS n_containers
        FROM hits
    )
    SELECT doc_id, container_id, containment,
           CAST(n_containers AS BIGINT) AS n_containers
    FROM r WHERE rnk = 1 ORDER BY doc_id
    """,
    category="dedup",
    description=(
        "Shingle CONTAINMENT report (Broder's asymmetric |A∩B|/|A|, the "
        "RefinedWeb-style 'doc swallowed by another' signal symmetric "
        "Jaccard under-scores when sizes differ): for each doc whose "
        "distinct 5-gram shingle set is >= 50% covered by some other doc, "
        "its best container (max containment, tie-break smallest id) and "
        "how many containers cover it. Scale shape: pair generation is an "
        "inverted-index equi-join on xxhash64 shingle fingerprints — pairs "
        "exist ONLY for docs actually sharing a shingle (no all-pairs "
        "plan; the string-keyed oracle proves the fingerprint rewrite "
        "exact), the shingle table is checkpointed once for the sizes agg "
        "and both join sides, and the ranking window runs over "
        "over-threshold hits only. The hot-shingle df cap "
        "(CONTAINMENT_MAX_SHINGLE_DF=128) is DEFAULT-ON and mirrored in "
        "the oracle: boilerplate shingles shared by >128 docs leave the "
        "pair space and the |A| denominator before the self-join, bounding "
        "any single join key's fanout at 128² pairs (dormant on this "
        "near-unique fixture — capped and uncapped agree, SCALE.md)."
    ),
    tags=("dedup", "containment"),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # default path: the hot-shingle cap is ON (CONTAINMENT_MAX_SHINGLE_DF,
    # mirrored in the oracle above; dormant on the near-unique fixture)
    return containment_report(t(spark, sf_dir, "documents"))


def containment_report(
    docs: DataFrame,
    tau: float = CONTAINMENT_TAU,
    max_shingle_df: int | None = CONTAINMENT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Broder-containment report over ``(doc_id, text)`` rows: for each doc
    whose distinct 5-gram shingle set is >= ``tau`` covered by some other
    doc, its best container (max containment, tie-break smallest id) and
    the number of covering docs. Returns (doc_id, container_id,
    containment, n_containers) ordered by doc_id.

    ``max_shingle_df`` is the HOT-SHINGLE GUARD (the SemDeDup sub-split's
    sibling), DEFAULT-ON at ``CONTAINMENT_MAX_SHINGLE_DF`` = 128 since
    round 13 (VERDICT r12 item 2): the pair stage joins docs on raw
    shingle fingerprints, so one boilerplate sentence shared by f docs
    puts f² pairs on a single join key — quadratic in the hot shingle's
    document frequency, the exact blow-up class SCALE.md documents for
    banded LSH, and boilerplate-heavy corpora are this operator's normal
    input. With the cap, shingles whose corpus df exceeds it are dropped
    BEFORE pair generation — from the join AND from the |A| denominator,
    so containment stays a well-defined ratio over the surviving
    (discriminative) shingles rather than a biased one. Deterministic
    rule, recount-property-tested on both the explicit-cap and DEFAULT
    paths; pass ``max_shingle_df=None`` to run uncapped (the pytest-only
    exact baseline posture — never at corpus scale)."""
    from .llm_pipeline import shingles_5gram  # runtime import: llm_pipeline imports dedup constants

    # fan_out (round 17): the 5-gram shingle build runs in the corpus scan
    # stage — one task on the single-row-group fixture scan. Per-row
    # expression; the distinct/df/pair stages are all post-exchange.
    sh = (
        shingles_5gram(fan_out(docs))
        .select("doc_id", F.xxhash64("sh").alias("shh"))
        .distinct()
    )
    if max_shingle_df is not None:
        # Collision caveat: df is counted over xxhash64 fingerprints (shh)
        # while the DuckDB oracle counts raw shingle strings, so a 64-bit
        # collision would merge two shingles' dfs ENGINE-SIDE ONLY and
        # could flip the <= cap for those keys, breaking oracle parity.
        # Before the default-on cap, collisions only touched pair-join
        # keys; now df itself is semantic. Accepted as a documented
        # residual risk at ~2^-64 per shingle pair — counting df
        # pre-fingerprint would ship the wide shingle strings through the
        # exchange instead of 8-byte keys, the wrong trade at 100 TB.
        # ONE shh-keyed exchange: count-over-window (no orderBy — unbounded
        # frame, no sort) then filter. The groupBy-count + semi-join-back
        # alternative re-exchanges the full corpus-sized shingle table for
        # the join on top of the (partial-agg-reduced) df exchange — at
        # sf0.1 the two are a wall-clock wash (0.52 vs 0.49 s warm, cap
        # dormant; SCALE.md round 13) but the window form ships the table
        # once, which is what matters at 100 TB. Per-key row counts are
        # the hot shingle's df — linear within its one partition, the
        # same bound a groupBy would have.
        sh = (
            sh.withColumn(
                "_df", F.count(F.lit(1)).over(W.partitionBy("shh"))
            )
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    sh = sh.localCheckpoint(eager=False)  # sizes agg + both pair-join sides
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        sh.join(
            sh.select(F.col("doc_id").alias("container_id"), "shh"), "shh"
        )
        .filter(F.col("doc_id") != F.col("container_id"))
        .groupBy("doc_id", "container_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    cont = F.col("shared").cast("double") / F.col("n_sh")
    hits = (
        pairs.join(sz, "doc_id")
        .select("doc_id", "container_id", cont.alias("containment"))
        .filter(F.col("containment") >= tau)
    )
    w = W.partitionBy("doc_id")
    return (
        hits.withColumn(
            "rnk",
            F.row_number().over(
                w.orderBy(F.col("containment").desc(), F.col("container_id"))
            ),
        )
        .withColumn("n_containers", F.count(F.lit(1)).over(w))
        .filter(F.col("rnk") == 1)
        .select("doc_id", "container_id", "containment", "n_containers")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Near-dup: MinHash + LSH banding (the 100 TB path)
# ---------------------------------------------------------------------------


def _minhash_params() -> list[tuple[int, int]]:
    """Deterministic affine permutation params (a, b) for h_i(x)=(a·x+b) mod p."""
    import numpy as np

    rng = np.random.default_rng(7)
    return [
        (int(rng.integers(1, MINHASH_PRIME)), int(rng.integers(0, MINHASH_PRIME)))
        for _ in range(MINHASH_PERMS)
    ]


def minhash_signature(tokens_col: Column) -> Column:
    """MinHash signature ARRAY<BIGINT> of length MINHASH_PERMS, built from
    xxhash64 token hashes with affine permutations — one SQL expression, no
    UDF, no shuffle (signature computed map-side per document).

    Single pass over the token array: an ``aggregate`` with a 32-slot
    running-min accumulator, ``zip_with``-updated per token. The per-
    permutation ``array_min(transform(...))`` form traverses the token array
    32 times and allocates 32 intermediate arrays per document — measured
    1.8× slower at sf0.1 for identical output. An empty token array yields
    the init sentinel [PRIME]*32 (vs NULLs before); the LSH pipeline
    excludes empty-token docs before banding anyway (hot-bucket/0-division,
    see minhash_lsh_pairs), so the sentinel only matters to direct callers."""
    base = F.transform(tokens_col, lambda tok: F.abs(F.xxhash64(tok)) % MINHASH_PRIME)
    return minhash_signature_from_hashes(base)


def minhash_signature_from_hashes(hashes_col: Column) -> Column:
    """MinHash signature from an already-hashed ARRAY<BIGINT> token column
    (values in [0, MINHASH_PRIME)) — lets the portable variant reuse its
    polynomial token hashes for both the signature and the verify arrays.

    The 32-permutation constant array and the init array are built as ONE
    parsed SQL expression each (round 6): the per-struct ``F.struct(F.lit(a),
    F.lit(b))`` form issued ~100 py4j round-trips per call, ~0.4 s of pure
    driver-side plan construction on every fresh invocation — 30% of the
    whole LSH query's wall time at sf0.1. Values are bit-identical (BIGINT
    affine arithmetic either way; the a/b constants all fit int32, and the
    multiply promotes to BIGINT in both forms)."""
    params = _minhash_params()
    ab = F.expr(
        "array(" + ", ".join(f"named_struct('a', {a}L, 'b', {b}L)" for a, b in params) + ")"
    )
    init = F.expr(f"array_repeat(CAST({MINHASH_PRIME} AS BIGINT), {MINHASH_PERMS})")
    return F.aggregate(
        hashes_col, init,
        lambda acc, h: F.zip_with(acc, ab, lambda m, p: F.least(m, (h * p["a"] + p["b"]) % MINHASH_PRIME)),
    )


@query(
    "q_dedup_minhash",
    oracle=None,  # xxhash64 is Spark-specific; accuracy vs exact Jaccard is
    # asserted both inside the query output (est_err) and in pytest.
    category="dedup",
    description="MinHash(32 perms) Jaccard estimation, self-evaluating: per sampled pair, the signature-agreement estimate vs exact token-set Jaccard.",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % (PAIR_STRIDE * 4) == 0)
        .select("doc_id", distinct_tokens().alias("toks"))
        # empty docs out before pairing: exact Jaccard is 0/0 there (ANSI
        # throws) and they carry no token signal to estimate
        .filter(F.size("toks") > 0)
        .select("doc_id", "toks", minhash_signature(F.col("toks")).alias("sig"))
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"), F.col("sig").alias("sig_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq)
    ).cast("double") / MINHASH_PERMS
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    exact = inter.cast("double") / (F.size("toks_a") + F.size("toks_b") - inter)
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            est.alias("jaccard_est"),
            exact.alias("jaccard_exact"),
            F.abs(est - exact).alias("est_err"),
        )
    )


@query(
    "q_dedup_minhash_lsh",
    oracle=None,  # candidate-generation recall is data-dependent; pytest
    # checks it against the brute-force pairs at the same threshold.
    category="dedup",
    description="MinHash-LSH near-dup detection at scale: band signatures (8 bands x 4 rows), equi-join on (band, slot-values) to generate candidates, verify with exact Jaccard.",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same strided universe as the brute-force baseline: keeps the pytest
    # recall comparison apples-to-apples, and bounds in-bucket blowup on this
    # intentionally self-similar fixture corpus (tiny shared vocabulary →
    # huge buckets if run unsampled)
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % PAIR_STRIDE == 0)
    return minhash_lsh_pairs(docs)


def minhash_lsh_pairs(docs: DataFrame, portable: bool = False) -> DataFrame:
    """Library form over any ``(doc_id, text)`` corpus — the adversarial-fixture
    test runs this UNSAMPLED on a heavy-tailed Zipf corpus (VERDICT r2 item 6).

    ``portable=True`` swaps xxhash64 for the engine-portable polynomial token
    hash (the SimHash one), and reuses those hashes for both the signature
    AND the exact-Jaccard verify arrays — every stage then has a DuckDB twin,
    so the whole banded pipeline is oracle-checkable (q_dedup_minhash_lsh_
    portable). xxhash64 (JVM-native, whole-word) stays the default scale
    path; the polynomial hash is a per-character aggregate."""
    rows_per_band = MINHASH_PERMS // MINHASH_BANDS
    # fan_out (round 17): the 64-permutation signature fold + tokenize run
    # in the corpus scan stage — one task on the single-row-group fixture
    # scan. Per-row folds, integer downstream: partition-independent.
    docs = fan_out(docs)
    # token arrays hashed to int64 once per doc: the exact-Jaccard verify
    # then intersects INT arrays (cheap equality) instead of strings; a
    # cross-token hash collision (~n²/2^64) is the only way results could
    # differ from string-set Jaccard
    # SQL-text expression build (round 6): fn() is re-invoked fresh on every
    # bench pass and driver run, and the Column-API form of these wide
    # expressions cost ~0.45 s of py4j round-trips per call (measured — the
    # executors never saw any of it). One parse produces the identical tree.
    if portable:
        hashed = docs.select(
            "doc_id",
            F.expr(f"array_distinct(transform({_TOKS_SQL}, tok -> {_POLY_SQL}))").alias("toks"),
        )
        d = hashed.select("doc_id", "toks", minhash_signature_from_hashes(F.col("toks")).alias("sig"))
    else:
        d = docs.select("doc_id", F.expr(_TOKS_SQL).alias("stoks")).select(
            "doc_id",
            F.expr("array_distinct(transform(stoks, tok -> xxhash64(tok)))").alias("toks"),
            minhash_signature(F.col("stoks")).alias("sig"),
        )
    # empty-token docs are excluded from near-dup entirely (round 6): they
    # all share the init-sentinel signature, so at corpus scale millions of
    # empty docs land in ONE band bucket — the classic LSH hot-bucket
    # quadratic blowup — and their exact-Jaccard verify is 0/0, which ANSI
    # Spark throws on where DuckDB's divide-by-zero NULL silently drops the
    # pair (found by the randomized property test). The oracle twin carries
    # the same len(hs) > 0 exclusion.
    d = d.filter(F.size("toks") > 0)
    d = (
        d
        # the signature table is consumed 4x (both sides of the band join,
        # both token re-joins) — materialize it once instead of recomputing
        # 32 permutations per use. cache() beats localCheckpoint here
        # (~10% on the full pipeline, measured interleaved): same
        # one-materialization semantics, no checkpoint write job, and the
        # signature expression is deterministic so eviction-recompute is
        # safe (unlike with_global_rank's range boundaries, which keep the
        # checkpoint).
        .cache()
    )
    # band the signatures on bare ids — the token arrays do NOT ride through
    # the candidate join/dedup shuffle (pair generation shuffles ~20 bytes per
    # row, verification joins the arrays back only for surviving pairs)
    # slot identity per band. Throughput path: xxhash64 over (band index,
    # 4 sig rows) folds band+values into ONE 8-byte join key — the pair
    # shuffle then carries a bigint instead of a ~40-80-char concat string,
    # and a cross-band collision (~2^-64) at worst adds a candidate the
    # exact verify re-checks. Portable path: keep the exact concat slot,
    # because the oracle twin re-derives band matches bit-for-bit and must
    # not disagree even with probability 2^-64. (Built as one parsed SQL
    # expression — int literals coerce exactly like F.lit(i) did, so the
    # concat strings and xxhash64 seeds/input types are unchanged.)
    def _slot_sql(i: int) -> str:
        rows = ", ".join(
            f"element_at(sig, {i * rows_per_band + j + 1})" for j in range(rows_per_band)
        )
        return f"concat_ws(',', {i}, {rows})" if portable else f"xxhash64({i}, {rows})"

    slots = ", ".join(_slot_sql(i) for i in range(MINHASH_BANDS))
    banded = d.select(
        "doc_id", F.expr(f"explode(array({slots}))").alias("slot")
    ).select("doc_id", "slot")

    # candidate generation as a self-equi-join on the band slot (band index
    # folded into the slot value): the join STREAMS the B² in-bucket pairs
    # (a grouped explode-combinations variant was measured slower here — it
    # materializes each bucket's full pair array in memory before exploding,
    # which loses badly on the fixture's pathologically large buckets)
    a = banded.select(F.col("doc_id").alias("doc_a"), "slot")
    b = banded.select(F.col("doc_id").alias("doc_b"), "slot")
    # require ≥2 matching bands: at J≥0.9 recall stays ≈0.999
    # (P(band match)=0.9^4≈0.66, Binomial(8) tail), while mid-similarity
    # pairs — the bulk on this self-similar corpus — drop out before the
    # exact verify. The groupBy doubles as the pair dedup; one row per
    # matching band (slots embed the band index, so equal slots ⇔ same
    # band with equal rows).
    cands = (
        a.join(b, ["slot"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .filter(F.col("n_bands") >= 2)
        .select("doc_a", "doc_b")
    )
    toks = d.select("doc_id", "toks")
    pairs = cands.join(
        toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a")), "doc_a"
    ).join(toks.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b")), "doc_b")
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    exact = inter.cast("double") / (F.size("toks_a") + F.size("toks_b") - inter)
    # The threshold test as an EXACT integer inequality:
    #   inter/(sa+sb-inter) >= num/den  <=>  (den+num)*inter >= num*(sa+sb)
    # Catalyst folds the post-projection filter into the join condition, and
    # a `jaccard >= t` form would evaluate array_intersect twice there (no
    # cross-operator CSE); the integer form needs it once per candidate pair
    # — array_intersect is the dominant per-pair cost of the verify stage.
    from fractions import Fraction

    frac = Fraction(str(JACCARD_THRESHOLD))
    num, den = frac.numerator, frac.denominator
    keep = (den + num) * inter >= num * (F.size("toks_a") + F.size("toks_b"))
    return pairs.filter(keep).select("doc_a", "doc_b", exact.alias("jaccard"))


def _minhash_lsh_portable_oracle() -> str:
    """All-pairs DuckDB twin of the PORTABLE banded pipeline: identical
    polynomial token hashes, identical 32 affine permutations, identical
    >= 2-of-8-band candidate rule, identical exact-Jaccard threshold — so the
    bucketed Spark plan must agree bit-for-bit with a quadratic oracle."""
    from fractions import Fraction

    p = MINHASH_PRIME
    rpb = MINHASH_PERMS // MINHASH_BANDS
    sig_exprs = ",\n               ".join(
        f"list_min(list_transform(hs, h -> (h*{a} + {b}) % {p}))" for a, b in _minhash_params()
    )
    band_terms = " + ".join(
        "(CASE WHEN "
        + " AND ".join(f"a.sig[{i * rpb + j + 1}] = b.sig[{i * rpb + j + 1}]" for j in range(rpb))
        + " THEN 1 ELSE 0 END)"
        for i in range(MINHASH_BANDS)
    )
    frac = Fraction(str(JACCARD_THRESHOLD))
    num, den = frac.numerator, frac.denominator
    return f"""
    WITH d0 AS (
        SELECT doc_id,
               list_distinct(list_transform({_DUCK_TOKS}, tok -> {_DUCK_POLY})) AS hs
        FROM documents WHERE doc_id % {PAIR_STRIDE} = 0
    ),
    d AS (SELECT * FROM d0 WHERE len(hs) > 0),
    sigs AS (
        SELECT doc_id, hs,
               [{sig_exprs}] AS sig
        FROM d
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
             / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) AS jaccard
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE ({band_terms}) >= 2
      AND {den + num} * len(list_intersect(a.hs, b.hs)) >= {num} * (len(a.hs) + len(b.hs))
    """


@query(
    "q_dedup_minhash_lsh_portable",
    oracle=_minhash_lsh_portable_oracle(),
    category="dedup",
    description=(
        "The banded MinHash-LSH pipeline with FULLY ORACLE-CHECKABLE hashes: "
        "portable polynomial token hash feeds both the 32-permutation "
        "signature and the verify arrays, so signature math, >= 2-band "
        "candidate generation AND the exact-Jaccard verify are all "
        "hash-proved against an all-pairs DuckDB twin — the MinHash analogue "
        "of q_dedup_simhash_pairs' scale-correctness evidence. xxhash64 "
        "(q_dedup_minhash_lsh) remains the throughput path."
    ),
)
def q_dedup_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % PAIR_STRIDE == 0)
    return minhash_lsh_pairs(docs, portable=True)


@query(
    "q_dedup_minhash_gate",
    oracle="SELECT TRUE AS ok",
    category="dedup",
    description=(
        "Driver gate for MinHash estimation accuracy: mean |est - exact| "
        "Jaccard error over the sampled pairs must clear the 0.15 pytest "
        "floor (32 perms -> stderr ~0.09 at J=0.5). Converts the "
        "self-evaluating q_dedup_minhash into a driver-hashable row."
    ),
    tags=("calibrated",),
)
def q_dedup_minhash_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    est = q_dedup_minhash(spark, sf_dir)
    return est.agg(
        ((F.avg("est_err") < 0.15) & (F.count(F.lit(1)) > 0)).alias("ok")
    )


@query(
    "q_dedup_minhash_lsh_gate",
    oracle="SELECT TRUE AS ok",
    category="dedup",
    description=(
        "Driver gate for banded-LSH recall, measured on PAIR IDENTITY: "
        "recall = |brute pairs recovered by LSH (semi-join on doc_a, "
        "doc_b)| / |brute pairs|, floor 0.95 (theory: >= 2-of-8 bands at "
        "J>=0.9 recovers ~0.999). A raw count ratio would silently "
        "overstate recall if a cross-token-representation hash collision "
        "ever admitted an LSH pair absent from the brute set (ADVICE r4) — "
        "the join makes the gate immune to that subset-assumption drift. "
        "Converts the self-evaluating q_dedup_minhash_lsh into a "
        "driver-hashable row."
    ),
    tags=("calibrated",),
)
def q_dedup_minhash_lsh_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single pass over the exact-answer side: a LEFT join marks each exact
    # pair hit/missed, one aggregate counts both (a separate semi-join
    # + count would evaluate the exact Jaccard join twice — Spark does not
    # share common logical subplans across actions). Round 16: the exact
    # side is the PREFIX-FILTERED join, not the quadratic cross-join — the
    # gate measures recall against the exact pair SET, which the prefix
    # join produces row-identically (its own driver gate proves it) at
    # candidate-linear cost.
    lsh = (
        q_dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .dropDuplicates()  # keep the left join 1:1 (the semi-join it replaces was duplicate-immune)
        .withColumn("_hit", F.lit(1))
    )
    brute = q_dedup_jaccard_prefix(spark, sf_dir).select("doc_a", "doc_b")
    return (
        brute.join(lsh, ["doc_a", "doc_b"], "left")
        .agg(F.count(F.lit(1)).alias("n_brute"), F.count("_hit").alias("n_hit"))
        .select(
            (
                (F.col("n_brute") > 0)
                & (F.col("n_hit").cast("double") / F.col("n_brute") >= 0.95)
            ).alias("ok")
        )
    )


# ---------------------------------------------------------------------------
# SimHash (engine-portable polynomial hash → oracle-checkable)
# ---------------------------------------------------------------------------


# (_poly_hash / _DUCK_POLY are defined with the shared helpers at the top of
# the module — used by both this SimHash section and the portable MinHash.)


@query(
    "q_dedup_simhash",
    oracle=f"""
    WITH tok_hashes AS (
        SELECT doc_id,
               list_transform({_DUCK_TOKS},
                              tok -> {_DUCK_POLY}) AS hashes
        FROM documents
        WHERE doc_id % {PAIR_STRIDE} = 0
    )
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, {SIMHASH_BITS}),
               b -> CASE WHEN list_sum(list_transform(hashes,
                              h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
                         THEN 1 << b ELSE 0 END)) AS BIGINT) AS simhash,
           CAST(len(hashes) AS BIGINT) AS n_tokens
    FROM tok_hashes
    """,
    category="dedup",
    description="SimHash (16-bit, per-bit majority vote over portable polynomial token hashes) — Hamming-distance near-dup key, fully oracle-checked.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % PAIR_STRIDE == 0)
    return simhash_signatures(docs)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash BIGINT, n_tokens BIGINT) over any ``(doc_id, text)``
    corpus."""
    d = docs.select("doc_id", F.transform(distinct_tokens(), _poly_hash).alias("hashes"))
    # F.shiftright needs a literal shift amount; with the bit index coming
    # from transform() it's a Column, so shift via exact double powers of two
    # (h < 2^31 and b < 16 keep everything inside the 2^53 exact range).
    def bit_of(h, b):
        return F.floor(h / F.pow(F.lit(2.0), b)).cast("bigint") % 2

    bit_votes = F.transform(
        F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
        lambda b: F.when(
            F.aggregate(
                F.col("hashes"),
                F.lit(0),
                lambda acc, h: acc + F.when(bit_of(h, b) == 1, 1).otherwise(-1),
            )
            >= 0,
            F.pow(F.lit(2.0), b).cast("int"),
        ).otherwise(0),
    )
    # BIGINT on both engines: DuckDB list_sum/len widen to HUGEINT/BIGINT,
    # Spark's INT-accumulator aggregate stayed INT (round-1 driver hash-FAIL).
    # Empty-token docs sign as 0 on both engines (round 6): DuckDB's inner
    # list_sum over an empty vote list is NULL, so every CASE WHEN >= 0 is
    # false → simhash 0 — while Spark's 0-init aggregate made each empty
    # vote 0 >= 0 → all 16 bits set (65535). "No tokens → no evidence → no
    # bits" is the semantic both engines now share.
    packed = F.aggregate(bit_votes, F.lit(0).cast("bigint"), lambda acc, v: acc + v)
    return d.select(
        "doc_id",
        F.when(F.size("hashes") == 0, F.lit(0).cast("bigint")).otherwise(packed).alias("simhash"),
        F.size("hashes").cast("bigint").alias("n_tokens"),
    )


SIMHASH_PAIR_BANDS = 4  # 16 bits → 4 nibbles
HAMMING_MAX = 3  # pigeonhole: <= 3 flipped bits leave >= 1 of 4 bands intact


@query(
    "q_dedup_simhash_pairs",
    oracle=f"""
    WITH tok_hashes AS (
        SELECT doc_id,
               list_transform({_DUCK_TOKS},
                              tok -> {_DUCK_POLY}) AS hashes
        FROM documents
        WHERE doc_id % {PAIR_STRIDE} = 0
    ),
    sigs AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, {SIMHASH_BITS}),
                   b -> CASE WHEN list_sum(list_transform(hashes,
                                  h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
                             THEN 1 << b ELSE 0 END)) AS BIGINT) AS simhash
        FROM tok_hashes
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """,
    category="dedup",
    description=(
        "SimHash near-dup PAIRS via banded bucketing: the 16-bit signature "
        "splits into 4 nibble bands; candidates share >= 1 band (equi-join on "
        "(band, nibble) — never all-pairs), then exact Hamming verify. By "
        "pigeonhole the banding is EXACT for hamming <= 3, so the all-pairs "
        "DuckDB oracle must agree bit-for-bit."
    ),
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % PAIR_STRIDE == 0)
    return simhash_pairs(docs)


def simhash_pairs(docs: DataFrame, sigs: DataFrame | None = None) -> DataFrame:
    """Banded SimHash near-dup pairs over any ``(doc_id, text)`` corpus —
    exact for hamming <= HAMMING_MAX by pigeonhole.

    ``sigs`` lets a caller reuse precomputed ``(doc_id, simhash)`` signatures;
    by default they're computed once and lazily checkpointed — both sides of
    the band self-join read the materialized blocks instead of re-running the
    per-token polynomial-hash aggregation twice."""
    if sigs is None:
        sigs = simhash_signatures(docs).select("doc_id", "simhash").cache()
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", 4 * i).bitwiseAND(15).alias("nib"),
                    )
                    for i in range(SIMHASH_PAIR_BANDS)
                ]
            )
        ).alias("bn"),
    ).select("doc_id", "simhash", "bn.band", "bn.nib")
    a = banded.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "band", "nib")
    b = banded.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "band", "nib")
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["band", "nib"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(hamming <= HAMMING_MAX)
        # a pair can match in several bands — groupBy doubles as the dedup,
        # min() of a per-pair constant is just the cheapest carry-through
        .groupBy("doc_a", "doc_b")
        .agg(F.min(hamming).cast("bigint").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


@query(
    "q_dedup_embedding",
    oracle=f"""
    SELECT * FROM (
        SELECT a.vec_id,
               b.vec_id AS nearest_id,
               {duck_cosine_similarity('a.embedding', 'b.embedding')} AS sim,
               {duck_cosine_similarity('a.embedding', 'b.embedding')} >= 0.8 AS is_near_dup,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {duck_cosine_similarity('a.embedding', 'b.embedding')} DESC,
                                           b.vec_id) AS rn
        FROM {DUCK_VECTORS} a CROSS JOIN {DUCK_VECTORS} b
        WHERE a.vec_id % 10 = 0 AND a.vec_id <> b.vec_id
    ) WHERE rn = 1
    """,
    category="dedup",
    description=(
        "Embedding-cosine near-dup: per sampled vector, its nearest "
        "neighbor + near-dup verdict at sim ≥ 0.8. This is the documented "
        "SAMPLED ALL-PAIRS EXACT BASELINE — DEMOTED from the driver window "
        "in round 11 (VERDICT r10 item 1, after q_dedup_embedding_bucketed "
        "earned consecutive driver greens r8+r10): it lives on as the "
        "pytest-only exact differential twin of the bucketed path, "
        "replayed by the full oracle audit every run, and must not be "
        "re-seated (the window pin test enforces that no all-pairs plan "
        "ever re-enters the window). Its registered bucketed scale path "
        "at 100 TB is q_dedup_embedding_bucketed plus the ANN family over "
        "the same embeddings — q_sim_lsh_ann / q_sim_ivf_ann in "
        "operators/similarity.py (see SCALE.md, 'Dedup & similarity')."
    ),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import dot, norm

    e = load_vectors(spark, sf_dir)
    a = e.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("vec_id"), F.col("embedding").alias("va")
    ).withColumn("_na", norm("va"))
    b = e.select(F.col("vec_id").alias("nearest_id"), F.col("embedding").alias("vb")).withColumn(
        "_nb", norm("vb")
    )
    sim = F.try_divide(dot("va", "vb"), F.col("_na") * F.col("_nb"))
    w = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("nearest_id"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_id") != F.col("nearest_id"))
        .select("vec_id", "nearest_id", sim.alias("sim"))
        .withColumn("is_near_dup", F.col("sim") >= 0.8)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )


def _dedup_embedding_bucketed_oracle() -> str:
    from .similarity import lsh_anyband_oracle_parts

    cte, any_band, verify_sim = lsh_anyband_oracle_parts()
    return f"""
    {cte}
    SELECT vec_id, nearest_id, sim, sim >= 0.8 AS is_near_dup FROM (
        SELECT a.vec_id, b.vec_id AS nearest_id, {verify_sim} AS sim,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {verify_sim} DESC, b.vec_id) AS rn
        FROM s a JOIN s b ON a.vec_id <> b.vec_id
        WHERE {any_band}
    ) WHERE rn = 1
    """


@query(
    "q_dedup_embedding_bucketed",
    oracle=_dedup_embedding_bucketed_oracle(),
    category="dedup",
    description=(
        "Embedding near-dup, BUCKETED end-to-end (round 8, VERDICT r7 item "
        "4): hyperplane-LSH any-band candidate generation → exact-cosine "
        "verify on surviving pairs only → nearest candidate per vector + "
        "near-dup verdict at sim ≥ 0.8. This is the 100 TB shape of "
        "q_dedup_embedding (whose all-pairs crossJoin is the labeled exact "
        "baseline), and — unlike the self-evaluating recall queries — it is "
        "HASH-PROVED: the DuckDB twin replays the same seeded plane "
        "literals, any-band rule, verify cosine, and argmin, so the entire "
        "pipeline (bucketing math included) must agree bit-for-bit. Scale "
        "shape: the band join carries bare ids, embeddings re-join only for "
        "surviving candidates, the argmin window partitions by vec_id."
    ),
)
def q_dedup_embedding_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity
    from .similarity import CAND_STRIDE, lsh_band_signatures

    e0 = (
        load_vectors(spark, sf_dir)
        .filter(F.col("vec_id") % CAND_STRIDE == 0)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=False)
    )
    sigs = e0.select(
        "vec_id", F.explode(lsh_band_signatures("embedding")).alias("bs")
    ).select("vec_id", "bs.band", "bs.sig")
    # DIRECTED pairs (a, b) with a <> b: every vector is a query point, so
    # the nearest-candidate argmin below is defined for each — unlike the
    # portable-candidates query's undirected a < b canonical pairs
    a = sigs.select(F.col("vec_id").alias("vec_id"), "band", "sig")
    b = sigs.select(F.col("vec_id").alias("nearest_id"), "band", "sig")
    cand = (
        a.join(b, ["band", "sig"])
        .filter(F.col("vec_id") != F.col("nearest_id"))
        .select("vec_id", "nearest_id")
        .dropDuplicates()
    )
    verified = (
        cand.join(e0.select(F.col("vec_id"), F.col("embedding").alias("va")), "vec_id")
        .join(e0.select(F.col("vec_id").alias("nearest_id"), F.col("embedding").alias("vb")), "nearest_id")
        .select("vec_id", "nearest_id", cosine_similarity("va", "vb").alias("sim"))
    )
    w = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("nearest_id"))
    return (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "nearest_id", "sim", (F.col("sim") >= 0.8).alias("is_near_dup"))
    )


# ---------------------------------------------------------------------------
# Duplicate clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Min-label propagation to a fixpoint: every node ends up labeled with
    the smallest id reachable from it — the duplicate-cluster id.

    The loop is a driver-side iteration over distributed joins (the standard
    Spark shape for iterative graph algorithms when GraphFrames isn't on the
    classpath). Each iteration does BOTH a neighbor-min step and a
    pointer-jumping shortcut (label := min(label, label-of-label), the
    hash-to-min move), so the frontier distance covered per round roughly
    doubles and iterations ≈ log(diameter) — FIXED round 12: the original
    loop propagated one hop per round, so ``max_iter=25`` silently
    mislabeled any component with diameter > 25 (a 61-node chain came back
    as 36 fragments; found by the randomized union-find differential, now a
    committed regression test).

    REWRITTEN round 16 (the full-registry sweep's top untracked outlier):
    the old loop used ``cache()`` + a lazy ``localCheckpoint`` every 4th
    iteration and a convergence count every 2nd — but a cache is only
    materialized when an ACTION touches it, and the skipped-check
    iterations never ran one, so each convergence count re-planned a
    multi-iteration join tree over unmaterialized cached subplans (AQE
    re-optimizing every one). Measured at sf0.1 (488 nodes, 43k pairs —
    trivial data): 87 s, with single iterations costing 17-64 s of pure
    driver-side planning. The pagerank discipline fixes it: a
    ``localCheckpoint`` every iteration truncates lineage AND AQE state to
    a materialized leaf — same four iterations, 3.4 s total (25x). Round
    17 tightened the iteration to one job: the checkpoint is LAZY and the
    convergence count is the action that materializes it (the round-16
    loop paid an eager-checkpoint job AND a count job), and the pointer
    jump runs FIRST, against the materialized previous labels, so its
    self-join scans checkpoint blocks instead of duplicating the
    neighbor-min aggregation under both join branches. At scale the
    per-iteration materialization is one node-count-sized table write
    (the iterative-algorithm standard), and checking every iteration is
    cheaper than skipping: the count rides the materialization and buys
    the earliest possible exit.
    Returns ``(node, component)``."""
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct().withColumn("component", F.col("node"))
    ).localCheckpoint()
    # Static edge table WITH SELF-LOOPS (round 16): a self-loop row per node
    # folds the node's OWN previous label into the neighbor-min aggregation,
    # so the per-iteration shape is ONE join + one groupBy instead of
    # join + groupBy + a second labels left-join. The self rows are flagged
    # so the same aggregation also emits the pre-iteration label (`old`)
    # for the fused convergence probe — max(when(is_self, old)) is exactly
    # the node's own label, since every node has exactly one self row.
    edges_self = (
        edges.select("src", "dst", F.lit(False).alias("is_self"))
        .union(
            labels.select(
                F.col("node").alias("src"),
                F.col("node").alias("dst"),
                F.lit(True).alias("is_self"),
            )
        )
        .localCheckpoint()
    )
    for _it in range(max_iter):
        # JUMP-FIRST iteration order (round 17, guide §7.2/§2): the round-16
        # loop ran neighbor-min first and pointer-jumped on its OWN output —
        # a self-join on an unmaterialized aggregate, so the join+groupBy
        # subtree sat under both join branches, and the eager checkpoint +
        # a separate convergence count made ~2 full jobs per iteration on
        # top of it. Jumping FIRST runs the label := min(label,
        # label-of-label) self-join against the MATERIALIZED labels table
        # (a checkpointed LogicalRDD — both branches scan blocks, nothing
        # recomputes), and the neighbor-min step then consumes the jumped
        # table once. Fixpoint and exit are unchanged: both operators only
        # ever lower labels, and exiting on new == old forces (squeeze:
        # new <= jumped <= old = new) jump AND step to be identities, i.e.
        # the same fixpoint the step-first loop returns — every node keeps
        # the min id reachable from it. The 61-node-chain and randomized
        # union-find differentials cover the reordering.
        par = labels.select(
            F.col("node").alias("_pnode"), F.col("component").alias("_pcomp")
        )
        jumped = labels.join(par, labels.component == par._pnode, "left").select(
            "node",
            F.col("component").alias("old"),
            F.least(
                F.col("component"), F.coalesce("_pcomp", F.col("component"))
            ).alias("component"),
        )
        # neighbor-min INCLUDING self (the least(own, nbr_min) fold) + the
        # pre-iteration label for the convergence probe, in one aggregation;
        # self-loops guarantee every node keeps a row even with no in-edges
        new_labels = (
            edges_self.join(jumped, edges_self.src == jumped.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.min("component").alias("component"),
                F.max(F.when(F.col("is_self"), F.col("old"))).alias("old"),
            )
            # LAZY checkpoint: the convergence count below is the action
            # that materializes it, so lineage/AQE truncation rides the
            # count — ONE job per iteration where the round-16 loop paid
            # an eager-checkpoint job AND a count job.
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("component") != F.col("old")).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            break
    return labels


@query(
    "q_dedup_components",
    # The distributed side is an iterative fixpoint (min-label propagation),
    # but the RESULT is still SQL-expressible: a recursive-CTE transitive
    # closure labels every node with the minimum reachable id — the same
    # component definition — so the driver hash-checks the whole pipeline
    # (pair generation -> propagation -> group rollup). The closure is
    # quadratic per component (oracle-only; fine at driver scale); the Spark
    # path stays log(diameter) joins.
    oracle=f"""
    WITH RECURSIVE d AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks
        FROM documents WHERE doc_id % {PAIR_STRIDE} = 0
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    walk(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
    ),
    comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node)
    SELECT component, COUNT(*) AS n_members,
           string_agg(CAST(node AS VARCHAR), ' ' ORDER BY node) AS members
    FROM comp GROUP BY component
    """,
    category="dedup",
    description="Duplicate clustering: connected components (min-label propagation) over the J≥0.9 near-dup pairs — turns pairwise matches into dedup groups, keeping one representative per group. Oracled via a DuckDB recursive-CTE transitive closure (min reachable id == component).",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pair source swapped to the PREFIX-FILTERED join (round 16, the sweep's
    # top untracked outlier at 21 s idle/sf0.1): jaccard_prefix_pairs is
    # row-identical to the quadratic baseline by the prefix-filter theorem
    # (its own driver gate proves it against this very cross-join oracle),
    # so the CC result — and this query's oracle — are unchanged while the
    # O(n^2) pair stage drops to the candidate-linear scale path.
    pairs = q_dedup_jaccard_prefix(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.array_join(F.sort_array(F.collect_list("node")), " ").alias("members"),
        )
    )


@query(
    "q_dedup_keep_canonical",
    # Extends the components transitive closure with the keep/drop decision:
    # per duplicate cluster, the canonical survivor is the LONGEST document
    # (ties -> lowest doc_id), everything else is dropped. The argmax is
    # MAX over (length, -doc_id) structs — portable, no arg_max/max_by
    # engine differences.
    oracle=f"""
    WITH RECURSIVE d AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks
        FROM documents WHERE doc_id % {PAIR_STRIDE} = 0
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    walk(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
    ),
    comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node),
    best AS (
        SELECT c.component,
               MAX({{'l': CAST(length(doc.text) AS BIGINT), 'n': -c.node}}) AS b,
               COUNT(*) AS n_members,
               list_sort(list(c.node)) AS members
        FROM comp c JOIN documents doc ON doc.doc_id = c.node
        GROUP BY c.component
    )
    SELECT component,
           -(b).n AS keeper_doc,
           (b).l AS keeper_len,
           n_members,
           n_members - 1 AS n_dropped,
           array_to_string(list_filter(members, x -> x <> -(b).n), ' ') AS dropped
    FROM best
    """,
    category="dedup",
    description=(
        "Canonical-document selection — the keep/drop decision a dedup "
        "pipeline ends with: near-dup pairs -> connected components -> per "
        "cluster keep the LONGEST document (ties -> lowest doc_id), list "
        "the rest as drops. The argmax is a MAX over (length, -doc_id) "
        "structs (portable; no arg_max semantics differences), so the "
        "whole pairs->clusters->survivors pipeline is driver-hash-proved. "
        "Scale: adds one broadcast-sized join (cluster members -> doc "
        "lengths) and a partial-agg groupBy on top of the component labels; "
        "document text never rides any shuffle."
    ),
)
def q_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 16: prefix-join pair source (row-identical, candidate-linear) —
    # see q_dedup_components
    pairs = q_dedup_jaccard_prefix(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.length("text").cast("bigint").alias("tlen")
    )
    j = comp.join(docs, comp["node"] == docs["doc_id"])
    best = j.groupBy("component").agg(
        F.max(F.struct(F.col("tlen").alias("l"), (-F.col("node")).alias("n"))).alias("b"),
        F.count(F.lit(1)).alias("n_members"),
        F.sort_array(F.collect_list("node")).alias("members"),
    )
    keeper = -F.col("b.n")
    return best.select(
        "component",
        keeper.alias("keeper_doc"),
        F.col("b.l").alias("keeper_len"),
        "n_members",
        (F.col("n_members") - 1).alias("n_dropped"),
        F.array_join(F.filter("members", lambda x: x != keeper), " ").alias("dropped"),
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup at window granularity (Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better" — the suffix-array exact-match
# pass, re-expressed as rolling-window fingerprints so it distributes)
# ---------------------------------------------------------------------------

SUBSTR_WINDOW = 10  # tokens per rolling window


@query(
    "q_dedup_substring",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
        FROM documents
    ),
    w AS (
        SELECT doc_id,
               md5(array_to_string(toks[i:i+{SUBSTR_WINDOW}-1], ' ')) AS win_hash
        FROM d, UNNEST(range(1, len(toks) - {SUBSTR_WINDOW} + 2)) AS u(i)
        WHERE len(toks) >= {SUBSTR_WINDOW}
    )
    SELECT win_hash,
           COUNT(*) AS n_occ,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS keeper_doc
    FROM w GROUP BY win_hash HAVING COUNT(DISTINCT doc_id) > 1
    """,
    category="dedup",
    description=(
        "Exact-substring dedup, window granularity: every rolling "
        "10-token window is MD5-fingerprinted and windows appearing in more "
        "than one document are flagged with occurrence/document counts and "
        "the canonical keeper (min doc_id) — the distributed re-expression "
        "of suffix-array exact-match dedup. Scale shape: only the 16-byte "
        "fingerprint and doc_id ride the shuffle (never window text), and "
        "the group-by gets map-side partial aggregation; the removal step is "
        "then an anti-join of flagged spans back to documents."
    ),
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = SUBSTR_WINDOW
    toks = F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda x: x != "")
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= w)
    )
    wins = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (w - 1)),
        lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, w))),
    )
    return (
        d.select("doc_id", F.explode(wins).alias("win_hash"))
        .groupBy("win_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# Incremental near-dup (round 8): dedup a NEW batch against the EXISTING
# corpus without re-pairing the corpus against itself — the shape a
# continuously-growing 100 TB corpus actually runs. old x old pairs are
# never generated: the band join keys the (small) new batch's bands against
# everything, so the pair shuffle is |new| x bucket-width, not |corpus|².
# At scale the old side's band table is the PRECOMPUTED index a production
# pipeline stores between batches; here it derives from the same fixture.
# ---------------------------------------------------------------------------


def minhash_lsh_pairs_incremental(
    docs_old: DataFrame, docs_new: DataFrame
) -> DataFrame:
    """Near-dup pairs involving at least one NEW doc: old x new plus
    new x new (batch-internal), never old x old. Portable polynomial
    hashes + exact concat band slots so every stage has a DuckDB twin
    (the q_dedup_minhash_lsh_portable discipline); same >= 2-of-8-band
    candidate rule and exact-Jaccard verify. The new side is unhinted —
    batch-sized in production, so AQE broadcasts its band table when it
    fits (a forced hint would pin a corpus-derived table, which the plan
    lint rightly rejects)."""
    rows_per_band = MINHASH_PERMS // MINHASH_BANDS

    def prep(docs: DataFrame, is_new: bool) -> DataFrame:
        hashed = docs.select(
            "doc_id",
            F.lit(is_new).alias("is_new"),
            F.expr(f"array_distinct(transform({_TOKS_SQL}, tok -> {_POLY_SQL}))").alias("toks"),
        )
        return (
            hashed.select(
                "doc_id", "is_new", "toks",
                minhash_signature_from_hashes(F.col("toks")).alias("sig"),
            )
            # empty-doc hot-bucket exclusion, same rationale as the full pipeline
            .filter(F.size("toks") > 0)
            .cache()
        )

    d_old, d_new = prep(docs_old, False), prep(docs_new, True)

    def slots(d: DataFrame) -> DataFrame:
        slot_exprs = ", ".join(
            "concat_ws(',', {i}, {rows})".format(
                i=i,
                rows=", ".join(
                    f"element_at(sig, {i * rows_per_band + j + 1})"
                    for j in range(rows_per_band)
                ),
            )
            for i in range(MINHASH_BANDS)
        )
        return d.select(
            "doc_id", "is_new", F.expr(f"explode(array({slot_exprs}))").alias("slot")
        )

    bands_all = slots(d_old).unionByName(slots(d_new))
    bands_new = slots(d_new).select(F.col("doc_id").alias("doc_b"), "slot")
    a = bands_all.select(F.col("doc_id").alias("doc_a"), F.col("is_new").alias("a_new"), "slot")
    # each qualifying pair counts each matching band exactly once: old x new
    # pairs exist only in (a=old, b=new) orientation; new x new pairs keep
    # the a < b orientation only
    cands = (
        a.join(bands_new, ["slot"])
        .filter((~F.col("a_new")) | (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .filter(F.col("n_bands") >= 2)
        .select("doc_a", "doc_b")
    )
    toks_all = d_old.unionByName(d_new).select("doc_id", "toks")
    pairs = cands.join(
        toks_all.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a")), "doc_a"
    ).join(
        toks_all.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b")), "doc_b"
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    exact = inter.cast("double") / (F.size("toks_a") + F.size("toks_b") - inter)
    from fractions import Fraction

    frac = Fraction(str(JACCARD_THRESHOLD))
    num, den = frac.numerator, frac.denominator
    keep = (den + num) * inter >= num * (F.size("toks_a") + F.size("toks_b"))
    return pairs.filter(keep).select("doc_a", "doc_b", exact.alias("jaccard"))


def _incremental_lsh_oracle() -> str:
    """All-pairs DuckDB twin: identical hashes/signatures/band rule/threshold,
    pair universe restricted to (old x new) ∪ (new x new, a < b)."""
    from fractions import Fraction

    p = MINHASH_PRIME
    rpb = MINHASH_PERMS // MINHASH_BANDS
    sig_exprs = ",\n               ".join(
        f"list_min(list_transform(hs, h -> (h*{a} + {b}) % {p}))" for a, b in _minhash_params()
    )
    band_terms = " + ".join(
        "(CASE WHEN "
        + " AND ".join(f"a.sig[{i * rpb + j + 1}] = b.sig[{i * rpb + j + 1}]" for j in range(rpb))
        + " THEN 1 ELSE 0 END)"
        for i in range(MINHASH_BANDS)
    )
    frac = Fraction(str(JACCARD_THRESHOLD))
    num, den = frac.numerator, frac.denominator
    return f"""
    WITH d0 AS (
        SELECT doc_id, (doc_id % 4 = 1) AS is_new,
               list_distinct(list_transform({_DUCK_TOKS}, tok -> {_DUCK_POLY})) AS hs
        FROM documents WHERE doc_id % {PAIR_STRIDE} = 0
    ),
    d AS (SELECT * FROM d0 WHERE len(hs) > 0),
    sigs AS (
        SELECT doc_id, is_new, hs,
               [{sig_exprs}] AS sig
        FROM d
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
             / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) AS jaccard
    FROM sigs a JOIN sigs b
      ON b.is_new AND ((NOT a.is_new) OR a.doc_id < b.doc_id)
    WHERE ({band_terms}) >= 2
      AND {den + num} * len(list_intersect(a.hs, b.hs)) >= {num} * (len(a.hs) + len(b.hs))
    """


@query(
    "q_dedup_incremental_lsh",
    oracle=_incremental_lsh_oracle(),
    category="dedup",
    description=(
        "Incremental MinHash-LSH near-dup: dedup a NEW document batch "
        "(doc_id % 4 = 1 of the sampled universe) against the EXISTING "
        "corpus without ever generating old x old pairs — the band join "
        "keys the batch's bands against the stored corpus index, so the "
        "pair shuffle scales with the batch, not the corpus². Portable "
        "hashes end-to-end: signature math, >= 2-of-8-band candidates and "
        "the exact-Jaccard verify are hash-proved against an all-pairs "
        "DuckDB twin over the same restricted pair universe."
    ),
)
def q_dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % PAIR_STRIDE == 0)
    return minhash_lsh_pairs_incremental(
        docs.filter(F.col("doc_id") % 4 != 1), docs.filter(F.col("doc_id") % 4 == 1)
    )


# ---------------------------------------------------------------------------
# Fuzzy vocabulary join: edit-distance <= 2 term pairs without all-pairs
# ---------------------------------------------------------------------------

#: ASCII-only vocabulary contract for the fuzzy join: Levenshtein over
#: multi-byte codepoints is an engine-semantics minefield (DuckDB and Spark
#: agree on ASCII; grapheme handling differs), and spelling-variant mining
#: targets exactly the plain-word vocabulary anyway. Mirrored in the oracle.
FUZZY_TERM_RE = "^[a-z0-9]+$"
FUZZY_MIN_LEN = 3
FUZZY_MAX_LEN = 24
FUZZY_MAX_DIST = 2

#: All strings reachable by deleting at most two characters, the term
#: itself included — SymSpell's symmetric-delete index. Two terms with
#: edit distance <= 2 ALWAYS share at least one such variant (deletions
#: cover substitutions and insertions when generated from BOTH sides), so
#: the variant equi-join is a complete candidate generator and the exact
#: levenshtein() runs only on candidates. One codegen'd expression:
#: i enumerates the first deleted position; j either a second deleted
#: position (j <= len) or len+1 meaning "no second deletion".
_DELETE_VARIANTS = """
array_union(
  array(term),
  flatten(transform(sequence(1, length(term)),
    i -> transform(sequence(i + 1, length(term) + 1),
      j -> concat(substring(term, 1, i - 1),
                  substring(term, i + 1, j - i - 1),
                  substring(term, j + 1, length(term)))))))
"""


def fuzzy_vocab_pairs(vocab: DataFrame, max_dist: int = FUZZY_MAX_DIST) -> DataFrame:
    """Term pairs (term_a < term_b) within ``max_dist`` edits, via the
    deletion-neighborhood blocking join. ``vocab`` needs a ``term`` column
    and should already be distinct; candidates scale with
    |vocab| x O(len²) variant rows — never |vocab|², the scale-killer the
    naive levenshtein cross-join pays (that cross-join IS the DuckDB
    oracle, which is the point: an independent formulation)."""
    variants = vocab.select("term", F.explode(F.expr(_DELETE_VARIANTS)).alias("v"))
    a = variants.select(F.col("term").alias("term_a"), "v")
    b = variants.select(F.col("term").alias("term_b"), "v")
    cand = (
        a.join(b, "v")
        .filter(F.col("term_a") < F.col("term_b"))
        .select("term_a", "term_b")
        .dropDuplicates()
    )
    return (
        cand.withColumn("dist", F.levenshtein("term_a", "term_b").cast("bigint"))
        .filter(F.col("dist") <= max_dist)
    )


_FUZZY_ORACLE = f"""
    WITH v AS (
        SELECT DISTINCT u.token AS term
        FROM documents d,
             UNNEST(list_transform(string_split_regex(lower(trim(d.text)), '\\s+'),
                                   x -> regexp_replace(x, '\\pP', '', 'g'))) AS u(token)
        WHERE u.token <> ''
          AND regexp_matches(u.token, '{FUZZY_TERM_RE}')
          AND length(u.token) BETWEEN {FUZZY_MIN_LEN} AND {FUZZY_MAX_LEN}
    )
    SELECT a.term AS term_a, b.term AS term_b,
           levenshtein(a.term, b.term) AS dist
    FROM v a JOIN v b ON a.term < b.term
    WHERE levenshtein(a.term, b.term) <= {FUZZY_MAX_DIST}
"""


@query(
    "q_dedup_fuzzy_vocab",
    oracle=_FUZZY_ORACLE,
    category="dedup",
    description=(
        "Fuzzy vocabulary self-join: every corpus term pair within "
        "Levenshtein distance 2 (spelling variants, OCR noise, typo "
        "mining — the lexical normalization step before token-level "
        "dedup). Spark side blocks with SymSpell's symmetric-delete "
        "neighborhood: each term explodes into its <= 2-deletion variants "
        "(one codegen'd transform/sequence expression, ~1+L+L(L-1)/2 rows "
        "per term), candidates come from a variant equi-join, and the "
        "exact levenshtein() verifies candidates only — vocab-linear, "
        "never the |vocab|² cross-join. The DuckDB oracle IS that naive "
        "cross-join, making it a genuinely independent formulation: the "
        "blocking theorem (ed <= 2 implies a shared <= 2-deletion "
        "variant) is what the hash equality proves. ASCII-only terms of "
        "length 3-24 on both sides (unicode edit distance is an "
        "engine-semantics trap; documented contract)."
    ),
)
def q_dedup_fuzzy_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import tokenize

    vocab = (
        tokenize(t(spark, sf_dir, "documents"))
        .select(F.col("token").alias("term"))
        .distinct()
        .filter(
            F.col("term").rlike(FUZZY_TERM_RE)
            & F.length("term").between(FUZZY_MIN_LEN, FUZZY_MAX_LEN)
        )
    )
    return fuzzy_vocab_pairs(vocab)


# ---------------------------------------------------------------------------
# Semantic dedup (round 11): SemDeDup-style cluster-then-prune — k-means
# buckets the corpus semantically, pairwise cosine runs ONLY within a
# cluster, and a row is pruned iff it has a smaller-id similar cluster-mate
# (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication" — the published recipe for pruning
# web-scale training corpora by embedding semantics rather than text
# overlap). Everything is deterministic (rank-based Lloyd seeds, struct-min
# assignment, greedy-by-id keep rule), so unlike the recall-gated ANN
# family this composition is fully HASH-PROVED: the DuckDB oracle unrolls
# the same Lloyd recurrence (the shared lloyd_cte_chain), the same final
# assignment, and the same within-cluster prune.
# ---------------------------------------------------------------------------

#: Cosine threshold for "semantic duplicate" within a cluster. Calibrated
#: to the synthetic near-isotropic fixture (measured: all-pairs cosine p99
#: ~0.29, max ~0.48-0.60 across SFs — the 0.8 the text-embedding queries
#: use would never fire here, leaving the dup branch untested): 0.35 sits
#: at ~p99.9, so a real-but-small duplicate set exists at every SF. With a
#: production text encoder (where true near-dups score ~0.95+) pass
#: tau=0.95 to semantic_dedup directly.
SEMDEDUP_TAU = 0.35

#: Hot-cluster guard (VERDICT r11 item 1): the pair stage's sub-bucket cap.
#: Without it the within-cluster self-join keys on center_id alone, so one
#: boilerplate-heavy cluster (the exact input semantic dedup exists for)
#: makes a single shuffle partition quadratic regardless of k. Clusters
#: larger than this are split into ceil(size/cap) deterministic id-salted
#: sub-buckets and pairs are generated only within a (center_id, salt)
#: bucket. The salt is an ID hash, NOT a geometric split: a hot cluster of
#: near-identical vectors sits on the same side of every hyperplane and in
#: the same sub-centroid cell, so any geometry-based split fails exactly
#: when the guard is needed — id-hash balance is geometry-independent.
#: Chosen so the guard is DORMANT at sf0.001/0.01 (clusters ~62: salt ≡ 0,
#: bit-identical to the unguarded semantics) and ACTIVE at sf0.1 (clusters
#: ~250 → 2 sub-buckets), where tests/test_oracle_audit_full.py replays
#: the mirrored DuckDB oracle, hash-proving the guard on real data.
SEMDEDUP_MAX_CLUSTER = 128
_SEMDEDUP_SALT_MULT = 2654435761  # Knuth's multiplicative constant (odd)
_SEMDEDUP_SALT_MOD = 2147483648  # 2^31: keeps (id % mod) * mult inside BIGINT
#: Take the hash's HIGH bits: the low bits of an odd multiplicative hash
#: mod 2^31 preserve id parity (salt would equal vec_id % 2 for s=2).
_SEMDEDUP_SALT_SHIFT = 15


def _semdedup_salt(n_sub: Column) -> Column:
    """Deterministic engine-portable sub-bucket id in [0, n_sub): the high
    16 bits of a Knuth multiplicative hash of vec_id, mod the cluster's
    sub-bucket count. Pure BIGINT arithmetic — DuckDB replays it as
    ``(((vec_id % 2^31) * 2654435761) % 2^31 >> 15) % n_sub`` bit-for-bit
    (parity probed in tests; contiguous id ranges split near-uniformly)."""
    h = (
        F.pmod(F.col("vec_id"), F.lit(_SEMDEDUP_SALT_MOD)) * F.lit(_SEMDEDUP_SALT_MULT)
    ) % F.lit(_SEMDEDUP_SALT_MOD)
    return F.pmod(F.shiftright(h, _SEMDEDUP_SALT_SHIFT), n_sub)


def _build_semdedup_assign(
    vs: DataFrame, k: int, centers: DataFrame | None
) -> DataFrame:
    """The SemDeDup assignment fold: nearest final Lloyd center per vector
    plus the row's hoisted norm, checkpointed once because every variant
    consumes it at least twice (both sides of the pair self-join)."""
    from ..functions.vector import norm
    from .vectors import _l2sq, lloyd_kmeans

    # pass precomputed centers to share the Lloyd materialization with
    # other consumers (the registered query reuses fixture_lloyd_centers,
    # the same K-row table q_vec_kmeans_lloyd emits)
    if centers is None:
        centers = lloyd_kmeans(vs, k)
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
    return (
        vs.crossJoin(F.broadcast(c_arr))
        .withColumn("_best", best)
        .select(
            "vec_id",
            "embedding",
            F.col("_best.center_id").alias("center_id"),
            # norm once per ROW, not per pair: the within-cluster join
            # evaluates |pairs| similarity expressions, and recomputing both
            # norms inside each was 3 higher-order folds per pair instead of
            # 1 (measured 11.5 s -> 5.5 s at sf0.1). Same bits as the
            # inline norm — deterministic fold over the same doubles — so
            # the oracle, which spells norms inline, still hash-matches.
            norm("embedding").alias("nrm"),
        )
        # consumed by both sides of the within-cluster self-join, the
        # sub-bucket sizing agg, and the output projection — one corpus
        # scan + one assignment fold, not four
        .localCheckpoint(eager=False)
    )


#: The FIXTURE SemDeDup assignment, shared per (session, sf_dir):
#: q_dedup_semantic and q_dedup_semantic_keepfar run the identical
#: assignment fold over the identical fixture corpus and centers, so the
#: checkpointed (vec_id, embedding, center_id, nrm) table materializes once
#: per session, like vectors._LLOYD_MEMO one level up. The generic
#: semantic_dedup API stays memo-free (callers own their inputs).
_SEMDEDUP_ASSIGN_MEMO = SessionMemo()


def _fixture_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectors import N_CENTERS, fixture_lloyd_centers

    return _build_semdedup_assign(
        load_vectors(spark, sf_dir), N_CENTERS, fixture_lloyd_centers(spark, sf_dir)
    )


def fixture_semdedup_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered SemDeDup queries' shared assignment table: memoized
    checkpoint if a variant already built it this session, else computed
    from the fixture corpus and the shared Lloyd centers and published."""
    return _SEMDEDUP_ASSIGN_MEMO.get_or_build(spark, sf_dir, _fixture_assign)


def semantic_dedup(
    vs: DataFrame,
    k: int,
    tau: float = SEMDEDUP_TAU,
    centers: DataFrame | None = None,
    keep: str = "min_id",
    max_cluster: int = SEMDEDUP_MAX_CLUSTER,
    assign: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup over (vec_id, embedding) rows: cluster with
    :func:`~.vectors.lloyd_kmeans` (k centers, fixed iterations), assign
    each vector to its final nearest center, then within each cluster mark
    ``is_dup`` for any vector that has a higher-priority cluster-mate with
    cosine >= ``tau`` (``dup_of`` = the highest-priority such mate). The
    kept set (``is_dup = false``) is an independent set of the visible
    within-cluster similarity graph — NOT necessarily maximal: a row
    survives iff no higher-priority similar mate exists, even when that
    mate was itself pruned, so in a transitive chain (w~u, u~v, w!~v) w is
    pruned although {v, w} is independent. ``dup_of`` is likewise a
    pruning witness, not necessarily the group's surviving representative.

    ``keep`` picks the greedy priority order: ``"min_id"`` (default) keeps
    smallest ids; ``"centroid_far"`` is the published SemDeDup rule — keep
    the example FARTHEST from its cluster centroid within each duplicate
    set (Abbas et al. 2023 §2: the far example is the least redundant with
    the cluster's bulk). Implemented as a per-bucket row_number over
    (centroid squared-L2 DESC, vec_id), then the same greedy prune on that
    rank — deterministic, since the distance is the bit-stable fold and
    ties fall to ids.

    Scale shape: the candidate pair space is BUCKET-bounded. The pair
    self-join keys on (center_id, salt) where salt sub-splits any cluster
    larger than ``max_cluster`` into ceil(size/max_cluster) deterministic
    id-hash sub-buckets (see SEMDEDUP_MAX_CLUSTER — a geometric split
    cannot bound a cluster of near-identical vectors), so no shuffle
    partition is ever quadratic in a skewed cluster: expected pair work is
    <= n * max_cluster even when 90% of the corpus lands in one cluster.
    Clusters at or under the cap get salt 0 everywhere — bit-identical to
    unguarded SemDeDup. Recall contract for an OVERSIZED cluster: a dup
    pair is visible iff both rows share a sub-bucket (~1/s for an isolated
    pair), but a duplicate GROUP of size g collapses to at most s
    survivors (hash balance spreads the group over every bucket), so
    residual duplication after the prune is bounded by s/g — the same
    quantization-miss class SemDeDup already accepts at cluster
    boundaries, extended one level down. The cluster-size agg is a k-row
    partial-agg broadcast; the assignment stays a map-only broadcast fold;
    in centroid_far mode the rank window partitions by (center_id, salt),
    so the priority sort is bucket-bounded too, not a hot-key straggler.
    Output is all-integer/boolean (ids + verdicts, no float columns), so
    the hash gate is grid-free.
    """
    from ..functions.vector import dot
    from .vectors import _l2sq, lloyd_kmeans

    if assign is None:
        if centers is None:
            centers = lloyd_kmeans(vs, k)
        assign = _build_semdedup_assign(vs, k, centers)
    # hot-cluster guard: per-cluster sub-bucket count (k-row broadcast),
    # ceil(size / max_cluster) in pure integer arithmetic both engines
    # compute identically
    n_sub = assign.groupBy("center_id").agg(
        F.expr(f"(count(*) + {max_cluster - 1}) div {max_cluster}").alias("_nsub")
    )
    sized = (
        assign.join(F.broadcast(n_sub), "center_id")
        .withColumn("salt", _semdedup_salt(F.col("_nsub")))
        .select("vec_id", "embedding", "center_id", "nrm", "salt")
    )
    if keep == "min_id":
        # priority IS the id: derive both join sides straight off the
        # checkpointed assignment (the size agg + broadcast join re-run
        # per side, but they are map-side work over the checkpoint)
        pri = sized.withColumn("pri", F.col("vec_id"))
    elif keep == "centroid_far":
        if centers is None:
            raise ValueError("keep='centroid_far' requires centers when assign is precomputed")
        cw = centers.select("center_id", F.col("c").alias("_c"))
        w = W.partitionBy("center_id", "salt").orderBy(F.col("dc").desc(), "vec_id")
        pri = (
            sized.join(F.broadcast(cw), "center_id")
            .withColumn("dc", _l2sq("embedding", F.col("_c")))
            .withColumn("pri", F.row_number().over(w))
            .select("vec_id", "embedding", "center_id", "nrm", "salt", "pri")
            # consumed twice (each side of the self-join), like assign
            .localCheckpoint(eager=False)
        )
    else:
        raise ValueError(f"keep must be 'min_id' or 'centroid_far', got {keep!r}")
    a, b = pri.alias("a"), pri.alias("b")
    sim = F.try_divide(
        dot(F.col("a.embedding"), F.col("b.embedding")),
        F.col("a.nrm") * F.col("b.nrm"),
    )
    dup_of = (
        a.join(
            b,
            (F.col("a.center_id") == F.col("b.center_id"))
            # the guard: the shuffle keys on (center_id, salt), so a hot
            # cluster's pair space spreads over its s sub-buckets instead
            # of landing m^2 pairs on one partition
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("b.pri") < F.col("a.pri")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("u"),
            F.col("b.pri").alias("upri"),
            sim.alias("sim"),
        )
        .groupBy("vec_id")
        # the highest-priority SIMILAR mate (row_number makes upri unique
        # per bucket and comparisons never cross buckets; in min_id mode
        # upri == u, so this is MIN(u) over qualifying mates). The
        # threshold predicate lives INSIDE the aggregate's conditional —
        # not in a .filter() above it (round 16, guide §7.2): a filter
        # here was pushed into the self-join's condition, so the cosine
        # fold — the per-pair hot loop — ran up to three times per
        # in-bucket pair (>= check, the isnan re-check, and the project).
        # The conditional keeps ONE evaluation per pair and nothing to
        # push down; groups whose every mate fails the threshold
        # aggregate to a NULL struct, which the left join below already
        # maps to is_dup = false — row-identical output.
        # NaN rule unchanged and explicit: nanvl maps a NaN similarity to
        # NULL, so `NULL >= tau` is NULL and the WHEN drops it — a NaN
        # similarity is NOT a duplicate (Spark alone would order NaN
        # above every real and pass the >=).
        .agg(
            F.min(
                F.when(
                    F.nanvl(F.col("sim"), F.lit(None).cast("double")) >= tau,
                    F.struct("upri", "u"),
                )
            ).alias("_m")
        )
        .select("vec_id", F.col("_m.u").alias("dup_of"))
    )
    return (
        assign.select("vec_id", "center_id")
        .join(dup_of, "vec_id", "left")
        .select(
            "vec_id",
            "center_id",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )


def _semdedup_guard_ctes() -> str:
    """The hot-cluster guard's DuckDB mirror, shared by both SemDeDup
    oracles: per-cluster sub-bucket counts (integer ceil-div, exactly the
    Spark side's ``div`` expression) and the salted assignment — the same
    Knuth-hash high bits, the same BIGINT arithmetic, so the visible pair
    set matches the engine bit-for-bit at every skew."""
    salt = (
        f"((((s.vec_id % {_SEMDEDUP_SALT_MOD}) * {_SEMDEDUP_SALT_MULT})"
        f" % {_SEMDEDUP_SALT_MOD}) >> {_SEMDEDUP_SALT_SHIFT}) % z.n_sub"
    )
    return f"""
    szs AS (
        SELECT center_id,
               (COUNT(*) + {SEMDEDUP_MAX_CLUSTER - 1}) // {SEMDEDUP_MAX_CLUSTER} AS n_sub
        FROM assign GROUP BY center_id
    ),
    sal AS (
        SELECT s.*, {salt} AS salt
        FROM assign s JOIN szs z USING (center_id)
    )"""


def _semdedup_oracle() -> str:
    from ..functions.vector import duck_cosine_similarity
    from .vectors import LLOYD_ITERATIONS, N_CENTERS, duck_lloyd_l2, lloyd_cte_chain

    l2 = duck_lloyd_l2()
    cos = duck_cosine_similarity("a.embedding", "b.embedding")
    return f"""
    WITH {lloyd_cte_chain()},
    assign AS (
        SELECT vec_id, embedding, center_id FROM (
            SELECT e.vec_id, e.embedding, c.center_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {l2}, c.center_id) AS rn
            FROM v e CROSS JOIN c{LLOYD_ITERATIONS} c
        ) WHERE rn = 1
    ),
    {_semdedup_guard_ctes()},
    dup AS (
        SELECT a.vec_id, MIN(b.vec_id) AS dup_of
        FROM sal a JOIN sal b
          ON a.center_id = b.center_id AND a.salt = b.salt
         AND b.vec_id < a.vec_id
        WHERE {cos} >= {SEMDEDUP_TAU!r} AND NOT isnan({cos})
        GROUP BY a.vec_id
    )
    SELECT s.vec_id, s.center_id,
           d.dup_of IS NOT NULL AS is_dup, d.dup_of
    FROM assign s LEFT JOIN dup d ON s.vec_id = d.vec_id
    ORDER BY s.vec_id
    """


@query(
    "q_dedup_semantic",
    oracle=_semdedup_oracle(),
    category="dedup",
    description=(
        "SemDeDup-style semantic dedup (round 11): Lloyd k-means "
        "(the public lloyd_kmeans, rank-seeded, 3 iterations, k=8) buckets "
        "the embedding corpus, pairwise cosine runs ONLY within a cluster, "
        "and a row survives iff it has no smaller-id similar cluster-mate "
        "(greedy-by-id independent set; tau=0.35, ~p99.9 of the synthetic fixture's cosine "
        "distribution — calibrated so the dup branch actually fires; real "
        "encoders would use ~0.95). The composition is deterministic "
        "end-to-end, so "
        "the DuckDB oracle replays the entire pipeline — the shared "
        "unrolled Lloyd CTE chain, the same struct-min assignment "
        "tie-break, the same id-ordered prune, and (round 12) the same "
        "hot-cluster guard: clusters over SEMDEDUP_MAX_CLUSTER rows are "
        "sub-split by a portable Knuth id-hash so no shuffle partition is "
        "quadratic in a skewed cluster (dormant at sf0.001/0.01 where "
        "clusters are under the cap; ACTIVE at sf0.1, where the full "
        "oracle audit hash-proves the mirrored salt). Scale: pair space "
        "is bucket-bounded <= n * cap at ANY skew; no float column "
        "reaches the output."
    ),
    tags=("dedup", "iterative"),
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectors import N_CENTERS, fixture_lloyd_centers

    vs = load_vectors(spark, sf_dir)
    return semantic_dedup(
        vs,
        N_CENTERS,
        centers=fixture_lloyd_centers(spark, sf_dir),
        assign=fixture_semdedup_assign(spark, sf_dir),
    ).orderBy("vec_id")

def _semdedup_keepfar_oracle() -> str:
    from ..functions.vector import duck_cosine_similarity
    from .vectors import (
        EMBEDDING_DIM,
        LLOYD_ITERATIONS,
        duck_lloyd_l2,
        lloyd_cte_chain,
    )

    l2 = duck_lloyd_l2()
    d1 = EMBEDDING_DIM + 1
    # squared-L2 from row s to its ASSIGNED centroid c — same fold shape
    dcentroid = (
        f"list_sum(list_transform(range(1, {d1}), "
        "i -> (CAST(s.embedding[i] AS DOUBLE) - c.c[i])"
        " * (CAST(s.embedding[i] AS DOUBLE) - c.c[i])))"
    )
    cos = duck_cosine_similarity("a.embedding", "b.embedding")
    return f"""
    WITH {lloyd_cte_chain()},
    assign AS (
        SELECT vec_id, embedding, center_id FROM (
            SELECT e.vec_id, e.embedding, c.center_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {l2}, c.center_id) AS rn
            FROM v e CROSS JOIN c{LLOYD_ITERATIONS} c
        ) WHERE rn = 1
    ),
    {_semdedup_guard_ctes()},
    pri AS (
        SELECT s.vec_id, s.embedding, s.center_id, s.salt,
               ROW_NUMBER() OVER (PARTITION BY s.center_id, s.salt
                                  ORDER BY {dcentroid} DESC, s.vec_id) AS pri
        FROM sal s JOIN c{LLOYD_ITERATIONS} c USING (center_id)
    ),
    dup AS (
        SELECT a.vec_id, arg_min(b.vec_id, b.pri) AS dup_of
        FROM pri a JOIN pri b
          ON a.center_id = b.center_id AND a.salt = b.salt
         AND b.pri < a.pri
        WHERE {cos} >= {SEMDEDUP_TAU!r} AND NOT isnan({cos})
        GROUP BY a.vec_id
    )
    SELECT s.vec_id, s.center_id,
           d.dup_of IS NOT NULL AS is_dup, d.dup_of
    FROM assign s LEFT JOIN dup d ON s.vec_id = d.vec_id
    ORDER BY s.vec_id
    """


@query(
    "q_dedup_semantic_keepfar",
    oracle=_semdedup_keepfar_oracle(),
    category="dedup",
    description=(
        "SemDeDup with the PAPER's keep rule (Abbas et al. 2023 \u00a72: "
        "within each duplicate set keep the example farthest from the "
        "cluster centroid — the least redundant with the cluster's bulk), "
        "vs q_dedup_semantic's greedy-by-id variant: the priority order is "
        "a per-cluster row_number over (centroid squared-L2 DESC, vec_id) "
        "and the same cluster-bounded greedy prune runs on that rank. "
        "Deterministic because the centroid distance is the bit-stable "
        "sequential fold (identical doubles in both engines) and exact "
        "ties fall to ids; dup_of = arg_min over the unique rank. The "
        "DuckDB oracle unrolls Lloyd + assignment + rank + prune — plus "
        "(round 12) the same id-salted hot-cluster guard as "
        "q_dedup_semantic, with the rank window partitioned by (center, "
        "salt) so the priority sort is bucket-bounded too — so the hash "
        "proves the full composition including the priority order. Shares "
        "the checkpointed assignment fold with q_dedup_semantic via the "
        "session memo (VERDICT r11 item 4)."
    ),
    tags=("dedup", "iterative"),
)
def q_dedup_semantic_keepfar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectors import N_CENTERS, fixture_lloyd_centers

    vs = load_vectors(spark, sf_dir)
    return semantic_dedup(
        vs,
        N_CENTERS,
        centers=fixture_lloyd_centers(spark, sf_dir),
        keep="centroid_far",
        assign=fixture_semdedup_assign(spark, sf_dir),
    ).orderBy("vec_id")
