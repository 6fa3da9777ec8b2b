"""Text pipeline — reference parity (SURVEY A1-A10) + text analysis (B9).

The reference's Job 1 (ProcessData.java:650-664) is: per-file text scan →
tokenize (:390) → strip punctuation (:405) → stop-word filter against a
DistributedCache set (:408,416) → Porter stem (:407-412) → shuffle by term →
incidence vector per term (:454-472) → tab-separated text out (:659).

Spark-first re-expression (one lazy DAG, no HDFS round-trip between stages):

    read → explode(split) → regexp_replace → broadcast ANTI-join(stopwords)
         → groupBy(token) → pandas_udf(stem) over the vocab → groupBy(term)
         → densify (Job-1 export) | cluster_terms (Job 2)

Pipeline order (strip → stopword-filter → stem) preserves the reference's
semantics (SURVEY Q3); incidence is distinct-presence, not frequency
(SURVEY Q1 → ``collect_set``).

Scale notes: tokenization explodes rows ~100× — it runs entirely inside
whole-stage codegen before the corpus-sized exchange (groupBy token). Token
skew ("the"-like heads after stopword removal) is handled by Spark's partial
aggregation: per-partition collect_set shrinks the hot key before the
shuffle. The stemmer is the single Python stage and sees each distinct token
once; the merge by stemmed term is vocabulary-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.porter import stem_udf
from ..functions.text_stats import (
    DUCK_TOKENS,
    DUCK_WS_TOKENS,
    LANG_MARKERS,
    STOPWORDS,
    avg_token_len,
    fingerprint_md5,
    lang_scores,
    quality_score,
    stopword_count,
    strip_punct,
    token_count_bpe,
    ws_tokens,
)
from ..plans.registry import query
from ..session import barrier
from ..sources.readers import local_frame
from .relational import dsum_sql
from ._util import fan_out, one_group, t

_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# ---------------------------------------------------------------------------
# Library operators (reference parity; used by queries below and by tests)
# ---------------------------------------------------------------------------


def tokenize(docs: DataFrame, text_col: str = "text", doc_col: str = "doc_id") -> DataFrame:
    """Corpus → one row per (doc_id, token): lowercase, whitespace-split,
    punctuation-stripped, empties dropped (A4+A5).

    fan_out: the split + regexp punctuation strip — the text
    family's heaviest per-row stage — ran inside the single-row-group
    fixture scan's ONE task for every consumer (inverted index, tfidf,
    bm25, ref pipeline, …). Tokenization is per-row, so spreading the raw
    docs first cannot change any value; a no-op on real corpus scans.
    Callers pass raw scans (or tiny local test frames) by contract."""
    return (
        fan_out(docs).select(doc_col, F.explode(ws_tokens(text_col)).alias("token"))
        .withColumn("token", strip_punct(F.col("token")))
        .filter(F.col("token") != "")
    )


def remove_stopwords(tokens: DataFrame, spark: SparkSession, stopwords=STOPWORDS) -> DataFrame:
    """Broadcast anti-join — the Spark shape of the reference's map-side
    HashSet rejection (A6, ProcessData.java:408/416). For a list this small
    an ``isin`` filter would fold into codegen too; the anti-join form is the
    one that scales to million-word blocklists."""
    sw = local_frame(spark, [(w,) for w in stopwords], "token STRING")
    return tokens.join(F.broadcast(sw), "token", "left_anti")


def inverted_index(spark: SparkSession, docs: DataFrame, stem: bool = True, stopwords=STOPWORDS) -> DataFrame:
    """Full Job-1 parity: term → sorted distinct postings (A8+A9).

    Returns ``(term, postings ARRAY<INT/LONG>, df INT)``. Distinct-presence
    semantics via ``collect_set`` (SURVEY Q1). ``stopwords`` is the list the
    anti-join drops: the registered queries use the built-in one, ``refjob``
    the one from its stopwords file."""
    toks = remove_stopwords(tokenize(docs), spark, stopwords)
    if stem:
        # Stem AFTER the corpus-sized shuffle: aggregate postings by RAW
        # token first (the shuffle an inverted index needs anyway), run the
        # pandas_udf over the vocab-sized aggregate, then merge the postings
        # of raw tokens sharing a stem in a second, vocab-sized aggregation.
        # The corpus never crosses the Python/Arrow boundary: at a 100 TB
        # corpus stemming every token instance would ship ~1e12 tokens
        # through Python; this ships ~1e8 distinct ones.
        raw = toks.groupBy("token").agg(F.collect_set("doc_id").alias("p0"))
        return (
            raw.withColumn("term", stem_udf(F.col("token")))
            .groupBy("term")
            .agg(F.sort_array(F.array_distinct(F.flatten(F.collect_list("p0")))).alias("postings"))
            .withColumn("df", F.size("postings"))
        )
    toks = toks.withColumnRenamed("token", "term")
    # one collect_set buffer; df derives from it (a second agg expression
    # would maintain a duplicate set per group)
    return (
        toks.groupBy("term")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("postings"))
        .withColumn("df", F.size("postings"))
    )


def densify_incidence(index: DataFrame, n_docs: int, one_based: bool = True) -> DataFrame:
    """Postings → dense 0/1 incidence vector of length ``n_docs`` — the
    reference's reducer output (A9, ProcessData.java:454-472), as a first-class
    ARRAY<INT> instead of a string."""
    start = 1 if one_based else 0
    ids = F.sequence(F.lit(start), F.lit(start + n_docs - 1))
    return index.withColumn(
        "vec", F.transform(ids, lambda i: F.array_contains("postings", i).cast("int"))
    )


def cluster_terms(index: DataFrame, centers: DataFrame) -> DataFrame:
    """Job 2 (ProcessData.java:666-678): assign each ``(term, postings)`` of
    ``index`` to its nearest ``(center_id, postings)`` of the small
    ``centers`` frame by cosine; return ``(cluster_id, center_id, n_members,
    members)`` for the centers that won a term, numbered 1..k in
    ``center_id`` order (any orderable key), members sorted.

    SPARSE cosine: for 0/1 vectors a·b = |A∩B| and ‖a‖ = √|A|, so the
    distance is O(|postings|) on the sets; densifying would cost O(n_docs)
    per term. The argmin is the shared :func:`~.vectors.nearest_center`
    kernel: one broadcast center array, map-only, a tie goes to the lower
    ``center_id``."""
    from .vectors import nearest_center

    def dist(c):
        norms = F.sqrt(F.size("postings").cast("double")) * F.sqrt(F.size(c["postings"]).cast("double"))
        return 1 - F.size(F.array_intersect("postings", c["postings"])) / norms

    assigned = nearest_center(index, centers, dist)
    return (
        assigned.groupBy("center_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.concat_ws(" ", F.sort_array(F.collect_list("term"))).alias("members"),
        )
        .withColumn("cluster_id", F.row_number().over(W.partitionBy(one_group("center_id")).orderBy("center_id")))
        .select("cluster_id", "center_id", "n_members", "members")
    )


# ---------------------------------------------------------------------------
# Registered queries (driver oracle gate)
# ---------------------------------------------------------------------------


@query(
    "q_text_token_stats",
    oracle=f"""
    SELECT lang,
           COUNT(DISTINCT doc_id)   AS n_docs,
           COUNT(*)                 AS n_tokens,
           COUNT(DISTINCT token)    AS vocab,
           MIN(token)               AS first_token,
           MAX(token)               AS last_token
    FROM (
        SELECT d.lang, d.doc_id, u.token
        FROM documents d, UNNEST({DUCK_TOKENS}) AS u(token)
    )
    GROUP BY lang
    """,
    category="text",
    description="Tokenize (explode/split, A4) + per-language corpus stats.",
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = tokenize(docs.select("lang", "doc_id", "text"))
    toks = docs.select("lang", "doc_id").join(toks, "doc_id")
    return toks.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("token").alias("vocab"),
        F.min("token").alias("first_token"),
        F.max("token").alias("last_token"),
    )


@query(
    "q_text_term_doc_freq",
    oracle=f"""
    SELECT * FROM (
        SELECT token AS term,
               COUNT(DISTINCT doc_id) AS df,
               COUNT(*) AS tf_total,
               ROW_NUMBER() OVER (ORDER BY COUNT(DISTINCT doc_id) DESC, token) AS rnk
        FROM (SELECT d.doc_id, u.token
              FROM documents d, UNNEST({DUCK_TOKENS}) AS u(token))
        GROUP BY token
    ) WHERE rnk <= 20
    """,
    category="text",
    description="Term/document frequency table, top-20 by df with deterministic tiebreak.",
)
def q_text_term_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokenize(t(spark, sf_dir, "documents"))
    agg = toks.groupBy(F.col("token").alias("term")).agg(
        F.countDistinct("doc_id").alias("df"), F.count(F.lit(1)).alias("tf_total")
    )
    # Distributed top-k (TakeOrderedAndProject), NOT a global row_number()
    # window: at a 100 TB corpus the vocab is ~1e8 rows and an unpartitioned
    # window funnels all of it through one partition. Rank only the 20
    # surviving rows; the constant partition key keeps WindowExec off the
    # single-partition warning path for a frame this size.
    top = agg.orderBy(F.col("df").desc(), "term").limit(20)
    w = W.partitionBy(one_group("term")).orderBy(F.col("df").desc(), F.col("term"))
    return top.withColumn("rnk", F.row_number().over(w))


@query(
    "q_text_stopword_filter",
    oracle=f"""
    SELECT token AS term, COUNT(*) AS n
    FROM (SELECT u.token
          FROM documents d, UNNEST({DUCK_TOKENS}) AS u(token))
    WHERE token NOT IN ({_SW_SQL})
    GROUP BY token
    """,
    category="text",
    description="Stop-word rejection as a broadcast ANTI-join (A6 — the reference's DistributedCache HashSet, ProcessData.java:408/416).",
)
def q_text_stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = remove_stopwords(tokenize(t(spark, sf_dir, "documents")), spark)
    return toks.groupBy(F.col("token").alias("term")).agg(F.count(F.lit(1)).alias("n"))


@query(
    "q_text_inverted_index",
    oracle=f"""
    SELECT token AS term,
           COUNT(DISTINCT doc_id) AS df,
           array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
    FROM (SELECT d.doc_id, u.token
          FROM documents d, UNNEST({DUCK_TOKENS}) AS u(token))
    WHERE token NOT IN ({_SW_SQL})
    GROUP BY token
    """,
    category="text",
    description="The reference's flagship: inverted index term→postings (A8+A9), distinct-presence semantics (collect_set), postings serialized sorted for comparison.",
)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = inverted_index(spark, t(spark, sf_dir, "documents"), stem=False)
    return idx.select(
        "term",
        "df",
        F.array_join(F.col("postings"), ",").alias("postings"),
    )


@query(
    "q_text_stemmed_terms",
    oracle=None,  # Porter-1 semantics pinned by golden vectors in pytest;
    # DuckDB's stem() is Snowball/Porter2 — deliberately not the oracle.
    category="text",
    description="Stemmed term frequencies — the full A4→A7 map-side pipeline incl. the pandas_udf Porter stemmer.",
)
def q_text_stemmed_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = remove_stopwords(tokenize(t(spark, sf_dir, "documents")), spark)
    # same stem-after-shuffle shape as inverted_index: partial counts and doc
    # sets per RAW token, vocab-sized pandas_udf, vocab-sized merge
    raw = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n0"), F.collect_set("doc_id").alias("docs")
    )
    return (
        raw.withColumn("term", stem_udf(F.col("token")))
        .groupBy("term")
        .agg(
            F.sum("n0").alias("n"),
            F.size(F.array_distinct(F.flatten(F.collect_list("docs")))).alias("df"),
        )
    )


@query(
    "q_text_porter_gate",
    oracle="SELECT TRUE AS ok",
    category="text",
    description=(
        "Driver gate for the Porter stemmer (A7): replays every golden stem "
        "vector (the reference's step-table vocabulary, "
        "ProcessData.java:207-227, plus Porter's published 1980 examples) "
        "through the PRODUCTION Arrow-batched stem_udf inside Spark and "
        "emits ok = all outputs match. Classic Porter1 has no SQL twin "
        "(DuckDB's stem() is Snowball/Porter2), so this constant-oracle "
        "boolean is what makes the stemmer stage driver-checkable; together "
        "with the driver-green q_ref_pipeline_unstemmed it certifies every "
        "stage of the rows-only flagship q_ref_pipeline."
    ),
)
def q_text_porter_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.porter import PORTER_GOLDENS

    vec = local_frame(spark, list(PORTER_GOLDENS.items()), "word STRING, expected STRING")
    return vec.withColumn("got", stem_udf(F.col("word"))).agg(
        (
            (F.count(F.lit(1)) == len(PORTER_GOLDENS))
            & (F.sum((F.col("got") == F.col("expected")).cast("int")) == len(PORTER_GOLDENS))
        ).alias("ok")
    )


@query(
    "q_text_tfidf",
    oracle=f"""
    WITH tok AS (
        SELECT d.doc_id, u.token AS term
        FROM documents d, UNNEST({DUCK_TOKENS}) AS u(token)
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT * FROM (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df) DESC,
                                           tf.term) AS rnk
        FROM tf JOIN df USING (term) CROSS JOIN n
        WHERE tf.doc_id % 20 = 0
    ) WHERE rnk <= 5
    """,
    category="text",
    description="tf-idf: map-side tf, shuffled df, broadcast N; top-5 terms per sampled doc.",
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # Aggregation CASCADE: df re-aggregates tf (tf has exactly one row per
    # (doc, term), so COUNT per term == COUNT(DISTINCT doc_id)) — one
    # corpus-sized shuffle total, instead of a second countDistinct shuffle
    # that maintains a doc-set per term. The (doc,term)-sized tf table is
    # what gets checkpointed for reuse, not the raw token stream.
    tf = barrier(
        tokenize(docs)
        .groupBy("doc_id", F.col("token").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    raw = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    w = W.partitionBy("doc_id").orderBy(raw.desc(), F.col("term"))
    return (
        tf.filter(F.col("doc_id") % 20 == 0)
        # NO broadcast hint on df: it is vocabulary-sized (unbounded at corpus
        # scale). AQE broadcasts it while it fits the threshold and falls back
        # to a shuffle join beyond — a forced hint would OOM at ~1e8 terms.
        # Only the genuinely-bounded 1-row corpus total keeps its hint.
        .join(df, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", "tf", "df", F.round(raw, 6).alias("tfidf"), F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 5)
    )


@query(
    "q_text_quality",
    oracle=f"""
    SELECT doc_id, n_chars,
           len(toks)                                        AS n_tokens,
           len(list_distinct(toks))                         AS n_distinct,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS avg_tok_len,
           len(list_filter(toks, x -> x IN ({_SW_SQL})))    AS n_stopwords,
           (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 0.6
            + CAST(len(list_filter(toks, x -> x IN ({_SW_SQL}))) AS DOUBLE) / len(toks) * 0.4)
           * (CASE WHEN len(toks) < 5 OR len(toks) > 10000 THEN 0.5 ELSE 1.0 END) AS quality
    FROM (SELECT doc_id, n_chars,
                 {DUCK_WS_TOKENS} AS toks
          FROM documents)
    """,
    category="text",
    description="Per-doc quality scoring: lexical diversity + stopword density + length penalty (LLM-pipeline filter stage).",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    d = docs.select("doc_id", "n_chars", ws_tokens("text").alias("toks"))
    return d.select(
        "doc_id",
        "n_chars",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        avg_token_len(F.col("toks")).alias("avg_tok_len"),
        stopword_count(F.col("toks")).alias("n_stopwords"),
        quality_score(F.col("toks"), F.col("n_chars")).alias("quality"),
    )


@query(
    "q_text_langid",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           {', '.join(
               f"len(list_filter(toks, x -> x IN ({', '.join(repr(m) for m in markers)}))) AS score_{lang}"
               for lang, markers in LANG_MARKERS.items()
           )},
           CASE GREATEST({', '.join(f"len(list_filter(toks, x -> x IN ({', '.join(repr(m) for m in markers)})))" for markers in LANG_MARKERS.values())})
                WHEN 0 THEN 'und'
                {' '.join(
                    f"WHEN len(list_filter(toks, x -> x IN ({', '.join(repr(m) for m in markers)}))) THEN '{lang}'"
                    for lang, markers in LANG_MARKERS.items()
                )}
           END AS lang_guess
    FROM (SELECT doc_id, lang,
                 {DUCK_WS_TOKENS} AS toks
          FROM documents)
    """,
    category="text",
    description="Language-ID heuristic: marker-word votes per language, argmax with deterministic first-match tie-break.",
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.col("lang").alias("labeled_lang"), ws_tokens("text").alias("toks"))
    scores = lang_scores(F.col("toks"))
    best = F.greatest(*scores.values())
    guess = F.when(best == 0, "und")
    for lang, sc in scores.items():
        guess = guess.when(sc == best, lang)
    return d.select(
        "doc_id",
        "labeled_lang",
        *[sc.alias(f"score_{lang}") for lang, sc in scores.items()],
        guess.alias("lang_guess"),
    )


@query(
    "q_text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(lower(trim(text)))                                  AS fp,
           length(text)                                            AS text_len,
           len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))         AS bpe_tokens,
           len({DUCK_WS_TOKENS}) AS ws_tokens
    FROM documents
    WHERE doc_id % 10 = 0
    """,
    category="text",
    description="Document fingerprinting (MD5, engine-portable) + whitespace vs BPE-ish token counting.",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return docs.select(
        "doc_id",
        fingerprint_md5("text").alias("fp"),
        F.length("text").alias("text_len"),
        token_count_bpe("text").alias("bpe_tokens"),
        F.size(ws_tokens("text")).alias("ws_tokens"),
    )


@query(
    "q_ref_pipeline",
    oracle=None,  # Porter-stemmed end to end — stemmer semantics are pinned
    # by golden vectors, so the full pipeline gets the rows-only check.
    category="text",
    description=(
        "FULL reference parity in one DAG — Job 1 + Job 2 "
        "(ProcessData.java:650-678): tokenize → strip → stopword anti-join → "
        "Porter stem → inverted index → sparse-cosine nearest-center "
        "assignment (cluster_terms, shared with refjob) → deterministically "
        "numbered clusters. The reference materialized text files to HDFS "
        "between the jobs; here it is one lazy plan."
    ),
)
def q_ref_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ref_pipeline(spark, sf_dir, stem=True)


@query(
    "q_ref_pipeline_unstemmed",
    oracle=f"""
    WITH tok AS (
        SELECT d.doc_id, u.token AS term
        FROM documents d, UNNEST({DUCK_TOKENS}) AS u(token)
        WHERE u.token NOT IN ({_SW_SQL})
    ),
    idx AS (
        SELECT term, list_sort(list(DISTINCT doc_id)) AS postings
        FROM tok GROUP BY term
    ),
    centers AS (
        SELECT ROW_NUMBER() OVER (ORDER BY term) AS center_id,
               term AS center_term, postings AS cpostings
        FROM idx ORDER BY term LIMIT 4
    ),
    assigned AS (
        SELECT term, center_id, center_term,
               ROW_NUMBER() OVER (
                   PARTITION BY term
                   ORDER BY 1 - len(list_intersect(postings, cpostings))
                            / (sqrt(CAST(len(postings) AS DOUBLE)) * sqrt(CAST(len(cpostings) AS DOUBLE))),
                            center_id
               ) AS rn
        FROM idx CROSS JOIN centers
    )
    SELECT ROW_NUMBER() OVER (ORDER BY center_id) AS cluster_id,
           center_term,
           COUNT(*) AS n_members,
           array_to_string(list_sort(list(term)), ' ') AS members
    FROM assigned WHERE rn = 1
    GROUP BY center_id, center_term
    """,
    category="text",
    description=(
        "The flagship DAG with stem=False and a FULL DuckDB oracle: driver-"
        "hash-proves the A8-A19 composition (inverted index → sparse-cosine "
        "nearest-center → deterministically numbered clusters) end to end, "
        "leaving only the Porter stage (A7) golden-pinned. Reference: "
        "ProcessData.java:650-678."
    ),
)
def q_ref_pipeline_unstemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ref_pipeline(spark, sf_dir, stem=False)


def _ref_pipeline(spark: SparkSession, sf_dir: str, stem: bool) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # the index (incl. the pandas_udf stem stage when stem=True) feeds BOTH
    # the center selection and the assignment — materialize it once (cache,
    # not checkpoint: deterministic plan, so eviction-recompute is safe and
    # the checkpoint write job is avoided)
    idx = inverted_index(spark, docs, stem=stem).cache()
    # centers: the 4 alphabetically-first terms (stand-in for centers.txt,
    # ProcessData.java:579-590), keyed by term so term order is center order.
    # Distributed TakeOrdered picks them, not a row_number() window over the
    # whole vocab (a single-partition sort of ~1e8 rows at a 100 TB corpus).
    centers = idx.orderBy("term").limit(4).select(F.col("term").alias("center_id"), "postings")
    return cluster_terms(idx, centers).withColumnRenamed("center_id", "center_term")


@query(
    "q_text_ngrams",
    oracle=f"""
    SELECT * FROM (
        SELECT bigram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bigram) AS rnk
        FROM (
            SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
            FROM (SELECT doc_id,
                         {DUCK_WS_TOKENS} AS toks
                  FROM documents),
                 UNNEST(range(1, GREATEST(len(toks), 1))) AS u(i)
        )
        GROUP BY bigram
    ) WHERE rnk <= 20
    """,
    category="text",
    description="Word bigram extraction (shingling primitive behind MinHash/n-gram Jaccard): slide over the token array via explode(sequence), top-20 by frequency.",
)
def q_text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    d = docs.select("doc_id", ws_tokens("text").alias("toks")).filter(F.size("toks") > 1)
    bigrams = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(" ", F.element_at("toks", i), F.element_at("toks", i + 1)),
            )
        ).alias("bigram"),
    )
    agg = bigrams.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("df")
    )
    # Distributed top-k then rank the 20-row result (see q_text_term_doc_freq).
    top = agg.orderBy(F.col("n").desc(), "bigram").limit(20)
    w = W.partitionBy(one_group("bigram")).orderBy(F.col("n").desc(), F.col("bigram"))
    return top.withColumn("rnk", F.row_number().over(w))


COLLOC_MIN_COUNT = 20


@query(
    "q_text_collocations",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               {DUCK_WS_TOKENS} AS toks
        FROM documents
    ),
    big AS (
        SELECT toks[i] AS tok_a, toks[i+1] AS tok_b
        FROM d, UNNEST(range(1, GREATEST(len(toks), 1))) AS u(i)
    ),
    cab AS (SELECT tok_a, tok_b, COUNT(*) AS n_ab FROM big GROUP BY tok_a, tok_b),
    uni AS (SELECT u.token AS tok, COUNT(*) AS n FROM d, UNNEST(toks) AS u(token) GROUP BY u.token),
    nb AS (SELECT SUM(n_ab) AS nb FROM cab)
    SELECT c.tok_a, c.tok_b, c.n_ab,
           ROUND(LN(CAST(nb.nb AS DOUBLE) * c.n_ab / (a.n * b.n)), 6) AS pmi
    FROM cab c
    JOIN uni a ON c.tok_a = a.tok
    JOIN uni b ON c.tok_b = b.tok
    CROSS JOIN nb
    WHERE c.n_ab >= {COLLOC_MIN_COUNT}
    """,
    category="text",
    description=(
        "Collocation extraction: pointwise mutual information "
        "ln(N*c_ab/(c_a*c_b)) for every bigram seen >= 20 times — the "
        "corpus-statistics pass behind phrase mining. One bigram shuffle + "
        "one unigram shuffle; the unigram joins are UNHINTED (the vocabulary "
        "is unbounded at corpus scale — AQE broadcasts while it fits, "
        "shuffle-joins beyond) and only the 1-row bigram total is "
        "broadcast. PMI is ROUND(ln, 6) on both "
        "engines — the q_scalar_math last-ulp-absorption pattern."
    ),
)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    d = docs.select("doc_id", ws_tokens("text").alias("toks"))
    pairs = d.filter(F.size("toks") > 1).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at("toks", i).alias("tok_a"),
                    F.element_at("toks", i + 1).alias("tok_b"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    cab = pairs.groupBy("tok_a", "tok_b").agg(F.count(F.lit(1)).alias("n_ab"))
    uni = (
        d.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    nb = cab.agg(F.sum("n_ab").alias("nb"))
    pmi = F.round(
        F.log(F.col("nb").cast("double") * F.col("n_ab") / (F.col("na") * F.col("nb_u"))), 6
    )
    return (
        cab.filter(F.col("n_ab") >= COLLOC_MIN_COUNT)
        # NO broadcast hints on the unigram joins: uni is vocabulary-sized
        # (unbounded at corpus scale) while cab is already thinned to
        # n_ab >= COLLOC_MIN_COUNT, so AQE picks broadcast-vs-shuffle from
        # observed sizes. Only the 1-row bigram total keeps its hint.
        .join(uni.select(F.col("tok").alias("tok_a"), F.col("n").alias("na")), "tok_a")
        .join(uni.select(F.col("tok").alias("tok_b"), F.col("n").alias("nb_u")), "tok_b")
        .crossJoin(F.broadcast(nb))
        .select("tok_a", "tok_b", "n_ab", pmi.alias("pmi"))
    )


# ---------------------------------------------------------------------------
# BM25 retrieval: the Okapi/Lucene ranking function over the same
# tokenizer every text operator shares. The reference's pipeline stops at
# incidence vectors (ProcessData.java:454-472); BM25 is the retrieval stage a
# corpus engine pairs with that index — and the relevance-ranking primitive a
# training-data pipeline uses to mine topical subsets from a 100 TB corpus.
# ---------------------------------------------------------------------------

#: Fixed retrieval query (bounded, engine-constant — like the Porter goldens).
BM25_QUERY_TERMS = ("spark", "hash", "window", "merge")
#: Second fixed query point: the same term
#: set the second hybrid-RRF point uses (similarity.RRF2_QUERY_TERMS —
#: equality pinned by test_plans), so the ranker itself is driver-proved at
#: the point the fused kernel consumes, not only through RRF at RRF_LIST_K.
BM25_QUERY_TERMS_2 = ("filter", "scan", "batch", "stream")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20

#: The per-(doc, term) score kernel, ONE text shared verbatim by both engines
#: (the q_scalar_math symmetry discipline): Lucene's idf = ln(1 + (N-df+.5)/
#: (df+.5)), tf saturation with k1=1.2, length normalization with b=0.75
#: against avgdl = total_tokens/N. Contributions quantize to micro-BIGINTs
#: BEFORE the per-doc sum (the dsum discipline), so the sum is
#: order-independent and bit-identical across engines.
_BM25_MICRO_SQL = (
    "CAST(ROUND("
    "LN(1 + (n_docs - df + 0.5) / (df + 0.5))"
    " * (tf * 2.2)"
    " / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / (tot / n_docs)))"
    " * 1000000) AS BIGINT)"
)


def _bm25_oracle(terms: tuple[str, ...]) -> str:
    """The DuckDB twin of ``bm25_rank`` for a fixed term set — ONE builder
    shared by both registered query points so the oracle text can never
    drift between them (the _hybrid_rrf_oracle pattern)."""
    return f"""
    WITH tok AS (
        SELECT d.doc_id, u.token AS term
        FROM documents d, UNNEST({DUCK_TOKENS}) AS u(token)
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS tot FROM tok),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok
        WHERE term IN {terms!r}
        GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    per AS (
        SELECT tf.doc_id,
               COUNT(*) AS n_terms,
               SUM({_BM25_MICRO_SQL}) AS micro
        FROM tf JOIN dl USING (doc_id) JOIN df USING (term)
        CROSS JOIN n CROSS JOIN tot
        GROUP BY tf.doc_id
    )
    SELECT doc_id, n_terms, CAST(micro AS DOUBLE) / 1000000 AS bm25
    FROM per ORDER BY micro DESC, doc_id LIMIT {BM25_TOP_K}
    """


@query(
    "q_text_bm25",
    oracle=_bm25_oracle(BM25_QUERY_TERMS),
    category="text",
    description=(
        "BM25 retrieval: top-20 documents for a fixed 4-term query "
        "(k1=1.2, b=0.75, Lucene idf). Per-term contributions quantize to "
        "micro-BIGINTs before the per-doc sum (dsum discipline) and the "
        "top-k orders by the exact BIGINT, so ranking never depends on "
        "float summation order."
    ),
    tags=("multipoint:bm25",),
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_rank(t(spark, sf_dir, "documents"), BM25_QUERY_TERMS)


@query(
    "q_text_bm25_2",
    oracle=_bm25_oracle(BM25_QUERY_TERMS_2),
    category="text",
    description=(
        "Second BM25 query point: the same "
        "bm25_rank kernel at the term set the second hybrid-RRF point "
        "consumes (filter/scan/batch/stream), at the full top-20 depth. "
        "q_sim_hybrid_rrf2 proves this point only through the fused RRF "
        "fold at RRF_LIST_K; this row pins the ranker's own output — "
        "scores, tie-order, and the top-k boundary — directly against the "
        "DuckDB twin, closing the point-specific-green gap the same way "
        "rrf2 closed it for the fused kernel."
    ),
    tags=("multipoint:bm25",),
)
def q_text_bm25_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_rank(t(spark, sf_dir, "documents"), BM25_QUERY_TERMS_2)


def bm25_rank(
    docs: DataFrame,
    query_terms,
    top_k: int = BM25_TOP_K,
    include_micro: bool = False,
) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75, Lucene idf) over the shared tokenizer.

    ``include_micro`` appends the exact BIGINT micro-score (1e-6 fixed
    point) the ordering already runs on — downstream rankers (hybrid RRF)
    rank on it directly instead of re-deriving order from the DOUBLE
    ``bm25`` display column (micro << 2^53 keeps the division
    injective today, but the integer is the contract).

    Scale shape: ONE corpus tokenize + ONE doc-keyed shuffle total — the
    per-doc length and every per-query-term tf are conditional counts in the
    same aggregation (bounded term list, map-side partials), checkpointed at
    doc size for the three downstream consumers. df re-aggregates tf (one
    row per (doc,term) — the q_text_tfidf cascade), the ≤|Q|-row df table
    and the two 1-row corpus stats broadcast (genuinely bounded — unlike a
    vocabulary table), and the global top-k is TakeOrdered (distributed
    heap, no single-partition window). No Python stage anywhere.
    """
    terms = list(query_terms)
    # ONE corpus pass: doc length AND the per-query-term tf land in the same
    # doc-keyed aggregation (conditional counts over the bounded term list,
    # map-side partials) — a separate dl/tf/total pass each re-tokenizes the
    # corpus, tripling the dominant 100 TB cost. The doc-sized result is
    # checkpointed once for its three consumers (tf explode, df cascade,
    # corpus token total).
    per_doc = barrier(
        tokenize(docs)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.count(F.when(F.col("token") == term, True)).alias(f"_tf{i}")
                for i, term in enumerate(terms)
            ],
        )
    )
    tf = per_doc.select(
        "doc_id",
        "dl",
        F.explode(
            F.filter(
                F.array(
                    *[
                        F.struct(
                            F.lit(term).alias("term"),
                            F.col(f"_tf{i}").alias("tf"),
                        )
                        for i, term in enumerate(terms)
                    ]
                ),
                lambda s: s["tf"] > 0,
            )
        ).alias("qt"),
    ).select("doc_id", "dl", F.col("qt.term").alias("term"), F.col("qt.tf").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tot = per_doc.agg(F.sum("dl").cast("double").alias("tot"))
    per = (
        # NO forced hint on df_ (grouped-agg lint discipline): it is bounded
        # at <= |query_terms| rows by construction, so AQE broadcasts it
        # from observed size; only the 1-row corpus stats keep hints.
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.expr(_BM25_MICRO_SQL)).alias("micro"),
        )
    )
    return (
        # asc_nulls_last: DuckDB's ASC default puts NULLs last, Spark's puts
        # them first — a NULL-doc_id document tying at the top-k boundary
        # would otherwise displace a different row on each engine
        per.orderBy(F.col("micro").desc(), F.col("doc_id").asc_nulls_last())
        .limit(top_k)
        .select(
            "doc_id",
            "n_terms",
            (F.col("micro").cast("double") / 1000000).alias("bm25"),
            *([F.col("micro")] if include_micro else []),
        )
    )


@query(
    "q_text_novelty",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               {DUCK_WS_TOKENS} AS toks
        FROM documents
    ),
    tri AS (
        SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
        FROM d, UNNEST(range(1, GREATEST(len(toks) - 1, 1))) AS u(i)
        WHERE len(toks) >= 3
    ),
    -- tri is distinct per (doc, shingle), so COUNT(*) IS the doc frequency
    f AS (SELECT sh, COUNT(*) AS df FROM tri GROUP BY sh)
    SELECT t.doc_id,
           COUNT(*) AS n_shingles,
           -- CAST: DuckDB widens SUM(INTEGER) to HUGEINT (surfaces as
           -- DECIMAL through the typed fetch) where Spark SUM(int) is
           -- BIGINT — values equal, types hash-differ
           CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) / COUNT(*) AS unique_pct,
           {dsum_sql('ln(f.df)', 6)} / COUNT(*) AS mean_log_df
    FROM tri t JOIN f USING (sh)
    GROUP BY t.doc_id
    """,
    category="text",
    description=(
        "Corpus n-gram novelty scoring — the data-selection "
        "metric behind D4-style redundancy pruning: per document, over its "
        "DISTINCT word-trigram shingles, the count, how many are unique to "
        "it corpus-wide (df = 1), the unique fraction, and the mean log "
        "doc-frequency (low = novel content, high = boilerplate shared "
        "across the corpus). One tokenize pass with per-doc array_distinct "
        "dedup, one shingle-keyed exchange feeding a COUNT-over-window df "
        "(no df join, no distinct aggregate), one doc-keyed "
        "aggregate — and shingles cross "
        "the exchanges as 8-byte xxhash64 fingerprints, never as strings: "
        "the raw trigram exists only inside the map-side explode, the same "
        "fingerprint-not-payload move as q_profile_documents, exact "
        "modulo hash collisions (~n²/2⁶⁵) which the DuckDB oracle — "
        "which keeps REAL shingle strings — would catch as a hash "
        "mismatch. ln() values ride the 1e-6 fixed-point dsum kernel "
        "(the tfidf policy) so the mean is order-independent and "
        "hash-stable; unique_pct is a single int/int division, "
        "bit-identical in both engines."
    ),
)
def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import dsum

    # fan_out: the tokenize + trigram fingerprint fold run before
    # the sh repartition — inside the single-row-group fixture scan's one
    # task. Per-row; df/ln ride the window count + dsum grid downstream.
    docs = fan_out(t(spark, sf_dir, "documents"))
    d = docs.select("doc_id", ws_tokens("text").alias("toks")).filter(F.size("toks") >= 3)
    # COUNT-OVER-WINDOW form (guide §2.4 "remove shuffles outright"). A
    # lazy localCheckpoint on the distinct shingle table was measured as a
    # 0.64x cold regression:
    # the barrier serialized tokenize -> materialize -> join where the
    # unpinned plan overlapped both consumers, and it still paid the
    # distinct exchange + the df groupBy + a broadcast build. This shape
    # removes the join and the distinct aggregate entirely:
    # - per-doc dedup happens IN the shingle array (array_distinct over the
    #   xxhash64 fingerprints, map-only) so the exploded stream is already
    #   the distinct (doc_id, sh) multiset — no distinct exchange at all;
    # - df (docs-per-shingle) is a COUNT over the sh window after ONE
    #   sh-keyed repartition — the containment_report shh-window trade,
    #   instead of a groupBy + join back.
    # Plan: tokenize once, Exchange(sh), Window, partial-agg, Exchange
    # (doc_id) — two data exchanges total (was: double tokenize, distinct
    # exchange x2, df exchange, broadcast build). Cold A/B (fresh process,
    # median of 3, interleaved arms): checkpoint 3.0s / revert 2.1s / this
    # 1.5s at sf0.1. Values bit-identical: the window count equals the
    # joined df, and dsum(ln(df)) is order-independent by construction.
    # Scale note: a boilerplate shingle makes its window partition
    # doc-count-sized — the same hot-key bound the adjudicated containment
    # window carries, and the same colocation any sh-keyed join would
    # force at 100 TB (where the df build side outgrows broadcast).
    tri = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 2),
                    lambda i: F.xxhash64(
                        F.concat_ws(
                            " ",
                            F.element_at("toks", i),
                            F.element_at("toks", i + 1),
                            F.element_at("toks", i + 2),
                        )
                    ),
                )
            )
        ).alias("sh"),
    ).repartition("sh")
    n = F.count(F.lit(1))
    uniq = F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
    return (
        tri.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("sh")))
        .groupBy("doc_id")
        .agg(
            n.alias("n_shingles"),
            uniq.alias("n_unique"),
            (uniq / n).alias("unique_pct"),
            (dsum(F.log("df"), 6) / n).alias("mean_log_df"),
        )
        # pin a deterministic output order (doc_id)
        .orderBy("doc_id")
    )
