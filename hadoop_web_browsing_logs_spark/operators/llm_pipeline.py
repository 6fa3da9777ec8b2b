"""LLM training-data pipeline operators (north-star mandate): document
chunking, deterministic stratified mixing, hash-based train/val splits, and
token-budget curation — all pure SQL expressions (no UDFs), all
oracle-checked.

Determinism backbone: sampling/splitting decisions key on the document's MD5
fingerprint (byte-identical across engines), never on RNG — re-running the
pipeline on a different cluster layout yields the same dataset, which is the
property a reproducible training-data build needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text_stats import DUCK_WS_TOKENS, ws_tokens
from ..plans.registry import query
from ..session import barrier
from ..sources.readers import local_frame
from ._util import fan_out, t
from .dedup import JACCARD_THRESHOLD, PAIR_STRIDE

CHUNK_TOKENS = 20
CHUNK_STRIDE = 15  # 5-token overlap

#: per-language keep-rate (percent) for the stratified mix
MIX_RATES = {"en": 80, "de": 40, "fr": 40, "es": 40, "zh": 20}


def _hash_bucket(col, buckets: int = 100):
    """Deterministic [0, buckets) bucket from the MD5 hex prefix — the
    engine-portable substitute for rand(seed).

    NULL-total: a NULL document hashes as the empty string, so the
    bucket — and therefore the split/mix decision — is defined and identical
    in both engines (Spark's md5(NULL)→NULL routed NULL-text docs to the
    CASE fallback while DuckDB's list_prepend(0, NULL)→[0] sent them to
    bucket 0 — a silent train/test disagreement on garbage rows)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(F.coalesce(c, F.lit(""))), 1, 4), 16, 10).cast("bigint")
        % buckets
    )


def _duck_hash_bucket(expr: str, buckets: int = 100) -> str:
    expr = f"COALESCE({expr}, '')"
    # DuckDB: parse the 4-char hex prefix via a from-hex reduce
    return (
        f"(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(list_filter(string_split(substr(md5({expr}), 1, 4), ''), c -> c <> ''), "
        f"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), "
        f"(acc, d) -> acc * 16 + d) % {buckets})"
    )


@query(
    "q_llm_chunk",
    oracle=f"""
    WITH d0 AS (
        SELECT doc_id, {DUCK_WS_TOKENS} AS toks FROM documents WHERE doc_id % 10 = 0
    ),
    d AS (SELECT * FROM d0 WHERE len(toks) > 0)
    SELECT doc_id, chunk_idx,
           array_to_string(toks[(chunk_idx * {CHUNK_STRIDE} + 1):(chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS})], ' ') AS chunk_text,
           LEAST({CHUNK_TOKENS}, len(toks) - chunk_idx * {CHUNK_STRIDE}) AS n_tokens
    FROM d,
         UNNEST(range(0, GREATEST(CAST(CEIL((len(toks) - {CHUNK_TOKENS}) / CAST({CHUNK_STRIDE} AS DOUBLE)) AS INTEGER) + 1, 1))) AS u(chunk_idx)
    """,
    category="llm",
    description="Document chunking with overlap (20-token windows, stride 15): row explosion from computed chunk counts + array slicing — zero Python.",
)
def q_llm_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    # an empty document has nothing to chunk: without the guard
    # both engines emitted a phantom 0-token chunk whose text rendered ''
    # on Spark but NULL on DuckDB — excluded identically on both sides
    d = docs.select("doc_id", ws_tokens("text").alias("toks")).filter(F.size("toks") > 0)
    n_chunks = F.greatest(
        (F.ceil((F.size("toks") - CHUNK_TOKENS) / float(CHUNK_STRIDE))).cast("int") + 1, F.lit(1)
    )
    return (
        d.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .select(
            "doc_id",
            "chunk_idx",
            F.array_join(
                F.slice("toks", F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_TOKENS), " "
            ).alias("chunk_text"),
            F.least(
                F.lit(CHUNK_TOKENS), F.size("toks") - F.col("chunk_idx") * CHUNK_STRIDE
            ).alias("n_tokens"),
        )
    )


@query(
    "q_llm_mix_stratified",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE {_duck_hash_bucket('text')} <
               CASE lang WHEN 'en' THEN 80 WHEN 'de' THEN 40 WHEN 'fr' THEN 40
                         WHEN 'es' THEN 40 ELSE 20 END) AS n_kept
    FROM documents
    GROUP BY lang
    """,
    category="llm",
    description="Deterministic stratified mixing: per-language keep-rates decided by MD5 hash buckets (reproducible across clusters, no RNG).",
)
def q_llm_mix_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 80)
    for lang, r in list(MIX_RATES.items())[1:-1]:
        rate = rate.when(F.col("lang") == lang, r)
    rate = rate.otherwise(20)
    kept = F.when(_hash_bucket(F.col("text")) < rate, 1)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(kept).alias("n_kept"),
    )


@query(
    "q_llm_split",
    oracle=f"""
    SELECT lang, split, COUNT(*) AS n FROM (
        SELECT lang,
               CASE WHEN {_duck_hash_bucket('text', 10)} < 8 THEN 'train'
                    WHEN {_duck_hash_bucket('text', 10)} = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    GROUP BY lang, split
    """,
    category="llm",
    description="Hash-based train/val/test split (80/10/10) — stable under re-partitioning and re-runs; counts per (lang, split).",
)
def q_llm_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    b = _hash_bucket(F.col("text"), 10)
    split = F.when(b < 8, "train").when(b == 8, "val").otherwise("test")
    return docs.select("lang", split.alias("split")).groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "q_llm_token_budget",
    oracle=f"""
    WITH sized AS (
        SELECT source, doc_id, len({DUCK_WS_TOKENS}) AS n_tokens FROM documents
    ),
    running AS (
        SELECT source, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM sized
    )
    SELECT source,
           CAST(COUNT(*) FILTER (WHERE cum_tokens <= 2000) AS BIGINT) AS docs_in_budget,
           CAST(MAX(CASE WHEN cum_tokens <= 2000 THEN cum_tokens END) AS BIGINT) AS tokens_used
    FROM running
    GROUP BY source
    """,
    category="llm",
    description="Token-budget curation: running per-source token counts (window cumsum), keep documents until a 2000-token budget — the deterministic data-mixing primitive.",
)
def q_llm_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    sized = docs.select("source", "doc_id", F.size(ws_tokens("text")).alias("n_tokens"))
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    running = sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    # Both output columns explicitly BIGINT: DuckDB's FILTER-count and the MAX
    # over a HUGEINT-widened window sum would otherwise skew representation
    # against Spark's LONG and fail the type-sensitive oracle comparison.
    return running.groupBy("source").agg(
        F.count(F.when(F.col("cum_tokens") <= 2000, 1)).cast("bigint").alias("docs_in_budget"),
        F.max(F.when(F.col("cum_tokens") <= 2000, F.col("cum_tokens"))).cast("bigint").alias("tokens_used"),
    )


@query(
    "q_llm_scrub",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
               '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g'),
             '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g') AS scrubbed,
           (length(raw) - length(regexp_replace(raw, '@', '', 'g'))) AS n_emails
    FROM (
        SELECT doc_id,
               'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or call '
                 || '555-01' || CAST(doc_id % 90 + 10 AS VARCHAR) || '-4242 ssn '
                 || CAST(doc_id % 900 + 100 AS VARCHAR) || '-42-' 
                 || CAST(doc_id % 9000 + 1000 AS VARCHAR) || ' re: ' || substr(text, 1, 40) AS raw
        FROM documents WHERE doc_id % 25 = 0
    )
    """,
    category="llm",
    description="PII scrubbing (email/phone/SSN regexes) over synthesized contact strings — the redaction stage of a training-data pipeline; oracle applies the identical regexes.",
)
def q_llm_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    raw = F.concat(
        F.lit("contact user"), F.col("doc_id").cast("string"), F.lit("@example.com or call "),
        F.lit("555-01"), (F.col("doc_id") % 90 + 10).cast("string"), F.lit("-4242 ssn "),
        (F.col("doc_id") % 900 + 100).cast("string"), F.lit("-42-"),
        (F.col("doc_id") % 9000 + 1000).cast("string"), F.lit(" re: "), F.substring("text", 1, 40),
    )
    d = docs.select("doc_id", raw.alias("raw"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), r"[a-z0-9._]+@[a-z0-9.-]+", "<EMAIL>"),
            r"\+?[0-9][0-9()\- ]{7,}[0-9]", "<PHONE>",
        ),
        r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>",
    )
    return d.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        (F.length("raw") - F.length(F.regexp_replace("raw", "@", ""))).alias("n_emails"),
    )


@query(
    "q_llm_quality_rules",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE n_tok BETWEEN 10 AND 5000) AS pass_length,
           COUNT(*) FILTER (WHERE mean_wlen BETWEEN 2 AND 12) AS pass_word_len,
           COUNT(*) FILTER (WHERE rep_ratio <= 0.2) AS pass_repetition,
           COUNT(*) FILTER (WHERE n_tok BETWEEN 10 AND 5000
                            AND mean_wlen BETWEEN 2 AND 12
                            AND rep_ratio <= 0.2) AS pass_all
    FROM (
        SELECT lang,
               len(toks) AS n_tok,
               CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS mean_wlen,
               CAST(list_max(list_transform(list_distinct(toks),
                    u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE) / len(toks) AS rep_ratio
        FROM (SELECT lang, {DUCK_WS_TOKENS} AS toks FROM documents)
    )
    GROUP BY lang
    """,
    category="llm",
    description="Gopher-style quality rule filter: length bounds, mean word length bounds, top-term repetition ratio — per-language pass counts for each rule and their conjunction.",
)
def q_llm_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n_tok = F.size("toks")
    # try_divide: empty docs yield NULL ratios on both engines (DuckDB's
    # list_sum([])/list_max([]) are NULL and its divide-by-zero is NULL;
    # ANSI Spark would throw on the 0/0) — NULL then fails every BETWEEN/<=
    # rule identically, so empty docs count in n_docs but pass nothing.
    mean_wlen = F.try_divide(
        F.aggregate(F.transform("toks", F.length), F.lit(0), lambda a, x: a + x).cast("double"),
        n_tok,
    )
    # repetition: highest single-term frequency / total tokens
    rep = F.try_divide(
        F.array_max(
            F.transform(
                F.array_distinct("toks"),
                lambda u: F.size(F.filter("toks", lambda x: x == u)),
            )
        ).cast("double"),
        n_tok,
    )
    d = docs.select("lang", ws_tokens("text").alias("toks")).select(
        "lang", n_tok.alias("n_tok"), mean_wlen.alias("mean_wlen"), rep.alias("rep_ratio")
    )
    pass_len = (F.col("n_tok") >= 10) & (F.col("n_tok") <= 5000)
    pass_wlen = (F.col("mean_wlen") >= 2) & (F.col("mean_wlen") <= 12)
    pass_rep = F.col("rep_ratio") <= 0.2
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(pass_len, 1)).alias("pass_length"),
        F.count(F.when(pass_wlen, 1)).alias("pass_word_len"),
        F.count(F.when(pass_rep, 1)).alias("pass_repetition"),
        F.count(F.when(pass_len & pass_wlen & pass_rep, 1)).alias("pass_all"),
    )


@query(
    "q_llm_decontaminate",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {DUCK_WS_TOKENS} AS toks FROM documents),
    shingles AS (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3] || ' ' || toks[i+4] AS sh
        FROM toks, UNNEST(range(1, GREATEST(len(toks) - 3, 1))) AS u(i)
    ),
    bench AS (SELECT DISTINCT sh FROM shingles WHERE doc_id % 97 = 0),
    hits AS (
        SELECT s.doc_id, COUNT(DISTINCT s.sh) AS n_hits
        FROM shingles s JOIN bench b ON s.sh = b.sh
        WHERE s.doc_id % 97 <> 0
        GROUP BY s.doc_id
    )
    SELECT doc_id, n_hits, TRUE AS contaminated FROM hits
    """,
    category="llm",
    description=(
        "Benchmark decontamination: 5-gram shingle overlap between the "
        "corpus and a held-out 'benchmark' subset — contaminated docs "
        "flagged via a shingle equi-join (hinted broadcast only when the "
        "caller bounds the benchmark size). Shingles cross the "
        "join as xxhash64 fingerprints; the oracle keeps real strings, so "
        "the hash gate proves the fingerprint rewrite exact on the data."
    ),
)
def q_llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    shingles = shingles_5gram(t(spark, sf_dir, "documents"))
    bench = shingles.filter(F.col("doc_id") % 97 == 0)
    # The fixture's "benchmark" is derived from the corpus itself (~1% of
    # docs), so it is corpus-sized, not suite-sized: no broadcast hint here.
    # Callers with a genuinely small external suite use decontaminate(...,
    # bench_is_small=True) to force the hint.
    return decontaminate(shingles.filter(F.col("doc_id") % 97 != 0), bench)


def shingles_5gram(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) rows: whitespace tokens → space-joined 5-gram shingles
    (docs under 5 tokens contribute none). The shared contamination unit for
    the registered queries and their tests — ONE definition: this delegates
    to the positioned builder (Catalyst prunes the unused pos column), so
    the boolean decontamination flag and the span report can never
    disagree about what a shingle is."""
    return shingles_5gram_positioned(docs).select("doc_id", "sh")


def decontaminate(
    corpus_shingles: DataFrame, bench_shingles: DataFrame, *, bench_is_small: bool = False
) -> DataFrame:
    """Flag corpus docs sharing >=1 shingle with a benchmark shingle set.

    ``bench_is_small=True`` force-broadcasts the benchmark side — correct for
    real eval suites (MMLU/GSM8K-scale, a few million shingles at most). Left
    False, AQE broadcasts while the measured size fits the threshold and
    shuffle-joins beyond, which is the safe default when the benchmark set's
    cardinality is unknown or corpus-derived.

    Shingles cross the contamination join / distinct /
    countDistinct as 8-byte xxhash64 fingerprints, not strings — the
    q_text_novelty move; raw 5-grams exist only map-side. Exact modulo
    hash collisions (~n²/2⁶⁵), which the string-keyed DuckDB oracle would
    surface as a driver hash mismatch.
    """
    corp = corpus_shingles.select("doc_id", F.xxhash64("sh").alias("shh"))
    bench = bench_shingles.select(F.xxhash64("sh").alias("shh")).distinct()
    if bench_is_small:
        bench = F.broadcast(bench)
    return (
        corp.join(bench, "shh")
        .groupBy("doc_id")
        .agg(F.countDistinct("shh").alias("n_hits"))
        .withColumn("contaminated", F.lit(True))
    )


def shingles_5gram_positioned(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, sh) rows: like :func:`shingles_5gram` but each shingle
    carries its 1-based token position, so consumers can reason about RUNS of
    consecutive contaminated shingles, not just their count."""
    d = docs.select("doc_id", ws_tokens("text").alias("toks")).filter(F.size("toks") >= 5)
    sh = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 4),
        lambda i: F.concat_ws(" ", *[F.element_at("toks", i + j) for j in range(5)]),
    )
    return d.select("doc_id", F.posexplode(sh).alias("p", "sh")).select(
        "doc_id", (F.col("p") + 1).cast("bigint").alias("pos"), "sh"
    )


def contamination_spans(
    corpus_docs: DataFrame, bench_docs: DataFrame, *, bench_is_small: bool = False
) -> DataFrame:
    """Contamination SPAN severity: for each corpus doc sharing >=1 5-gram
    shingle with the benchmark, the longest run of CONSECUTIVE shared
    shingles (gaps-and-islands over hit positions), in shingles and tokens.

    Both inputs need (doc_id, text). Returns (doc_id, n_hit_positions,
    max_span_shingles, max_span_tokens) — only contaminated docs, ordered by
    doc_id. A 1-shingle hit is a quotation; a 200-token span is a wholesale
    copy — the severity metric eval-overlap audits (GPT-3 appendix C style)
    act on, which the boolean :func:`decontaminate` flag leaves out.

    Scale shape: positioned shingles cross the contamination join as
    xxhash64 fingerprints (strings stay map-side); the islands window runs
    per doc over HIT positions only — sparse by construction, never
    corpus-sized. ``bench_is_small=True`` force-broadcasts the benchmark
    shingle set (real eval suites; same contract as :func:`decontaminate`).
    """
    bench = (
        shingles_5gram(bench_docs).select(F.xxhash64("sh").alias("shh")).distinct()
    )
    if bench_is_small:
        bench = F.broadcast(bench)
    hits = (
        shingles_5gram_positioned(corpus_docs)
        .select("doc_id", "pos", F.xxhash64("sh").alias("shh"))
        .join(bench, "shh")
        .select("doc_id", "pos")
    )
    grp = F.col("pos") - F.row_number().over(W.partitionBy("doc_id").orderBy("pos"))
    spans = hits.withColumn("grp", grp).groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).alias("span")
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.sum("span").cast("bigint").alias("n_hit_positions"),
            F.max("span").cast("bigint").alias("max_span_shingles"),
            (F.max("span") + 4).cast("bigint").alias("max_span_tokens"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_llm_contamination_span",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {DUCK_WS_TOKENS} AS toks FROM documents),
    shingles AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                       || ' ' || toks[i+3] || ' ' || toks[i+4] AS sh
        FROM toks, UNNEST(range(1, GREATEST(len(toks) - 3, 1))) AS u(i)
    ),
    bench AS (SELECT DISTINCT sh FROM shingles WHERE doc_id % 97 = 0),
    hits AS (
        SELECT s.doc_id, s.pos
        FROM shingles s JOIN bench b ON s.sh = b.sh
        WHERE s.doc_id % 97 <> 0
    ),
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM hits
    ),
    spans AS (SELECT doc_id, grp, COUNT(*) AS span FROM isl GROUP BY doc_id, grp)
    SELECT doc_id,
           CAST(SUM(span) AS BIGINT) AS n_hit_positions,
           CAST(MAX(span) AS BIGINT) AS max_span_shingles,
           CAST(MAX(span) + 4 AS BIGINT) AS max_span_tokens
    FROM spans GROUP BY doc_id ORDER BY doc_id
    """,
    category="llm",
    description=(
        "Contamination SPAN report — the severity half q_llm_decontaminate "
        "leaves out: for each contaminated train doc, the longest run of "
        "CONSECUTIVE benchmark-shared 5-gram shingles (gaps-and-islands on "
        "hit positions), reported in shingles and tokens. A 5-token hit is "
        "a quotation; a 200-token span is a wholesale copy — the metric "
        "eval-overlap audits (GPT-3 appendix C style) act on. Scale shape: "
        "positioned shingles cross the contamination join as xxhash64 "
        "fingerprints (strings stay map-side; the string-keyed oracle "
        "proves the rewrite exact); the islands window runs per doc over "
        "HIT positions only — sparse by construction, never corpus-sized — "
        "and everything downstream of the join is integer arithmetic on "
        "(doc_id, pos)."
    ),
    tags=("llm", "decontamination"),
)
def q_llm_contamination_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the shingle fingerprint build on both split legs
    # runs pre-exchange — one task on the single-row-group fixture scan
    # (the two legs share the spread scan; AQE reuses the exchange).
    docs = fan_out(t(spark, sf_dir, "documents"))
    # fixture benchmark = the corpus-derived ~1% subset (the decontaminate
    # split), so it is corpus-sized: no broadcast hint
    return contamination_spans(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
    )


# ---------------------------------------------------------------------------
# Sequence packing (GPT-style concat-and-cut) + per-domain caps
# ---------------------------------------------------------------------------

SEQ_LEN = 128  # tokens per packed training sequence
DOMAIN_CAP = 10  # max docs kept per source domain


@query(
    "q_llm_pack_sequences",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, CAST(len({DUCK_WS_TOKENS}) AS BIGINT) AS n_tokens FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM d
    )
    SELECT doc_id, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS token_offset,
           CAST((cum - n_tokens) // {SEQ_LEN} AS BIGINT) AS seq_first,
           CAST((cum - 1) // {SEQ_LEN} AS BIGINT) AS seq_last
    FROM c
    """,
    category="llm",
    description=(
        "Sequence packing, GPT-style concat-and-cut: documents are laid out "
        "in deterministic doc_id order on one virtual token tape, then the "
        "tape is cut every SEQ_LEN tokens; each doc learns its global token "
        "offset and the [seq_first, seq_last] training sequences it lands "
        "in. The global running sum is with_global_cumsum (range-repartition "
        "+ broadcast prefix offsets) — NOT an unpartitioned window, so the "
        "layout step scales; the oracle's single-window SUM OVER is the "
        "semantic twin."
    ),
)
def q_llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import with_global_cumsum

    # fan_out measured and REJECTED here: size(tokens) is too
    # light a map stage to pay an extra exchange ahead of the cumsum's own
    # range repartition (bench 0.54 -> 0.64 s against the ambient tailwind).
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(ws_tokens("text")).cast("bigint").alias("n_tokens")
    )
    c = with_global_cumsum(d, [F.col("doc_id")], "n_tokens", out_col="cum")
    off = F.col("cum") - F.col("n_tokens")
    return c.select(
        "doc_id",
        "n_tokens",
        off.alias("token_offset"),
        F.floor(off / SEQ_LEN).cast("bigint").alias("seq_first"),
        F.floor((F.col("cum") - 1) / SEQ_LEN).cast("bigint").alias("seq_last"),
    )


@query(
    "q_llm_domain_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY md5(COALESCE(text, '')), doc_id) AS rn
        FROM documents
    )
    SELECT source, doc_id FROM ranked WHERE rn <= {DOMAIN_CAP}
    """,
    category="llm",
    description=(
        "Per-domain document caps (source-mixing control): keep at most "
        "DOMAIN_CAP docs per source, selected by MD5-fingerprint order — a "
        "deterministic uniform draw with no RNG, reproducible across "
        "clusters. NULL text hashes as '' (a bare md5(text) put "
        "NULL-text docs NULLS-FIRST in Spark but NULLS-LAST in DuckDB — "
        "latent until a source exceeded the cap WITH a NULL-text doc, "
        "exposed by the extended poison fixture). Partitioned window, "
        "shuffles on source only; a skewed mega-domain is exactly the case "
        "where the cap fires, and row_number short-circuits past rank "
        "DOMAIN_CAP."
    ),
)
def q_llm_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.coalesce(F.col("text"), F.lit(""))), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= DOMAIN_CAP)
        .select("source", "doc_id")
    )


# ---------------------------------------------------------------------------
# Gopher repetition rules (dup / top n-gram fractions)
# ---------------------------------------------------------------------------

TOP2_MAX = 0.08  # max fraction of tokens covered by the single most-frequent 2-gram
DUP2_MAX = 0.15  # max fraction of tokens covered by 2-grams occurring >= 2 times
DUP3_MAX = 0.05  # same for 3-grams


def _ngram_run_stats(col: str | F.Column) -> F.Column:
    """STRUCT(maxc, dup): the max per-distinct-n-gram count and the sum of
    counts >= 2, via ONE pass over the SORTED n-gram array (guide
    §1.2 'per-task work': the previous array_distinct + filter-scan form was
    O(distinct × n) string comparisons per document — quadratic on
    boilerplate-heavy docs and evaluated twice for g2 (top2 + dup2). Run
    lengths over the sorted array are the same multiset counts, computed in
    O(n log n), and both statistics fall out of a single fold). Module-level
    so the fold is unit-testable against a brute-force Counter recount
    (tests/test_udf_llm.py)."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("maxc"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc: F.Column, x: F.Column) -> F.Column:
        same = acc["prev"].isNotNull() & (x == acc["prev"])
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc["maxc"]).otherwise(F.greatest(acc["maxc"], acc["run"])).alias("maxc"),
            F.when(same, acc["dup"])
            .otherwise(acc["dup"] + F.when(acc["run"] >= 2, acc["run"]).otherwise(F.lit(0).cast("long")))
            .alias("dup"),
        )

    def finish(acc: F.Column) -> F.Column:
        return F.struct(
            F.greatest(acc["maxc"], acc["run"]).alias("maxc"),
            (
                acc["dup"] + F.when(acc["run"] >= 2, acc["run"]).otherwise(F.lit(0).cast("long"))
            ).alias("dup"),
        )

    return F.aggregate(F.array_sort(col), zero, step, finish)


@query(
    "q_llm_repetition_rules",
    oracle=f"""
    WITH d AS (
        SELECT lang, {DUCK_WS_TOKENS} AS toks FROM documents
    ),
    g AS (
        SELECT lang, len(toks) AS n_tok,
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1]) AS g2,
               list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
        FROM d WHERE len(toks) >= 3
    ),
    m AS (
        SELECT lang, n_tok,
               CAST(list_max(list_transform(list_distinct(g2),
                    u -> len(list_filter(g2, x -> x = u)))) AS DOUBLE) * 2 / n_tok AS top2_frac,
               CAST(list_sum(list_transform(list_distinct(g2),
                    u -> CASE WHEN len(list_filter(g2, x -> x = u)) >= 2
                              THEN len(list_filter(g2, x -> x = u)) ELSE 0 END)) AS DOUBLE) * 2 / n_tok AS dup2_frac,
               CAST(list_sum(list_transform(list_distinct(g3),
                    u -> CASE WHEN len(list_filter(g3, x -> x = u)) >= 2
                              THEN len(list_filter(g3, x -> x = u)) ELSE 0 END)) AS DOUBLE) * 3 / n_tok AS dup3_frac
        FROM g
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE top2_frac <= {TOP2_MAX}) AS pass_top2,
           COUNT(*) FILTER (WHERE dup2_frac <= {DUP2_MAX}) AS pass_dup2,
           COUNT(*) FILTER (WHERE dup3_frac <= {DUP3_MAX}) AS pass_dup3,
           COUNT(*) FILTER (WHERE top2_frac <= {TOP2_MAX}
                            AND dup2_frac <= {DUP2_MAX}
                            AND dup3_frac <= {DUP3_MAX}) AS pass_all
    FROM m
    GROUP BY lang
    """,
    category="llm",
    description=(
        "Gopher repetition rules (the n-gram half q_llm_quality_rules leaves "
        "out): per-doc fraction of tokens covered by the top 2-gram, by "
        "duplicated 2-grams, and by duplicated 3-grams, thresholded and "
        "aggregated to per-language pass counts. All within-document array "
        "HOFs in codegen — the only shuffle is the per-language count "
        "aggregate; fractions are exact-integer ratios so the pass counts "
        "hash-match DuckDB bit-for-bit."
    ),
)
def q_llm_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the tokenize + n-gram builds + the O(n log n)
    # run-length fold all run BEFORE the lang groupBy's exchange — i.e.
    # inside the single-row-group fixture scan's one task. Per-row work;
    # the lang rollup is integer sums: partition-independent.
    d = (
        fan_out(t(spark, sf_dir, "documents"))
        .select("lang", ws_tokens("text").alias("toks"))
        .filter(F.size("toks") >= 3)
    )

    def ngrams(n: int) -> F.Column:
        return F.transform(
            F.sequence(F.lit(1), F.size("toks") - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at("toks", i + j) for j in range(n)]
            ),
        )

    g = d.select("lang", F.size("toks").alias("n_tok"), ngrams(2).alias("g2"), ngrams(3).alias("g3"))

    m = g.select(
        "lang",
        "n_tok",
        _ngram_run_stats("g2").alias("s2"),
        _ngram_run_stats("g3").alias("s3"),
    ).select(
        "lang",
        (F.col("s2.maxc").cast("double") * 2 / F.col("n_tok")).alias("top2_frac"),
        (F.col("s2.dup").cast("double") * 2 / F.col("n_tok")).alias("dup2_frac"),
        (F.col("s3.dup").cast("double") * 3 / F.col("n_tok")).alias("dup3_frac"),
    )
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("top2_frac") <= TOP2_MAX, 1)).alias("pass_top2"),
        F.count(F.when(F.col("dup2_frac") <= DUP2_MAX, 1)).alias("pass_dup2"),
        F.count(F.when(F.col("dup3_frac") <= DUP3_MAX, 1)).alias("pass_dup3"),
        F.count(
            F.when(
                (F.col("top2_frac") <= TOP2_MAX)
                & (F.col("dup2_frac") <= DUP2_MAX)
                & (F.col("dup3_frac") <= DUP3_MAX),
                1,
            )
        ).alias("pass_all"),
    )


@query(
    "q_llm_split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE d AS (
        SELECT doc_id,
               list_distinct({DUCK_WS_TOKENS}) AS toks
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
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    walk(node, label) AS (
        SELECT src, src FROM edges
        UNION SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
    ),
    comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node),
    keyed AS (
        SELECT doc.doc_id,
               COALESCE(c.component, doc.doc_id) AS gid
        FROM documents doc LEFT JOIN comp c ON c.node = doc.doc_id
    )
    SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT gid) AS n_groups FROM (
        SELECT gid,
               CASE WHEN {{b}} < 8 THEN 'train'
                    WHEN {{b}} = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM keyed
    ) GROUP BY split
    """.replace("{b}", _duck_hash_bucket("CAST(gid AS VARCHAR)", 10)),
    category="llm",
    description=(
        "Leakage-safe train/val/test split: near-duplicate clusters (from "
        "the Jaccard pairs' connected components) are split as ATOMIC "
        "GROUPS — the hash bucket keys on the cluster id, not the document "
        "— so near-dups can never straddle train and eval (the "
        "contamination mode a per-document split allows). Singletons key "
        "on their own id. Same MD5-prefix bucket arithmetic as q_llm_split; "
        "the whole pairs->clusters->group-split chain hash-matches the "
        "recursive-CTE DuckDB twin."
    ),
)
def q_llm_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # prefix-join pair source (row-identical to the quadratic
    # baseline by the prefix-filter theorem, candidate-linear) — see
    # q_dedup_components
    from .dedup import connected_components, q_dedup_jaccard_prefix

    pairs = q_dedup_jaccard_prefix(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    docs = t(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.join(comp, docs["doc_id"] == comp["node"], "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("gid")
    )
    b = _hash_bucket(F.col("gid").cast("string"), 10)
    split = F.when(b < 8, "train").when(b == 8, "val").otherwise("test")
    return keyed.select("gid", split.alias("split")).groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("gid").alias("n_groups"),
    )


# ---------------------------------------------------------------------------
# Corpus-LM quality scoring: the CCNet-style perplexity filter,
# re-expressed with the corpus's OWN unigram LM so it stays declarative and
# oracle-checkable (the production variant swaps in a pretrained LM's token
# log-probs via a broadcast vocabulary table — same plan shape).
# ---------------------------------------------------------------------------


@query(
    "q_llm_unigram_logprob",
    oracle=f"""
    WITH tok AS (
        SELECT d.doc_id, u.token AS term
        FROM documents d, UNNEST({DUCK_WS_TOKENS}) AS u(token)
    ),
    ctf AS (SELECT term, COUNT(*) AS ctf FROM tok GROUP BY term),
    tot AS (SELECT COUNT(*) AS total FROM tok),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    per AS (
        SELECT tf.doc_id,
               SUM(tf.tf) AS n_tokens,
               -- dsum-style fixed-point accumulator: per-term micro-nat
               -- contributions are rounded to BIGINT BEFORE the sum, so the
               -- total is order-independent and engine-portable (float
               -- addition is not associative; Spark's partial-agg order is
               -- nondeterministic)
               SUM(CAST(ROUND(tf.tf * ln(CAST(ctf.ctf AS DOUBLE) / tot.total) * 1000000) AS BIGINT)) AS micro
        FROM tf JOIN ctf USING (term) CROSS JOIN tot
        GROUP BY tf.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(per.micro AS DOUBLE) / 1000000 / per.n_tokens AS mean_logprob
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    """,
    category="llm",
    description=(
        "Unigram-LM document quality score (CCNet-style perplexity filter "
        "over the corpus's own unigram distribution): per document, the "
        "mean token log-probability ln(ctf/total) — boilerplate and "
        "common-word spam score high, lexically odd garbage scores low. "
        "Per-term contributions accumulate as rounded micro-nat BIGINTs "
        "(the dsum discipline) so the sum is order-independent across "
        "partitionings and engines. Scale shape: one exchange per "
        "aggregation level; the vocabulary-sized ctf join side is "
        "broadcastable at any corpus scale; empty/NULL docs keep a row "
        "with n_tokens=0 and NULL score."
    ),
)
def q_llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(ws_tokens("text")).alias("term"))
    ctf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("ctf"))
    total = tok.agg(F.count(F.lit(1)).alias("total"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # multiplication association mirrors the oracle exactly:
    # (tf * ln(p)) * 1e6 — left-to-right in both engines, identical bits
    micro_term = F.round(
        F.col("tf") * F.log(F.col("ctf").cast("double") / F.col("total")) * 1000000
    ).cast("bigint")
    per = (
        tf.join(ctf, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(micro_term).alias("micro"),
        )
    )
    return docs.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
        (F.col("micro").cast("double") / 1000000 / F.col("n_tokens")).alias("mean_logprob"),
    )


SHARD_TOKENS = 1024  # 8 training sequences of SEQ_LEN per output shard


@query(
    "q_llm_shard_manifest",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, CAST(len({DUCK_WS_TOKENS}) AS BIGINT) AS n_tokens FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM d
    )
    SELECT CAST((cum - n_tokens) // {SHARD_TOKENS} AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM c
    GROUP BY 1
    """,
    category="llm",
    description=(
        "Training-shard manifest — the OUTPUT side of sequence packing: lay "
        "the corpus on the same deterministic token tape as "
        "q_llm_pack_sequences, cut it into SHARD_TOKENS-sized output shards, "
        "and emit one manifest row per shard (doc count, token count, doc-id "
        "range; a doc belongs to the shard its offset starts in). This is "
        "the deterministic shard assignment a 100 TB dataset build uses to "
        "write size-balanced training files with reproducible content — "
        "repartition('shard_id') + partitioned write consumes it directly. "
        "Rides the scalable with_global_cumsum layout (range-repartition + "
        "broadcast prefix offsets), then one exchange on the dense shard "
        "key."
    ),
)
def q_llm_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = q_llm_pack_sequences(spark, sf_dir)
    return (
        packed.groupBy(
            F.floor(F.col("token_offset") / SHARD_TOKENS).cast("bigint").alias("shard_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "q_llm_bigram_logprob",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, {DUCK_WS_TOKENS} AS toks FROM documents
    ),
    big AS (
        SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        FROM d, UNNEST(range(1, len(toks))) AS r(i)
    ),
    cbf AS (SELECT w1, w2, COUNT(*) AS cbf FROM big GROUP BY 1, 2),
    ctx AS (SELECT w1, COUNT(*) AS ctx FROM big GROUP BY 1),
    bf AS (SELECT doc_id, w1, w2, COUNT(*) AS bf FROM big GROUP BY 1, 2, 3),
    per AS (
        SELECT bf.doc_id,
               SUM(bf.bf) AS n_bigrams,
               SUM(CAST(ROUND(bf.bf * ln(CAST(cbf.cbf AS DOUBLE) / ctx.ctx) * 1000000) AS BIGINT)) AS micro
        FROM bf JOIN cbf USING (w1, w2) JOIN ctx USING (w1)
        GROUP BY bf.doc_id
    )
    SELECT d2.doc_id,
           CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(per.micro AS DOUBLE) / 1000000 / per.n_bigrams AS mean_logprob
    FROM documents d2 LEFT JOIN per ON d2.doc_id = per.doc_id
    """,
    category="llm",
    description=(
        "Bigram-LM document quality score — the sharper CCNet-style "
        "perplexity filter: per document, the mean conditional "
        "log-probability ln(c(w1,w2)/c_ctx(w1)) under the corpus's own "
        "bigram MLE (every observed bigram has count >= 1, so the model is "
        "total on its training corpus). Catches word-salad the unigram "
        "filter misses: common words in impossible ORDER score low. "
        "Bigrams are built JVM-side per document (slice + transform with "
        "positional lambda — no shuffle, no Python); per-bigram "
        "contributions accumulate as rounded micro-nat BIGINTs (the dsum "
        "discipline) so the sum is order-independent across partitionings "
        "and engines. Scale shape: bigram and context counts "
        "ride ONE w1-keyed exchange as window sums over the per-doc "
        "counts — no bigram-table join, no cached intermediates; docs "
        "with < 2 tokens keep a row with n_bigrams=0 and NULL score."
    ),
)
def q_llm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the tokenize + bigram-struct explode run before
    # the w1 repartition — inside the single-row-group fixture scan's one
    # task. Per-row expansion; all counts are integers downstream.
    docs = fan_out(t(spark, sf_dir, "documents"))
    big = (
        docs.select("doc_id", ws_tokens("text").alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(toks, 2, greatest(size(toks) - 1, 0)),"
                    " (x, i) -> struct(toks[i] AS w1, x AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
    )
    # WINDOW-SUM form (guide §2.4 "remove shuffles outright").
    # The earlier shape pinned bf and cbf with .cache() and joined three
    # count levels back together — and CacheManager's plan-matching made
    # those caches hit ACROSS bench passes (the "Asked to cache already
    # cached data" warnings), so the committed 0.78 s bench median was
    # measuring warm cache reads, not the query (honest per-call cost:
    # ~2.1 s). Here the two count rollups ride ONE w1-keyed repartition as
    # window sums over bf — cbf = SUM(bf) OVER (PARTITION BY w1, w2) and
    # ctx = SUM(bf) OVER (PARTITION BY w1), both integer sums of the same
    # grouped counts, so every scored value is bit-identical to the
    # join form (oracle green at sf0.001/sf0.01). hash(w1) satisfies the
    # (doc_id, w1, w2) grouping AND both window clusterings, so the plan is
    # one exchange + one sort(w1, w2) + two WindowExecs + the doc rollup:
    # no caches (nothing outlives the call), no joins, corpus exploded
    # once. Honest-release interleaved A/B at sf0.1: 2.15 -> 1.49 s.
    # Scale note: hash(w1) concentrates stopword-fronted bigrams; the hot
    # partition is bounded by the hottest first-word's corpus share — the
    # same colocation any (w1, w2)-keyed SMJ of the join form would force
    # once cbf outgrows broadcast.
    bf = (
        big.repartition("w1")
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("bf"))
    )
    scored = bf.select(
        "doc_id",
        "bf",
        F.sum("bf").over(W.partitionBy("w1", "w2")).alias("cbf"),
        F.sum("bf").over(W.partitionBy("w1")).alias("ctx"),
    )
    # multiplication association mirrors the oracle exactly:
    # (bf * ln(p)) * 1e6 — left-to-right in both engines, identical bits
    micro_term = F.round(
        F.col("bf") * F.log(F.col("cbf").cast("double") / F.col("ctx")) * 1000000
    ).cast("bigint")
    per = scored.groupBy("doc_id").agg(
        F.sum("bf").alias("n_bigrams"), F.sum(micro_term).alias("micro")
    )
    return docs.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias("n_bigrams"),
        (F.col("micro").cast("double") / 1000000 / F.col("n_bigrams")).alias("mean_logprob"),
    )


SAMPLE_K = 5  # docs kept per stratum by the weighted sampler

#: DuckDB twin of Spark's conv(substr(md5(x),1,8),16,10) — fold the 8-char
#: hex prefix to a BIGINT via a from-hex reduce (no native hex cast needed).
_DUCK_HEX8 = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(list_filter(string_split(substr(md5(COALESCE(text, '')), 1, 8), ''), "
    "c -> c <> ''), c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), "
    "(acc, x) -> acc * 16 + x)"
)


@query(
    "q_llm_weighted_sample",
    oracle=f"""
    WITH d AS (
        SELECT source, doc_id,
               CAST(len({DUCK_WS_TOKENS}) AS BIGINT) AS n_tokens,
               {_DUCK_HEX8} AS h
        FROM documents
    ),
    keyed AS (
        SELECT source, doc_id, n_tokens,
               CAST(ROUND(ln((h + 1) / 4294967296.0) / n_tokens * 1000000) AS BIGINT) AS key_micro
        FROM d WHERE n_tokens > 0
    ),
    ranked AS (
        SELECT source, doc_id, n_tokens, key_micro,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY key_micro DESC, doc_id) AS rn
        FROM keyed
    )
    SELECT source, doc_id, n_tokens, key_micro
    FROM ranked WHERE rn <= {SAMPLE_K}
    """,
    category="llm",
    description=(
        "Weighted reservoir sample per stratum (Efraimidis-Spirakis A-ES "
        "exponential keys, derandomized): keep SAMPLE_K docs per source "
        "with inclusion probability proportional to token count — the "
        "standard 'sample the mix, favor substantive docs' step of a "
        "dataset build. Each doc draws u in (0,1] from its MD5 prefix (an "
        "engine-portable uniform, no RNG) and ranks by ln(u)/weight — "
        "equivalent to the u^(1/w) max-key scheme — with the key rounded "
        "to a micro-nat BIGINT + doc_id tiebreak so selection is exact, "
        "reproducible, and engine-identical. Scale shape: one map pass to "
        "key, one shuffle on the stratum for a top-K window — identical "
        "to q_llm_domain_cap's certified shape; zero-token docs are "
        "weightless and excluded."
    ),
)
def q_llm_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = F.conv(F.substring(F.md5(F.coalesce(F.col("text"), F.lit(""))), 1, 8), 16, 10).cast(
        "bigint"
    )
    d = t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(ws_tokens("text")).cast("bigint").alias("n_tokens"),
        h.alias("h"),
    )
    # association mirrors the oracle: ln(u) / w * 1e6, left-to-right
    key = F.round(
        F.log((F.col("h") + 1) / F.lit(4294967296.0)) / F.col("n_tokens") * 1000000
    ).cast("bigint")
    keyed = d.filter(F.col("n_tokens") > 0).select(
        "source", "doc_id", "n_tokens", key.alias("key_micro")
    )
    w = W.partitionBy("source").orderBy(F.col("key_micro").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_K)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training: the classic iterative pair-merge loop,
# run — as every production BPE trainer does — on the WORD-FREQUENCY DICT,
# not the raw corpus: one corpus scan builds the dict, then every iteration
# touches only the vocabulary-sized table (the model, not the data), so the
# loop's cost is independent of corpus size. Greedy left-to-right merge
# application via a JVM-side aggregate() fold — no Python in the loop.
# ---------------------------------------------------------------------------

BPE_MERGES = 8  # merges learned by q_llm_bpe_merges
BPE_END = "</w>"

_PAIR_EXPR = (
    "transform(slice(syms, 2, greatest(size(syms) - 1, 0)),"
    " (x, i) -> struct(syms[i] AS left_sym, x AS right_sym))"
)


def bpe_word_dict(docs: DataFrame) -> DataFrame:
    """One corpus scan: whitespace words -> (syms, freq) dict, each word as
    its character sequence plus the ``</w>`` end marker."""
    return (
        docs.select(F.explode(ws_tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.expr(f"concat(split(word, ''), array('{BPE_END}'))").alias("syms"),
            "freq",
        )
    )


def bpe_pair_counts(word_dict: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency."""
    return (
        word_dict.select("freq", F.explode(F.expr(_PAIR_EXPR)).alias("p"))
        .groupBy("p.left_sym", "p.right_sym")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )


def bpe_apply_merge(word_dict: DataFrame, left: str, right: str) -> DataFrame:
    """Greedy left-to-right merge of the (left, right) pair inside every
    symbol sequence — a JVM-side aggregate() fold carrying (emitted, pending)
    state, so overlapping runs merge exactly like reference BPE trainers
    ('aaa' + (a,a) -> ['aa','a'])."""
    return word_dict.select(
        F.expr(_merge_fold_sql(left, right)).alias("syms"), "freq"
    )


def _merge_fold_sql(left: str, right: str) -> str:
    """The greedy leftmost-pair merge as a Spark SQL aggregate() fold over
    a ``syms`` column — shared by the trainer (bpe_apply_merge) and the
    encoder (bpe_encode) so both apply EXACTLY the same semantics."""

    # escape backslashes BEFORE quotes: a symbol containing `\` (or ending
    # in one) would otherwise eat the closing quote and misparse the fold
    # SQL — real-world corpora contain backslash tokens
    def esc(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    l, r = esc(left), esc(right)
    return (
        "aggregate(syms,"
        " named_struct('acc', cast(array() as array<string>), 'pend', cast(null as string)),"
        " (s, x) -> CASE"
        f"  WHEN s.pend IS NULL THEN named_struct('acc', s.acc, 'pend', cast(x as string))"
        f"  WHEN s.pend = '{l}' AND x = '{r}' THEN"
        f"   named_struct('acc', concat(s.acc, array('{l}{r}')), 'pend', cast(null as string))"
        "  ELSE named_struct('acc', concat(s.acc, array(s.pend)), 'pend', cast(x as string)) END,"
        " s -> CASE WHEN s.pend IS NULL THEN s.acc ELSE concat(s.acc, array(s.pend)) END)"
    )


def bpe_train(word_dict: DataFrame, n_merges: int) -> list[tuple]:
    """Learn ``n_merges`` BPE merges: each iteration takes the globally most
    frequent adjacent pair (count DESC, then lexicographic left/right — fully
    deterministic) and folds it into the dict. One driver-side ``.first()``
    per iteration — the same iterate-measure-update shape as k-means; the
    dict goes behind a barrier each step so fold lineage never stacks."""
    merges = []
    cur = barrier(word_dict)
    for rank in range(1, n_merges + 1):
        top = (
            bpe_pair_counts(cur)
            .orderBy(F.col("cnt").desc(), "left_sym", "right_sym")
            .first()
        )
        if top is None or top.cnt is None:
            break
        merges.append((rank, top.left_sym, top.right_sym, top.left_sym + top.right_sym, top.cnt))
        cur = barrier(bpe_apply_merge(cur, top.left_sym, top.right_sym))
    return merges


@query(
    "q_llm_bpe_first_merge",
    oracle=f"""
    WITH w AS (
        SELECT u.token AS word, COUNT(*) AS freq
        FROM documents d, UNNEST({DUCK_WS_TOKENS}) AS u(token)
        GROUP BY u.token
    ),
    s AS (
        SELECT list_append(string_split(word, ''), '{BPE_END}') AS syms, freq FROM w
    ),
    p AS (
        SELECT syms[i] AS left_sym, syms[i + 1] AS right_sym,
               CAST(SUM(freq) AS BIGINT) AS cnt
        FROM s, UNNEST(range(1, len(syms))) AS r(i)
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT left_sym, right_sym, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, left_sym, right_sym) AS rank
        FROM p
    )
    SELECT rank, left_sym, right_sym, cnt FROM ranked WHERE rank <= 10
    """,
    category="llm",
    description=(
        "BPE merge candidates, iteration 1 (the oracled gate twin of the "
        "iterative q_llm_bpe_merges): top-10 adjacent character pairs by "
        "corpus frequency over the word-frequency dict, deterministic "
        "(cnt DESC, lexicographic) tiebreak. One corpus scan builds the "
        "dict; everything after is vocabulary-sized. The top-1 row here IS "
        "the loop's first learned merge — pytest pins that identity."
    ),
)
def q_llm_bpe_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = bpe_pair_counts(bpe_word_dict(t(spark, sf_dir, "documents")))
    top = pairs.orderBy(F.col("cnt").desc(), "left_sym", "right_sym").limit(10)
    # rank the 10 surviving rows only — the global sort is TakeOrdered, the
    # window never sees more than 10 rows
    w = W.orderBy(F.col("cnt").desc(), "left_sym", "right_sym")
    return top.select(
        F.row_number().over(w).alias("rank"), "left_sym", "right_sym", "cnt"
    )


#: The BPE merge table: the model artifact a tokenizer ships.
_BPE_SCHEMA = "rank int, left_sym string, right_sym string, merged string, cnt bigint"


@query(
    "q_llm_bpe_merges",
    category="llm",
    description=(
        "BPE tokenizer training (rows-only; its oracled gate twin is "
        "q_llm_bpe_first_merge, whose top-1 row pytest pins to this loop's "
        "first merge): learn BPE_MERGES merges by the classic iterative "
        "argmax-and-fold on the word-frequency dict. Scale shape: ONE "
        "corpus scan builds the dict; every iteration runs on the "
        "vocabulary-sized table with a JVM-side aggregate() fold and one "
        "driver .first() for the argmax (the k-means iterate shape); "
        "a barrier truncates fold lineage each step. Returns the "
        "merge table (rank, left_sym, right_sym, merged, cnt) — the model "
        "artifact a tokenizer ships."
    ),
)
def q_llm_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = bpe_train(bpe_word_dict(t(spark, sf_dir, "documents")), BPE_MERGES)
    return local_frame(spark, merges, _BPE_SCHEMA)


#: The canonical BPE textbook example (low x5, lower x2, newest x6,
#: widest x3) and its full merge sequence: (e,s) wins the 9-way count tie
#: lexicographically, cascades through (es,t) and (est,</w>), then the
#: (l,o)/(o,w) tie resolves to (l,o) and folds into (lo,w). Independent of
#: any fixture scale — the gate carries its own corpus, like the Porter gate.
_BPE_GOLDEN_TEXT = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
_BPE_GOLDEN_MERGES = [
    (1, "e", "s", "es", 9),
    (2, "es", "t", "est", 9),
    (3, "est", "</w>", "est</w>", 9),
    (4, "l", "o", "lo", 7),
    (5, "lo", "w", "low", 7),
]


@query(
    "q_llm_bpe_merges_gate",
    oracle="SELECT TRUE AS ok",
    category="llm",
    description=(
        "Gate for the full iterative BPE trainer: runs bpe_train "
        "end-to-end — argmax-and-fold loop, greedy "
        "left-to-right merge application, lineage-truncating checkpoints — "
        "on the canonical textbook corpus it carries (sf-independent, like "
        "the Porter gate) and emits ok = the ENTIRE learned merge sequence "
        "equals the golden one, via a full-outer join on every column with "
        "per-side presence counts (any missing, extra, or differing row "
        "flips ok). With this the rows-only q_llm_bpe_merges loop is "
        "driver-visible end-to-end, not just its first merge."
    ),
)
def q_llm_bpe_merges_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = local_frame(spark, [(1, _BPE_GOLDEN_TEXT)], "doc_id bigint, text string")
    merges = bpe_train(bpe_word_dict(docs), len(_BPE_GOLDEN_MERGES))
    got = local_frame(spark, merges, _BPE_SCHEMA).withColumn("g", F.lit(1))
    want = local_frame(spark, _BPE_GOLDEN_MERGES, _BPE_SCHEMA).withColumn("w", F.lit(1))
    cols = ["rank", "left_sym", "right_sym", "merged", "cnt"]
    n = len(_BPE_GOLDEN_MERGES)
    return got.join(want, cols, "full_outer").agg(
        (
            (F.count(F.lit(1)) == n)
            & (F.sum("g") == n)
            & (F.sum("w") == n)
        ).alias("ok")
    )


QUALITY_KEEP_FRAC = 0.5  # keep the top half of each source by LM score


@query(
    "q_llm_quality_filter_mix",
    oracle=f"""
    WITH tok AS (
        SELECT d.doc_id, u.token AS term
        FROM documents d, UNNEST({DUCK_WS_TOKENS}) AS u(token)
    ),
    ctf AS (SELECT term, COUNT(*) AS ctf FROM tok GROUP BY term),
    tot AS (SELECT COUNT(*) AS total FROM tok),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    per AS (
        SELECT tf.doc_id,
               SUM(tf.tf) AS n_tokens,
               SUM(CAST(ROUND(tf.tf * ln(CAST(ctf.ctf AS DOUBLE) / tot.total) * 1000000) AS BIGINT)) AS micro
        FROM tf JOIN ctf USING (term) CROSS JOIN tot
        GROUP BY tf.doc_id
    ),
    scored AS (
        SELECT d.source, d.doc_id,
               CAST(per.micro AS DOUBLE) / 1000000 / per.n_tokens AS score
        FROM documents d JOIN per ON d.doc_id = per.doc_id
        WHERE per.n_tokens > 0
    ),
    ranked AS (
        SELECT source, doc_id, score,
               PERCENT_RANK() OVER (PARTITION BY source
                                    ORDER BY score DESC, doc_id) AS pr
        FROM scored
    )
    SELECT source, doc_id FROM ranked WHERE pr <= {QUALITY_KEEP_FRAC}
    """,
    category="llm",
    description=(
        "Quality-filtered mix — the keep/drop decision a curation pipeline "
        "actually makes: rank every doc within its source by the "
        "corpus-unigram-LM score (the certified q_llm_unigram_logprob "
        "kernel, bit-identical doubles in both engines) and keep the top "
        "QUALITY_KEEP_FRAC by percent_rank with doc_id tiebreak. "
        "Deterministic because the score itself is hash-proved "
        "engine-identical; unscoreable (0-token) docs are excluded. Scale "
        "shape: the scorer's aggregations plus ONE extra shuffle on the "
        "source key for the partitioned rank window."
    ),
)
def q_llm_quality_filter_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = (
        q_llm_unigram_logprob(spark, sf_dir)
        .filter(F.col("n_tokens") > 0)
        .join(t(spark, sf_dir, "documents").select("doc_id", "source"), "doc_id")
        .select("source", "doc_id", F.col("mean_logprob").alias("score"))
    )
    w = W.partitionBy("source").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") <= QUALITY_KEEP_FRAC)
        .select("source", "doc_id")
    )


# ---------------------------------------------------------------------------
# BPE encoding: APPLY a fixed merge table to a corpus — the
# production half of the tokenizer story (training produces the artifact;
# every data pipeline then encodes with it).
# ---------------------------------------------------------------------------

#: The shipped tokenizer artifact the encode queries apply — the golden
#: textbook merge table (rank order), a fixed engine constant exactly like a
#: production tokenizer file.
BPE_ENCODE_MERGES: tuple[tuple[str, str], ...] = (
    ("e", "s"),
    ("es", "t"),
    ("est", "</w>"),
    ("l", "o"),
    ("lo", "w"),
)


def bpe_encode(words: DataFrame, merges=BPE_ENCODE_MERGES, checkpoint_every: int = 8) -> DataFrame:
    """Encode distinct words with a learned BPE merge table.

    ``words`` has a ``word`` string column (any other columns pass through);
    returns it with ``syms`` — the BPE symbol sequence after applying every
    merge in rank order, each a greedy leftmost fold (the SAME
    ``_merge_fold_sql`` text the trainer folds with, so train→encode
    round-trips are exact).

    Scale shape: dictionary encoding — callers pass DISTINCT words (the
    vocab-sized table, like inverted_index's stem stage), apply the K folds
    JVM-side, and join the encoded vocab back onto the corpus; the corpus
    itself never runs the fold. Merge K is bounded by the artifact (10k-100k in
    production); lineage/codegen depth is truncated every
    ``checkpoint_every`` merges.
    """
    cur = words.withColumn(
        "syms", F.expr(f"concat(split(word, ''), array('{BPE_END}'))")
    )
    passthrough = [c for c in words.columns]
    for k, (l, r) in enumerate(merges):
        cur = cur.select(
            *passthrough, F.expr(_merge_fold_sql(l, r)).alias("syms")
        )
        if (k + 1) % checkpoint_every == 0 and (k + 1) < len(merges):
            cur = barrier(cur)
    return cur


@query(
    "q_llm_bpe_encode",
    category="llm",
    description=(
        "BPE-encode the corpus vocabulary with the fixed golden merge table "
        "(rows-only; its oracled twin is q_llm_bpe_encode_gate, which "
        "replays the encoder on the textbook corpus against hand-computed "
        "golden sequences, and tests/test_udf_llm.py runs a word-for-word "
        "differential against an independent Python BPE encoder at sf "
        "scale). Dictionary encoding: ONE corpus scan builds the distinct "
        "word dict, the K merge folds run vocab-sized and JVM-side, and "
        "the output is the encoded lexicon (word, syms, n_syms) a token "
        "budgeter joins back onto the corpus — the corpus never crosses "
        "into the fold."
    ),
)
def q_llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = (
        bpe_word_dict(t(spark, sf_dir, "documents"))
        .select(F.array_join(F.slice("syms", 1, F.size("syms") - 1), "").alias("word"), "freq")
    )
    enc = bpe_encode(words)
    return enc.select(
        "word",
        "freq",
        F.array_join("syms", " ").alias("encoding"),
        F.size("syms").alias("n_syms"),
    )


#: Hand-computed golden encodings of the textbook corpus under
#: BPE_ENCODE_MERGES (see q_llm_bpe_merges_gate for the corpus):
#:   low:    l o w </w>      -> (l,o) -> (lo,w) -> [low, </w>]
#:   lower:  l o w e r </w>  -> (l,o) -> (lo,w) -> [low, e, r, </w>]
#:   newest: n e w e s t </w>-> (e,s) -> (es,t) -> (est,</w>) -> [n,e,w,est</w>]
#:   widest: w i d e s t </w>-> same cascade        -> [w,i,d,est</w>]
_BPE_ENCODE_GOLDENS = [
    ("low", "low </w>"),
    ("lower", "low e r </w>"),
    ("newest", "n e w est</w>"),
    ("widest", "w i d est</w>"),
]


@query(
    "q_llm_bpe_encode_gate",
    oracle="SELECT TRUE AS ok",
    category="llm",
    description=(
        "Driver gate for the BPE encoder: encode the textbook corpus's "
        "four words with the golden merge table and require the full "
        "encoded lexicon to equal the hand-computed sequences (full-outer "
        "join, per-side presence counts — any missing, extra, or differing "
        "row flips ok). Together with q_llm_bpe_merges_gate this makes the "
        "train -> ship-artifact -> encode loop driver-visible end to end."
    ),
)
def q_llm_bpe_encode_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = local_frame(spark, [(w,) for w, _ in _BPE_ENCODE_GOLDENS], "word string")
    got = (
        bpe_encode(words)
        .select("word", F.array_join("syms", " ").alias("encoding"))
        .withColumn("g", F.lit(1))
    )
    want = local_frame(spark, _BPE_ENCODE_GOLDENS, "word string, encoding string").withColumn(
        "w", F.lit(1)
    )
    n = len(_BPE_ENCODE_GOLDENS)
    return got.join(want, ["word", "encoding"], "full_outer").agg(
        (
            (F.count(F.lit(1)) == n) & (F.sum("g") == n) & (F.sum("w") == n)
        ).alias("ok")
    )


@query(
    "q_llm_corpus_funnel",
    oracle=f"""
    WITH d AS (
        SELECT source,
               md5(lower(trim(text))) AS fp,
               len({DUCK_WS_TOKENS}) AS n_tok
        FROM documents
    ),
    q AS (SELECT * FROM d WHERE n_tok BETWEEN 10 AND 5000),
    u AS (SELECT source, fp, MIN(n_tok) AS n_tok FROM q GROUP BY source, fp),
    raw AS (SELECT source, COUNT(*) AS n_raw FROM d GROUP BY source),
    qc AS (SELECT source, COUNT(*) AS n_quality FROM q GROUP BY source),
    uc AS (SELECT source, COUNT(*) AS n_unique,
                  CAST(SUM(n_tok) AS BIGINT) AS tokens_final
           FROM u GROUP BY source)
    SELECT raw.source,
           n_raw,
           CAST(COALESCE(n_quality, 0) AS BIGINT) AS n_quality,
           CAST(COALESCE(n_unique, 0) AS BIGINT) AS n_unique,
           CAST(COALESCE(tokens_final, 0) AS BIGINT) AS tokens_final
    FROM raw
    LEFT JOIN qc ON raw.source IS NOT DISTINCT FROM qc.source
    LEFT JOIN uc ON raw.source IS NOT DISTINCT FROM uc.source
    """,
    category="llm",
    description=(
        "Corpus funnel report: the per-source stage counts a training-data "
        "pipeline publishes with every snapshot — raw documents, quality "
        "survivors (10-5000 token rule; NULL-token docs fail the BETWEEN "
        "identically on both engines), exact-dedup survivors (MD5 "
        "fingerprint groups among quality passers), and the final token "
        "budget over the deduped set. Composition of certified stages in "
        "ONE lazy DAG: the doc-sized (source, fp, n_tok) projection is "
        "computed once and feeds all three stage aggregations; every join "
        "key is null-safe (IS NOT DISTINCT FROM / eqNullSafe) so a "
        "NULL-source batch reconciles instead of silently dropping. All "
        "outputs exact BIGINTs."
    ),
)
def q_llm_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text_stats import fingerprint_md5

    docs = t(spark, sf_dir, "documents")
    d = barrier(
        docs.select(
            "source", fingerprint_md5("text").alias("fp"), F.size(ws_tokens("text")).alias("n_tok")
        )
    )
    q = d.filter((F.col("n_tok") >= 10) & (F.col("n_tok") <= 5000))
    u = q.groupBy("source", "fp").agg(F.min("n_tok").alias("n_tok"))
    raw = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    qc = q.groupBy("source").agg(F.count(F.lit(1)).alias("_nq")).withColumnRenamed(
        "source", "_qs"
    )
    uc = (
        u.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("_nu"),
            F.sum("n_tok").cast("bigint").alias("_tf"),
        )
        .withColumnRenamed("source", "_us")
    )
    return (
        raw.join(qc, F.col("source").eqNullSafe(F.col("_qs")), "left")
        .join(uc, F.col("source").eqNullSafe(F.col("_us")), "left")
        .select(
            "source",
            "n_raw",
            F.coalesce(F.col("_nq"), F.lit(0)).cast("bigint").alias("n_quality"),
            F.coalesce(F.col("_nu"), F.lit(0)).cast("bigint").alias("n_unique"),
            F.coalesce(F.col("_tf"), F.lit(0)).cast("bigint").alias("tokens_final"),
        )
    )


#: Multinomial sampling temperature for the source mix (LLaMA-style n^alpha).
MIX_ALPHA = 0.5


@query(
    "q_llm_temperature_mix",
    oracle=f"""
    WITH sized AS (
        SELECT source, CAST(SUM(len({DUCK_WS_TOKENS})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (SELECT source, n_tokens, POWER(n_tokens, 0.5) AS w_raw FROM sized),
    -- dsum discipline even over a |sources|-row table: the denominator is a
    -- float sum, so it quantizes to micro-BIGINTs before summing — weight
    -- ratios never depend on row order or partitioning
    tot AS (SELECT CAST(SUM(CAST(ROUND(w_raw * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS denom FROM w)
    SELECT source, n_tokens,
           w_raw / tot.denom AS weight,
           CAST(ROUND(w_raw / tot.denom * 1000000) AS BIGINT) AS ppm
    FROM w CROSS JOIN tot
    """,
    category="llm",
    description=(
        "Temperature-weighted source mixing (alpha=0.5): per-source "
        "sampling weights proportional to n_tokens^alpha — the multinomial "
        "upsampling that keeps small high-quality sources from drowning "
        "under web-scale ones. Per-source token totals are exact BIGINTs "
        "from one corpus pass; the weight denominator quantizes on the "
        "micro grid (dsum discipline) so the published weights — emitted "
        "both as raw doubles and integer parts-per-million — are "
        "bit-identical across engines and partitionings."
    ),
)
def q_llm_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    sized = docs.groupBy("source").agg(
        F.sum(F.size(ws_tokens("text"))).cast("bigint").alias("n_tokens")
    )
    w = sized.withColumn("w_raw", F.pow("n_tokens", F.lit(0.5)))
    tot = w.agg(
        (
            F.sum(F.round(F.col("w_raw") * 1000000).cast("bigint")).cast("double")
            / 1000000
        ).alias("denom")
    )
    # try_divide, not `/`: on a degenerate all-empty corpus every
    # w_raw is 0 and the quantized denom is exactly 0 — ANSI Spark would throw
    # DIVIDE_BY_ZERO where DuckDB's plain division yields NULL. try_divide is
    # DuckDB's exact semantics and bit-identical for non-zero denominators
    # (the repo-wide discipline; see cosine_similarity).
    weight = F.try_divide(F.col("w_raw"), F.col("denom"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            weight.alias("weight"),
            F.round(weight * 1000000).cast("bigint").alias("ppm"),
        )
    )
