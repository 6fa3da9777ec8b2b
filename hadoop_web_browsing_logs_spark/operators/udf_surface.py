"""UDF surface (SURVEY B14): every Python-extension shape the engine
supports, each with an exact cross-engine oracle where the math allows.

In the reference *everything* is user code (Mapper/Reducer classes); here the
UDF surface is deliberately tiny and typed:

- scalar ``pandas_udf``          → the Porter stemmer (functions/porter.py)
- grouped-map ``applyInPandas``  → per-group normalization (this module)
- grouped-agg ``pandas_udf``     → median aggregation (this module)
- row Python UDF                 → digit-checksum demo (this module; the
                                   documented slow path — kept off hot paths)
- ``mapInPandas``                → multimodal featurize (operators/multimodal.py)
- ``applyInPandasWithState``     → streaming counter (streaming/windows.py)
- Python UDTF + lateral join     → context-window chunker (this module;
                                   PySpark-4 table-valued function)
- cogrouped-map ``applyInPandas``→ per-order fulfillment stats (this module)

Determinism notes: the grouped-map z-score uses exact integer moments (not
pandas float accumulation) so the oracle's SQL formula lands on identical
doubles; the grouped-agg median involves no accumulation (sort + midpoint)
so numpy and DuckDB ``quantile_cont(0.5)`` agree bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text_stats import DUCK_WS_TOKENS
from ..plans.registry import query
from ._util import t


@query(
    "q_udf_grouped_map",
    oracle="""
    SELECT doc_id, lang, n_chars,
           CASE WHEN n > 1 AND s2 * n > s1 * s1 THEN
               (n_chars - CAST(s1 AS DOUBLE) / n)
               / sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
           ELSE 0.0 END AS zscore
    FROM (
        SELECT doc_id, lang, n_chars,
               COUNT(*)            OVER (PARTITION BY lang) AS n,
               SUM(n_chars)        OVER (PARTITION BY lang) AS s1,
               SUM(n_chars*n_chars) OVER (PARTITION BY lang) AS s2
        FROM documents
    )
    """,
    category="udf",
    description="Grouped-map applyInPandas: per-language z-score of doc length, computed from exact integer moments inside the Python worker — oracle reproduces the same closed form in SQL.",
)
def q_udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        s1 = int(pdf["n_chars"].astype("int64").sum())
        s2 = int((pdf["n_chars"].astype("int64") ** 2).sum())
        if n > 1 and s2 * n > s1 * s1:
            mean = s1 / n
            var = (s2 - s1 * s1 / n) / (n - 1)
            z = (pdf["n_chars"] - mean) / var**0.5
        else:
            z = pd.Series(0.0, index=pdf.index)
        return pdf.assign(zscore=z)

    return docs.groupBy("lang").applyInPandas(
        zscore, schema="doc_id BIGINT, lang STRING, n_chars BIGINT, zscore DOUBLE"
    )


@query(
    "q_udf_grouped_agg",
    oracle="""
    SELECT o_orderpriority AS orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
    category="udf",
    description="Grouped-agg pandas_udf: numpy median per group (sort+midpoint, no accumulation → bit-equal to quantile_cont(0.5)).",
)
def q_udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    @F.pandas_udf(T.DoubleType())
    def median_udaf(prices: pd.Series) -> float:
        return float(np.median(prices.to_numpy()))

    o = t(spark, sf_dir, "orders")
    # grouped-agg pandas UDFs can't mix with JVM aggregates in one agg() —
    # compute the count separately and join (both sides tiny post-agg)
    # round both sides: numpy's even-count midpoint (a+b)/2 and DuckDB's
    # a+(b-a)*0.5 interpolation can differ in the final ulp
    med = o.groupBy(F.col("o_orderpriority").alias("orderpriority")).agg(
        F.round(median_udaf("o_totalprice"), 4).alias("median_price")
    )
    cnt = o.groupBy(F.col("o_orderpriority").alias("orderpriority")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return med.join(cnt, "orderpriority")


@query(
    "q_udf_python_row",
    oracle="""
    SELECT o_orderkey,
           CAST(list_sum(list_transform(list_filter(string_split(CAST(o_orderkey AS VARCHAR), ''), c -> c <> ''),
                                        c -> CAST(c AS BIGINT))) AS BIGINT) AS digit_sum,
           CAST(list_sum(list_transform(list_filter(string_split(CAST(o_orderkey AS VARCHAR), ''), c -> c <> ''),
                                        c -> CAST(c AS BIGINT))) % 9 AS BIGINT) AS checksum
    FROM orders
    WHERE o_orderkey % 50 = 0
    """,
    category="udf",
    description="Row-at-a-time Python UDF (the documented slow path, sampled rows): digit-sum checksum — kept as the mechanism demo; production paths use pandas_udf.",
)
def q_udf_python_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.udf(T.LongType())
    def digit_sum(k: int) -> int:
        return sum(int(c) for c in str(k))

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    return o.select(
        "o_orderkey",
        digit_sum("o_orderkey").alias("digit_sum"),
        (digit_sum("o_orderkey") % 9).alias("checksum"),
    )


# ---------------------------------------------------------------------------
# Python UDTF (PySpark 4): table-valued function + lateral join (round 8)
# ---------------------------------------------------------------------------


class _ContextWindows:
    """UDTF: explode one document into overlapping fixed-size token windows
    (length 10, stride 5) — the context-window chunking an LLM pretraining
    pipeline runs before packing. Window tokens are whitespace tokens of
    lower(trim(text)); a NULL/empty doc yields no rows."""

    def eval(self, doc_id, text):  # noqa: ANN001 — UDTF protocol
        if text is None:
            return
        import re

        toks = [tk for tk in re.split(r"\s+", text.strip().lower()) if tk]
        for i, start in enumerate(range(0, len(toks), 5)):
            w = toks[start : start + 10]
            yield doc_id, i, " ".join(w), len(w)


@query(
    "q_udtf_context_windows",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {DUCK_WS_TOKENS} AS tk
        FROM documents
        WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CAST(g.s // 5 AS INT) AS win_idx,
           array_to_string(tk[CAST(g.s + 1 AS BIGINT):CAST(LEAST(g.s + 10, len(tk)) AS BIGINT)], ' ') AS win_text,
           CAST(LEAST(g.s + 10, len(tk)) - g.s AS INT) AS n_tokens
    FROM toks, UNNEST(range(0, len(tk), 5)) AS g(s)
    WHERE len(tk) > 0
    """,
    category="udf",
    description=(
        "Python UDTF (PySpark 4 table-valued function) through a LATERAL "
        "join: each document explodes into overlapping 10-token context "
        "windows at stride 5 — the chunking step before sequence packing. "
        "Declared Python-path API demo (B14): the same windows are "
        "SQL-expressible (the oracle builds them with range+list slicing), "
        "which is what makes the UDTF mechanism itself provable. Scale "
        "shape: the lateral join is row-local (no shuffle); the Python "
        "stage is the documented cost."
    ),
)
def q_udtf_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    windows = udtf(
        _ContextWindows,
        returnType="doc_id bigint, win_idx int, win_text string, n_tokens int",
    )
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("_did"), "text"
    )
    return docs.lateralJoin(
        windows(F.col("_did").outer(), F.col("text").outer())
    ).select("doc_id", "win_idx", "win_text", "n_tokens")


@query(
    "q_udf_cogrouped_map",
    oracle="""
    SELECT COALESCE(o.k, l.k) AS o_orderkey,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(l.n_items, 0) AS n_items,
           CAST(COALESCE(l.ext_cents, 0) AS BIGINT) AS ext_cents
    FROM (SELECT o_orderkey AS k, COUNT(*) AS n_orders
          FROM orders WHERE o_orderkey % 37 = 0 GROUP BY o_orderkey) o
    FULL JOIN (SELECT l_orderkey AS k, COUNT(*) AS n_items,
                      CAST(SUM(TRY_CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ext_cents
               FROM lineitem WHERE l_orderkey % 37 = 0 GROUP BY l_orderkey) l
      ON o.k = l.k
    """,
    category="udf",
    description=(
        "Cogrouped-map applyInPandas (the last pandas-API shape): orders "
        "and lineitem cogrouped on a 64-way orderkey hash bucket, the "
        "Python worker receiving BOTH groups' frames at once and emitting "
        "per-order fulfillment stats (vectorized pandas groupby per "
        "bucket) with exact integer-cents money math — oracled by the "
        "equivalent FULL JOIN of two SQL aggregates. Sampled keys "
        "(orderkey % 37 = 0): a declared Python-path mechanism demo, like "
        "the row-UDF; production aggregation stays JVM-side."
    ),
)
def q_udf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cogroup on a HASH BUCKET of the orderkey, not the raw orderkey
    # (round 16, guide §4: applyInPandas invokes the Python function once
    # per group — per-orderkey grouping paid one pandas-DataFrame
    # construction per order, ~4k Python calls of 1-row frames dominating
    # the query at 9.1 s/sf0.1. 64 buckets keep the identical cogrouped
    # FlatMapCoGroupsInPandas mechanism and per-order output rows, but the
    # per-order stats are computed VECTORIZED inside each bucket with one
    # pandas groupby — 64 calls instead of ~4k). The bucket key is a
    # deterministic pmod(xxhash64(key), 64) on both sides, so every
    # orderkey lands in exactly one group and the output is row-identical.
    n_buckets = 64
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 37 == 0)
        .select("o_orderkey", F.pmod(F.xxhash64("o_orderkey"), F.lit(n_buckets)).alias("bk"))
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 37 == 0)
        .select(
            "l_orderkey",
            "l_extendedprice",
            F.pmod(F.xxhash64("l_orderkey"), F.lit(n_buckets)).alias("bk"),
        )
    )

    return (
        o.groupBy("bk")
        .cogroup(li.groupBy("bk"))
        .applyInPandas(
            _cogroup_fulfillment,
            schema="o_orderkey bigint, n_orders bigint, n_items bigint, ext_cents bigint",
        )
    )


def _cogroup_fulfillment(key: tuple, opdf: pd.DataFrame, lpdf: pd.DataFrame) -> pd.DataFrame:
    """Per-bucket vectorized fulfillment stats for q_udf_cogrouped_map —
    module-level so the empty-side branches (an orders-only or
    lineitem-only bucket — shapes the TPC-H fixture never produces) stay
    unit-tested (tests/test_udf_llm.py)."""
    import numpy as np

    # per-order counts on the orders side of the bucket
    no = (
        opdf.groupby("o_orderkey").size()
        if len(opdf)
        else pd.Series(dtype="int64")
    )
    if len(lpdf):
        # exact integer cents per row (prices are positive 2-decimal
        # values, so floor(x*100 + 0.5) == ROUND(x*100) in both
        # engines), summed as int64 — no float accumulation to diverge
        # from the SQL twin
        cents = np.floor(
            lpdf["l_extendedprice"].to_numpy() * 100 + 0.5
        ).astype(np.int64)
        g = pd.DataFrame(
            {"k": lpdf["l_orderkey"].to_numpy(), "c": cents}
        ).groupby("k")["c"]
        ni = g.size()
        ec = g.sum()
    else:
        ni = pd.Series(dtype="int64")
        ec = pd.Series(dtype="int64")
    # full-outer alignment on the orderkey index, INTEGER end-to-end
    # (ADVICE r16): reindex each int64 series to the union index with
    # fill_value=0 instead of the old DataFrame+fillna, whose missing-slot
    # NaNs silently widened the column to float64 — exact below 2^53 but a
    # latent precision hazard for bigger cents sums or reuse elsewhere
    idx = no.index.union(ni.index)
    return pd.DataFrame(
        {
            "o_orderkey": idx.to_numpy(dtype="int64"),
            "n_orders": no.reindex(idx, fill_value=0).to_numpy(dtype="int64"),
            "n_items": ni.reindex(idx, fill_value=0).to_numpy(dtype="int64"),
            "ext_cents": ec.reindex(idx, fill_value=0).to_numpy(dtype="int64"),
        }
    )
