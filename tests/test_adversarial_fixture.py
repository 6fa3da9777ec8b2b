"""Adversarial-fixture differential gate (round 6, extended round 7).

100 TB corpora contain garbage: empty and whitespace-only documents,
zero-norm embeddings (dead rows, padding), constant-value event bursts
(stddev 0), null JSON props. Round 6's sweep of the full registry over such
a fixture found five real defects — ANSI Spark throws DIVIDE_BY_ZERO where
DuckDB's division yields NULL (token-Jaccard 0/0, cosine of zero vectors,
quality-score ratios), SimHash signed empty docs as all-ones vs DuckDB's 0,
and chunking emitted a phantom empty chunk rendered '' vs NULL.

Round 7 extended the poison with NaN/±Inf metric values, NULL event
time/type/user, NULL document text/lang/source, and NaN/Inf/NULL
embeddings — and found 13 more: the integer-cents dsum crashed CAST_OVERFLOW
on NaN in six money-sum queries (fix: try_cast, NULL-skipped in both
engines), Spark's F.window/session_window silently DROP null event times
while the oracles kept them, NULL users merged into a real retention cohort
via window partitioning while the oracle's USING join dropped them, NULL
text hashed to different train/test splits (md5(NULL)→NULL CASE-fallback vs
DuckDB list_prepend(0,NULL)→bucket 0), a NULL map key crashed q_scalar_map,
bytes(None) crashed the multimodal Arrow batch, and non-finite embeddings
crashed int8 quantization in BOTH engines.

A second round-7 sweep added malformed JSON props (truncated, empty,
wrong-typed k, array root, deep nesting) and dimension-contract violations
(empty + 3-dim vectors in a declared-64-dim column): DuckDB's
json_extract_string RAISES on invalid JSON where Spark's get_json_object is
total, a non-numeric k crashed both engines' BIGINT cast, the engines
disagree on dot products between different-dimension vectors (Spark zip_with
NULL-pads; DuckDB's range-indexed list_sum skips NULLs), and empty-vector
sums diverge (aggregate-with-init 0 vs list_sum NULL). Fixes: json_valid
guard + TRY_CAST on both sides; every pairwise-vector query scans through
vectors.load_vectors / DUCK_VECTORS (the declared-dimension contract);
quantization excludes empty vectors.

Round 9 (VERDICT r8 item 7) extended the poison to the graph/BPE families:
a NULL-custkey order carrying both NULL-key and live-key lineitems (the
purchase-graph and co-order builders' IS NOT NULL / a<b drops must agree
across engines, and ~40 other lineitem/orders consumers re-prove NULL-key
join/group parity), a 3000-symbol single word (aggregate() fold depth), a
word at 20k corpus frequency (BIGINT pair counts), and words made of
backslashes/quotes (the merge-fold SQL-literal escaping fixed by ADVICE
r8). First sweep: green — no new divergences. Self-loop / zero-weight /
negative-weight edges can't flow through COUNT(*)-weighted fixture
builders, so those live as direct pagerank() API tests in test_graph.py.

Round 10 (VERDICT r9 item 6 + ADVICE r9): typed-k JSON values (float /
boolean / decimal-string / int64-overflow / exponent) pin the divergent
cast semantics the round-10 probe found — Spark's variant-get truncates
doubles and maps booleans to 1/0, Spark's try_cast(string) accepts only
strictly-integral text, DuckDB's TRY_CAST rounds — now replicated
per-json_type in the q_scalar_variant/q_scalar_json oracles. The backslash
BPE row carries REAL backslashes (the round-9 row held a backspace control
char from an unescaped f-string; that class is kept as an explicit chr(8)
row). New classes: a query-term-only BM25 doc (tf saturation), an
all-stopword doc, a zero-token source and a NULL-text source (temperature
mix / funnel must distinguish weight 0 from weight NULL), and a constant
hourly series paired with a varying one (Spearman's zero-variance ranks →
rho NULL on both engines).

This test pins all the fixes: it poisons a copy of the sf0.001 fixture with
those rows and replays EVERY registered oracle differentially — an engine
crash or an engine/oracle divergence on degenerate data fails with the
query named.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from hadoop_web_browsing_logs_spark.plans.oracle import audit
from hadoop_web_browsing_logs_spark.plans.registry import get_query
from hadoop_web_browsing_logs_spark.sources.readers import TABLE_NAMES

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def adversarial_sf(tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("adversarial_sf"))
    con = duckdb.connect()
    for t in TABLE_NAMES:
        if t in ("documents", "events", "embeddings", "lineitem", "orders"):
            continue
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet"))
    # round 9 (VERDICT r8 item 7): graph-hostile rows must flow through the
    # fact tables the edge builders scan — an order with a NULL customer and
    # a lineitem with NULL supplier/part keys (the builders' IS NOT NULL
    # filters and the co-order a<b predicate must drop them IDENTICALLY in
    # both engines); every other column is clean so the ~40 other
    # lineitem/orders consumers exercise NULL-key join/group semantics, not
    # value-domain crashes.
    con.execute(f"""
    COPY (
      SELECT * FROM read_parquet('{SF_DIR}/orders.parquet')
      UNION ALL
      SELECT * FROM (VALUES
        (9900001, NULL, 'O', 100.0, TIMESTAMP '2024-01-01 00:00:00', '3-MEDIUM')
      ) AS t(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
             o_orderpriority)
    ) TO '{dst}/orders.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
    COPY (
      SELECT * FROM read_parquet('{SF_DIR}/lineitem.parquet')
      UNION ALL
      SELECT * FROM (VALUES
        -- NULL supp+part keys on the NULL-custkey order
        (9900001, NULL, NULL, 1, 1.0, 100.0, 0.0, 0.0, 'N', 'O',
         TIMESTAMP '2024-01-02 00:00:00'),
        -- real keys on the NULL-custkey order: reaches the purchase-graph
        -- builder's o_custkey IS NOT NULL filter with a live supplier
        (9900001, 1, 1, 2, 1.0, 50.0, 0.0, 0.0, 'N', 'O',
         TIMESTAMP '2024-01-02 00:00:00')
      ) AS t(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
             l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
             l_shipdate)
    ) TO '{dst}/lineitem.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
    COPY (
      SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')
      UNION ALL
      SELECT * FROM (VALUES
        (90000, '',            'en', 'webx', 0),
        (90005, '   ',         'en', 'webx', 3),
        (90010, 'aaa aaa aaa', 'xx', 'webx', 11),
        (90015, '',            'xx', 'webx', 0),
        (90020, 'zz',          'en', 'webx', 2),
        -- non-ASCII: the portable polynomial hash leans on ascii(), which
        -- must agree between Spark and DuckDB beyond codepoint 127
        (90025, 'héllo wörld こんにちは 👋 mixé', 'xx', 'webx', 25),
        -- one pathologically long doc: chunk-count arithmetic, length
        -- penalties, substring windows
        (90030, repeat('lorem ipsum dolor sit amet ', 4000), 'en', 'webx', 108000),
        -- round 7: NULL text (hash-split fallback, undecodable payload),
        -- NULL lang (stratification key), NULL source (grouping key)
        (91000, NULL,        'en', 'webx', 0),
        (91005, 'some text', NULL, 'webx', 9),
        (91010, 'more text', 'en', NULL,   9),
        -- round 8: BPE-hostile rows — a word that IS the literal end
        -- marker (its chars must never alias the appended '</w>' symbol),
        -- and single-char words (a symbol sequence of length 2, the
        -- minimum that still yields one pair)
        (92000, '</w> </w> x', 'en', 'webx', 11),
        (92005, 'a b a b a',   'en', 'webx', 9),
        -- round 9 (VERDICT r8 item 7): one extremely LONG single word
        -- (3000-symbol aggregate() fold, quadratic-feeling pair explode),
        -- one word repeated at count-stressing frequency (pair counts must
        -- ride BIGINT, not int32, in both engines), and words built of
        -- backslashes/quotes (the merge-fold SQL-literal escaping path)
        (93000, repeat('ab', 1500),   'en', 'webx', 3000),
        (93005, repeat('zq ', 20000), 'en', 'webx', 60000),
        -- REAL backslashes (ADVICE r9: the prior '\b' sat in a non-raw
        -- Python f-string, so a BACKSPACE control char reached the data,
        -- not a backslash — the merge-fold backslash-escaping path was
        -- never exercised here; '\\b' in this Python source puts a literal
        -- backslash into the SQL text, and DuckDB string literals do not
        -- process backslash escapes)
        (93010, 'a\\b a\\b c''d c''d', 'xx', 'webx', 15),
        -- keep the accidental-but-useful class too: an explicit BACKSPACE
        -- control character inside words (chr(8))
        (93011, 'a' || chr(8) || 'e a' || chr(8) || 'e zz', 'xx', 'webx', 9),
        -- round 9b: a NULL-source doc that PASSES the 10-5000-token quality
        -- rule — the funnel's NULL-source group then exists in BOTH stage
        -- aggregates, so only a null-safe (eqNullSafe / IS NOT DISTINCT
        -- FROM) source join reconciles it; a plain equi-join would silently
        -- zero the group's downstream stages
        (93015, 'one two three four five six seven eight nine ten eleven twelve', 'en', NULL, 62),
        -- round 10 (VERDICT r9 item 6): BM25 + temperature-mix classes.
        -- A doc that is ONLY query terms at saturating tf (tiny dl, the
        -- tf/(tf+k1*norm) kernel near its asymptote)
        (93020, 'spark spark spark spark hash merge spark window', 'en', 'webx', 48),
        -- an all-stopword doc: empty after the stopword filter, zero
        -- query-term overlap for BM25 (no per-doc row) but still counted
        -- in N and avgdl on both engines
        (93025, 'the and of to in is it that', 'en', 'webx', 28),
        -- a source whose ONLY doc tokenizes to zero tokens: n_tokens = 0,
        -- so the temperature-mix weight is exactly 0 (POWER(0, .5)) and
        -- every funnel stage after raw zeroes out — 0 must survive the
        -- micro-quantized denominator, distinctly from NULL
        (93030, '   ', 'en', 'src_zero_tok', 3),
        -- a source whose ONLY doc has NULL text: SUM(size) is NULL on both
        -- engines, so w_raw/weight/ppm are NULL end to end (the engines
        -- must agree that NULL-tokens is not zero-tokens)
        (93035, NULL, 'en', 'src_null_text', 0)
      ) AS t(doc_id, text, lang, source, n_chars)
    ) TO '{dst}/documents.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
    COPY (
      SELECT * FROM read_parquet('{SF_DIR}/events.parquet')
      UNION ALL
      SELECT * FROM (VALUES
        (900001, TIMESTAMP '2024-03-01 00:00:00', 7001, 'constant_evt', 5.0, '{{"k": 1}}'),
        (900002, TIMESTAMP '2024-03-01 00:10:00', 7001, 'constant_evt', 5.0, '{{"k": 2}}'),
        (900003, TIMESTAMP '2024-03-01 00:20:00', 7002, 'constant_evt', 5.0, '{{"k": 3}}'),
        (900004, TIMESTAMP '2024-03-02 09:00:00', 7003, 'lonely_evt',   1.5, NULL),
        -- negative + extreme values: money-sum cents arithmetic, z-scores,
        -- window frames must not assume non-negative inputs
        (900005, TIMESTAMP '2024-03-02 09:01:00', 7003, 'view',  -123.45, '{{"k": -1}}'),
        (900006, TIMESTAMP '2024-03-02 09:02:00', 7003, 'view', 1e12,     '{{"k": 0}}'),
        -- round 7: non-finite metric values + NULL key/time columns
        (910001, TIMESTAMP '2024-03-03 00:00:00', 7101, 'view',  CAST('nan' AS DOUBLE), '{{"k": 1}}'),
        (910002, TIMESTAMP '2024-03-03 00:01:00', 7101, 'view',  CAST('inf' AS DOUBLE), '{{"k": 2}}'),
        (910003, TIMESTAMP '2024-03-03 00:02:00', 7101, 'view',  CAST('-inf' AS DOUBLE), '{{"k": 3}}'),
        (910004, TIMESTAMP '2024-03-03 00:03:00', 7102, 'click', NULL, '{{"k": 4}}'),
        (910005, TIMESTAMP '2024-03-03 00:04:00', 7102, NULL,    2.5,  '{{"k": 5}}'),
        (910006, TIMESTAMP '2024-03-03 00:05:00', NULL, 'view',  1.0,  '{{"k": 6}}'),
        (910007, NULL,                            7103, 'view',  1.0,  '{{"k": 7}}'),
        -- round 7b: malformed / hostile JSON props
        (920001, TIMESTAMP '2024-03-04 00:00:00', 7201, 'view', 1.0, '{{not json'),
        (920002, TIMESTAMP '2024-03-04 00:01:00', 7201, 'view', 1.0, ''),
        (920003, TIMESTAMP '2024-03-04 00:02:00', 7201, 'view', 1.0, '{{"k": "str_not_int"}}'),
        (920004, TIMESTAMP '2024-03-04 00:03:00', 7201, 'view', 1.0, '[1,2,3]'),
        (920005, TIMESTAMP '2024-03-04 00:04:00', 7201, 'view', 1.0, '{{"k": {{"nested": {{"deep": 1}}}}}}'),
        (920006, TIMESTAMP '2024-03-04 00:05:00', 7201, 'view', 1.0, 'null'),
        -- round 7c: user 7103 gets a REAL event alongside its null-ts one —
        -- a user with both would get different SCD2 change sequences per
        -- engine (Spark windows sort NULLS FIRST, DuckDB NULLS LAST) unless
        -- null event times are excluded, which both sides now do
        (920007, TIMESTAMP '2024-03-04 01:00:00', 7103, 'click', 1.0, NULL),
        -- round 10 (ADVICE r9): float/boolean/decimal-string/overflow/
        -- exponent-typed k — pins the typed-cast choice on BOTH JSON paths:
        -- q_scalar_variant's oracle replicates Spark's variant CAST
        -- (truncate doubles, bool->1/0, integral-only strings) and
        -- q_scalar_json's oracle replicates try_cast(string) (NULL on any
        -- non-integral text where DuckDB's TRY_CAST would round or accept)
        (930001, TIMESTAMP '2024-03-05 00:00:00', 7301, 'view', 1.0, '{{"k": 5.7}}'),
        (930002, TIMESTAMP '2024-03-05 00:01:00', 7301, 'view', 1.0, '{{"k": -5.7}}'),
        (930003, TIMESTAMP '2024-03-05 00:02:00', 7301, 'view', 1.0, '{{"k": 5.0}}'),
        (930004, TIMESTAMP '2024-03-05 00:03:00', 7301, 'view', 1.0, '{{"k": true}}'),
        (930005, TIMESTAMP '2024-03-05 00:04:00', 7301, 'view', 1.0, '{{"k": false}}'),
        (930006, TIMESTAMP '2024-03-05 00:05:00', 7301, 'view', 1.0, '{{"k": "5.7"}}'),
        (930007, TIMESTAMP '2024-03-05 00:06:00', 7301, 'view', 1.0, '{{"k": 99999999999999999999999}}'),
        (930008, TIMESTAMP '2024-03-05 00:07:00', 7301, 'view', 1.0, '{{"k": 2.5e-1}}'),
        -- round 11 (ADVICE r10): control-char-padded string k — Spark's
        -- try_cast AND its variant string-cast trim the whole [0x00-0x20]
        -- band (probe: try_cast of tab+'5' = 5, try_variant_get on tab+'5' = 5)
        -- while DuckDB trim() strips only spaces; both oracles now
        -- regexp-strip the band. The JSON below carries the ESCAPES
        -- (backslash-t etc.), decoded to real control chars by both
        -- engines' JSON parsers. NBSP ( ) is outside the band: NULL
        -- on both engines — pins that the trim is not "any whitespace".
        (930030, TIMESTAMP '2024-03-05 02:00:00', 7305, 'view', 1.0, '{{"k": "\\t5"}}'),
        (930031, TIMESTAMP '2024-03-05 02:01:00', 7305, 'view', 1.0, '{{"k": "\\n 7 \\r"}}'),
        (930032, TIMESTAMP '2024-03-05 02:02:00', 7305, 'view', 1.0, '{{"k": "\\u000b+9"}}'),
        (930033, TIMESTAMP '2024-03-05 02:03:00', 7305, 'view', 1.0, '{{"k": "\\u00a03"}}'),
        (930034, TIMESTAMP '2024-03-05 02:04:00', 7305, 'view', 1.0, '{{"k": "5\\t7"}}'),
        (930035, TIMESTAMP '2024-03-05 02:05:00', 7305, 'view', 1.0, '{{"k": "\\t\\n"}}'),
        -- round 10b (fuzz-found): TWO int64-edge k values in ONE group —
        -- ANSI SUM(BIGINT) threw ARITHMETIC_OVERFLOW where DuckDB widens
        -- to HUGEINT; both engines now sum exactly (DECIMAL(38,0) /
        -- HUGEINT) and NULL only the final int64-overflowing value
        (930020, TIMESTAMP '2024-03-05 01:00:00', 7304, 'edge_evt', 1.0, '{{"k": 9223372036854775807}}'),
        (930021, TIMESTAMP '2024-03-05 01:01:00', 7304, 'edge_evt', 1.0, '{{"k": 9223372036854775807}}'),
        -- round 10 (VERDICT r9 item 6): a type whose hourly series is
        -- CONSTANT across 3 distinct hours, paired against a varying one
        -- sharing those hours — Spearman's rank variance is 0, so rho's
        -- denominator is exactly 0: Spark's try_divide NULL must match
        -- DuckDB's divide-by-zero NULL (not a crash, not 0)
        (930010, TIMESTAMP '2024-03-06 10:00:00', 7302, 'flat_evt', 7.5, NULL),
        (930011, TIMESTAMP '2024-03-06 11:00:00', 7302, 'flat_evt', 7.5, NULL),
        (930012, TIMESTAMP '2024-03-06 12:00:00', 7302, 'flat_evt', 7.5, NULL),
        (930013, TIMESTAMP '2024-03-06 10:30:00', 7303, 'vary_evt', 1.0, NULL),
        (930014, TIMESTAMP '2024-03-06 11:30:00', 7303, 'vary_evt', 2.0, NULL),
        (930015, TIMESTAMP '2024-03-06 12:30:00', 7303, 'vary_evt', 3.0, NULL)
      ) AS t(event_id, ts, user_id, event_type, value, props)
    ) TO '{dst}/events.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
    COPY (
      SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')
      UNION ALL
      SELECT 90000 AS vec_id, CAST(list_transform(range(64), x -> 0.0) AS FLOAT[]) AS embedding, 0 AS label
      UNION ALL
      SELECT 90050, CAST(list_transform(range(64), x -> 0.0) AS FLOAT[]), 1
      -- round 7: non-finite elements + a fully NULL vector
      UNION ALL
      SELECT 91000, CAST(list_transform(range(64), x -> CASE WHEN x = 0 THEN CAST('nan' AS FLOAT) ELSE 0.1 END) AS FLOAT[]), 0
      UNION ALL
      SELECT 91050, CAST(list_transform(range(64), x -> CASE WHEN x = 1 THEN CAST('inf' AS FLOAT) ELSE 0.1 END) AS FLOAT[]), 1
      UNION ALL
      SELECT 91060, NULL, NULL
      -- round 7b: dimension-contract violations (empty + wrong-dim)
      UNION ALL
      SELECT 92000, CAST([] AS FLOAT[]), 0
      UNION ALL
      SELECT 92050, CAST([0.5, 0.25, 0.125] AS FLOAT[]), 1
      -- round 8 (ADVICE r7): a PARTIALLY-NULL vector — correct dimension,
      -- one NULL element. Spark's forall evaluates NULL on it while
      -- DuckDB's list_filter drops the NULL before counting, so any
      -- finiteness check that is not explicitly null-aware diverges here
      UNION ALL
      SELECT 93000, CAST(list_transform(range(64), x -> CASE WHEN x = 2 THEN NULL ELSE 0.1 END) AS FLOAT[]), 0
    ) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)
    """)
    con.close()
    return dst


@pytest.mark.slow
def test_every_oracle_survives_adversarial_rows(spark, adversarial_sf):
    results = dict(audit(spark, adversarial_sf))
    # CALIBRATED threshold gates (recall/purity/error floors) are tuned on
    # the clean fixture; poisoned rows may legitimately shift the floor —
    # crashes still surface via the queries the gates compose. EXACT
    # equivalence gates (stream==batch, golden replays) carry no such
    # exemption: they must hold on garbage too.
    failures = {
        name: why[:400]
        for name, why in results.items()
        if why and "calibrated" not in get_query(name).tags
    }
    assert len(results) >= 120, f"registry shrank? only {len(results)} oracled queries"
    assert not failures, (
        f"{len(failures)}/{len(results)} oracles crash or diverge on adversarial "
        f"rows: {failures}"
    )
