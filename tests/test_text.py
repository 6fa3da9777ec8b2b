"""Text pipeline tests: DuckDB differentials + reference-parity goldens.

The golden corpus/expectations come from FIXTURES.md §1 (hand-checkable 3-doc
corpus mirroring the reference's input shape, ProcessData.java:387-401).
"""

from __future__ import annotations

import pytest

from hadoop_web_browsing_logs_spark.functions.porter import porter_stem
from hadoop_web_browsing_logs_spark.operators import text as text_ops
from hadoop_web_browsing_logs_spark.plans.registry import all_queries
from hadoop_web_browsing_logs_spark.sources.writers import reference_vector_string

from .conftest import assert_query_matches_oracle


def _oracle_names():
    return sorted(n for n, q in all_queries().items() if q.oracle is not None and q.category == "text")


@pytest.mark.parametrize("name", _oracle_names())
def test_matches_duckdb_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name)


# --- Porter stemmer goldens: now live with the engine (functions/porter.py,
#     PORTER_GOLDENS) so the pytest golden test and the driver-hashable
#     q_text_porter_gate replay the SAME vectors ---

from hadoop_web_browsing_logs_spark.functions.porter import PORTER_GOLDENS as GOLDEN_STEMS


def test_porter_golden_vectors():
    bad = {w: (porter_stem(w), e) for w, e in GOLDEN_STEMS.items() if porter_stem(w) != e}
    assert not bad, f"stemmer mismatches: {bad}"


def test_porter_deterministic_and_total():
    # classic Porter is NOT idempotent (agreed→agre→agr) — determinism and
    # totality over odd inputs are the useful properties to pin.
    for w in ["", "a", "ab", "''", "123", "x" * 50, *GOLDEN_STEMS]:
        assert porter_stem(w) == porter_stem(w)
        assert isinstance(porter_stem(w), str)


# --- Golden 3-doc corpus (FIXTURES.md §1): full Job-1 parity ---

CORPUS = [
    (1, "the cats are meeting, and agreed to play."),
    (2, "a cat was milling; ponies agreed."),
    (3, "meetings about caresses and ties."),
]
GOLDEN_STOPWORDS = ("the", "and", "a", "to", "was", "are", "about")


@pytest.fixture(scope="module")
def golden_index(spark):
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    return text_ops.inverted_index(spark, docs, stem=True, stopwords=GOLDEN_STOPWORDS)


def test_golden_inverted_index(golden_index):
    got = {r.term: r.postings for r in golden_index.collect()}
    expected = {
        "cat": [1, 2],      # cats/cat → cat
        "meet": [1, 3],     # meeting/meetings → meet
        "agre": [1, 2],     # agreed → agre (classic Porter)
        "plai": [1],        # play → plai
        "mill": [2],        # milling → mill
        "poni": [2],        # ponies → poni
        "caress": [3],      # caresses → caress
        "ti": [3],          # ties → ti
    }
    assert got == expected


def test_golden_incidence_vectors(golden_index):
    dense = text_ops.densify_incidence(golden_index, n_docs=3, one_based=True)
    got = {r.term: r.vec for r in dense.collect()}
    assert got["cat"] == [1, 1, 0]
    assert got["meet"] == [1, 0, 1]
    assert got["ti"] == [0, 0, 1]


def test_reference_compat_serialization(spark, golden_index):
    """term\\t[1,0,1,] with trailing comma — ProcessData.java:462-469 (Q2)."""
    from pyspark.sql import functions as F

    dense = text_ops.densify_incidence(golden_index, n_docs=3, one_based=True)
    line = dense.filter(F.col("term") == "cat").select(
        F.concat_ws("\t", F.col("term"), reference_vector_string(F.col("vec"))).alias("line")
    ).collect()[0].line
    assert line == "cat\t[1,1,0,]"


def test_tokenize_order_strip_then_filter_then_stem(spark):
    """SURVEY Q3: 'meeting,' must strip punctuation BEFORE the stopword check
    and stem AFTER it — 'are' (stopword) never reaches the stemmer."""
    docs = spark.createDataFrame([(1, "the cats, are meeting!")], ["doc_id", "text"])
    idx = text_ops.inverted_index(spark, docs, stem=True, stopwords=GOLDEN_STOPWORDS)
    terms = sorted(r.term for r in idx.collect())
    assert terms == ["cat", "meet"]


# Edge texts for the one tokenizer: empty, spaces only, tab/newline ends
# (Spark's trim strips spaces only, so the split keeps empty end tokens),
# NULL, an all-punctuation token, and Unicode punctuation around words.
TOKENIZER_EDGES = [
    (1, ""),
    (2, "   "),
    (3, "\tA  b\n"),
    (4, None),
    (5, "ok ... !? done"),
    (6, "«Hola», ¿qué tal? — don’t…  $5+"),
]


def _duck_edges(duck, select: str):
    """Run ``select`` (which reads ``documents``) over TOKENIZER_EDGES."""
    rows = ", ".join("(?, CAST(? AS VARCHAR))" for _ in TOKENIZER_EDGES)
    params = [v for row in TOKENIZER_EDGES for v in row]
    return duck.execute(
        f"WITH documents(doc_id, text) AS (VALUES {rows}) {select}", params
    )


def test_ws_tokens_matches_duckdb_twin(spark, duck):
    from hadoop_web_browsing_logs_spark.functions.text_stats import DUCK_WS_TOKENS, ws_tokens
    from hadoop_web_browsing_logs_spark.plans.oracle import oracle_mismatch

    docs = spark.createDataFrame(TOKENIZER_EDGES, "doc_id long, text string")
    got = docs.select("doc_id", ws_tokens("text").alias("toks"))
    why = oracle_mismatch(
        got, _duck_edges(duck, f"SELECT doc_id, {DUCK_WS_TOKENS} AS toks FROM documents")
    )
    assert why is None, why
    assert {r.doc_id: r.toks for r in got.collect()}[3] == ["a", "b"]


def test_tokenize_matches_duckdb_twin(spark, duck):
    from hadoop_web_browsing_logs_spark.functions.text_stats import DUCK_TOKENS
    from hadoop_web_browsing_logs_spark.plans.oracle import oracle_mismatch

    docs = spark.createDataFrame(TOKENIZER_EDGES, "doc_id long, text string")
    got = text_ops.tokenize(docs)
    why = oracle_mismatch(
        got,
        _duck_edges(
            duck, f"SELECT doc_id, u.token FROM documents, UNNEST({DUCK_TOKENS}) AS u(token)"
        ),
    )
    assert why is None, why
    assert sorted(r.token for r in got.filter("doc_id = 6").collect()) == [
        "$5+", "dont", "hola", "qué", "tal",
    ]


def _write_refjob_inputs(tmp_path, centers: str) -> list[str]:
    """The golden corpus as ``<id>.txt`` files plus the side files; returns
    refjob's four arguments (docs dir, output dir, stopwords, centers)."""
    docs = tmp_path / "docs"
    docs.mkdir()
    (docs / "1.txt").write_text("the cats are meeting,\nand agreed to play.")
    (docs / "2.txt").write_text("a cat was milling; ponies agreed.")
    (docs / "3.txt").write_text("meetings about caresses and ties.")
    (tmp_path / "stopwords.txt").write_text("\n".join(GOLDEN_STOPWORDS))
    (tmp_path / "centers.txt").write_text(centers)
    return [str(p) for p in (docs, tmp_path / "out", tmp_path / "stopwords.txt", tmp_path / "centers.txt")]


def _text_lines(path) -> list[str]:
    import glob

    return sorted(line for f in glob.glob(f"{path}/part-*") for line in open(f).read().splitlines())


REFJOB_KMEANS = ["1\tagre cat meet plai", "2\tmill poni", "3\tcaress ti"]


@pytest.mark.parametrize(
    "centers, kmeans",
    [
        ("[1,0,0,]\n[0,1,0,]\n[0,0,1,]\n", REFJOB_KMEANS),
        # identical centers 1 and 2 (and "meet" ties 1 and 3): ties go to the
        # lower center_id, and only non-empty clusters are numbered 1..k
        ("[1,0,0,]\n[1,0,0,]\n[0,0,1,]\n", ["1\tagre cat meet mill plai poni", "2\tcaress ti"]),
    ],
    ids=["golden", "duplicate_centers"],
)
def test_refjob_end_to_end(spark, tmp_path, centers, kmeans):
    """The drop-in reference workflow (ProcessData.main's 4-arg contract):
    corpus dir + stopwords file + centers file → Job1 + Job2 outputs in the
    reference's text formats."""
    from hadoop_web_browsing_logs_spark.refcli import run_reference_jobs

    run_reference_jobs(spark, *_write_refjob_inputs(tmp_path, centers))
    job1 = _text_lines(tmp_path / "out" / "inverted_index")
    assert "cat\t[1,1,0,]" in job1
    assert "meet\t[1,0,1,]" in job1
    assert len(job1) == 8
    assert _text_lines(tmp_path / "out" / "kmeans") == kmeans


def test_refjob_counts_empty_documents(spark, tmp_path):
    """A zero-byte document still owns a vector slot, as in the reference's
    file count (ProcessData.java:629-631): four files give four-slot
    vectors and take four-slot centers, though the scan has no row for the
    empty one."""
    from hadoop_web_browsing_logs_spark.refcli import run_reference_jobs

    args = _write_refjob_inputs(tmp_path, "[1,0,0,0,]\n[0,1,0,0,]\n[0,0,1,0,]\n")
    (tmp_path / "docs" / "4.txt").write_text("")
    run_reference_jobs(spark, *args)
    job1 = _text_lines(tmp_path / "out" / "inverted_index")
    assert "cat\t[1,1,0,0,]" in job1
    assert "meet\t[1,0,1,0,]" in job1
    assert len(job1) == 8
    assert _text_lines(tmp_path / "out" / "kmeans") == REFJOB_KMEANS


@pytest.mark.parametrize(
    "centers, why",
    [
        ("[1,0,0,]\n[0,1,0,]\n[0,1,]\n", r"centers.txt:3: center has 2 values, expected one per document \(3\)"),
        ("[1,0,0,]\n\n[0,2,0,]\n", r"centers.txt:3: center holds a value other than 0 or 1"),
        ("[0,0,0,]\n[1,0,0,]\n", r"centers.txt:1: center has no 1"),
    ],
    ids=["short", "non_binary", "all_zero"],
)
def test_refjob_rejects_malformed_centers(spark, tmp_path, centers, why):
    """A center line that is not a 0/1 vector of one value per document with
    a 1 fails before any write (a short one used to win every term)."""
    from hadoop_web_browsing_logs_spark.refcli import run_reference_jobs

    args = _write_refjob_inputs(tmp_path, centers)
    with pytest.raises(ValueError, match=why):
        run_reference_jobs(spark, *args)
    assert not (tmp_path / "out").exists()


# --- BM25 (round 9): scalar-reference golden + ranking properties ---------


def _bm25_reference(corpus: dict[int, str], terms) -> dict[int, float]:
    """Scalar BM25 with the engine's exact micro-BIGINT quantization."""
    import math

    toks = {d: txt.split() for d, txt in corpus.items()}
    n_docs = float(len(corpus))
    tot = float(sum(len(v) for v in toks.values()))
    df = {q: sum(1 for v in toks.values() if q in v) for q in terms}
    out = {}
    for d, v in toks.items():
        micro = 0
        for q in terms:
            tf = v.count(q)
            if tf == 0 or df[q] == 0:
                continue
            idf = math.log(1 + (n_docs - df[q] + 0.5) / (df[q] + 0.5))
            score = idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * len(v) / (tot / n_docs)))
            micro += round(score * 1000000)
        if micro:
            out[d] = micro / 1000000
    return out


def test_bm25_golden_matches_scalar_reference(spark):
    corpus = {
        1: "spark spark hash",
        2: "spark table",
        3: "table row scan",
        4: "hash merge window merge merge spark",
    }
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["bm25"], r["n_terms"])
        for r in text_ops.bm25_rank(docs, text_ops.BM25_QUERY_TERMS).collect()
    }
    want = _bm25_reference(corpus, text_ops.BM25_QUERY_TERMS)
    assert set(got) == set(want) == {1, 2, 4}  # doc 3 matches no query term
    for d, s in want.items():
        assert got[d][0] == pytest.approx(s, abs=0), f"doc {d} exact micro-quantized score"
    assert got[1][1] == 2 and got[2][1] == 1 and got[4][1] == 4


def test_bm25_second_point_terms_pinned_to_rrf2(spark):
    """Round 15 (VERDICT r14 item 6): q_text_bm25_2 exists to pin the
    ranker at the SAME term set the second hybrid-RRF point consumes — a
    silent drift between the two constants would quietly decouple the
    driver proof from the point rrf2 actually exercises."""
    from hadoop_web_browsing_logs_spark.operators.similarity import RRF2_QUERY_TERMS

    assert text_ops.BM25_QUERY_TERMS_2 == RRF2_QUERY_TERMS
    # and the second point stays disjoint from the first (it proves a
    # genuinely different region of the posting space)
    assert not set(text_ops.BM25_QUERY_TERMS_2) & set(text_ops.BM25_QUERY_TERMS)
    # scalar-reference golden at the second term set (same discipline as
    # test_bm25_golden_matches_scalar_reference at the first)
    corpus = {
        1: "filter scan filter batch",
        2: "scan table stream",
        3: "table row window",
        4: "batch stream filter scan scan batch",
    }
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["bm25"], r["n_terms"])
        for r in text_ops.bm25_rank(docs, text_ops.BM25_QUERY_TERMS_2).collect()
    }
    want = _bm25_reference(corpus, text_ops.BM25_QUERY_TERMS_2)
    assert set(got) == set(want) == {1, 2, 4}  # doc 3 matches no query term
    for d, s in want.items():
        assert got[d][0] == pytest.approx(s, abs=0), f"doc {d} exact micro-quantized score"
    assert got[1][1] == 3 and got[2][1] == 2 and got[4][1] == 4


def test_bm25_ranking_properties(spark):
    # same length, more distinct query-term mass => higher score; top_k caps
    corpus = {
        1: "spark hash merge row",
        2: "spark row row row",
        3: "row row row row",
        4: "spark hash merge window",
    }
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    rows = text_ops.bm25_rank(docs, text_ops.BM25_QUERY_TERMS, top_k=2).collect()
    assert [r["doc_id"] for r in rows] == [4, 1]  # all-4-terms doc wins, k honored
