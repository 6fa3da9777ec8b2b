"""Text-analysis column builders (SURVEY B9 + the LLM-pipeline text ops).

All pure ``pyspark.sql.functions`` compositions — JVM-side, codegen'd, no
Python in the hot path. Each has an exact DuckDB twin used by the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Classic English stop words (the reference loads an equivalent list from a
#: DistributedCache side file, ProcessData.java:372-385, 423-435).
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "for", "with",
    "at", "by", "from", "is", "are", "was", "were", "be", "been", "it",
    "this", "that", "as", "but", "not", "about",
)

#: Tiny per-language marker-word sets for the n-gram/stopword language-ID
#: heuristic. Deterministic and intentionally small — real deployments swap in
#: full frequency tables; the operator shape (token vote + argmax) is the same.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "a", "in", "that", "for", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "ich", "von"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "des"),
    "es": ("el", "la", "los", "y", "es", "una", "en", "que", "por", "con"),
}

#: BPE-ish token pattern: word pieces or single non-space punctuation — a
#: deterministic proxy for subword token counting (same regex runs in DuckDB).
BPE_TOKEN_PATTERN = r"\w+|[^\w\s]"


def ws_tokens(text: Column | str) -> Column:
    """Whitespace tokenization of lowercased text → ARRAY<STRING>, empty
    tokens dropped (reference: ``StringTokenizer`` per line,
    ProcessData.java:390). Empty or all-space text splits to ``[""]``, and
    Spark's ``trim`` strips spaces only, so a leading or trailing tab or
    newline leaves an empty end token: ``array_remove`` drops both."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_remove(F.split(F.trim(F.lower(c)), r"\s+"), "")


def strip_punct(token: Column) -> Column:
    """Remove all Unicode punctuation (reference: ``replaceAll("\\p{P}","")``,
    ProcessData.java:405)."""
    return F.regexp_replace(token, r"\p{P}", "")


#: DuckDB twin of :func:`ws_tokens`. It reads an unqualified ``text``
#: column, so the FROM clause it runs in must have exactly one.
DUCK_WS_TOKENS = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')"

#: DuckDB twin of ``operators.text.tokenize``'s token list: ``ws_tokens``,
#: then ``strip_punct`` per token, then empties dropped again.
DUCK_TOKENS = (
    f"list_filter(list_transform({DUCK_WS_TOKENS}, x -> regexp_replace(x, '\\pP', '', 'g')), "
    "x -> x <> '')"
)


def token_count_bpe(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), 0))


def stopword_count(tokens: Column) -> Column:
    return F.size(F.filter(tokens, lambda tok: tok.isin(*STOPWORDS)))


def distinct_token_count(tokens: Column) -> Column:
    return F.size(F.array_distinct(tokens))


def avg_token_len(tokens: Column) -> Column:
    """Mean token length; exact integer sum / count → deterministic double.

    NULL for empty token arrays: DuckDB's ``list_sum([])`` is NULL
    and its divide-by-zero is NULL, while ANSI Spark throws on 0/0 —
    ``try_divide`` gives both engines the same answer on empty documents."""
    total = F.aggregate(F.transform(tokens, F.length), F.lit(0), lambda acc, x: acc + x)
    return F.try_divide(total.cast("double"), F.size(tokens))


def quality_score(tokens: Column, n_chars: Column) -> Column:
    """Heuristic document quality in [0,1]-ish: rewards lexical diversity and
    natural stopword density, penalizes extreme lengths. Pure arithmetic —
    identical expression evaluated by the oracle."""
    n = F.size(tokens)
    # try_divide: empty documents score NULL on both engines (DuckDB's
    # divide-by-zero NULL; ANSI Spark would otherwise throw on 0/0)
    uniq_ratio = F.try_divide(distinct_token_count(tokens).cast("double"), n)
    stop_ratio = F.try_divide(stopword_count(tokens).cast("double"), n)
    len_penalty = F.when((n < 5) | (n > 10000), F.lit(0.5)).otherwise(F.lit(1.0))
    return (uniq_ratio * 0.6 + stop_ratio * 0.4) * len_penalty


def lang_scores(tokens: Column) -> dict[str, Column]:
    """Marker-word vote per language."""
    return {
        lang: F.size(F.filter(tokens, lambda tok: tok.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def fingerprint_md5(text: Column | str) -> Column:
    """Deterministic document fingerprint: MD5 of the lowercased, trimmed
    text. MD5 is byte-identical across engines → exact-dup detection key."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.trim(F.lower(c)))
