"""Expected outputs.

Query steps are checked against their registered DuckDB oracle with the
test suite's type-sensitive comparator (``canonical_rows`` and
``duck_fetch_typed`` from ``tests/conftest.py``). An oracle result is
computed once per input and cached under a key built from an
order-insensitive checksum of each table it reads, so every seed's row
permutation of the same base hits the same entry.

``refjob`` outputs are checked against a pure-Python build of both reference
jobs from the same files.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import re
import unicodedata

import duckdb

from tests.conftest import canonical_rows, duck_fetch_typed

from gen import TABLES

_TABLE_RE = re.compile(r"\b(" + "|".join(TABLES) + r")\b", re.IGNORECASE)


def table_refs(sql: str) -> list[str]:
    """The fixture tables an oracle query names, in ``TABLES`` order."""
    found = {m.lower() for m in _TABLE_RE.findall(sql)}
    return [t for t in TABLES if t in found]


def rows_digest(cols: list[str], rows: list[tuple]) -> str:
    return hashlib.sha256(json.dumps(canonical_rows(cols, rows)).encode()).hexdigest()


def connect(tables_dir: str, names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in names:
        path = os.path.join(tables_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def multiset_checksum(con: duckdb.DuckDBPyConnection, table: str) -> str:
    """Row count and the sum of row hashes: equal for any row order."""
    n, s = con.execute(f"SELECT count(*), sum(hash(t)::HUGEINT) FROM {table} t").fetchone()
    return f"{n}:{s}"


def query_oracles(queries: dict, tables_dir: str, cache_dir: str) -> dict[str, dict]:
    """``{name: {"cols", "rows", "digest"}}`` for each ``name -> oracle SQL``,
    from the cache when the inputs' checksums match."""
    os.makedirs(cache_dir, exist_ok=True)
    con = connect(tables_dir, sorted({t for sql in queries.values() for t in table_refs(sql)}))
    sums: dict[str, str] = {}
    out = {}
    for name, sql in queries.items():
        refs = table_refs(sql)
        for t in refs:
            if t not in sums:
                sums[t] = multiset_checksum(con, t)
        key = hashlib.sha256(
            json.dumps([name, sql, duckdb.__version__, [(t, sums[t]) for t in refs]]).encode()
        ).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{name}-{key}.json")
        if not os.path.exists(path):
            cols, rows = duck_fetch_typed(con.execute(sql))
            cols = [c.lower() for c in cols]
            entry = {"cols": sorted(cols), "rows": len(rows), "digest": rows_digest(cols, rows), "tables": refs}
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "w") as fh:
                json.dump(entry, fh)
            os.replace(tmp, path)
        with open(path) as fh:
            out[name] = json.load(fh)
    con.close()
    return out


def check_rows(expected: dict, cols: list[str], rows: list[tuple]) -> str | None:
    """``None`` when the Spark result matches the oracle, else the reason."""
    cols = [c.lower() for c in cols]
    if sorted(cols) != expected["cols"]:
        return f"columns {sorted(cols)} != {expected['cols']}"
    if len(rows) != expected["rows"]:
        return f"{len(rows)} rows != {expected['rows']}"
    if rows_digest(cols, rows) != expected["digest"]:
        return "values differ"
    return None


# ---------------------------------------------------------------------------
# refjob: both reference jobs in plain Python
# ---------------------------------------------------------------------------


def _tokens(text: str) -> list[str]:
    """The engine's tokenize contract: lowercase, trim spaces, split on
    whitespace runs, strip Unicode punctuation, drop empties."""
    out = []
    for tok in re.split(r"\s+", text.lower().strip(" ")):
        tok = "".join(ch for ch in tok if not unicodedata.category(ch).startswith("P"))
        if tok:
            out.append(tok)
    return out


def refjob_expected(docs_dir: str, stopwords_file: str, centers_file: str) -> tuple[list[str], list[str]]:
    """Lines of ``inverted_index`` (``term\\t[1,0,...,]``, term-sorted) and
    ``kmeans`` (``cluster\\tmembers``) for the reference's two jobs."""
    from hadoop_web_browsing_logs_spark.functions.porter import porter_stem

    with open(stopwords_file) as fh:
        stop = {w.strip().lower() for w in fh if w.strip()}
    with open(centers_file) as fh:
        centers = [[int(x) for x in ln.strip().strip("[]").split(",") if x.strip()] for ln in fh if ln.strip()]
    postings: dict[str, set[int]] = {}
    n_docs = 0
    for path in os.listdir(docs_dir):
        m = re.search(r"(\d+)\.[^./]*$", path)
        if not m:
            continue
        n_docs += 1
        doc_id = int(m.group(1))
        with open(os.path.join(docs_dir, path)) as fh:
            text = fh.read()
        text = text[:-1] if text.endswith("\n") else text
        for tok in _tokens(text):
            if tok not in stop:
                postings.setdefault(porter_stem(tok), set()).add(doc_id)
    index_lines, members = [], {}
    for term in sorted(postings):
        docs = postings[term]
        vec = [1 if i in docs else 0 for i in range(1, n_docs + 1)]
        index_lines.append(term + "\t[" + "".join(f"{v}," for v in vec) + "]")
        best = None
        for cid, cvec in enumerate(centers, start=1):
            dot = sum(a * b for a, b in zip(vec, cvec))
            dist = 1 - dot / (math.sqrt(float(len(docs))) * math.sqrt(float(sum(cvec))))
            if best is None or (dist, cid) < best:
                best = (dist, cid)
        members.setdefault(best[1], []).append(term)
    kmeans_lines = [
        f"{cluster}\t{' '.join(sorted(members[cid]))}" for cluster, cid in enumerate(sorted(members), start=1)
    ]
    return index_lines, kmeans_lines


def read_text_output(path: str) -> list[str]:
    """Lines of a Spark text output directory, part files in name order."""
    lines = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as fh:
            lines.extend(fh.read().splitlines())
    return lines
