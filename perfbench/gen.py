"""Seeded inputs for the benchmark.

The engine's fixture tables are generated outside the repository, so the
benchmark synthesizes its own copy: the same ten tables, schemas and value
distributions as the fixture generator's output (uniform TPC-H-like keys and
dates, exponential event values, a 30-word document vocabulary with 5 %
``... dup`` near-duplicates, random unit embeddings). The base is built once
from ``BASE_SEED``; each workload seed then writes a row-order permutation of
it, so every seed does the same work on different bytes and partition
contents, and oracle results computed on the base stay valid.

``refjob`` inputs are drawn from the base documents per seed: one
``<id>.txt`` file per document with shuffled 1-based ids, a stopword file and
``K`` random 0/1 centers of length ``n_docs`` (the reference's
``[1,0,1,]`` line format).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20260417

#: Row counts: the fixture generator's sf0.01 shape, with two tables raised.
#: Embeddings take their sf0.1 count, because at 500 vectors the LSH-ANN
#: recall gate sits below its calibrated margin. Documents are tripled so the
#: ``pairs`` workload's pair stages carry more than a fixed per-job cost; the
#: sf0.1 count (5,000) would put a run past the time the benchmark may take.
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 1_500,
    "embeddings": 2_000,
}

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge order part query row "
    "scan slow small sort spark stream table the value vector window"
).split()
REFJOB_STOPWORDS = ("the", "a", "an", "and", "of", "to", "is")

_PART_ADJ = ("large", "hot", "blue", "cold", "red", "small", "new", "old")
_PART_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: dt.date, rng: np.random.Generator, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, span, n).astype("timedelta64[D]"), pa.timestamp("us"))


def base_tables(seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """The ten fixture tables, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": segments[rng.integers(0, 5, n["customer"])],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    keys = np.arange(n["part"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n["part"], 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": types[rng.integers(0, 6, n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(dt.date(1995, 1, 1), rng, 2405, no),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, no)
        ],
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(dt.date(1995, 1, 2), rng, 2499, nl),
    })
    ne = n["events"]
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.choice(span_us, ne, replace=False)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, ne * 15 // 1000), ne), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))]) for _ in range(nd)]
    dups = rng.choice(nd, nd // 20, replace=False)
    originals = np.setdiff1d(np.arange(nd), dups)
    for d in dups:
        texts[d] = texts[int(rng.choice(originals))] + " dup"
    langs = np.array(["en", "de", "es", "fr", "zh"])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, nd, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return out


def write_table(table: pa.Table, path: str) -> None:
    """One parquet file with one row group, like the fixture files."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")


def write_permuted(tables: dict[str, pa.Table], seed: int, out_dir: str) -> dict[str, dict]:
    """Write a seeded row-order permutation of each table; return per table
    ``{"rows", "bytes", "files"}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    sizes = {}
    for name in (t for t in TABLES if t in tables):
        table = tables[name]
        path = os.path.join(out_dir, f"{name}.parquet")
        write_table(table.take(rng.permutation(table.num_rows)), path)
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path), "files": 1}
    return sizes


def _reference_text(words: list[str], rng: np.random.Generator) -> str:
    """Capitalized sentences with commas, so the corpus exercises lowercasing
    and punctuation stripping."""
    out = []
    for i, w in enumerate(words):
        if i == 0 or out[-1].endswith("."):
            w = w.capitalize()
        r = rng.random()
        out.append(w + ("." if r < 0.08 else "," if r < 0.16 else ""))
    return " ".join(out).rstrip(",.") + ".\n"


def write_refjob_inputs(documents: pa.Table, n_docs: int, k: int, seed: int, out_dir: str) -> dict:
    """Write ``docs/<id>.txt``, ``stopwords.txt`` and ``centers.txt`` under
    ``out_dir``; return the paths and input sizes."""
    rng = np.random.default_rng(seed)
    docs_dir = os.path.join(out_dir, "docs")
    os.makedirs(docs_dir, exist_ok=True)
    texts = documents.column("text").to_pylist()
    picked = rng.choice(len(texts), n_docs, replace=False)
    ids = rng.permutation(n_docs) + 1
    nbytes = 0
    for doc_id, row in zip(ids, picked):
        body = _reference_text(texts[row].split(), rng)
        path = os.path.join(docs_dir, f"{doc_id}.txt")
        with open(path, "w") as fh:
            fh.write(body)
        nbytes += len(body)
    stopwords = os.path.join(out_dir, "stopwords.txt")
    with open(stopwords, "w") as fh:
        fh.write("\n".join(REFJOB_STOPWORDS) + "\n")
    centers = os.path.join(out_dir, "centers.txt")
    bits = rng.random((k, n_docs)) < 0.5
    bits[np.arange(k), rng.integers(0, n_docs, k)] = True  # no all-zero center
    with open(centers, "w") as fh:
        for row in bits.astype(int):
            fh.write("[" + "".join(f"{v}," for v in row) + "]\n")
    nbytes += os.path.getsize(stopwords) + os.path.getsize(centers)
    return {
        "docs_dir": docs_dir,
        "stopwords": stopwords,
        "centers": centers,
        "sizes": {"rows": n_docs + len(REFJOB_STOPWORDS) + k, "bytes": nbytes, "files": n_docs + 2},
    }
