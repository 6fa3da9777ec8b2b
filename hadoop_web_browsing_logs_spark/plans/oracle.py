"""The engine-vs-DuckDB oracle comparator.

A registered query matches its oracle when both sides have the same
column-name set, the same row count and the same multiset of
type-sensitive canonical rows: an order-insensitive value hash that
tells 5 from 5.0 and HUGEINT from BIGINT. The pytest suite, the
full-registry audits and the ``audit`` CLI command all decide "matches"
through :func:`oracle_mismatch`.
"""

from __future__ import annotations

import decimal
import math
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import TABLE_NAMES
from .registry import all_queries


def _canon_cell(v):
    # Type-SENSITIVE on purpose: numeric representations (5 vs 5.0) must
    # not compare equal, so an int/float type skew between engine and
    # oracle fails here. decimal.Decimal (DuckDB HUGEINT/DECIMAL surfaced
    # through Arrow) gets its own class: an uncast SUM(bigint) OVER oracle
    # column must NOT compare equal to Spark's bigint.
    if v is None:
        return "\0NULL"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        return f"f:{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def duck_fetch_typed(res) -> tuple[list[str], list[tuple]]:
    """Fetch a DuckDB result Arrow-typed.

    ``fetchall()`` collapses HUGEINT to Python int, so an uncast
    ``SUM(BIGINT) OVER`` oracle column (HUGEINT, not int64) would compare
    equal to Spark's bigint. Going through ``res.arrow()`` keeps the
    widened type visible: HUGEINT/DECIMAL cells arrive as decimal.Decimal,
    which _canon_cell refuses to equate with int. Nulls stay None (unlike a
    pandas fetch, which would NaN-ify nullable int columns).
    """
    tbl = res.arrow()
    cols = list(tbl.column_names)
    pycols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    rows = [tuple(r) for r in zip(*pycols)] if pycols else []
    return cols, rows


def canonical_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Sort columns by name, canonicalize cells, sort rows — an
    order-insensitive multiset comparison."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = [tuple(_canon_cell(r[i]) for i in order) for r in rows]
    return sorted(canon)


def create_views(con, sf_dir: str, schema: str = "main") -> None:
    """Register every fixture table under ``sf_dir`` as a DuckDB view."""
    con.execute(f"CREATE SCHEMA IF NOT EXISTS {schema}")
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {schema}.{name} AS SELECT * FROM read_parquet('{path}')")


def oracle_mismatch(sdf: DataFrame, res) -> str | None:
    """Collect the engine's DataFrame and the DuckDB oracle result ``res``
    and compare them: column-name set, then row count, then canonical
    values. Returns ``None`` on a match, else what differs (at most the
    first 3 differing rows)."""
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    d_cols, d_rows = duck_fetch_typed(res)
    d_cols = [c.lower() for c in d_cols]
    if sorted(s_cols) != sorted(d_cols):
        return f"columns spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"rows spark={len(s_rows)} duck={len(d_rows)}"
    s_canon = canonical_rows(s_cols, s_rows)
    d_canon = canonical_rows(d_cols, d_rows)
    if s_canon != d_canon:
        diffs = [(a, b) for a, b in zip(s_canon, d_canon) if a != b][:3]
        return f"values differ; first diffs: {diffs}"
    return None


def audit(spark: SparkSession, sf_dir: str) -> Iterator[tuple[str, str | None]]:
    """Replay every registered oracle over the tables in ``sf_dir``,
    yielding ``(name, mismatch)`` per oracled query in name order; an
    exception while building or running either side is a mismatch too."""
    import duckdb  # only the audit needs DuckDB, not the engine

    with duckdb.connect() as con:
        create_views(con, sf_dir)
        for name, q in sorted(all_queries().items()):
            if q.oracle is None:
                continue
            try:
                why = oracle_mismatch(q.fn(spark, sf_dir), con.execute(q.oracle))
            except Exception as e:  # noqa: BLE001 — reported as a mismatch
                why = f"{type(e).__name__}: {e}"
            yield name, why
