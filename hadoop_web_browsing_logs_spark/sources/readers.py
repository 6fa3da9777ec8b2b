"""Sources.

Reference scans (all text-file based):

- A1 directory text scan — ``FileInputFormat.addInputPath`` + per-line map
  (ProcessData.java:658, 675, 387-388) → :func:`read_corpus_dir` /
  ``spark.read.text``.
- A2 filename→doc-id extraction — manual ``getInputSplit().getPath().getName()``
  substring parse (ProcessData.java:392-401, 417) → ``F.input_file_name()`` +
  ``regexp_extract``.
- A3 filesystem metadata scan — ``fs.getContentSummary``/``listStatus``
  (ProcessData.java:627-645) → :func:`corpus_doc_count`, the number of files
  in the scan's own listing that carry a doc id. Like the reference's
  ``getFileCount`` it counts an empty file, which the scan yields no row
  for, and it runs no job.

The new engine's canonical storage is columnar Parquet (vectorized scan, predicate
pushdown, column pruning — none of which the reference's text pipeline had); CSV /
JSON / text remain supported sources for ingestion parity.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: The driver-generated fixture tables (TESTDATA.md): TPC-H-ish star schema +
#: events stream + documents corpus + embeddings.
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: One DataFrame per (session, file, mtime): ``spark.read.parquet`` costs
#: ~90 ms of JVM file-listing + footer schema resolution PER CALL, and the
#: registry's build paths call the loader once or twice per query — ~⅓ of
#: small-SF bench wall time was plan construction (round-7 profile).
#: DataFrames are immutable, so handing every caller the same object is
#: safe; the mtime in the key re-reads a regenerated fixture (same contract
#: as the bloom bitset and stream-replay caches). The cache lives ON the
#: SparkSession object itself (ADVICE r7: an applicationId key is shared by
#: every session on one context — ``spark.newSession()`` would get a
#: DataFrame bound to the FIRST session, and the per-session runtime conf
#: the events path sets would never reach the caller's session; a
#: session-attached dict also dies with its session instead of growing
#: unboundedly across fixtures).
_CACHE_ATTR = "_spark_graft_table_cache"


def _table_cache(spark: SparkSession) -> dict[tuple[str, float], DataFrame]:
    cache = getattr(spark, _CACHE_ATTR, None)
    if cache is None:
        cache = {}
        setattr(spark, _CACHE_ATTR, cache)
    return cache


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet → vectorized reader, pushdown-capable.

    ``events.ts`` is written as Parquet TIMESTAMP(NANOS), which Spark's reader
    has no native type for — read it as int64 nanos (legacy flag) and convert
    to a microsecond TimestampType column (truncation matches a
    ``CAST(ts_ns AS TIMESTAMP)`` in engines with native nanos, e.g. DuckDB).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    cache = _table_cache(spark)
    try:
        key = (os.path.abspath(path), os.path.getmtime(path))
    except OSError:
        key = None
    if key is not None and key in cache:
        return cache[key]
    df = _load_table_uncached(spark, path, name)
    if key is not None:
        cache[key] = df
    return df


def _load_table_uncached(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # nanosAsLong is a runtime SQLConf — set it here too so the loader
        # works on externally-created sessions (e.g. the driver's), not only
        # ones from our session factory
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # integer DIV, not `/`: ns values exceed 2^53, so double division
            # loses the last microsecond
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view so operators can be written
    in either the DataFrame API or ``spark.sql`` — Catalyst produces the same
    plan for both."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A small driver-side table (stopwords, centers, golden vectors) as a
    DataFrame typed by ``ddl``.

    It goes to the JVM as one Arrow table and plans as a
    ``LocalTableScan``. A plain ``createDataFrame(<list>)`` plans a
    ``Scan ExistingRDD`` over a pickled Python RDD instead, so every action
    on it, building its broadcast included, runs a stage of Python workers.
    The ``pyarrow.Table`` path has no silent fallback to that RDD: the
    pandas path falls back on an empty frame or on any Arrow error."""
    schema = T.StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = zip(*rows) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)


#: A corpus file's doc id: the digits before the extension of its name.
#: The scan (``regexp_extract``, a Java ``find``) and the listing
#: (:func:`corpus_doc_count`, ``re.search``) apply the same pattern; ASCII
#: so that Python's ``\d`` matches only what Java's does.
_DOC_ID = r"(\d+)\.[^./]*$"
_INT_MAX = 2**31 - 1


def corpus_doc_count(corpus: DataFrame) -> int:
    """The number of documents in a :func:`read_corpus_dir` frame, from its
    file listing: every file whose name gives a doc id in the INT range
    (a larger one is NULL under ``try_cast``, so the scan skips it). An
    empty file counts, as in the reference (ProcessData.java:629-631),
    though the scan yields no row for it."""
    ids = (re.search(_DOC_ID, f, re.ASCII) for f in corpus.inputFiles())
    return sum(1 for m in ids if m and int(m[1]) <= _INT_MAX)


def read_corpus_dir(spark: SparkSession, path: str) -> DataFrame:
    """Reference-parity corpus reader: a directory of ``<int>.<ext>`` text files,
    one document per file.

    Replaces the reference's per-line mapper + filename parse
    (ProcessData.java:387-401): doc id = integer filename prefix before the last
    dot, 1-based (ProcessData.java:417, 464). ``wholetext=True`` reads each file
    as ONE row, so a document is never split into lines and re-grouped — no
    shuffle, and line order within a document is the file's byte order by
    construction (a line-wise read + ``collect_list`` regroup is NOT
    order-stable after the shuffle). One file = one record; documents are
    row-sized by definition, and file-level parallelism is preserved (one
    input split per file).

    Returns ``corpus(doc_id INT, text STRING)``.
    """
    files = spark.read.text(path, wholetext=True).withColumn("_file", F.input_file_name())
    return (
        files.withColumn(
            "doc_id",
            # try_cast: a non-matching filename yields "" which ANSI cast
            # would throw on (the reference threw NumberFormatException)
            F.regexp_extract(F.col("_file"), _DOC_ID, 1).try_cast("int"),
        )
        # non-numeric filenames crash the reference with NumberFormatException
        # (SURVEY Q4); here they are skipped explicitly
        .filter(F.col("doc_id").isNotNull())
        # line-join parity with the reference's per-line reader: no trailing
        # newline on the reassembled document
        .select("doc_id", F.regexp_replace("value", r"\n$", "").alias("text"))
    )


def read_csv(spark: SparkSession, path: str, schema: T.StructType | str | None = None, **options) -> DataFrame:
    """CSV source with explicit schema (no inference in production paths)."""
    reader = spark.read.options(header=True, **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType | str | None = None, **options) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC source (native Spark reader — vectorized, with predicate pushdown
    and column pruning like parquet; schema travels in the file footer)."""
    return spark.read.options(**options).orc(path)
