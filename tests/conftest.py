"""Shared pytest fixtures: one SparkSession per test run, a DuckDB connection
with the fixture tables registered, and the oracle assertion built on the
package comparator (:mod:`hadoop_web_browsing_logs_spark.plans.oracle`).
"""

from __future__ import annotations

import os

import duckdb
import pytest

# canonical_rows / duck_fetch_typed are re-exported for perfbench/oracle.py
from hadoop_web_browsing_logs_spark.plans.oracle import (  # noqa: F401
    canonical_rows,
    create_views,
    duck_fetch_typed,
    oracle_mismatch,
)
from hadoop_web_browsing_logs_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_CORRECTNESS = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
CPUS = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))


@pytest.fixture(scope="session")
def spark():
    yield get_spark("engine-tests", cpus=CPUS)


def _schema(sf_dir: str) -> str:
    return "sf" + os.path.basename(sf_dir.rstrip("/")).replace("sf", "").replace(".", "_")


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for sf_dir in {SF_DIR, SF_DIR_CORRECTNESS}:
        create_views(con, sf_dir, _schema(sf_dir))
    yield con
    con.close()


def assert_query_matches_oracle(spark, duck, name: str, sf_dir: str | None = None) -> None:
    """Run a registered query on Spark and its oracle on DuckDB over the same
    parquet; assert schema-name set, row count, and canonical value equality."""
    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    sf_dir = sf_dir or SF_DIR
    q = get_query(name)
    assert q.oracle is not None, f"{name} has no oracle"

    duck.execute(f"SET schema '{_schema(sf_dir)}'")
    why = oracle_mismatch(q.fn(spark, sf_dir), duck.execute(q.oracle))
    assert why is None, f"{name}: {why}"
