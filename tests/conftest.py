"""Shared fixtures: one SparkSession per test run, testdata catalog, DuckDB
oracle comparison helper."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from velesdb_spark.session import get_spark
from velesdb_spark.velesql.translator import Catalog

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# reserved, quoted and non-ASCII column names that every builder splicing
# names into SQL text must accept
ODD_NAMES = ["vec col", "a`b", "ñame", "current_date", "select"]


@pytest.fixture(scope="session")
def spark():
    s = get_spark("velesdb-spark-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def catalog(spark) -> Catalog:
    from velesdb_spark.sources.testdata import make_catalog

    return make_catalog(spark, SF_DIR)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _canon(rows, ndigits=6):
    """Order-insensitive canonical form with float rounding."""
    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return round(v, ndigits) + 0.0
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        return v

    return sorted(tuple(norm(v) for v in row) for row in rows)


def assert_matches_oracle(sdf, duck_con, oracle_sql: str, ndigits=6):
    """Spark DataFrame vs DuckDB SQL: row count + column names + values."""
    srows = [tuple(r) for r in sdf.collect()]
    ores = duck_con.execute(oracle_sql)
    ocols = [d[0] for d in ores.description]
    orows = [tuple(r) for r in ores.fetchall()]
    assert [c.lower() for c in sdf.columns] == [c.lower() for c in ocols], \
        f"columns differ: {sdf.columns} vs {ocols}"
    assert len(srows) == len(orows), f"row count {len(srows)} vs {len(orows)}"
    sc, oc = _canon(srows, ndigits), _canon(orows, ndigits)
    assert sc == oc, f"values differ:\nspark={sc[:5]}\noracle={oc[:5]}"
