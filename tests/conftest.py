"""Shared pytest fixtures: one SparkSession per test session, DuckDB oracle
connection with the testdata views registered — the same differential-testing
idea as the reference's ExternalQueryEvaluator (util/ExternalQueryEvaluator.
scala:6-55), with DuckDB as the trusted engine."""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from pyspark.sql import SparkSession

from bench import py4j_round_trips  # noqa: F401  (tests import it from here)
from seccosql_spark.session import TESTDATA_TABLES, SeccoSession

SF_DIR = os.environ.get("SECCO_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("seccosql_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sess(spark) -> SeccoSession:
    s = SeccoSession(spark)
    s.load_dir(SF_DIR)
    return s


def pytest_addoption(parser):
    parser.addoption(
        "--changed-only",
        action="store_true",
        default=False,
        help="registry differential: only run queries whose driver row is "
        "stale/hot per scripts/freshness.py, or whose dep files have "
        "uncommitted edits. Local-iteration speedup ONLY — the full run "
        "stays the CI/driver default.",
    )


@pytest.fixture(scope="session")
def changed_names(request):
    """None = run everything (default). A set of names when --changed-only:
    computed once per session from the freshness ledger + working tree."""
    if not request.config.getoption("--changed-only"):
        return None
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "freshness",
        _os.path.join(_os.path.dirname(_os.path.dirname(__file__)), "scripts", "freshness.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.changed_query_names()


@pytest.fixture(scope="session")
def oracle() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(value):
    """Canonicalize a cell for exact comparison (the driver hash-compares;
    we mimic with exact equality, treating NaN==NaN)."""
    if isinstance(value, float) and math.isnan(value):
        return "__nan__"
    return value


def assert_df_matches_oracle(df, con, sql: str):
    """Order-insensitive, column-name-sorted exact comparison — the same
    contract as the driver's CORRECTNESS check."""
    spark_pdf = df.toPandas()
    duck_pdf = con.sql(sql).df()
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"column mismatch: {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    )
    cols = sorted(spark_pdf.columns)
    s_rows = sorted(
        [tuple(_canon(v) for v in row) for row in spark_pdf[cols].itertuples(index=False)],
        key=repr,
    )
    d_rows = sorted(
        [tuple(_canon(v) for v in row) for row in duck_pdf[cols].itertuples(index=False)],
        key=repr,
    )
    assert len(s_rows) == len(d_rows), f"row count {len(s_rows)} vs {len(d_rows)}"
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if repr(a) != repr(b)
    ]
    assert not mismatches, f"{len(mismatches)} row mismatches; first: {mismatches[:3]}"
