"""Differential test: every registered query with an oracle must match DuckDB
exactly at sf0.01 (the driver's correctness scale)."""

from __future__ import annotations

import contextlib

import pytest

from kwack_spark.plans.registry import QUERIES, _load_all
from kwack_spark.sources.parquet import TABLES
from tests.conftest import SF_ORACLE
from tests.oracle_harness import compare_query, duck_connect

_load_all()
ORACLED = sorted(n for n, e in QUERIES.items() if e.oracle is not None)
ROWS_ONLY = sorted(n for n, e in QUERIES.items() if e.oracle is None)


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF_ORACLE)
    yield con
    con.close()


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@contextlib.contextmanager
def _no_residue(spark, name):
    """A query may register the source tables as views; it must leave no
    other temp view and no active stream in the long-lived session."""
    before = _temp_views(spark)
    yield
    active = [q.name for q in spark.streams.active]
    assert not active, f"{name}: left active streams {active}"
    added = _temp_views(spark) - before - set(TABLES)
    assert not added, f"{name}: left temp views {sorted(added)}"


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_match(spark, duck, name):
    e = QUERIES[name]
    with _no_residue(spark, name):
        ok, detail = compare_query(spark, duck, e.fn, e.oracle, SF_ORACLE)
    assert ok, f"{name}: {detail}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    e = QUERIES[name]
    with _no_residue(spark, name):
        df = e.fn(spark, SF_ORACLE)
        assert df.count() >= 0
    assert len(df.schema.fields) > 0
    from tests.oracle_harness import ungradable_columns

    bad = ungradable_columns(df.schema)
    assert not bad, (
        f"{name}: driver-ungradable output columns {bad} — stringify arrays"
    )


def test_lint_rejects_array_output(spark):
    """The contract lint must fail an intentionally array-typed result."""
    from pyspark.sql import functions as F

    from tests.oracle_harness import duck_connect, compare_query

    def bad_fn(spark, sf_dir):
        return spark.range(3).agg(F.collect_list("id").alias("ids"))

    con = duck_connect(SF_ORACLE)
    try:
        ok, detail = compare_query(
            spark, con, bad_fn, "SELECT [1,2,3] AS ids", SF_ORACLE
        )
    finally:
        con.close()
    assert not ok and "driver-ungradable" in detail


def test_lint_rejects_nested_struct_collection(spark):
    """A collection nested INSIDE a struct column is just as ungradable as
    a top-level one (pandas factorize reaches the inner list)."""
    from pyspark.sql import functions as F

    from tests.oracle_harness import ungradable_columns

    df = spark.range(3).agg(
        F.struct(F.count("id").alias("n"), F.collect_list("id").alias("ids")).alias("g")
    )
    assert ungradable_columns(df.schema) == ["g"]


def test_lint_rejects_hugeint_oracle(spark):
    """The dtype lint must fail an oracle whose un-CAST SUM emits HUGEINT —
    the exact class that shipped the four r06 driver-reds."""
    from pyspark.sql import functions as F

    from tests.oracle_harness import duck_connect, compare_query

    def fn(spark, sf_dir):
        return spark.range(3).agg(F.sum("id").alias("s"))

    con = duck_connect(SF_ORACLE)
    try:
        ok, detail = compare_query(
            spark, con, fn, "SELECT SUM(x) AS s FROM (VALUES (0),(1),(2)) t(x)",
            SF_ORACLE,
        )
    finally:
        con.close()
    assert not ok and "HUGEINT" in detail


def test_lint_rejects_unsigned_oracle(spark):
    """Unsigned DuckDB ints slip through the same crack as HUGEINT (pandas
    uint64 vs Spark int64) — the lint must reject them outright."""
    from pyspark.sql import functions as F

    from tests.oracle_harness import duck_connect, compare_query

    def fn(spark, sf_dir):
        return spark.range(1).select(F.lit(1).cast("long").alias("n"))

    con = duck_connect(SF_ORACLE)
    try:
        ok, detail = compare_query(
            spark, con, fn, "SELECT CAST(1 AS UBIGINT) AS n", SF_ORACLE
        )
    finally:
        con.close()
    assert not ok and "UBIGINT" in detail


def test_lint_rejects_decimal_oracle_vs_double(spark):
    """A DuckDB DECIMAL oracle column (un-CAST SUM/round over decimals)
    against a Spark double column passes the integral/floating rules but
    materializes as object/float64 at the driver — the lint must reject it
    (r07 ADVICE #3)."""
    from pyspark.sql import functions as F

    from tests.oracle_harness import duck_connect, compare_query

    def fn(spark, sf_dir):
        return spark.range(1).select(F.lit(1.5).alias("n"))

    con = duck_connect(SF_ORACLE)
    try:
        ok, detail = compare_query(
            spark, con, fn, "SELECT CAST(1.5 AS DECIMAL(10,2)) AS n", SF_ORACLE
        )
    finally:
        con.close()
    assert not ok and "DECIMAL" in detail


def test_lint_allows_decimal_oracle_vs_decimal(spark):
    """DECIMAL-vs-DecimalType is the one legal DECIMAL pairing: both sides
    canonicalize through decimal.Decimal, so the lint must not reject it."""
    from pyspark.sql import functions as F

    from tests.oracle_harness import duck_connect, compare_query

    def fn(spark, sf_dir):
        return spark.range(1).select(
            F.lit("1.50").cast("decimal(10,2)").alias("n")
        )

    con = duck_connect(SF_ORACLE)
    try:
        ok, detail = compare_query(
            spark, con, fn, "SELECT CAST(1.5 AS DECIMAL(10,2)) AS n", SF_ORACLE
        )
    finally:
        con.close()
    assert ok, detail


def test_lint_rejects_int_float_class_mismatch(spark):
    """Oracle BIGINT against a Spark double column (or vice versa) hashes
    differently at the driver even when values are numerically equal."""
    from pyspark.sql import functions as F

    from tests.oracle_harness import duck_connect, compare_query

    def fn(spark, sf_dir):
        return spark.range(3).agg(F.count("id").cast("double").alias("n"))

    con = duck_connect(SF_ORACLE)
    try:
        ok, detail = compare_query(
            spark, con, fn, "SELECT CAST(3 AS BIGINT) AS n", SF_ORACLE
        )
    finally:
        con.close()
    assert not ok and "oracle-dtype" in detail


def test_registry_names_match_functions():
    """Decorator-trap lint (no Spark needed): a helper def inserted
    between @register(...) and the query def silently registers the
    helper under the query's name — caught here by auditing that every
    registered entry's function really is the named query."""
    from kwack_spark.plans.registry import QUERIES

    bad = [n for n, e in QUERIES.items() if e.fn.__name__ != n]
    assert not bad, f"registered name != function name: {bad}"
