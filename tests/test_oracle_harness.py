"""The oracle comparator (tests/oracle_harness.compare) is as strict as
the driver's typed hasher: a float differing past the 12th digit, or a
Decimal against a double of the same value, is a mismatch; -0.0, NaN
and the row order are not."""

from __future__ import annotations

import duckdb
import pytest

from tests.oracle_harness import compare

REJECTS = [
    pytest.param(
        "SELECT 0.1D + 0.2D AS x", "SELECT 0.3::DOUBLE AS x", id="float_digits"
    ),
    pytest.param(
        "SELECT CAST(1.50 AS DECIMAL(3,2)) AS x",
        "SELECT 1.5::DOUBLE AS x",
        id="decimal_vs_double",
    ),
]

ACCEPTS = [
    pytest.param("SELECT -0.0D AS x", "SELECT 0.0::DOUBLE AS x", id="negative_zero"),
    pytest.param(
        "SELECT CAST('NaN' AS DOUBLE) AS x", "SELECT 'NaN'::DOUBLE AS x", id="nan"
    ),
    pytest.param(
        "SELECT * FROM VALUES (X'01'), (X'FF') AS t(b) ORDER BY b",
        "SELECT * FROM (VALUES (unhex('FF')), (unhex('01'))) t(b)",
        id="binary_row_order",
    ),
]


@pytest.mark.parametrize("spark_sql,duck_sql", REJECTS)
def test_compare_rejects(spark, spark_sql, duck_sql):
    with pytest.raises(AssertionError, match="values differ"):
        compare(spark.sql(spark_sql), duckdb.connect(), duck_sql, spark_sql)


@pytest.mark.parametrize("spark_sql,duck_sql", ACCEPTS)
def test_compare_accepts(spark, spark_sql, duck_sql):
    compare(spark.sql(spark_sql), duckdb.connect(), duck_sql, spark_sql)
