"""Differential harness: run a catalog query on Spark AND its oracle SQL
on DuckDB over the same parquet, and compare column names, row count
and order-insensitive values — the local stand-in for the driver's
CORRECTNESS gate (``__spark_entry__.py``).

This is the repository's one comparator. The pytest tier,
``python -m cc2dataset_spark verify``, ``make verify``
(``tools/driver_sim.py``) and perfbench's ``--trace 1`` catalog probe
all call :func:`compare`, so none of them can pass a result another
rejects. It compares at full precision, because the driver hashes
typed values: a comparator that rounds floats or turns Decimal into
float passes results the driver fails (``0.1D + 0.2D`` against
``0.3::DOUBLE``, ``DECIMAL 1.50`` against ``DOUBLE 1.5``). It still
maps an integral Decimal to ``int``, so column TYPES are pinned
separately (``tests/test_oracle_types.py``).
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb

from cc2dataset_spark.sources.tables import TABLES, table_path


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def _norm(v):
    """Canonical form of a cell. Only spellings of one value become
    equal: a Decimal stays exact (an integral one is ``int``), a double
    compares by its shortest round-trip ``repr`` (NaN and -0.0 made
    canonical), and a Decimal never equals a double."""
    if isinstance(v, Decimal):
        if v == v.to_integral_value():
            return int(v)
        return f"dec:{v.normalize()}"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"f:{v + 0.0!r}"  # -0.0 + 0.0 is 0.0
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "?"):
    """Assert the Spark result and the DuckDB oracle result agree, and
    return the number of rows compared."""
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.execute(sql)
    d_cols = [c[0] for c in rel.description]
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column names differ: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count differs: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    s_set = _rowset(s_cols, s_rows)
    d_set = _rowset(d_cols, d_rows)
    if s_set != d_set:
        diffs = [
            (a, b) for a, b in zip(s_set, d_set) if a != b
        ][:5]
        raise AssertionError(
            f"{name}: values differ; first diffs (spark, duckdb): {diffs}"
        )
    return len(s_rows)
