"""Type-parity guard between Spark query schemas and DuckDB oracle types.

The driver's correctness gate hashes TYPED values, so an oracle whose
column type diverges from the Spark schema fails the driver even when
every value matches numerically. The value comparator
(``oracle_harness.compare``) keeps Decimals exact and apart from
doubles, but it maps an INTEGRAL Decimal to ``int``: a DuckDB HUGEINT
(fetched as Decimal) against a Spark BIGINT compares equal there and
still fails the driver's typed hasher — r5's only red driver row
(``events_sessionize``) was exactly that, with zero value diffs. This
test compares COARSE type classes per column so the divergence is
caught locally:

- all machine ints are one class (the driver fetches Python ints either
  way), but DuckDB HUGEINT (int128 -> Decimal on fetch) is its own
  class and always fails against Spark's widest BIGINT;
- decimal / float / str / date / ts / bool / bin / list / struct / map
  each map cross-engine.

Costs one planning pass per query (no oracle execution: DuckDB relation
types come from the optimizer) — cheap at sf0.001.
"""

from __future__ import annotations

import pytest

from cc2dataset_spark.plans import catalog

from tests.oracle_harness import duckdb_conn

_SPARK_SIMPLE = {
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "bigint": "int",
    "float": "float",
    "double": "float",
    "string": "str",
    "date": "date",
    "boolean": "bool",
    "binary": "bin",
}

_DUCK_SIMPLE = {
    "TINYINT": "int",
    "SMALLINT": "int",
    "INTEGER": "int",
    "BIGINT": "int",
    "UTINYINT": "int",
    "USMALLINT": "int",
    "UINTEGER": "int",
    "UBIGINT": "int",
    "FLOAT": "float",
    "DOUBLE": "float",
    "REAL": "float",
    "VARCHAR": "str",
    "DATE": "date",
    "BOOLEAN": "bool",
    "BLOB": "bin",
}


def _spark_class(dt) -> str:
    s = dt.simpleString()
    if s.startswith("decimal"):
        return "decimal"
    if s.startswith("timestamp"):
        return "ts"
    if s.startswith("array"):
        return "list"
    if s.startswith("struct"):
        return "struct"
    if s.startswith("map"):
        return "map"
    return _SPARK_SIMPLE.get(s, s)


def _duck_class(t) -> str:
    s = str(t).upper()
    if s.endswith("[]"):
        return "list"
    if s.startswith("DECIMAL"):
        return "decimal"
    if "HUGEINT" in s:
        # int128: DuckDB's type for SUM over integers. Spark has no
        # counterpart; the driver fetch yields Decimal where Spark
        # yields int. Always a mismatch -> cast the oracle to BIGINT.
        return "hugeint"
    if s.startswith("TIMESTAMP"):
        return "ts"
    if s.startswith("STRUCT"):
        return "struct"
    if s.startswith("MAP"):
        return "map"
    return _DUCK_SIMPLE.get(s, s)


_ORACLED = [
    (name, q) for name, q in catalog._ordered().items() if q.oracle is not None
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb_conn(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name,q", _ORACLED, ids=[n for n, _ in _ORACLED])
def test_oracle_type_parity(name, q, spark, sf_dir, duck):
    sdf = q.fn(spark, sf_dir)
    smap = {f.name: _spark_class(f.dataType) for f in sdf.schema.fields}
    rel = duck.sql(q.oracle)
    dmap = {c: _duck_class(t) for c, t in zip(rel.columns, rel.types)}
    assert set(smap) == set(dmap), (
        f"{name}: column sets differ: spark={sorted(smap)} duckdb={sorted(dmap)}"
    )
    diffs = {c: (smap[c], dmap[c]) for c in smap if smap[c] != dmap[c]}
    assert not diffs, (
        f"{name}: type classes diverge (spark, duckdb): {diffs} — the "
        "driver's typed hasher will record hash_match:false even if "
        "values agree; CAST the oracle column"
    )
