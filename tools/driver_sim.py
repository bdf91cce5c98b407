"""Driver simulation: exercise __spark_entry__ exactly as the driver would.

Fresh process, vanilla session, import the contract module, run entry(),
then run every queries() entry at sf0.01 against oracle_sql() on DuckDB
through the repository's one comparator (tests/oracle_harness.compare:
column names + row count + order-insensitive full-precision values).

    python tools/driver_sim.py [name ...]

Query names restrict the sweep to those queries. SPARK_GRAFT_SIM_SF
overrides the fixture directory. Prints a JSON status per query and
``TOTAL N queries, M mismatches``; exit 0 iff M is 0.
"""
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession

import __spark_entry__ as contract
from tests.oracle_harness import compare, duckdb_conn

# SPARK_GRAFT_SIM_SF overrides the scale (the driver runs sf0.01; a
# one-off sf0.1 sweep stresses the rounding-boundary discipline with
# 10x the data, where every cross-engine float boundary moves)
SF = os.environ.get("SPARK_GRAFT_SIM_SF", "/root/testdata/sf0.01")


def main(names: list[str]) -> int:
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    # --- t1 smoke ---
    df = contract.entry(spark)
    rows = df.collect()
    print(f"t1 smoke: entry() -> {len(rows)} rows, schema={df.columns}")

    # --- t2 correctness ---
    con = duckdb_conn(SF)

    qs = contract.queries()
    osql = contract.oracle_sql()
    results = {}
    for name in names or sorted(qs):
        try:
            sdf = qs[name](spark, SF)
            if name not in osql:
                results[name] = f"rows_only:{len(sdf.collect())}"
            else:
                results[name] = f"match:{compare(sdf, con, osql[name], name)}"
        except AssertionError as ex:
            results[name] = f"MISMATCH {ex}"[:300]
        except Exception as ex:  # noqa: BLE001
            results[name] = f"ERROR {type(ex).__name__}: {ex}"[:300]

    print(json.dumps(results, indent=1))
    nbad = sum(1 for v in results.values() if not (v.startswith("match") or v.startswith("rows_only")))
    print(f"TOTAL {len(results)} queries, {nbad} mismatches")
    return 1 if nbad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
