"""Driver cost of building the WAT frame for many local archive paths.

``read_wat_archives`` hands local paths to ``spark.read.text``, whose
``InMemoryFileIndex`` stats every path while the frame is built, on
the driver. Above ``spark.sql.sources.parallelPartitionDiscovery.threshold``
(32) paths Spark lists them in a distributed job of up to
``parallelPartitionDiscovery.parallelism`` (10,000) tasks. This probe
creates N empty ``.warc.wat.gz`` files (kept for reuse) and prints, as
one JSON line, the seconds and the retained driver JVM heap (after a
full GC) of building:

- ``hadoop``: ``read_wat_archives(spark, paths)`` as shipped;
- ``hadoop_serial``: the same with the discovery threshold raised above
  N, so the driver lists every path itself (set here for the
  measurement only, never by the package);
- ``path_feed``: the https branch's path feed over the same paths
  (``_framed_payloads``), which lists nothing.

    python tools/listing_probe.py --paths 50000 --dir /tmp/wat-listing
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from cc2dataset_spark.sources.wat import _framed_payloads, read_wat_archives  # noqa: E402

_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def make_paths(root: str, n: int) -> list[str]:
    """``n`` empty archive files under ``root``, 1,000 per directory."""
    paths = []
    for i in range(n):
        d = os.path.join(root, f"{i // 1000:04d}")
        if i % 1000 == 0:
            os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"CC-MAIN-probe-{i:07d}.warc.wat.gz")
        if not os.path.exists(p):
            open(p, "wb").close()
        paths.append(p)
    return paths


def heap_mb(spark) -> float:
    """Driver JVM heap in use after a full GC, once Python has released
    its handles on dropped JVM objects."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    jvm.java.lang.System.gc()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def timed_build(spark, build) -> dict:
    base = heap_mb(spark)
    t0 = time.perf_counter()
    df = build()
    seconds = time.perf_counter() - t0
    retained = heap_mb(spark) - base
    del df
    return {"s": round(seconds, 2), "heap_mb": round(retained, 1)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--paths", type=int, required=True)
    ap.add_argument("--dir", required=True, help="where the empty archives go")
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--driver-memory", default="4g")
    args = ap.parse_args()

    t0 = time.perf_counter()
    paths = make_paths(args.dir, args.paths)
    make_s = time.perf_counter() - t0
    spark = (
        SparkSession.builder.master(args.master)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", args.driver_memory)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    read_wat_archives(spark, paths[:64])  # load the listing classes
    out = {"paths": args.paths, "master": args.master, "make_files_s": round(make_s, 1)}
    out["hadoop"] = timed_build(spark, lambda: read_wat_archives(spark, paths))
    spark.conf.set(_THRESHOLD, str(args.paths + 1))
    try:
        out["hadoop_serial"] = timed_build(spark, lambda: read_wat_archives(spark, paths))
    finally:
        spark.conf.unset(_THRESHOLD)
    out["path_feed"] = timed_build(spark, lambda: _framed_payloads(spark, paths))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
