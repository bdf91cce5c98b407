"""Focused regression tests for the r13 optimization-round changes:
spread_small_scan's conditional behavior (and the ``ref=`` contract it
shares with spread_small_input) and the image_dims hex-twin refactor
(2-int fold accumulator + pre-hexed variant)."""

import pyspark.sql.functions as F
import pytest

from cc2dataset_spark.operators import multimodal as MM
from cc2dataset_spark.operators.partitioning import spread_small_input
from cc2dataset_spark.sources.tables import spread_small_scan


def test_spread_small_scan_spreads_single_partition(spark):
    df = spark.range(0, 1000, 1, 1)  # 1 partition by construction
    out = spread_small_scan(df, "id")
    assert out.rdd.getNumPartitions() == (
        spark.sparkContext.defaultParallelism
    )
    # content unchanged
    assert out.count() == 1000
    assert out.agg(F.sum("id")).collect()[0][0] == 999 * 1000 // 2


def test_spread_small_scan_noop_when_already_parallel(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, target + 4)
    out = spread_small_scan(df, "id")
    # must return the input untouched — no exchange in the plan
    assert out is df


def _repartitions(df) -> int:
    plan = df._jdf.queryExecution().analyzed().toString()
    return sum(1 for line in plan.splitlines() if "Repartition" in line)


@pytest.mark.parametrize("spread", [spread_small_input, spread_small_scan])
def test_wrong_ref_never_changes_rows(spark, spread):
    """``ref`` must be a narrow ancestor with ``df``'s partition count.
    A wrong one (more or fewer partitions than ``df``) only mis-sizes
    the decision: the result is ``df`` itself or ``df`` behind one extra
    exchange, and its rows are the rows without ``ref``."""
    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000, 1, 2).withColumn("sq", F.col("id") * F.col("id"))
    wide = narrow.repartition(target + 4, "id")
    for df, ref, spreads in (
        (narrow, spark.range(0, 10, 1, target + 4), False),
        (wide, spark.range(0, 10, 1, 1), True),
    ):
        want = sorted(spread(df).collect())
        out = spread(df, ref=ref)
        assert (out is not df) == spreads
        if spreads:
            assert _repartitions(out) == _repartitions(df) + 1
        assert sorted(out.collect()) == want == sorted(df.collect())


def test_driver_union_find_labels_are_broadcast(spark):
    # The driver-union-find path of connected_components returns a
    # createDataFrame-backed labels frame with NO size statistics; the
    # explicit broadcast hint is what keeps every downstream join
    # against it a BroadcastHashJoin instead of a corpus-shuffling
    # sort-merge join (r13-opt; guide §3.1). Pin both the hint and the
    # planned join strategy.
    from cc2dataset_spark.operators.components import (
        cluster_survivors,
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    universe = spark.range(1, 20).select(F.col("id").alias("doc_id"))
    out = cluster_survivors(universe, edges, "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the labels side must never be met by shuffling the universe:
    # the only SortMergeJoins allowed are the aggregate join-backs
    # on component_id, which both sides reach via one hash exchange
    comp = connected_components(edges)
    rows = {(r.id, r.component) for r in comp.collect()}
    assert rows == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_pinned_driver_heap_conf_shape(monkeypatch):
    # pinned heap: -Xms must equal spark.driver.memory, pre-touch on,
    # and the env override must win over the RAM-derived default
    from cc2dataset_spark.session import pinned_driver_heap_conf

    conf = pinned_driver_heap_conf(mem_gb=6)
    assert conf["spark.driver.memory"] == "6g"
    assert "-Xms6g" in conf["spark.driver.extraJavaOptions"]
    assert "-XX:+AlwaysPreTouch" in conf["spark.driver.extraJavaOptions"]

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM_GB", "5")
    conf = pinned_driver_heap_conf()
    assert conf["spark.driver.memory"] == "5g"
    assert "-Xms5g" in conf["spark.driver.extraJavaOptions"]

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM_GB")
    conf = pinned_driver_heap_conf()
    mem = int(conf["spark.driver.memory"].rstrip("g"))
    assert 4 <= mem <= 12
    assert f"-Xms{mem}g" in conf["spark.driver.extraJavaOptions"]


def test_psl_rules_df_cached_per_session_and_lineage_truncated(spark):
    # the PSL match table must be built once per session, reused on
    # the second call, and carry a truncated lineage (no 8k-row
    # LocalRelation in consumer plans)
    from cc2dataset_spark.functions import links

    app_id = spark.sparkContext.applicationId
    links._PSL_RULES_DF_CACHE.pop(app_id, None)
    a = links._psl_rules_df(spark)
    b = links._psl_rules_df(spark)
    assert a is b
    rows, _ = links._psl_match_table()
    assert a.count() == len(rows)
    # lineage truncated: the plan is a scan of checkpointed blocks,
    # not an inline LocalRelation of the full rule set
    plan = a._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in plan

    # a consumer still computes the correct eTLD+1 through the cache
    df = spark.createDataFrame(
        [("www.example.co.uk",), ("a.b.city.kawasaki.jp",)], "host string"
    )
    out = {
        r["host"]: r["domain"]
        for r in links.with_registrable_domain(df, host_col="host").collect()
    }
    assert out["www.example.co.uk"] == "example.co.uk"
    assert out["a.b.city.kawasaki.jp"] == "city.kawasaki.jp"


def test_preloading_daemon_wired_and_workers_function(spark):
    # local sessions must run Python workers under the preloading
    # daemon (pydaemon pre-imports numpy/pandas/pyarrow before fork —
    # copy-on-write inheritance instead of per-worker imports), and a
    # pandas UDF must compute correctly through it
    assert (
        spark.conf.get("spark.python.daemon.module")
        == "cc2dataset_spark.pydaemon"
    )
    import os

    assert any(
        os.path.isdir(os.path.join(p, "cc2dataset_spark"))
        for p in spark.conf.get("spark.executorEnv.PYTHONPATH").split(
            os.pathsep
        )
    )
    # the daemon module itself must expose pyspark.daemon's entry point
    from cc2dataset_spark import pydaemon

    assert callable(pydaemon.manager)

    df = spark.range(0, 100, 1, 4)

    def double(it):
        for b in it:
            yield b.assign(x=b.id * 2)

    total = (
        df.mapInPandas(double, "id long, x long")
        .agg(F.sum("x"))
        .collect()[0][0]
    )
    assert total == 99 * 100  # sum(2*i) = n(n-1)


def test_image_dims_hex_equals_image_dims(spark):
    # real headers through both entry points: the payload variant must
    # be exactly the hex variant over upper(hex(payload))
    png = bytes.fromhex("89504E470D0A1A0A0000000D49484452")
    png += (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
    png += bytes.fromhex("0806000000")
    jpg = bytes.fromhex(
        "FFD8FFE000104A46494600010100000100010000FFC000110801E0028003"
    )
    gif = bytes.fromhex("4749463839610A001400800000")
    junk = b"not an image at all"
    df = spark.createDataFrame(
        [(0, png), (1, jpg), (2, gif), (3, junk)], "i long, p binary"
    )
    a = df.select(
        "i", MM.image_dims(F.col("p")).alias("d")
    ).orderBy("i").collect()
    b = df.select(
        "i",
        MM.image_dims_hex(F.upper(F.hex(F.col("p")))).alias("d"),
    ).orderBy("i").collect()
    assert [r["d"] for r in a] == [r["d"] for r in b]
    assert a[0]["d"]["format"] == "png"
    assert (a[0]["d"]["width"], a[0]["d"]["height"]) == (640, 480)
    assert a[1]["d"]["format"] == "jpeg"
    assert (a[1]["d"]["width"], a[1]["d"]["height"]) == (640, 480)
    assert a[2]["d"]["format"] == "gif"
    assert (a[2]["d"]["width"], a[2]["d"]["height"]) == (10, 20)
    assert a[3]["d"]["format"] is None


def test_image_dims_jpeg_walk_accumulator_is_small(spark):
    # the fold must keep working past multi-segment headers (the
    # accumulator restructure must not have changed walk semantics):
    # SOI + two APPn segments + SOF0
    app1 = bytes.fromhex("FFE1") + (200).to_bytes(2, "big") + b"\x00" * 198
    com = bytes.fromhex("FFFE") + (50).to_bytes(2, "big") + b"\x00" * 48
    sof = bytes.fromhex("FFC00011080100020003")
    payload = bytes.fromhex("FFD8") + app1 + com + sof + b"\x00" * 8
    df = spark.createDataFrame([(payload,)], "p binary")
    row = df.select(MM.image_dims(F.col("p")).alias("d")).collect()[0]
    assert row["d"]["format"] == "jpeg"
    assert (row["d"]["width"], row["d"]["height"]) == (0x0200, 0x0100)
