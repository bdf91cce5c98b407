"""The linear-state as-of join must agree exactly with the
candidate-join + max_by formulation (same semantics, different scale
envelope)."""

import pytest
from pyspark.sql import functions as F

from cc2dataset_spark.operators.asof import asof_join_union
from cc2dataset_spark.plans.catalog import QUERIES, _load_all
from cc2dataset_spark.sources.tables import load_table

_load_all()


@pytest.mark.slow
def test_asof_union_equals_maxby(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    got = asof_join_union(
        events.select("event_id", "user_id", "ts"),
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_values=["o_orderkey", "o_orderdate"],
        right_tiebreak="o_orderkey",
        how="inner",
    ).select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("last_orderdate"),
    )
    want = QUERIES["join_asof_last_order"].fn(spark, sf_dir)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_asof_left_keeps_unmatched(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    # restrict right side so some users have no orders at all
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    out = asof_join_union(
        events.select("event_id", "user_id", "ts"),
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_values=["o_orderkey"],
        right_tiebreak="o_orderkey",
        how="left",
    )
    assert out.count() == events.count()
    assert out.where(F.col("o_orderkey").isNull()).count() > 0


def test_stream_static_enrichment(spark, sf_dir):
    """Stream-static join: streaming events enriched with the customer
    dimension (the standard streaming lookup-join)."""
    from cc2dataset_spark.streaming.windows import read_events_stream

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = read_events_stream(spark, sf_dir).join(F.broadcast(cust), "user_id")
    q = (
        stream.select("event_id", "user_id", "c_mktsegment")
        .writeStream.format("memory")
        .queryName("t_enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT COUNT(*) AS n FROM t_enriched").first().n
    want = (
        load_table(spark, sf_dir, "events").join(cust, "user_id").count()
    )
    assert got == want


def test_asof_forward_exact_match_and_ties(spark):
    """Forward as-of includes exact-timestamp matches and resolves
    right-side ties to the SMALLEST tiebreak (mirror of backward's
    greatest); rows with no following right row drop under how='inner'
    and survive as nulls under how='left'."""
    from cc2dataset_spark.operators.asof import asof_join_union

    left = spark.createDataFrame(
        [(1, "k", 10), (2, "k", 25), (3, "k", 99)],
        "lid int, k string, ts long",
    )
    right = spark.createDataFrame(
        [("k", 10, 100), ("k", 30, 201), ("k", 30, 200), ("k", 5, 900)],
        "k string, rts long, val int",
    )
    out = {
        (r.lid, r.val)
        for r in asof_join_union(
            left, right, "k", "k", "ts", "rts",
            right_values=["val"], right_tiebreak="val",
            direction="forward",
        ).collect()
    }
    # lid 1: exact match at ts=10 -> val 100 (not the later 200)
    # lid 2: next is rts=30, tie -> smallest val 200
    # lid 3: nothing at/after 99 -> dropped (inner)
    assert out == {(1, 100), (2, 200)}
    outer = {
        (r.lid, r.val)
        for r in asof_join_union(
            left, right, "k", "k", "ts", "rts",
            right_values=["val"], right_tiebreak="val",
            direction="forward", how="left",
        ).collect()
    }
    assert outer == {(1, 100), (2, 200), (3, None)}


def test_asof_direction_validation(spark):
    import pytest as _pytest

    from cc2dataset_spark.operators.asof import asof_join_union

    df = spark.createDataFrame([(1, "k", 1)], "lid int, k string, ts long")
    with _pytest.raises(ValueError, match="direction"):
        asof_join_union(
            df, df, "k", "k", "ts", "ts",
            right_values=["lid"], right_tiebreak="lid", direction="sideways",
        )


def test_asof_nearest_picks_closer_side(spark):
    """Nearest as-of: exact matches win at distance 0, equidistant
    candidates resolve backward, and one-sided cases fall through to
    whichever side exists."""
    from cc2dataset_spark.operators.asof import asof_join_union

    left = spark.createDataFrame(
        [(1, "k", 10), (2, "k", 20), (3, "k", 26), (4, "k", 1), (5, "k", 99)],
        "lid int, k string, ts long",
    )
    right = spark.createDataFrame(
        [("k", 10, 100), ("k", 15, 150), ("k", 25, 250), ("k", 30, 300)],
        "k string, rts long, val int",
    )
    out = {
        (r.lid, r.val)
        for r in asof_join_union(
            left, right, "k", "k", "ts", "rts",
            right_values=["val"], right_tiebreak="val",
            direction="nearest", how="left",
        ).collect()
    }
    # lid 1: exact at 10 -> 100
    # lid 2: dist 5 both sides (15 vs 25) -> backward -> 150
    # lid 3: 25 (d=1) vs 30 (d=4) -> 250
    # lid 4: nothing before -> forward 100
    # lid 5: nothing after -> backward 300
    assert out == {(1, 100), (2, 150), (3, 250), (4, 100), (5, 300)}


def test_asof_strict_excludes_exact_matches(spark):
    """allow_exact_matches=False makes every comparison strict, in all
    three directions (pandas parity)."""
    from cc2dataset_spark.operators.asof import asof_join_union

    left = spark.createDataFrame(
        [(1, "k", 10), (2, "k", 30)], "lid int, k string, ts long"
    )
    right = spark.createDataFrame(
        [("k", 10, 100), ("k", 20, 200), ("k", 30, 300), ("k", 40, 400)],
        "k string, rts long, val int",
    )

    def run(direction):
        return {
            (r.lid, r.val)
            for r in asof_join_union(
                left, right, "k", "k", "ts", "rts",
                right_values=["val"], right_tiebreak="val",
                direction=direction, allow_exact_matches=False, how="left",
            ).collect()
        }

    # backward strict: lid1 has nothing < 10 -> null; lid2 -> 20
    assert run("backward") == {(1, None), (2, 200)}
    # forward strict: lid1 -> 20 (not the exact 10); lid2 -> 40
    assert run("forward") == {(1, 200), (2, 400)}
    # nearest strict: lid1 -> 20 (exact 10 excluded, only forward);
    # lid2: 20 (d=10) vs 40 (d=10) equidistant -> backward
    assert run("nearest") == {(1, 200), (2, 200)}


def test_asof_tolerance_rejects_distant_matches(spark):
    """pandas-parity tolerance: a candidate farther than the bound from
    the left timestamp is rejected (nulled under how='left')."""
    from cc2dataset_spark.operators.asof import asof_join_union

    left = spark.createDataFrame(
        [(1, "k", 10), (2, "k", 50)], "lid int, k string, ts long"
    )
    right = spark.createDataFrame(
        [("k", 8, 80), ("k", 30, 300)], "k string, rts long, val int"
    )
    out = {
        (r.lid, r.val)
        for r in asof_join_union(
            left, right, "k", "k", "ts", "rts",
            right_values=["val"], right_tiebreak="val",
            direction="backward", how="left", tolerance=F.lit(5),
        ).collect()
    }
    # lid1: 8 is within 5 of 10 -> 80; lid2: last is 30, 20 away -> null
    assert out == {(1, 80), (2, None)}
    near = {
        (r.lid, r.val)
        for r in asof_join_union(
            left, right, "k", "k", "ts", "rts",
            right_values=["val"], right_tiebreak="val",
            direction="nearest", how="inner", tolerance=F.lit(5),
        ).collect()
    }
    assert near == {(1, 80)}


def test_asof_null_value_columns_stay_row_atomic(spark):
    """A matched right row's values travel TOGETHER: a NULL in one
    value column must surface as NULL, never backfilled from an older
    right row (pandas merge_asof semantics); and an inner as-of join
    keeps a genuine match whose first value column is NULL."""
    from cc2dataset_spark.operators.asof import asof_join_union

    left = spark.createDataFrame([(1, 30)], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, 10, 1.0, 2.0), (1, 20, None, 3.0)],
        ["k", "rts", "a", "b"],
    )
    out = asof_join_union(
        left, right, left_key="k", right_key="k",
        left_ts="ts", right_ts="rts", right_tiebreak="rts",
        right_values=["a", "b"],
    ).collect()
    assert len(out) == 1
    assert out[0].a is None and out[0].b == 3.0  # ts=20 row, atomic

    inner = asof_join_union(
        left, right, left_key="k", right_key="k",
        left_ts="ts", right_ts="rts", right_tiebreak="rts",
        right_values=["a", "b"], how="inner",
    ).collect()
    assert len(inner) == 1  # match exists even though a is NULL

    # tolerance: the match at ts=20 is outside tol=5 -> no backfill
    # of column a from the ts=10 row either
    tol = asof_join_union(
        left, right, left_key="k", right_key="k",
        left_ts="ts", right_ts="rts", right_tiebreak="rts",
        right_values=["a", "b"], tolerance=5, how="left",
    ).collect()
    assert tol[0].a is None and tol[0].b is None


def test_asof_null_timestamps_never_match(spark):
    """r8 regression: NULL-ts right rows must not be phantom matches
    (they sorted nulls-first INSIDE the window frames), and a NULL-ts
    left row matches nothing — inner drops it, left keeps it
    null-filled."""
    from cc2dataset_spark.operators.asof import asof_join_union

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, None, "b")], ["k", "lts", "tag"]
    )
    right = spark.createDataFrame(
        [(1, None, 999, 1), (1, 3, 30, 2)], ["k", "rts", "v", "rid"]
    )
    got = {
        r.tag: r.v
        for r in asof_join_union(
            left, right, "k", "k", "lts", "rts", ["v"],
            right_tiebreak="rid", how="left", direction="backward",
        ).collect()
    }
    assert got == {"a": 30, "b": None}  # never 999
    inner = asof_join_union(
        left, right, "k", "k", "lts", "rts", ["v"],
        right_tiebreak="rid", how="inner", direction="forward",
    ).collect()
    # forward from ts=5 finds nothing (only rts=3 exists); null-left
    # row must not grab the earliest right row
    assert inner == []


def test_asof_fractional_tiebreak_stays_exact(spark):
    """r8 regression: a double tiebreak must not be truncated to long
    (1.4 and 1.5 collapsing to the same tie) — backward takes the
    GREATEST tiebreak among equal-ts rows, exactly."""
    from cc2dataset_spark.operators.asof import asof_join_union

    left = spark.createDataFrame([(1, 10)], ["k", "lts"])
    right = spark.createDataFrame(
        [(1, 10, "lo", 1.4), (1, 10, "hi", 1.5)], ["k", "rts", "v", "score"]
    )
    got = asof_join_union(
        left, right, "k", "k", "lts", "rts", ["v"],
        right_tiebreak="score", direction="backward",
    ).collect()
    assert [r.v for r in got] == ["hi"]


def test_asof_rejects_bad_how_and_name_clash(spark):
    import pytest

    from cc2dataset_spark.operators.asof import asof_join_union

    left = spark.createDataFrame([(1, 1, "x")], ["k", "lts", "v"])
    right = spark.createDataFrame([(1, 1, "y", 1)], ["k", "rts", "v", "rid"])
    with pytest.raises(ValueError, match="how"):
        asof_join_union(
            left, right, "k", "k", "lts", "rts", ["v"],
            right_tiebreak="rid", how="outer",
        )
    with pytest.raises(ValueError, match="collide"):
        asof_join_union(
            left, right, "k", "k", "lts", "rts", ["v"],
            right_tiebreak="rid",
        )


def test_asof_forward_next_order_matches_oracle_on_shifted_events(spark, sf_dir):
    """The forward as-of join over real fixture rows. On the fixture,
    ``join_asof_forward_next_order`` returns 0 rows (every event falls in
    2024-01, the last order is dated 2001-08), so here the events move 26
    years back into the orders' range, and the query's own SQL runs on
    the same shift."""
    from tests.oracle_harness import compare, duckdb_conn

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", (F.col("ts") - F.expr("INTERVAL 26 YEARS")).alias("ts")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    got = asof_join_union(
        events,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_values=["o_orderkey", "o_orderdate"],
        right_tiebreak="o_orderkey",
        how="inner",
        direction="forward",
    ).select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("next_orderkey"),
        F.col("o_orderdate").alias("next_orderdate"),
    )
    oracle = QUERIES["join_asof_forward_next_order"].oracle
    shifted = "(SELECT event_id, user_id, ts - INTERVAL 26 YEAR AS ts FROM events) e"
    assert oracle.count("FROM events e") == 1
    sql = oracle.replace("FROM events e", f"FROM {shifted}")
    assert compare(got, duckdb_conn(sf_dir), sql, name="join_asof_forward_shifted") > 0
