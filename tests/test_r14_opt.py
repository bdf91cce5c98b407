"""Round-14 optimization-round pins (see OPTIMIZATION_r14.md)."""

import io
import contextlib
import os

from pyspark.sql import functions as F


def test_bench_warmup_dirs_derive_from_sf_dir(tmp_path):
    # VERDICT r13 ask #2: warmup scale factors come from SF_DIR's
    # parent, skip missing siblings, and never include the benched
    # dir itself — so the bench runs with SPARK_GRAFT_SF_DIR pointed
    # at any corpus root.
    import bench

    for sub in ("sf0.001", "sf0.01", "sf0.1"):
        (tmp_path / sub).mkdir()
    dirs = bench.warmup_dirs(str(tmp_path / "sf0.1"))
    assert dirs == [str(tmp_path / "sf0.001"), str(tmp_path / "sf0.01")]
    # the benched dir is excluded from its own warmup
    dirs = bench.warmup_dirs(str(tmp_path / "sf0.001"))
    assert str(tmp_path / "sf0.001") not in dirs
    # a root with no siblings degrades to no warmup, not a crash
    lonely = tmp_path / "elsewhere" / "sf0.1"
    lonely.mkdir(parents=True)
    assert bench.warmup_dirs(str(lonely)) == []


def test_driver_union_find_broadcast_guard(spark, monkeypatch):
    # r13 ADVICE: the labels broadcast hint is applied only under a
    # measured-size bound — the rows were just collected, so the size
    # is known. Past the bound the frame must come back unhinted.
    from cc2dataset_spark.operators import components

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    labeled = components.connected_components(edges)
    plan = labeled._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan  # small labels: hinted (r13 behavior)

    monkeypatch.setattr(components, "BROADCAST_LABEL_BOUND", 0)
    labeled = components.connected_components(edges)
    plan = labeled._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan  # over the bound: unhinted
    rows = {(r.id, r.component) for r in labeled.collect()}
    assert rows == {(1, 1), (2, 1), (3, 1)}  # labeling unchanged


def test_psl_rules_df_lineage_truncation_gated_to_local_masters(spark):
    # r13 ADVICE: localCheckpoint blocks are non-reliable executor
    # storage — on a cluster an executor loss would leave the cached
    # rules frame permanently unrecomputable. The truncation is gated
    # to local masters; this (local) session must still truncate.
    from cc2dataset_spark.functions.links import _psl_rules_df

    rules = _psl_rules_df(spark)
    assert "localCheckpoint" in rules.rdd.toDebugString().decode()


def test_image_dims_hex_projection_survives_without_spread_exchange(spark):
    # r13 ADVICE (medium) claimed CollapseProject re-inlines the hex
    # synthesis into image_dims_hex's ~30 _hx references once the
    # spread exchange no-ops at production parallelism. Measured on
    # Spark 4.1: CollapseProject does NOT collapse a non-cheap alias
    # referenced more than once, so the plan stays attribute-sized
    # with NO barrier. Pin that property against Spark upgrades: the
    # exchange-free plan must stay orders of magnitude below the
    # 246 KB r13 before-plan blowup.
    from cc2dataset_spark.operators import multimodal as MM

    docs = spark.range(0, 64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("payload "), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    payload = F.encode(F.col("text"), "utf-8")
    hexed = docs.select(
        "doc_id", F.upper(F.hex(payload)).alias("_hx")
    )  # deliberately NO repartition: the production no-op shape
    dims = MM.image_dims_hex(F.col("_hx"))
    out = hexed.select(
        "doc_id",
        dims["format"].alias("format"),
        dims["width"].alias("width"),
        dims["height"].alias("height"),
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    # the synthesis expression must appear O(1) times, not once per
    # _hx reference (~30) — 6 is headroom over the measured 4
    assert plan.count("payload ") <= 6
    assert len(plan) < 60_000


def test_per_doc_nll_total_matches_explode_count_on_degenerate_text(spark):
    # r14: _per_doc_nll computes the corpus token total as
    # SUM(size(tokens)) over un-exploded rows instead of COUNT(*)
    # over a third explode pass. The two must agree exactly —
    # including on the degenerate rows where they could diverge:
    # empty text, whitespace-only text (both tokenize to []), and
    # NULL text (legacy size(NULL) = -1 is guarded to 0).
    from cc2dataset_spark.functions import text as T
    from cc2dataset_spark.plans.curation import _per_doc_nll

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat"),
            (3, ""),
            (4, "   \t  "),
            (5, None),
            (6, "mat the"),
        ],
        "doc_id bigint, text string",
    )
    tok = docs.select(
        "doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("term")
    )
    n_explode = tok.count()  # the old formulation's total
    n_sum = docs.agg(
        F.sum(
            F.when(
                F.col("text").isNotNull(),
                F.size(T.tokens(F.lower(F.col("text")))),
            ).otherwise(F.lit(0))
        )
    ).collect()[0][0]
    assert n_sum == n_explode == 10
    # and the full per-doc frame is sane: only token-bearing docs
    # appear, n_tokens match, mean_nll is finite
    rows = {r.doc_id: r for r in _per_doc_nll(docs).collect()}
    assert set(rows) == {1, 2, 6}
    assert rows[1].n_tokens == 6 and rows[2].n_tokens == 2
    assert all(r.mean_nll is not None for r in rows.values())


def test_phash_neardup_pins_single_hash_kernel(spark):
    # r14: the perceptual-hash frame feeds four plan branches (both
    # self-join sides + both verification joins); the (doc_id, phash)
    # proxy is persisted via the generation-tracked cache so the PNG
    # round-trip kernel runs once per execution instead of four times.
    from cc2dataset_spark import caching
    from cc2dataset_spark.plans.catalog import queries

    df = queries()["multimodal_phash_neardup"](spark, "/root/testdata/sf0.001")
    try:
        # the pinned proxy frame is registered in the current generation
        pinned = [
            f
            for f in caching._GENERATIONS[-1]
            if set(f.schema.names) == {"doc_id", "phash"}
        ]
        assert pinned and all(f.storageLevel.useMemory for f in pinned)
        # and every branch of the executed plan reads the cache
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "InMemoryTableScan" in plan
    finally:
        caching.release_all()
