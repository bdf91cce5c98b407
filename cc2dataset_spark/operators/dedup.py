"""Deduplication operators (SURVEY.md §2.4 A1/A5 + north-star dedup
family). Exact dedup here; near-dup (MinHash/SimHash/Jaccard/embedding)
in cc2dataset_spark.operators.neardup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dedup_exact_arbitrary(df: DataFrame, keys: list[str]) -> DataFrame:
    """A1 — reference semantics: keep ONE arbitrary row per key
    (dropDuplicates, main.py:256). Fastest form: single hash exchange
    on the key, map-side partial aggregation. Use when the survivor
    identity doesn't matter (the reference's case)."""
    return df.dropDuplicates(keys)


def dedup_exact(
    df: DataFrame, keys: list[str], order_by: list[Column] | None = None
) -> DataFrame:
    """Deterministic exact dedup: keep the min row per key under an
    explicit ordering (default: the remaining columns as a struct).
    Same single-shuffle shape as dropDuplicates (groupBy + min_by),
    but reproducible — required for oracle-checked results and for
    any pipeline that must be re-runnable bit-for-bit at 100 TB.
    """
    others = [c for c in df.columns if c not in keys]
    if not others:
        # keys cover every column: rows within a group are fully
        # identical, so dropDuplicates IS the deterministic answer —
        # an empty ordering struct() would make min_by an arbitrary
        # partition-order pick (of identical rows, but don't rely on
        # that: keep the degenerate case out of the min_by path)
        return df.dropDuplicates(keys)
    ordering = (
        F.struct(*order_by)
        if order_by
        else F.struct(*[F.col(c) for c in others])
    )
    picked = df.groupBy(*keys).agg(
        F.min_by(F.struct(*[F.col(c) for c in others]), ordering).alias("_row")
    )
    return picked.select(*keys, *[F.col(f"_row.{c}").alias(c) for c in others])


def dedup_incremental(
    batch: DataFrame,
    index_fingerprints: DataFrame,
    fingerprint: Column,
    id_col: str = "doc_id",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Incremental ingest dedup: from a new ``batch``, keep only rows
    whose content fingerprint is (a) absent from the historical
    ``index_fingerprints`` store and (b) the min-id first occurrence
    within the batch itself. This is the production shape for daily
    Common-Crawl-snapshot ingestion against an ever-growing corpus:
    the corpus is never re-deduped, only its fingerprint column is
    consulted.

    Plan: one left-anti join on the fingerprint (Spark plans it as a
    hash join shuffled on fp — at scale, store the index bucketed by
    fingerprint so only the small batch side shuffles) followed by a
    min-window within the surviving fingerprint groups. Both steps key
    on a uniformly-distributed hash, so skew-free by construction.

    ``index_fingerprints`` must expose a column named ``fp_col``;
    duplicates in it are harmless (anti-join semantics).

    The in-batch survivor is the MIN over the whole row struct ordered
    by (id, remaining columns) — total, so EXACTLY one row survives
    per fingerprint group even when the min id is duplicated or every
    id in the group is NULL (r8; the previous min-window + ``id ==
    min`` filter leaked both duplicates through on a tied min id and
    dropped ALL rows of an all-NULL-id group, silently losing a
    genuinely new document).
    """
    fresh = batch.withColumn(fp_col, fingerprint).join(
        index_fingerprints.select(fp_col), fp_col, "left_anti"
    )
    ordered = [id_col] + [
        c for c in fresh.columns if c not in (fp_col, id_col)
    ]
    picked = fresh.groupBy(fp_col).agg(
        F.min(F.struct(*[F.col(c) for c in ordered])).alias("_r")
    )
    return picked.select(
        *[
            F.col(c) if c == fp_col else F.col(f"_r.{c}").alias(c)
            for c in fresh.columns
        ]
    )


def upsert_by_key(
    base: DataFrame, updates: DataFrame, keys: list[str]
) -> DataFrame:
    """Keyed upsert without a table format: rows from ``updates`` win,
    ``base`` rows survive only where no update shares their key —
    MERGE INTO semantics as one anti-join + union. Closes the
    incremental-ingest loop: after dedup_incremental accepts a batch,
    upsert its fingerprints into the historical index and rewrite
    (at scale: per partition directory, paired with compact_parquet).

    ``updates`` must already be unique per key (dedup it first if
    not); plan is one key-shuffled anti-join — with the base stored
    bucketed by key, only the small update side shuffles.
    """
    if base.columns != updates.columns:
        raise ValueError(
            f"upsert_by_key schemas differ: {base.columns} vs {updates.columns}"
        )
    return base.join(updates.select(*keys), keys, "left_anti").unionByName(
        updates
    )


def bloom_prefilter(
    batch: DataFrame,
    index_fingerprints: DataFrame,
    m_bits: int = 1 << 20,
    k: int = 3,
    fp_col: str = "fingerprint",
    n_shards: int = 1,
    broadcast_max_bits: int = 1 << 26,
) -> DataFrame:
    """Append a ``bloom_maybe`` column to ``batch``: False means the
    row's fingerprint is DEFINITELY absent from the index (no false
    negatives), True means "maybe present" — the standard Bloom-filter
    pre-filter that, at 100 TB, lets the incremental-dedup anti-join
    shuffle only the (small) maybe-dup slice of each incoming batch
    instead of the whole batch. m/n ~ 10 bits per indexed fingerprint
    with k=3 gives ~1-3% false positives; every false positive costs
    one extra anti-join row, never a wrong result.

    **Sharded capacity.** Each fingerprint maps to ONE of ``n_shards``
    independent ``m_bits``-bit filters via a shard residue
    (``md5 % n_shards``), so total capacity is ``n_shards * m_bits``
    with no per-shard value above 2^31 — at 10 bits/fp, 1024 shards of
    2^30 bits index ~107 G fingerprints. Because the shard residue is
    uniform, every shard sees ~n/n_shards fingerprints and the
    per-shard FP math is unchanged: p ~ (1 - e^{-k*n/(n_shards*m)})^k.
    The word table is keyed (shard, w) and built in ONE
    groupBy.bit_or shuffle regardless of shard count.

    **Join strategy.** The probe join broadcasts the word table only
    while ``n_shards * m_bits <= broadcast_max_bits`` (default 2^26
    bits = 8 MB of words — safely under a default-heap driver);
    beyond that it stays an unhinted (shard, w) equi-join that AQE
    plans as a shuffle-hash join, which is the right shape anyway once
    the bitmap outgrows a broadcast.

    **Cardinality.** Output cardinality and multiplicity equal the
    input's — no unique-id requirement on ``batch``: each input row is
    tagged with a positional row id BEFORE the k-way probe explode,
    and the bool_and rollup groups by that id (plus the batch columns,
    which are constant within a group), so every physical input row —
    duplicates included — yields exactly one output row. No
    collapse-and-re-expand: the previous groupBy-all-columns +
    explode(array_repeat(1, n)) formulation materialized one in-memory
    array sized by a row's duplicate count, a single-task allocation
    hazard under the heavy-duplication regime (hot boilerplate
    fingerprints) this prefilter exists for. The row id is
    position-derived (monotonically_increasing_id), deterministic
    under task retry for deterministic input partitions — same class
    as pipeline.py's scatter key — and the k probe rows of each id
    stay in their source partition (explode is narrow), so map-side
    partial aggregation collapses them before the exchange: still
    exactly ONE batch-scale shuffle.

    Fully distributed AND cross-engine-replayable: probe positions are
    md5_mod residues (DuckDB: md5_number_lower % m), the bitmap never
    funnels through the driver, and bits live in the LOW 32 of each
    BIGINT word so no engine ever shifts into a sign bit.
    """
    if not 0 < m_bits < 2**31:
        raise ValueError(f"m_bits must be in (0, 2^31), got {m_bits}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from cc2dataset_spark.functions.hashes import md5_mod

    def sharded_positions(df: DataFrame, keep: list[str]) -> DataFrame:
        fp_str = F.col(fp_col).cast("string")
        shard = (
            md5_mod(F.concat(F.lit("bshard:"), fp_str), n_shards)
            if n_shards > 1
            else F.lit(0).cast("bigint")
        )
        pos = F.explode(
            F.array(
                *[
                    md5_mod(F.concat(F.lit(f"bloom{i}:"), fp_str), m_bits)
                    for i in range(k)
                ]
            )
        )
        return df.select(*keep, shard.alias("shard"), pos.alias("pos"))

    words = (
        sharded_positions(index_fingerprints, [])
        .groupBy(
            F.col("shard").alias("w_shard"), F.expr("pos div 32").alias("w")
        )
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)))"
            ).alias("word")
        )
    )
    if n_shards * m_bits <= broadcast_max_bits:
        words = F.broadcast(words)
    tagged = batch.withColumn("_bloom_rid", F.monotonically_increasing_id())
    probes = sharded_positions(
        tagged, ["_bloom_rid", *batch.columns]
    ).join(
        words,
        (F.col("shard") == F.col("w_shard"))
        & (F.expr("pos div 32") == F.col("w")),
        "left",
    )
    bit_set = F.coalesce(
        F.expr(
            "(word & shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))) <> 0"
        ),
        F.lit(False),
    )
    return (
        probes.groupBy("_bloom_rid", *[batch[c] for c in batch.columns])
        .agg(F.bool_and(bit_set).alias("bloom_maybe"))
        .drop("_bloom_rid")
    )


def dedup_paragraphs(
    df: DataFrame,
    paras: Column,
    id_col: str = "doc_id",
    sep: str = " ",
) -> DataFrame:
    """CCNet-style corpus-level paragraph dedup (Wenzek et al. 2019
    §3): remove every paragraph occurrence after the corpus-wide
    first — in (id, position) order — and REWRITE each document from
    its surviving paragraphs, preserving order. ``paras`` is any
    Column producing array<string> paragraphs (``F.split(text,
    '\\n\\n')`` on real corpora; the catalog query plants fixed-width
    token blocks on the newline-free fixture); ``sep`` rejoins the
    survivors. Empty-string paragraphs are discarded before dedup
    (``split('')`` yields ``['']``, and a run of blank lines yields
    empty segments — neither is content), and rows left with zero
    paragraphs are dropped entirely.

    Returns (id_col, n_paras, n_kept, text_deduped).

    Plan (see the curate_dedup_paragraphs docstring for the scale
    argument): explode with position; first-occurrence = min((id,
    pos)) struct per paragraph via a PARTIAL-AGGREGATING groupBy
    (skew-safe on hot boilerplate — never a per-para ROW_NUMBER
    window); join back pinned shuffle-hash (both sides corpus-scale;
    an AQE broadcast of the distinct-paragraph frame is the measured
    default-heap OOM hazard); one id-keyed reassembly aggregate. Two
    linear corpus-scale shuffles total."""
    p = (
        df.select(
            F.col(id_col),
            F.filter(paras, lambda x: x != "").alias("_paras"),
        )
        .where(F.size("_paras") > 0)
        .select(
            id_col,
            F.posexplode("_paras").alias("pos", "para"),
        )
        .select(F.col(id_col), F.col("pos").cast("bigint").alias("pos"), "para")
    )
    # NOT pinned to a shared para exchange on purpose: the
    # winnow-overlap trick (explicit repartition("para") reused by
    # both consumers) MEASURED WORSE here — 3.2 s -> 8.5 s on the
    # 10x-dup probe — because it moves the exchange BELOW the
    # first-occurrence groupBy, forfeiting its map-side partial
    # aggregation: under heavy duplication the hot paragraphs'
    # copies must combine BEFORE crossing the wire. Re-evaluating
    # the paragraph chain once per consumer is the cheaper side.
    first = p.groupBy("para").agg(
        F.min(F.struct(id_col, "pos")).alias("fo")
    )
    marked = p.join(first.hint("shuffle_hash"), "para").select(
        id_col,
        "pos",
        "para",
        (
            (F.col(f"fo.{id_col}") == F.col(id_col))
            & (F.col("fo.pos") == F.col("pos"))
        ).alias("is_first"),
    )
    kept_struct = F.when(F.col("is_first"), F.struct("pos", "para"))
    return marked.groupBy(id_col).agg(
        F.count("*").alias("n_paras"),
        F.count(F.when(F.col("is_first"), 1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["para"]
            ),
            sep,
        ).alias("text_deduped"),
    )
