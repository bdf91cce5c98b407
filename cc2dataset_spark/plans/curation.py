"""Corpus-level curation operators, part 2 (north-star extension; no
reference implementation — the reference stops at URL-level dedup,
/root/reference/cc2dataset/main.py:256): TF-IDF salience, intra-document
repetition signals (the Gopher/MassiveText quality-filter family), and
deterministic language-mix rebalancing (static data-mixing weights).

All three are pure DataFrame plans over the ``documents`` table:
explode -> keyed aggregate -> (broadcast) join back, with every
membership- or ordering-deciding number either integer-exact or rounded
to 6 decimals after identical double arithmetic on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cc2dataset_spark.functions import text as T
from cc2dataset_spark.functions.hashes import md5_mod
from cc2dataset_spark.functions.numeric import RATIO6_BIG_SQL, RATIO6_SQL
from cc2dataset_spark.plans.catalog import query
from cc2dataset_spark.sources.tables import load_table, spread_small_scan

_DUCK_TOKENS = r"list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')"


@query(
    "text_tfidf_topterms",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM tok GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * round(ln((n.n_docs + 1.0) / (df.df_docs + 1.0)) + 1.0,
                                 6), 6) AS tfidf
      FROM tf JOIN df ON tf.term = df.term, n
    )
    SELECT doc_id, term, tf, tfidf, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
    tags=("text", "llm", "curation", "tfidf"),
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. Plan: ONE explode pass, a
    (doc, term) aggregate, the document frequency as a COUNT window
    over the same tf frame partitioned by term (an agg-and-join-back
    formulation re-tokenized the whole corpus for the df side —
    Catalyst's exchange reuse does not fire across the differing
    subtrees; this plan shuffles the corpus-sized stream three times
    keyed (doc,term) -> term -> doc and tokenizes once), a 1-row
    broadcast for the corpus count, and a per-doc WindowGroupLimit for
    the top-k — no global sort. The idf is rounded to 6 decimals
    BEFORE the tf multiply so libm ulp differences between the JVM and
    DuckDB cannot flip the ranking; ties break on the term string."""
    # corpus-scale tokenize/explode over the 1-partition single-row-
    # group fixture scan (guide §2.5; no-op at production)
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    tok = docs.select(
        "doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    df_docs = F.count("*").over(Window.partitionBy("term"))
    idf = F.round(
        F.log((F.col("n_docs") + 1.0) / (df_docs + 1.0)) + 1.0, 6
    )
    scored = tf.crossJoin(F.broadcast(n_docs)).select(
        "doc_id",
        "term",
        "tf",
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "tfidf", "rnk")
    )


_REP_DUP_FRAC = RATIO6_SQL.format(num="n_tokens - n_unique", den="n_tokens")
_REP_TOP_SHARE = RATIO6_SQL.format(num="top_count", den="n_tokens")


@query(
    "curate_repetition_flags",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS n FROM tok GROUP BY doc_id, term
    ), per_doc AS (
      SELECT doc_id,
             CAST(SUM(n) AS BIGINT) AS n_tokens,
             COUNT(*) AS n_unique,
             CAST(MAX(n) AS BIGINT) AS top_count
      FROM tf GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_unique,
           {_REP_DUP_FRAC} AS dup_frac,
           {_REP_TOP_SHARE} AS top_share,
           (top_count * 10 > n_tokens) AS flagged
    FROM per_doc
    """,
    tags=("text", "llm", "curation", "quality"),
)
def curate_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (the Gopher-family quality
    rule: excessive duplicate tokens / one dominant token => likely
    boilerplate or spam). One explode + one (doc, term) aggregate +
    one doc aggregate. r8: the displayed ratios round the exact
    RATIONAL (ratio_round6) and the flag threshold compares in pure
    integers (top*10 > n) — round(double, 6) on an integer ratio is
    the documented cross-engine boundary flip (functions/numeric.py
    preamble; it bit q2's unit costs)."""
    from cc2dataset_spark.functions.numeric import ratio_round6

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("n"))
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.count("*").alias("n_unique"),
        F.max("n").alias("top_count"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_unique",
        ratio_round6(
            F.col("n_tokens") - F.col("n_unique"), F.col("n_tokens")
        ).alias("dup_frac"),
        ratio_round6(F.col("top_count"), F.col("n_tokens")).alias(
            "top_share"
        ),
        (F.col("top_count") * 10 > F.col("n_tokens")).alias("flagged"),
    )


# Target language mix (static data-mixing weights). en is deliberately
# under target and zh over, so both the capped (rate=1) and subsampled
# branches execute on the fixture.
_MIX_WEIGHTS = {"en": 0.30, "de": 0.15, "fr": 0.10, "es": 0.15, "zh": 0.30}
_MIX_MOD = 1_000_000


def _mix_case_sql() -> str:
    arms = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(_MIX_WEIGHTS.items())
    )
    return f"CASE lang {arms} ELSE 0.0 END"


@query(
    "curate_mix_languages",
    oracle=f"""
    WITH c AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ), t AS (
      SELECT COUNT(*) AS n_total FROM documents
    ), r AS (
      -- CAST the CASE to DOUBLE (DuckDB numeric literals are DECIMAL,
      -- and decimal arithmetic here is exact where Spark's double
      -- rounds) and FLOOR before the BIGINT cast (DuckDB's
      -- double->BIGINT cast ROUNDS, Spark's truncates — a 1-ulp
      -- boundary flipped thresh by 1 at sf0.1).
      SELECT lang, n_docs,
             CAST(floor(least(CAST(1.0 AS DOUBLE),
                              CAST({_mix_case_sql()} AS DOUBLE)
                                * n_total / n_docs)
                        * {_MIX_MOD}) AS BIGINT) AS thresh
      FROM c, t
    )
    SELECT d.lang,
           r.n_docs,
           CAST(r.thresh AS DOUBLE) / {_MIX_MOD} AS sample_rate,
           -- CAST: DuckDB SUM(int) is HUGEINT, Spark's is BIGINT; the
           -- driver's typed hasher treats them as different values.
           CAST(SUM(CASE WHEN md5_number_lower(
                              'mix:' || CAST(d.doc_id AS VARCHAR))
                              % {_MIX_MOD} < r.thresh
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM documents d JOIN r ON d.lang = r.lang
    GROUP BY d.lang, r.n_docs, r.thresh
    """,
    tags=("llm", "curation", "sampling"),
)
def curate_mix_languages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language-mix rebalancing: given target corpus
    weights, subsample each over-represented language with a
    content-hash Bernoulli gate (md5 of the doc id — reproducible
    across runs, engines, and partitionings; no RNG state). Plan: a
    tiny per-lang aggregate + 1-row total broadcast back onto the
    corpus, one map-side hash comparison per row, one final per-lang
    aggregate — the corpus itself is never shuffled wide at scale.
    The integer threshold ``floor(rate * 1e6)`` is the shared
    decision boundary, so both engines cut the hash space
    identically."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy(F.col("lang").alias("r_lang")).agg(
        F.count("*").alias("n_docs")
    )
    weight = F.element_at(
        F.create_map(
            *[x for k, v in sorted(_MIX_WEIGHTS.items()) for x in (F.lit(k), F.lit(v))]
        ),
        F.col("r_lang"),
    )
    weight = F.coalesce(weight, F.lit(0.0))
    # the corpus total is the sum of the per-lang counts — an empty
    # window over the lang-cardinality frame, so the corpus itself is
    # scanned once for the rates (a separate docs.agg() was a second
    # full scan)
    rates = counts.withColumn(
        "n_total", F.sum("n_docs").over(Window.partitionBy())
    ).select(
        "r_lang",
        "n_docs",
        # floor == the double->bigint truncation this used before
        # (thresh >= 0), spelled explicitly because the oracle must
        # floor too: DuckDB's CAST(double AS BIGINT) ROUNDS.
        F.floor(
            F.least(F.lit(1.0), weight * F.col("n_total") / F.col("n_docs"))
            * _MIX_MOD
        ).alias("thresh"),
    )
    accepted = (
        md5_mod(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")), _MIX_MOD)
        < F.col("thresh")
    )
    return (
        docs.join(F.broadcast(rates), docs.lang == F.col("r_lang"))
        .groupBy("lang", "n_docs", "thresh")
        .agg(F.sum(F.when(accepted, 1).otherwise(0)).alias("n_sampled"))
        .select(
            "lang",
            "n_docs",
            (F.col("thresh").cast("double") / _MIX_MOD).alias("sample_rate"),
            "n_sampled",
        )
    )


_LOG2E = 1.4426950408889634  # 1/ln(2), shared literal on both engines


@query(
    "text_char_entropy",
    oracle=rf"""
    WITH ch AS (
      SELECT doc_id, unnest(list_filter(string_split(
               regexp_replace(lower(text), '[\x{{10000}}-\x{{10FFFF}}]',
                              '', 'g'), ''),
                                        x -> x <> '')) AS c
      FROM documents
    ), counts AS (
      SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY doc_id, c
    ), terms AS (
      SELECT doc_id, n,
             SUM(n) OVER (PARTITION BY doc_id) AS total,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_distinct
      FROM counts
    )
    SELECT doc_id,
           CAST(MAX(total) AS BIGINT) AS n_chars_counted,
           CAST(MAX(n_distinct) AS BIGINT) AS n_distinct_chars,
           round(CAST(SUM(CAST(
             round(-(n / total) * round(ln(n / total), 9) * {_LOG2E}, 12)
             AS DECIMAL(38,18))) AS DOUBLE), 6) AS entropy_bits
    FROM terms
    GROUP BY doc_id
    """,
    tags=("text", "llm", "curation", "quality"),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document (bits) — the
    gibberish/boilerplate detector of the C4/Gopher filter family
    (natural prose sits near 4 bits; runs of one character near 0).
    One char explode + one (doc, char) aggregate + one doc aggregate.
    Cross-engine determinism: each entropy term rounds its ln() to 9
    decimals (libm ulps die there), the term to 12, and the terms sum
    in DECIMAL(38,18) so accumulation order cannot matter; the final
    value rounds to 6."""
    # corpus-scale per-CHARACTER explode over the 1-partition single-
    # row-group fixture scan (guide §2.5; no-op at production)
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    ch = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(
                    # strip astral-plane codepoints IDENTICALLY on
                    # both engines first: Spark's split('') yields
                    # UTF-16 code units (an emoji = 2 surrogate
                    # "chars") while DuckDB splits codepoints — BMP
                    # text is the only domain where the two agree
                    F.regexp_replace(
                        F.lower("text"),
                        r"[\x{10000}-\x{10FFFF}]",
                        "",
                    ),
                    "",
                ),
                lambda x: x != "",
            )
        ).alias("c"),
    )
    counts = ch.groupBy("doc_id", "c").agg(F.count("*").alias("n"))
    p = F.col("n") / F.col("total")
    term = F.round(-p * F.round(F.log(p), 9) * F.lit(_LOG2E), 12)
    return (
        counts.withColumn("total", F.sum("n").over(Window.partitionBy("doc_id")))
        .withColumn(
            "n_distinct", F.count("*").over(Window.partitionBy("doc_id"))
        )
        .groupBy("doc_id")
        .agg(
            F.max("total").cast("bigint").alias("n_chars_counted"),
            F.max("n_distinct").cast("bigint").alias("n_distinct_chars"),
            F.round(
                F.sum(term.cast("decimal(38,18)")).cast("double"), 6
            ).alias("entropy_bits"),
        )
    )


# Shared between text_unigram_perplexity and curate_quality_tiers:
# produces per_doc(doc_id, n_tokens, mean_nll) from documents.
_NLL_CTES = rf"""tok AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term
      FROM documents
    ), tot AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM tok
    ), s AS (
      SELECT doc_id,
             round(-ln(CAST(COUNT(*) OVER (PARTITION BY term) AS DOUBLE)
                       / tot.n_total), 9) AS srp
      FROM tok, tot
    ), per_doc AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             round(CAST(SUM(CAST(srp AS DECIMAL(38,18))) AS DOUBLE)
                   / COUNT(*), 6) AS mean_nll
      FROM s GROUP BY doc_id
    )"""


def _corpus_token_total(docs: DataFrame) -> DataFrame:
    """1-row (n_total DOUBLE): the corpus token count.

    COUNT(*) over the exploded token stream == SUM(size(tokens)) over
    the un-exploded rows (empty/NULL arrays explode to zero rows and
    sum as 0): same integer, but the pass no longer materializes the
    corpus-sized token stream just to count it (guide §2.3 "shuffle
    fewer bytes" applied to the Generate: tokenize once per row, emit
    one int). NULL text is guarded explicitly: legacy size(NULL) = -1
    would corrupt the sum, while explode of NULL contributes zero
    rows."""
    return docs.agg(
        F.sum(
            F.when(
                F.col("text").isNotNull(),
                F.size(T.tokens(F.lower(F.col("text")))),
            ).otherwise(F.lit(0))
        )
        .cast("double")
        .alias("n_total")
    )


def _per_doc_nll(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, mean_nll) — the Spark twin of _NLL_CTES."""
    tok = docs.select(
        "doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("term")
    )
    total = _corpus_token_total(docs)
    uc = F.count("*").over(Window.partitionBy("term"))
    srp = F.round(-F.log(uc.cast("double") / F.col("n_total")), 9)
    return (
        tok.crossJoin(F.broadcast(total))
        .select("doc_id", srp.alias("srp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum(F.col("srp").cast("decimal(38,18)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_nll"),
        )
    )


@query(
    "text_unigram_perplexity",
    oracle=f"""
    WITH {_NLL_CTES}
    SELECT doc_id, n_tokens, mean_nll,
           round(exp(mean_nll), 6) AS ppl
    FROM per_doc
    """,
    tags=("text", "llm", "curation", "quality"),
)
def text_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality prior, with the LM built
    from the corpus itself: per-document mean token surprisal
    -ln p(token) under the corpus unigram distribution, and its exp
    (perplexity). Rare-token-stuffed or boilerplate documents score
    far from the corpus mode, which is exactly the CCNet head/middle/
    tail quality split signal (there from a KenLM 5-gram; the unigram
    model keeps it closed-form and SQL-replayable).

    Plan: tokenize + explode ONCE; the unigram count comes from a
    COUNT window partitioned by term over the token stream (one
    term-keyed shuffle — vocabulary-sized state, NO broadcast of a
    vocab table, which at 100 TB would not fit); the corpus token
    total is a 1-row broadcast (its recompute of the tokenize map is
    a second scan but no second shuffle); then one doc-keyed
    aggregate. Cross-engine float discipline (same as
    text_char_entropy): each surprisal rounds libm's ln to 9 (a 6-dp
    term round left a measurable boundary-flip chance — one term DID
    flip at sf0.001; at 9 dp a flip needs ln within ~1e-16 of a
    boundary), the
    per-doc sum accumulates in DECIMAL(38,18) so order cannot matter,
    the mean rounds to 6, and exp of that already-identical mean
    re-rounds to 6."""
    # corpus-scale per-row CPU over the 1-partition single-row-group
    # fixture scan (guide §2.5; no-op at production parallelism)
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    return _per_doc_nll(docs).select(
        "doc_id",
        "n_tokens",
        "mean_nll",
        F.round(F.exp("mean_nll"), 6).alias("ppl"),
    )


_BIGRAM_LAMBDA = 0.75  # interpolation weight on the bigram term


@query(
    "text_bigram_perplexity",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
    ), tok AS (
      SELECT doc_id, unnest(tk) AS term FROM t
    ), tot AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM tok
    ), uni AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS c_uni FROM tok GROUP BY term
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(tk)),
                                   i -> {{'prev': tk[i], 'cur': tk[i+1]}}),
                    recursive := true)
      FROM t WHERE len(tk) >= 2
    ), cb AS (
      SELECT prev, cur, CAST(COUNT(*) AS DOUBLE) AS c_big
      FROM bg GROUP BY prev, cur
    ), cp AS (
      SELECT prev, CAST(COUNT(*) AS DOUBLE) AS c_prev FROM bg GROUP BY prev
    ), s AS (
      SELECT b.doc_id,
             round(-ln({_BIGRAM_LAMBDA} * (cb.c_big / cp.c_prev)
                       + {1 - _BIGRAM_LAMBDA} * (u.c_uni / tot.n_total)),
                   9) AS nll
      FROM bg b
      JOIN cb ON cb.prev = b.prev AND cb.cur = b.cur
      JOIN cp ON cp.prev = b.prev
      JOIN uni u ON u.term = b.cur
      CROSS JOIN tot
    ), per_doc AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             round(CAST(SUM(CAST(nll AS DECIMAL(38,18))) AS DOUBLE)
                   / COUNT(*), 6) AS mean_nll
      FROM s GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, mean_nll,
           round(exp(mean_nll), 6) AS ppl
    FROM per_doc
    """,
    tags=("text", "llm", "curation", "quality"),
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM quality prior — the next model class up
    from text_unigram_perplexity: per-document mean surprisal of
    -ln( lambda * p(cur|prev) + (1-lambda) * p(cur) ) with the bigram
    and unigram distributions estimated from the corpus itself
    (Jelinek-Mercer interpolation, lambda=0.75; the closed-form,
    SQL-replayable stand-in for the KenLM n-gram scorer CCNet uses).
    Repetitive/templated text scores LOW (its bigrams are corpus-
    frequent), rare-token salad scores HIGH — the two failure modes a
    unigram prior cannot separate.

    Plan: bigrams come from zipping the token array against itself
    shifted by one (a NARROW per-row transform — no doc-keyed
    window/sort shuffle, unlike the lag-window formulation). The
    bigram stream then carries two count windows (one (prev,cur)
    exchange, one prev exchange), joins the unigram count table on the
    successor term (term-keyed shuffle join — vocabulary-scale, never
    broadcast), and aggregates per doc. Float discipline as the
    unigram twin: the interpolation is parenthesized identically in
    both engines (IEEE ops are deterministic given the same tree),
    each surprisal rounds to 9, the per-doc sum accumulates in
    DECIMAL(38,18), the mean rounds to 6, exp re-rounds to 6."""
    # corpus-scale per-row CPU over the 1-partition single-row-group
    # fixture scan (guide §2.5; no-op at production parallelism)
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    t = docs.select(
        "doc_id", T.tokens(F.lower(F.col("text"))).alias("tk")
    ).where(F.size("tk") >= 2)
    pair = F.zip_with(
        F.slice(F.col("tk"), F.lit(1), F.size("tk") - 1),
        F.slice(F.col("tk"), F.lit(2), F.size("tk") - 1),
        lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
    )
    bg = t.select("doc_id", F.explode(pair).alias("p")).select(
        "doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
    )
    tok = docs.select(
        "doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("term")
    )
    uni = tok.groupBy("term").agg(
        F.count("*").cast("double").alias("c_uni")
    )
    total = _corpus_token_total(docs)
    w_big = Window.partitionBy("prev", "cur")
    w_prev = Window.partitionBy("prev")
    scored = (
        bg.withColumn("c_big", F.count("*").over(w_big).cast("double"))
        .withColumn("c_prev", F.count("*").over(w_prev).cast("double"))
        .join(uni, bg["cur"] == uni["term"])
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(
                -F.log(
                    F.lit(_BIGRAM_LAMBDA) * (F.col("c_big") / F.col("c_prev"))
                    + F.lit(1 - _BIGRAM_LAMBDA)
                    * (F.col("c_uni") / F.col("n_total"))
                ),
                9,
            ).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(
            F.sum(F.col("nll").cast("decimal(38,18)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_nll"),
    ).select(
        "doc_id",
        "n_bigrams",
        "mean_nll",
        F.round(F.exp("mean_nll"), 6).alias("ppl"),
    )


@query(
    "curate_quality_tiers",
    oracle=f"""
    WITH {_NLL_CTES},
    n AS (SELECT COUNT(*) AS n_docs FROM per_doc),
    ranked AS (
      SELECT doc_id, mean_nll,
             ROW_NUMBER() OVER (ORDER BY mean_nll, doc_id) AS rn
      FROM per_doc
    )
    SELECT doc_id, mean_nll, rn AS quality_rank,
           CASE ((rn - 1) * 3) // n.n_docs
                WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
           END AS tier
    FROM ranked, n
    """,
    tags=("llm", "curation", "quality", "rank"),
)
def curate_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split, rank-based: documents
    ordered by unigram mean surprisal (best = lowest = head) and cut
    into integer terciles of the GLOBAL rank. Rank-based tiering is
    integer-exact across engines; percentile-threshold tiering would
    hinge on float interpolation ulps at the cut points.

    The global rank comes from operators/rank.py global_row_number —
    range-repartition + prefix-sum offsets — NOT from an
    unpartitioned ROW_NUMBER window, which would drag the whole
    corpus through one task (the DuckDB oracle can afford the naive
    form; the Spark plan cannot at 100 TB). Tercile assignment is
    ((rn-1)*3) DIV n — pure integer arithmetic."""
    from cc2dataset_spark.operators.rank import global_row_number

    from pyspark.storagelevel import StorageLevel

    # corpus-scale per-row CPU over the 1-partition single-row-group
    # fixture scan (guide §2.5; no-op at production parallelism)
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    # persisted because the range partitioner's boundary-sampling pass
    # is a full extra evaluation of the surprisal chain otherwise
    from cc2dataset_spark import caching

    per_doc = caching.track(
        _per_doc_nll(docs)
        .select("doc_id", "mean_nll")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranked = global_row_number(
        per_doc, ["mean_nll", "doc_id"], rank_col="quality_rank"
    )
    # tercile divisor = RANKED doc count (per_doc), NOT docs.count():
    # documents that tokenize to zero tokens never enter per_doc (the
    # explode yields no rows), and the oracle's n CTE counts per_doc —
    # a corpus with any empty-text doc would otherwise shift every
    # tier boundary and diverge between engines. per_doc is persisted,
    # so this count reads cache.
    n = per_doc.count()
    tier = (
        F.when(F.expr(f"((quality_rank - 1) * 3) DIV {n}") == 0, "head")
        .when(F.expr(f"((quality_rank - 1) * 3) DIV {n}") == 1, "middle")
        .otherwise("tail")
    )
    out = ranked.select(
        "doc_id", "mean_nll", "quality_rank", tier.alias("tier")
    )
    # Both pins (per_doc and the rank's internal range exchange) are
    # caching.track()ed, so the @query wrapper releases them before
    # the next catalog query builds; the attribute stack remains for
    # direct callers using rank.release(result).
    out._pinned_intermediates = [per_doc, *ranked._pinned_intermediates]
    return out


_CHUNK = 64
_STRIDE = 48


@query(
    "text_chunk_documents",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
    ), chunked AS (
      SELECT doc_id, len(t) AS n_tokens,
             unnest(generate_series(1, greatest(len(t) - {_CHUNK} + 1, 1),
                                    {_STRIDE})) AS start
      FROM tok
    )
    SELECT c.doc_id,
           CAST((c.start - 1) / {_STRIDE} AS BIGINT) AS chunk_idx,
           c.n_tokens,
           len(list_slice(tok.t, c.start, c.start + {_CHUNK} - 1))
             AS chunk_len,
           md5(array_to_string(
                 list_slice(tok.t, c.start, c.start + {_CHUNK} - 1), ' '))
             AS chunk_md5
    FROM chunked c JOIN tok ON tok.doc_id = c.doc_id
    """,
    tags=("text", "llm", "curation", "chunking"),
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length preparation: split every document into
    64-token chunks on a 48-token stride (16-token overlap so no
    span is lost at a boundary) — the pretraining packing step
    between curation and tokenizer sharding. The trailing chunk
    truncates rather than pads; documents shorter than one chunk
    yield exactly one chunk.

    Plan: one tokenize pass, chunk starts as a generated integer
    sequence exploded per document (pure codegen — chunking never
    touches Python), and the chunk itself re-sliced from the SAME
    materialized token array. Everything is integer/string-exact, so
    the oracle needs no float discipline at all. At 100 TB this is a
    narrow map + explode whose output fan-out is corpus_tokens /
    stride rows — the expected blow-up of packing, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", T.tokens(F.lower(F.col("text"))).alias("t"))
    n = F.size("t")
    starts = F.sequence(
        F.lit(1), F.greatest(n - _CHUNK + 1, F.lit(1)), F.lit(_STRIDE)
    )
    chunked = tok.select(
        "doc_id", n.alias("n_tokens"), "t", F.explode(starts).alias("start")
    )
    piece = F.slice("t", F.col("start"), _CHUNK)
    return chunked.select(
        "doc_id",
        ((F.col("start") - 1) / _STRIDE).cast("bigint").alias("chunk_idx"),
        "n_tokens",
        F.size(piece).alias("chunk_len"),
        F.md5(F.array_join(piece, " ")).alias("chunk_md5"),
    )


# Gopher quality-rule thresholds (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", App. A1.1), bounds tuned so the synthetic
# fixture actually splits on every discriminative rule: word counts
# run 10-99 and mean word lengths 3.7-5.3 at sf0.01, so min_words=30
# and mean in [3.0, 4.6] both cut; the symbol/alpha rules pass
# everywhere on the clean fixture but are kept for rule fidelity
# (they are the cheap ones).
_GOPHER_STOPS = ("the", "a", "of", "and", "to", "in", "is", "that")
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 30, 100_000


@query(
    "curate_gopher_rules",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term
      FROM documents
    ), per_doc AS (
      SELECT doc_id,
             COUNT(*) AS n_words,
             CAST(SUM(len(term)) AS BIGINT) AS sum_len,
             CAST(SUM(CASE WHEN regexp_matches(term, '[a-z]')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
             CAST(SUM(CASE WHEN term IN {_GOPHER_STOPS!r}
                           THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits,
             CAST(SUM(len(term) - len(replace(term, '#', ''))) AS BIGINT)
               AS n_hash,
             CAST(SUM((len(term) - len(replace(term, '...', ''))) // 3)
               AS BIGINT) AS n_ellipsis
      FROM tok GROUP BY doc_id
    ), rules AS (
      SELECT doc_id, n_words, stop_hits,
             {RATIO6_SQL.format(num="sum_len", den="n_words")} AS mean_word_len,
             {RATIO6_SQL.format(num="n_alpha", den="n_words")} AS alpha_frac,
             {RATIO6_SQL.format(num="n_hash + n_ellipsis", den="n_words")}
               AS symbol_ratio
      FROM per_doc
    )
    SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
           symbol_ratio,
           (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
             AS words_ok,
           (mean_word_len >= CAST(3.0 AS DOUBLE)
            AND mean_word_len <= CAST(4.6 AS DOUBLE)) AS mean_len_ok,
           (alpha_frac >= CAST(0.8 AS DOUBLE)) AS alpha_ok,
           (stop_hits >= 2) AS stop_ok,
           (symbol_ratio <= CAST(0.1 AS DOUBLE)) AS symbol_ok,
           ((n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
            AND mean_word_len >= CAST(3.0 AS DOUBLE)
            AND mean_word_len <= CAST(4.6 AS DOUBLE)
            AND alpha_frac >= CAST(0.8 AS DOUBLE)
            AND stop_hits >= 2
            AND symbol_ratio <= CAST(0.1 AS DOUBLE)) AS keep
    FROM rules
    """,
    tags=("text", "llm", "curation", "quality"),
)
def curate_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule gate (Rae et al. 2021, App. A1.1) — the
    pre-training filter battery every large text pipeline runs before
    dedup: word-count bounds, mean-word-length window, minimum
    alphabetic-word fraction, minimum stop-word evidence, and a
    symbol-to-word ceiling ('#'/'...'), with keep = AND of all rules.
    Complements curate_repetition_flags (the repetition half of the
    Gopher battery) and text_quality_scores (continuous scores; these
    are the hard gates).

    One explode + one per-doc aggregate — a single doc_id-keyed
    shuffle of 6 integer partials; every ratio is an integer pair
    pushed through functions/numeric.ratio_round6, so each rule
    compares identical doubles in both engines (the DuckDB twin
    replays the same BIGINT arithmetic; float literals are cast to
    DOUBLE explicitly because bare DuckDB literals are DECIMAL)."""
    docs = load_table(spark, sf_dir, "documents")
    term = F.col("term")
    tok = docs.select(
        "doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("term")
    )
    hash_chars = F.length(term) - F.length(F.replace(term, F.lit("#")))
    ell = F.floor(
        (F.length(term) - F.length(F.replace(term, F.lit("...")))) / 3
    )
    per_doc = tok.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(F.length(term)).alias("sum_len"),
        F.sum(term.rlike("[a-z]").cast("int")).alias("n_alpha"),
        F.sum(term.isin(*_GOPHER_STOPS).cast("int")).alias("stop_hits"),
        F.sum(hash_chars).alias("n_hash"),
        F.sum(ell).alias("n_ellipsis"),
    )
    from cc2dataset_spark.functions.numeric import ratio_round6

    mean_len = ratio_round6(F.col("sum_len"), F.col("n_words"))
    alpha = ratio_round6(F.col("n_alpha"), F.col("n_words"))
    symbol = ratio_round6(
        F.col("n_hash") + F.col("n_ellipsis"), F.col("n_words")
    )
    r = per_doc.select(
        "doc_id",
        "n_words",
        mean_len.alias("mean_word_len"),
        alpha.alias("alpha_frac"),
        F.col("stop_hits").cast("bigint").alias("stop_hits"),
        symbol.alias("symbol_ratio"),
    )
    words_ok = F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    mean_ok = F.col("mean_word_len").between(3.0, 4.6)
    alpha_ok = F.col("alpha_frac") >= 0.8
    stop_ok = F.col("stop_hits") >= 2
    symbol_ok = F.col("symbol_ratio") <= 0.1
    return r.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_frac",
        "stop_hits",
        "symbol_ratio",
        words_ok.alias("words_ok"),
        mean_ok.alias("mean_len_ok"),
        alpha_ok.alias("alpha_ok"),
        stop_ok.alias("stop_ok"),
        symbol_ok.alias("symbol_ok"),
        (words_ok & mean_ok & alpha_ok & stop_ok & symbol_ok).alias("keep"),
    )


_DSIR_BUCKETS = 4096


@query(
    "curate_dsir_weights",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, (lang = 'en') AS tgt, {_DUCK_TOKENS} AS tk
      FROM documents
    ), bgl AS (
      SELECT doc_id, tgt,
             unnest(list_transform(range(1, len(tk)),
                                   i -> tk[i] || ' ' || tk[i+1])) AS s
      FROM t WHERE len(tk) >= 2
    ), db AS (
      SELECT doc_id, tgt,
             CAST(md5_number_lower('dsir:' || s) % {_DSIR_BUCKETS}
                  AS BIGINT) AS b,
             COUNT(*) AS c
      FROM bgl GROUP BY 1, 2, 3
    ), bt AS (
      SELECT b, CAST(SUM(c) AS BIGINT) AS n_r,
             CAST(SUM(CASE WHEN tgt THEN c ELSE 0 END) AS BIGINT) AS n_t
      FROM db GROUP BY b
    ), w AS (
      SELECT b,
             (2000000 * (n_t + 1) + (n_r + 1)) // (2 * (n_r + 1))
               AS w_micro
      FROM bt
    ), scored AS (
      SELECT db.doc_id, CAST(SUM(db.c) AS BIGINT) AS n_bigrams,
             CAST(SUM(db.c * w.w_micro) AS BIGINT) AS score_micro
      FROM db JOIN w USING (b) GROUP BY db.doc_id
    )
    SELECT doc_id, n_bigrams, score_micro,
           (score_micro >= 1000000 * n_bigrams) AS keep
    FROM scored
    """,
    tags=("curation", "llm", "sampling", "quality"),
)
def curate_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling, hashed-n-gram form
    (DSIR — Xie et al. 2023): score every raw document by how much its
    hashed-bigram feature distribution resembles a target distribution
    (here the corpus' lang='en' slice standing in for the
    high-quality target sample). Per bucket b of 4096
    md5-hashed bigram buckets, the Laplace-smoothed target-to-raw
    count ratio (n_t+1)/(n_r+1) is the per-feature importance factor;
    a document's score is the count-weighted sum over its buckets.
    The paper's global normalizer (N_r+B)/(N_t+B) is a constant
    monotone rescale shared by every bucket, so it is dropped — keep
    thresholds and rankings are unchanged.

    Float discipline: there are NO floats. The per-bucket factor is
    kept as a round-half-up micro-scaled BIGINT
    (w_micro = round6((n_t+1)/(n_r+1)) * 10^6, computed with the
    ratio_round6 integer identity), and the per-doc score is a BIGINT
    dot product — order-independent, so Spark's partial-agg ordering
    cannot drift from DuckDB's. ``keep`` = mean factor >= 1.0, i.e.
    score_micro >= 10^6 * n_bigrams, also integer. Overflow headroom:
    2*10^6*(n_t+1) stays under 2^63 while any single bucket holds
    < ~4.6e12 target bigram instances — with 4096 uniform
    md5 buckets that is >10^16 corpus tokens, far past 100 TB.

    Plan: one narrow map builds (doc, bucket) bigram counts (the
    shingle zip — no per-shingle regex), one (doc_id, tgt, b)-keyed
    shuffle of integer partials, then the bucket table — at most
    4096 rows by construction — aggregates and BROADCASTS
    back onto the per-doc-bucket stream, so the scoring join is
    shuffle-free and the per-doc rollup rides the existing doc-keyed
    partials. The corpus is scanned ONCE."""
    # corpus-scale per-row CPU over the 1-partition single-row-group
    # fixture scan (guide §2.5; no-op at production parallelism)
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    bg = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("tgt"),
        F.explode(T.word_shingles(F.lower(F.col("text")), 2)).alias("s"),
    )
    # The (doc, bucket) count frame feeds BOTH the bucket table and
    # the scoring rollup; without pinning, column pruning specializes
    # each branch below the aggregate and the corpus is scanned (and
    # the bigram explode evaluated) twice. It is also the natural
    # materialization point: orders of magnitude smaller than the
    # bigram stream (<= 4096 integer rows per doc), so persisting it
    # beats a second full corpus pass at any scale.
    from pyspark.storagelevel import StorageLevel

    from cc2dataset_spark import caching

    db = caching.track(
        bg.select(
            "doc_id",
            "tgt",
            md5_mod(F.concat(F.lit("dsir:"), F.col("s")), _DSIR_BUCKETS)
            .cast("bigint")
            .alias("b"),
        )
        .groupBy("doc_id", "tgt", "b")
        .agg(F.count("*").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bt = db.groupBy("b").agg(
        F.sum("c").alias("n_r"),
        F.sum(F.when(F.col("tgt"), F.col("c")).otherwise(F.lit(0))).alias(
            "n_t"
        ),
    )
    w = bt.select(
        "b",
        F.expr(
            "(2000000 * (n_t + 1) + (n_r + 1)) div (2 * (n_r + 1))"
        ).alias("w_micro"),
    )
    scored = (
        db.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("w_micro")).alias("score_micro"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "score_micro",
        (F.col("score_micro") >= F.lit(1_000_000) * F.col("n_bigrams")).alias(
            "keep"
        ),
    )


@query(
    "text_collocation_lift",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
    ), bg AS (
      SELECT unnest(list_transform(range(1, len(tk)),
                                   i -> {{'x': tk[i], 'y': tk[i+1]}}),
                    recursive := true)
      FROM t WHERE len(tk) >= 2
    ), c AS (
      SELECT x, y, COUNT(*) AS n_xy FROM bg GROUP BY 1, 2
    ), mx AS (
      SELECT x, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM c GROUP BY x
    ), my AS (
      SELECT y, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM c GROUP BY y
    ), tot AS (
      SELECT CAST(SUM(n_xy) AS BIGINT) AS n_tot FROM c
    )
    SELECT c.x, c.y, c.n_xy,
           CAST((CAST(2000000 AS BIGINT) * c.n_xy * tot.n_tot
                 + mx.n_x * my.n_y)
                // (2 * mx.n_x * my.n_y) AS DOUBLE) / 1000000 AS lift
    FROM c
    JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
    WHERE c.n_xy >= 5
    ORDER BY lift DESC, c.x, c.y
    LIMIT 100
    """,
    tags=("text", "collocation", "llm", "topk"),
)
def text_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 adjacent-token collocations by LIFT — the PMI family's
    integer-exact member: lift(x,y) = p(x,y)/(p(x)p(y)) with the
    positional marginals (x as predecessor, y as successor), min
    support 5. PMI = log2(lift) is a monotone transform, so the
    RANKING is identical to PMI's — but lift needs no transcendental
    call, so the score is computed entirely in BIGINT arithmetic
    (round-half-up to 6 dp via integral divide, exact in both engines
    even past 2^53 — verified against the double-division path's
    failure there) and no float ever decides membership or order.

    Plan: the bigram count table c is built with one (x,y)-keyed
    exchange from the narrow zip stream and PINNED — both marginals,
    the grand total, and the scoring join re-read it instead of
    re-aggregating the corpus. Marginals are vocabulary-scale, so they
    join by SHUFFLE on x / y (never broadcast — at web scale the
    unigram table alone is 10^8 rows); only the 1-row total
    broadcasts. Final top-k is a TakeOrderedAndProject (no global
    sort). (lift, x, y) is a total order on the unique (x,y) keys, so
    the LIMIT boundary is deterministic."""
    from pyspark.storagelevel import StorageLevel

    from cc2dataset_spark import caching

    # corpus-scale tokenize/zip/explode over the 1-partition single-
    # row-group fixture scan (guide §2.5; no-op at production)
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    t = docs.select(
        T.tokens(F.lower(F.col("text"))).alias("tk")
    ).where(F.size("tk") >= 2)
    pair = F.zip_with(
        F.slice(F.col("tk"), F.lit(1), F.size("tk") - 1),
        F.slice(F.col("tk"), F.lit(2), F.size("tk") - 1),
        lambda a, b: F.struct(a.alias("x"), b.alias("y")),
    )
    c = caching.track(
        t.select(F.explode(pair).alias("p"))
        .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("n_xy"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    mx = c.groupBy("x").agg(F.sum("n_xy").alias("n_x"))
    my = c.groupBy("y").agg(F.sum("n_xy").alias("n_y"))
    tot = c.agg(F.sum("n_xy").alias("n_tot"))
    # DECIMAL(38,0), not BIGINT: 2e6 * n_xy * n_tot overflows int64
    # once the corpus holds ~1e12 bigrams (exactly the scale this op
    # targets) and Spark's non-ANSI mode would WRAP SILENTLY while the
    # DuckDB twin (HUGEINT //) stays exact. Decimal128 keeps the
    # product exact to 38 digits; the quotient itself fits BIGINT.
    lift_micro = F.expr(
        "CAST((CAST(2000000 AS DECIMAL(38,0)) * n_xy * n_tot"
        " + CAST(n_x AS DECIMAL(38,0)) * n_y)"
        " div (CAST(2 AS DECIMAL(38,0)) * n_x * n_y) AS BIGINT)"
    )
    return (
        c.where(F.col("n_xy") >= 5)
        .join(mx, "x")
        .join(my, "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            "n_xy",
            (lift_micro.cast("double") / F.lit(1000000.0)).alias("lift"),
        )
        .orderBy(F.desc("lift"), "x", "y")
        .limit(100)
    )


@query(
    "sample_weighted_tickets",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars,
             greatest(CAST(1 AS BIGINT), (n_chars + 255) // 256)
               AS n_tickets
      FROM documents
    ), m AS (
      SELECT doc_id, n_chars, n_tickets,
             list_min(list_transform(
               range(1, n_tickets + 1),
               i -> md5_number_lower('wt:' || CAST(doc_id AS VARCHAR)
                                     || ':' || CAST(i AS VARCHAR)))) AS mt
      FROM t
    )
    SELECT doc_id, n_chars, n_tickets
    FROM m ORDER BY mt, doc_id LIMIT 100
    """,
    tags=("curation", "sampling", "llm"),
)
def sample_weighted_tickets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic size-weighted corpus sampling (bottom-k ticket
    lottery): every document holds ceil(n_chars/256) tickets, each
    ticket's value is a replayable md5 hash, and the 100 documents
    holding the globally smallest minimum ticket win — inclusion
    probability rises with document size, the standard way to draw a
    byte-budget-proportional inspection/eval sample from a corpus
    without a random() that no oracle could replay.

    Plan: the per-doc minimum ticket is a NARROW map (sequence +
    transform + array_min — ~n_chars/256 md5 calls per doc, no
    explode, no shuffle), and the global top-100 is a
    TakeOrderedAndProject: per-partition top-k then a driver merge of
    k-row slices — the corpus is never shuffled or sorted globally.
    (min_ticket, doc_id) is a total order, so the LIMIT boundary is
    deterministic; the hash column itself is dropped from the output
    (Spark renders it DECIMAL(20,0), DuckDB UBIGINT — same integers,
    different wire types)."""
    from cc2dataset_spark.functions.hashes import md5_number_lower

    docs = load_table(spark, sf_dir, "documents")
    nt = F.greatest(
        F.lit(1).cast("bigint"), F.expr("(n_chars + 255) div 256")
    )
    t = docs.select("doc_id", "n_chars", nt.alias("n_tickets"))
    mt = F.array_min(
        F.transform(
            F.sequence(F.lit(1).cast("bigint"), F.col("n_tickets")),
            lambda i: md5_number_lower(
                F.concat(
                    F.lit("wt:"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    i.cast("string"),
                )
            ),
        )
    )
    return (
        t.select("doc_id", "n_chars", "n_tickets", mt.alias("mt"))
        .orderBy("mt", "doc_id")
        .limit(100)
        .select("doc_id", "n_chars", "n_tickets")
    )


@query(
    "curate_pack_sequences",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens,
             md5_number_lower('pk:' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS excl
      FROM t
    )
    SELECT doc_id, n_tokens,
           excl // 2048 AS shard_id,
           excl - (excl // 2048) * 2048 AS offset_in_shard,
           (excl + n_tokens > (excl // 2048 + 1) * 2048) AS spans_boundary
    FROM c
    """,
    tags=("curation", "packing", "llm"),
)
def curate_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: shuffle the corpus into a
    deterministic (hash-keyed) order, concatenate, and cut every
    B=2048 tokens — each document is assigned the shard in which it
    STARTS, with its token offset inside that shard and a flag when it
    straddles a cut. This is the shard/offset manifest a training
    loader consumes; replayable order (md5 of doc_id, doc_id tiebreak)
    means the same corpus always packs identically, so resumed or
    re-run packing jobs emit byte-identical shards.

    Plan: the global token prefix sum uses
    operators/rank.global_running_sum — ONE range exchange on the
    shuffle key plus a partition-count driver fold — never the
    unpartitioned ``SUM() OVER (ORDER BY ...)`` window that would drag
    the whole corpus through one task; shard id/offset are then pure
    integer projections (bigint div/mod, exact in both engines). At
    100 TB the manifest job costs one range shuffle of
    (doc_id, n_tokens, h) triples — the text itself never moves."""
    from cc2dataset_spark.functions.hashes import md5_number_lower
    from cc2dataset_spark.operators.rank import global_running_sum

    B = 2048
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(T.tokens("text")).cast("bigint").alias("n_tokens"),
        md5_number_lower(
            F.concat(F.lit("pk:"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    c = global_running_sum(t, ["h", "doc_id"], "n_tokens", "cum")
    excl = F.col("cum") - F.col("n_tokens")
    shard_id = F.expr(f"(cum - n_tokens) div {B}")
    return c.select(
        "doc_id",
        "n_tokens",
        shard_id.alias("shard_id"),
        (excl - shard_id * B).alias("offset_in_shard"),
        (excl + F.col("n_tokens") > (shard_id + 1) * B).alias(
            "spans_boundary"
        ),
    )


@query(
    "sample_stratified_per_lang",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang,
             md5_number_lower('ss:' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), r AS (
      SELECT doc_id, lang,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY h, doc_id) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT)
               AS n_lang_docs
      FROM t
    )
    SELECT lang, doc_id, rn, n_lang_docs FROM r WHERE rn <= 20
    """,
    tags=("curation", "sampling", "llm"),
)
def sample_stratified_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified per-language sample — 20 documents per lang, chosen
    by globally replayable hash order (the distributed equivalent of a
    per-stratum reservoir sample): the standard way to draw a fixed
    per-language inspection/eval set from a multilingual corpus so
    low-resource languages are not drowned out by proportional
    sampling. The hash order makes the draw deterministic and stable
    under re-runs, appends only reshuffle each stratum's margin.

    Plan: per-key rank rides operators/rank.keyed_row_number — ONE
    range exchange on (lang, h, doc_id); a hot language spreads across
    as many range partitions as its volume needs instead of funnelling
    through a single ``PARTITION BY lang`` window task, so the query
    survives a corpus that is 90% one language. The per-key total
    comes back from the same pass (count_col), not a second shuffle."""
    from cc2dataset_spark.functions.hashes import md5_number_lower
    from cc2dataset_spark.operators.rank import keyed_row_number

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        md5_number_lower(
            F.concat(F.lit("ss:"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    ranked = keyed_row_number(
        t,
        keys=["lang"],
        order_by=["h", "doc_id"],
        rank_col="rn",
        count_col="n_lang_docs",
    )
    return ranked.where(F.col("rn") <= 20).select(
        "lang", "doc_id", "rn", "n_lang_docs"
    )


@query(
    "curate_boilerplate_prefix",
    oracle="""
    WITH banner AS (
      SELECT doc_id, source,
             '[' || source || '] ' || text AS btext
      FROM documents
    ), g AS (
      SELECT source, MIN(btext) AS a, MAX(btext) AS b,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM banner GROUP BY source
    )
    SELECT source, n_docs,
           CAST(len(list_filter(range(1, least(length(a), length(b)) + 1),
                                i -> substr(a, 1, i) = substr(b, 1, i)))
                AS BIGINT) AS lcp_len,
           substr(a, 1, CAST(len(list_filter(
             range(1, least(length(a), length(b)) + 1),
             i -> substr(a, 1, i) = substr(b, 1, i))) AS INT))
             AS shared_prefix
    FROM g
    """,
    tags=("curation", "boilerplate", "llm"),
)
def curate_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate-prefix detection — the first step of
    template stripping: find the longest character prefix EVERY
    document from a source shares (site banners, license headers,
    nav breadcrumbs), so a later pass can trim it before dedup and
    training. The whole-group LCP reduces to LCP(min(text), max(text))
    — the lexicographic extremes bound every other member — so the
    corpus-scale work is ONE (source)-keyed min/max/count aggregate
    with map-side partials; the character scan runs on n_sources rows.
    The fixture corpus is random text (group LCP 0 everywhere), so a
    per-source banner is planted first — the detector must recover at
    least that banner, and the oracle replays plant + detection
    independently.

    The LCP scan itself is a higher-order filter over char positions
    (prefix equality is monotone, so counting matching prefix lengths
    IS the LCP) — O(L^2) char compares in Catalyst's interpreted HOF
    mode, fine for a per-SOURCE frame, documented NOT for per-row use
    (see the cdc_chunks HOF hazard note)."""
    docs = load_table(spark, sf_dir, "documents")
    banner = docs.select(
        "source",
        F.concat(
            F.lit("["), F.col("source"), F.lit("] "), F.col("text")
        ).alias("btext"),
    )
    g = banner.groupBy("source").agg(
        F.min("btext").alias("a"),
        F.max("btext").alias("b"),
        F.count("*").cast("bigint").alias("n_docs"),
    )
    L = F.least(F.length("a"), F.length("b"))
    # substring with a COLUMN length parameter needs the expr form
    lcp = F.when(
        L >= 1,
        F.size(
            F.expr(
                "filter(sequence(1, greatest(least(length(a), length(b)), 1)),"
                " i -> i <= least(length(a), length(b))"
                " AND substring(a, 1, i) = substring(b, 1, i))"
            )
        ),
    ).otherwise(0)
    return g.select(
        "source",
        "n_docs",
        lcp.cast("bigint").alias("lcp_len"),
        F.expr(
            "substring(a, 1, CAST("
            "size(filter(sequence(1, greatest(least(length(a), length(b)), 1)),"
            " i -> i <= least(length(a), length(b))"
            " AND substring(a, 1, i) = substring(b, 1, i))) AS INT))"
        ).alias("shared_prefix"),
    )


_PARA_TOKENS = 8


@query(
    "curate_dedup_paragraphs",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
    ), p AS (
      SELECT doc_id,
             CAST((start - 1) / {_PARA_TOKENS} AS BIGINT) AS pos,
             array_to_string(
               list_slice(t, start, start + {_PARA_TOKENS} - 1), ' ') AS para
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, len(t), {_PARA_TOKENS})) AS start
            FROM tok WHERE len(t) > 0)
    ), marked AS (
      SELECT doc_id, pos, para,
             (ROW_NUMBER() OVER (PARTITION BY para
                                 ORDER BY doc_id, pos) = 1) AS is_first
      FROM p
    )
    SELECT doc_id,
           COUNT(*) AS n_paras,
           COUNT(*) FILTER (WHERE is_first) AS n_kept,
           COALESCE(string_agg(para, ' ' ORDER BY pos)
                      FILTER (WHERE is_first), '') AS text_deduped
    FROM marked GROUP BY doc_id
    """,
    tags=("curation", "llm", "dedup", "paragraphs"),
)
def curate_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-level PARAGRAPH dedup (Wenzek et al. 2019,
    "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data" §3 — dedup at paragraph granularity, the step that
    strips boilerplate headers/footers shared across pages without
    dropping the documents themselves). Every doc-level dedup in this
    engine keeps or drops whole documents; this operator REWRITES
    them: each paragraph occurrence after the corpus-wide first (in
    (doc_id, pos) order) is removed, and the survivors reassemble in
    original order. A fully-unique document round-trips to its exact
    token join, so text_deduped degrades gracefully to identity.

    The fixture corpus has no newline structure, so "paragraph" is
    deterministically planted as consecutive 8-token blocks (same
    fixture-adaptation trick as dedup_bloom_prefilter's planted
    boilerplate); on real corpora the split expression is
    split(text, '\\n\\n') and everything downstream is unchanged.
    The tiny fixture vocabulary makes 8-token blocks genuinely
    collide across documents, so the dedup path is exercised, not
    vacuous (asserted in tests/test_curation_ops.py).

    Plan: one tokenize pass; paragraph starts as a generated integer
    sequence exploded per doc (pure codegen, like
    text_chunk_documents); first-occurrence = min((doc_id, pos))
    struct per paragraph via a PARTIAL-AGGREGATING groupBy (skew-safe
    under boilerplate: the hot paragraph's copies map-side combine
    before the exchange — a ROW_NUMBER window over para would funnel
    every copy of a hot paragraph through one reducer), joined back
    pinned shuffle-hash (both sides corpus-scale; an AQE broadcast of
    the distinct-paragraph frame is exactly the measured
    default-heap-OOM hazard of the graph/neardup joins); reassembly
    is one doc-keyed aggregate over (pos, para) structs. Two
    corpus-scale shuffles total (para-keyed, doc-keyed) — linear at
    100 TB, no quadratic surface anywhere."""
    from cc2dataset_spark.operators.dedup import dedup_paragraphs

    # corpus-scale per-row CPU over the 1-partition single-row-group
    # fixture scan (guide §2.5; no-op at production parallelism)
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    tok = docs.select(
        "doc_id", T.tokens(F.lower(F.col("text"))).alias("t")
    ).where(F.size("t") > 0)
    n_blocks = F.ceil(F.size("t") / F.lit(_PARA_TOKENS)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda i: F.array_join(
            F.slice(F.col("t"), i * _PARA_TOKENS + 1, F.lit(_PARA_TOKENS)),
            " ",
        ),
    )
    return dedup_paragraphs(tok, paras)


_FLESCH_NUM = (
    "206835 * n_sentences * n_words - 1015 * n_words * n_words "
    "- 84600 * n_syllables * n_sentences"
)
_FLESCH_DEN = "1000 * n_sentences * n_words"
_WPS = RATIO6_SQL.format(num="n_words", den="n_sentences")
_SPW = RATIO6_SQL.format(num="n_syllables", den="n_words")
_FLESCH_POS = RATIO6_SQL.format(num=_FLESCH_NUM, den=_FLESCH_DEN)
_FLESCH_NEG = RATIO6_SQL.format(num=f"-({_FLESCH_NUM})", den=_FLESCH_DEN)


@query(
    "text_readability",
    oracle=rf"""
    WITH counted AS (
      SELECT doc_id,
             CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           {_WPS} AS words_per_sentence,
           {_SPW} AS syllables_per_word,
           CASE WHEN ({_FLESCH_NUM}) >= 0 THEN {_FLESCH_POS}
                ELSE -{_FLESCH_NEG} END AS flesch_score
    FROM counted WHERE n_words > 0
    """,
    tags=("text", "curation", "quality"),
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring — the readability prior
    educational-quality curation uses as a cheap feature (FineWeb-Edu
    style classifiers lean on exactly these surface ratios). Syllables
    use the standard vowel-group heuristic (runs of [aeiouy] after
    lowercasing: 'table' -> 2, 'query' -> 2); sentences are
    terminator runs with a floor of 1 so punctuation-free docs (this
    fixture) score as one long sentence rather than dividing by zero.

    The score 206.835 - 1.015*(W/S) - 84.6*(Y/W) is evaluated as ONE
    exact rational (206835*S*W - 1015*W^2 - 84600*Y*S) / (1000*S*W) —
    never as a float expression tree — then rounded via ratio_round6,
    with a sign split (round-half-away-from-zero) because the score
    goes negative for run-on text and the round6 primitive is defined
    for non-negative numerators. Numerator magnitude is bounded by
    206835 * words^2 — document-sized, far under the 2^53/2e6 exactness
    ceiling. Every count and both component ratios are emitted too, so
    a downstream gate can re-threshold without re-tokenizing.

    Scale: single narrow scan (doc_id, text), zero shuffles — all
    codegen regex/aggregate-free row math. The only caveat at 100 TB
    is regex cost per row, which is scan-bound and embarrassingly
    parallel."""
    from cc2dataset_spark.functions.numeric import ratio_round6

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    counted = docs.select(
        "doc_id",
        F.size(T.tokens(F.lower(F.col("text")))).cast("bigint").alias(
            "n_words"
        ),
        F.greatest(
            F.lit(1), F.regexp_count(F.col("text"), F.lit(r"[.!?]+"))
        )
        .cast("bigint")
        .alias("n_sentences"),
        F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+"))
        .cast("bigint")
        .alias("n_syllables"),
    ).where(F.col("n_words") > 0)
    w, s, y = F.col("n_words"), F.col("n_sentences"), F.col("n_syllables")
    num = (
        F.lit(206835) * s * w - F.lit(1015) * w * w - F.lit(84600) * y * s
    )
    den = F.lit(1000) * s * w
    signed = F.when(num >= 0, ratio_round6(num, den)).otherwise(
        -ratio_round6(-num, den)
    )
    return counted.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        ratio_round6(w, s).alias("words_per_sentence"),
        ratio_round6(y, w).alias("syllables_per_word"),
        signed.alias("flesch_score"),
    )


# alloc_tokens is a per-language TOKEN BUDGET: ~1e13 at the 100 TB
# operating point, past ratio_round6's BIGINT fast-path ceiling
# (~4.6e12) — both sides ride the DECIMAL/HUGEINT big twin.
_UNIMAX_EPOCHS = RATIO6_BIG_SQL.format(num="alloc_tokens", den="tokens")


@query(
    "curate_unimax_budget",
    oracle=rf"""
    WITH tok AS (
      SELECT lang, CAST(SUM(len({_DUCK_TOKENS})) AS BIGINT) AS tokens
      FROM documents GROUP BY lang
    ), cap AS (
      SELECT lang, tokens,
             CAST((ascii(substr(lang, 1, 1)) % 3) + 1 AS BIGINT) AS e_cap,
             tokens * ((ascii(substr(lang, 1, 1)) % 3) + 1) AS capacity
      FROM tok
    ), tot AS (
      SELECT (2 * SUM(capacity)) // 3 AS budget, COUNT(*) AS n FROM cap
    ), ranked AS (
      SELECT lang, tokens, e_cap, capacity, budget, n,
             ROW_NUMBER() OVER (ORDER BY capacity, lang) AS rn,
             COALESCE(SUM(capacity) OVER (
               ORDER BY capacity, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS s_prev
      FROM cap CROSS JOIN tot
    ), flagged AS (
      SELECT *,
             capacity * (n - rn + 1) <= budget - s_prev AS capped
      FROM ranked
    ), brk AS (
      SELECT MIN(CASE WHEN NOT capped THEN rn END) AS k,
             -- remaining budget AT THE BREAK ROW k: s_prev grows with
             -- rn, so budget - s_prev is LARGEST at k -> MAX, not MIN
             -- (MIN silently under-allocates; caught by the
             -- conservation test in tests/test_r7_ops.py)
             MAX(CASE WHEN NOT capped THEN budget - s_prev END) AS remaining
      FROM flagged
    ), alloc AS (
      SELECT f.lang, f.tokens, f.e_cap, f.capacity, f.budget,
             CASE
               WHEN b.k IS NULL OR f.rn < b.k THEN f.capacity
               ELSE b.remaining // (f.n - b.k + 1)
                    + CASE WHEN f.rn - b.k <
                               b.remaining % (f.n - b.k + 1)
                           THEN 1 ELSE 0 END
             END AS alloc_tokens
      FROM flagged f CROSS JOIN brk b
    )
    SELECT lang, tokens, e_cap, capacity,
           -- SUM-derived values are HUGEINT in DuckDB; Spark: BIGINT
           CAST(budget AS BIGINT) AS budget,
           CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
           {_UNIMAX_EPOCHS} AS sampling_epochs
    FROM alloc
    """,
    tags=("curation", "sampling", "mixing"),
)
def curate_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language-budget allocation (Chung et al. 2023): given a
    total token budget and a per-language epoch cap, allocate the
    budget across languages as UNIFORMLY as possible without sampling
    any language past cap*its_corpus_size — the water-filling that
    replaces temperature sampling's tail over-weighting. Budget here
    is 2/3 of total capacity and the per-language epoch caps come from
    a deterministic config expression (1-3 epochs keyed on the lang
    string), so both branches — low-resource languages pinned at
    capacity, high-resource languages splitting the remainder equally
    — are exercised on the fixture's genuinely skewed language mix.

    Closed form, no iteration: sort languages by capacity ascending;
    language i is CAPPED iff capacity_i * (langs_remaining) <=
    budget - capacity_prefix_sum — once false it stays false (c is
    nondecreasing while the water level test tightens by exactly the
    amount a capped row drains), so one window pass + a 1-row
    break-point aggregate replaces the iterative waterfill. The
    uncapped remainder divides integer-exactly: base = rem div m with
    the first rem%m languages (capacity order) taking +1, so
    SUM(alloc) == budget EXACTLY — auditable conservation, no float
    drift. Allocation epochs (alloc/tokens, <= e_cap) report the
    realized oversampling factor via the exact rational round.

    Scale: the corpus-sized work is ONE map-side-combined (lang)
    aggregate; everything after runs on a languages-count table
    (<=10^4 rows for any real corpus), where the unpartitioned
    ROW_NUMBER window is deliberate and safe — documented exception
    to the no-global-window rule, same class as the 1-row broadcast
    totals in graph_ops."""
    from cc2dataset_spark.functions.numeric import ratio_round6_big

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.groupBy("lang").agg(
        F.sum(F.size(T.tokens(F.lower(F.col("text")))))
        .cast("bigint")
        .alias("tokens")
    )
    e_cap = (F.ascii(F.substring("lang", 1, 1)) % 3 + 1).cast("bigint")
    # cap is the LAST corpus-scale product (one map-side-combined lang
    # aggregate); it feeds the budget total AND the ranked window, and
    # flagged feeds the break-point aggregate AND the final allocation
    # — pin both (lang-count-sized) so the corpus scan runs once, not
    # four times (measured: 22 exchanges unpinned vs 8 pinned).
    from pyspark.storagelevel import StorageLevel

    from cc2dataset_spark import caching

    cap = caching.track(
        tok.select(
            "lang",
            "tokens",
            e_cap.alias("e_cap"),
            (F.col("tokens") * e_cap).alias("capacity"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = cap.agg(
        F.expr("(2 * sum(capacity)) div 3").alias("budget"),
        F.count("*").alias("n"),
    )
    ranked = cap.crossJoin(F.broadcast(tot)).select(
        "*",
        F.row_number()
        .over(Window.orderBy("capacity", "lang"))
        .alias("rn"),
        F.coalesce(
            F.sum("capacity").over(
                Window.orderBy("capacity", "lang").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("s_prev"),
    )
    flagged = caching.track(
        ranked.withColumn(
            "capped",
            F.col("capacity") * (F.col("n") - F.col("rn") + 1)
            <= F.col("budget") - F.col("s_prev"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    # remaining at the BREAK row (smallest s_prev among uncapped) ->
    # max(budget - s_prev); min() under-allocates — see the oracle
    # comment and tests/test_r7_ops.py::test_unimax_allocation_*
    brk = flagged.agg(
        F.min(F.when(~F.col("capped"), F.col("rn"))).alias("k"),
        F.max(
            F.when(~F.col("capped"), F.col("budget") - F.col("s_prev"))
        ).alias("remaining"),
    )
    m = F.col("n") - F.col("k") + 1
    alloc = (
        flagged.crossJoin(F.broadcast(brk))
        .withColumn(
            "alloc_tokens",
            F.when(
                F.col("k").isNull() | (F.col("rn") < F.col("k")),
                F.col("capacity"),
            ).otherwise(
                F.expr("remaining div (n - k + 1)")
                + F.when(
                    F.col("rn") - F.col("k") < F.pmod(F.col("remaining"), m),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ),
        )
    )
    return alloc.select(
        "lang",
        "tokens",
        "e_cap",
        "capacity",
        "budget",
        "alloc_tokens",
        ratio_round6_big(F.col("alloc_tokens"), F.col("tokens")).alias(
            "sampling_epochs"
        ),
    )


_KN_PCONT = RATIO6_SQL.format(
    num="COALESCE(l.n_left, 0)", den="tot.n_types"
)


@query(
    "text_kneser_ney_counts",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
    ), tok AS (
      SELECT unnest(tk) AS term FROM t
    ), bg AS (
      SELECT unnest(list_transform(range(1, len(tk)),
                                   i -> {{'prev': tk[i], 'cur': tk[i+1]}}),
                    recursive := true)
      FROM t WHERE len(tk) >= 2
    ), types AS (
      SELECT DISTINCT prev, cur FROM bg
    ), tot AS (
      SELECT COUNT(*) AS n_types FROM types
    ), l AS (
      SELECT cur AS term, COUNT(*) AS n_left FROM types GROUP BY cur
    ), r AS (
      SELECT prev AS term, COUNT(*) AS n_right FROM types GROUP BY prev
    ), uni AS (
      SELECT term, COUNT(*) AS c_uni FROM tok GROUP BY term
    )
    SELECT uni.term, uni.c_uni,
           COALESCE(l.n_left, 0) AS n_left_types,
           COALESCE(r.n_right, 0) AS n_right_types,
           {_KN_PCONT} AS p_continuation
    FROM uni
    LEFT JOIN l ON l.term = uni.term
    LEFT JOIN r ON r.term = uni.term
    CROSS JOIN tot
    """,
    tags=("text", "llm", "lm"),
)
def text_kneser_ney_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney continuation statistics — the counts that distinguish
    a REAL smoothed LM (KenLM, the CCNet perplexity filter) from the
    MLE interpolation in text_bigram_perplexity: per word, the number
    of distinct LEFT contexts it follows (N1+(.w) — 'francisco' is
    frequent but continues almost nothing, the canonical KN example),
    the number of distinct RIGHT continuations (N1+(w.) — the
    fertility that scales the backoff mass), and the continuation
    probability N1+(.w) / |distinct bigram types| via the exact
    rational. A downstream LM build consumes exactly this table.

    Plan: bigrams zip the token array against itself shifted by one
    (narrow, no doc window); ONE distinct over (prev, cur) — pinned,
    because it feeds three consumers (the type total, the left-context
    counts, the right-continuation counts) — then everything
    downstream is VOCABULARY-sized: two tiny aggregates, two term-keyed
    left joins, a 1-row broadcast total. The distinct is the only
    corpus-scale shuffle and partial-aggregates map-side; duplicated
    boilerplate collapses there, which is precisely the KN insight
    applied to the plan."""
    from pyspark.storagelevel import StorageLevel

    from cc2dataset_spark import caching

    # corpus-scale tokenize/zip/explode over the 1-partition single-
    # row-group fixture scan (guide §2.5; no-op at production)
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    t = docs.select(
        "doc_id", T.tokens(F.lower(F.col("text"))).alias("tk")
    )
    pair = F.zip_with(
        F.slice(F.col("tk"), F.lit(1), F.size("tk") - 1),
        F.slice(F.col("tk"), F.lit(2), F.size("tk") - 1),
        lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
    )
    bg = (
        t.where(F.size("tk") >= 2)
        .select(F.explode(pair).alias("p"))
        .select(F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    )
    types = caching.track(
        bg.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = types.agg(F.count("*").alias("n_types"))
    left = types.groupBy(F.col("cur").alias("term")).agg(
        F.count("*").alias("n_left")
    )
    right = types.groupBy(F.col("prev").alias("term")).agg(
        F.count("*").alias("n_right")
    )
    tok = t.select(F.explode("tk").alias("term"))
    uni = tok.groupBy("term").agg(F.count("*").alias("c_uni"))
    from cc2dataset_spark.functions.numeric import ratio_round6

    n_left = F.coalesce(F.col("n_left"), F.lit(0))
    return (
        uni.join(left, "term", "left")
        .join(right, "term", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            "c_uni",
            n_left.alias("n_left_types"),
            F.coalesce(F.col("n_right"), F.lit(0)).alias("n_right_types"),
            ratio_round6(n_left, F.col("n_types")).alias("p_continuation"),
        )
    )


_CALIB_PCT = RATIO6_SQL.format(num="rn - 1", den="n - 1")


@query(
    "curate_score_calibration",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, source, text,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS toks,
             CASE WHEN length(text) > 0
                  THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\s]',
                                                  '', 'g'))
                            AS DOUBLE) / length(text)
                  ELSE 0.0 END AS punct_ratio
      FROM documents
    ), m AS (
      SELECT doc_id, source,
             least(len(toks) / 64.0, 1.0) AS len_score,
             least(punct_ratio * 4.0, 1.0) AS punct_penalty,
             CASE WHEN len(toks) > 0
                  THEN CAST(list_aggregate(list_transform(toks,
                                                          x -> length(x)),
                                           'sum') AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS mwl
      FROM t
    ), scored AS (
      SELECT doc_id, source,
             round(len_score * (1.0 - punct_penalty * 0.5)
                   * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0
                           THEN 1.0 ELSE 0.5 END),
                   6) AS quality
      FROM m
    ), ranked AS (
      SELECT doc_id, source, quality,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY quality, doc_id)
                  AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM scored
    )
    SELECT doc_id, source, quality,
           -- a single-doc source has no rank spread: pct defined 1.0
           -- (the doc is its own top), guarding the n-1 denominator
           CASE WHEN n > 1 THEN {_CALIB_PCT} ELSE 1.0 END
             AS pct_in_source,
           CASE WHEN 10 * (rn - 1) >= 9 * (n - 1) THEN 'head'
                WHEN 2 * (rn - 1) >= (n - 1) THEN 'mid'
                ELSE 'tail' END AS tier
    FROM ranked
    """,
    tags=("curation", "quality", "calibration", "window"),
)
def curate_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source QUANTILE CALIBRATION of the quality score — the
    source-bias remover: a raw threshold keeps different fractions of
    different sources (a clean encyclopedia source saturates the
    heuristic; a forum source never reaches it), so curation pipelines
    re-express each document's score as its PERCENTILE WITHIN ITS OWN
    SOURCE and gate on that (equal-rate selection per source; the same
    move as CCNet's per-language perplexity buckets, applied across
    sources). Tiers: head = top 10%, mid = top half, tail = rest.

    Exactness: the percentile is (rn-1)/(n-1) on an (score, doc_id)
    total order — integer rank arithmetic through the exact rational;
    the tier boundaries are INTEGER cross-multiplications
    (10*(rn-1) >= 9*(n-1)), so no float ever decides a tier, and the
    score itself is the shared 6dp quality formula
    (functions/text.quality_score_from_tokens — one source of truth
    with text_quality_scores and the curation gates).

    Plan: one narrow scan + ONE source-keyed window exchange carrying
    both the rank and the partition count (two window specs, same
    partitioning). Per-source window state is the 100 TB caveat —
    for a source whose rows outgrow a task, swap to
    operators/rank.keyed_row_number, as events_value_quantiles_heavy
    demonstrates."""
    from cc2dataset_spark.functions.numeric import ratio_round6

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        T.quality_score_from_tokens("text", T.tokens("text")).alias(
            "quality"
        ),
    )
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    ranked = scored.select(
        "doc_id",
        "source",
        "quality",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count("*")
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("n"),
    )
    rn1, n1 = F.col("rn") - 1, F.col("n") - 1
    return ranked.select(
        "doc_id",
        "source",
        "quality",
        F.when(F.col("n") > 1, ratio_round6(rn1, n1))
        .otherwise(F.lit(1.0))
        .alias("pct_in_source"),
        F.when(F.lit(10) * rn1 >= F.lit(9) * n1, "head")
        .when(F.lit(2) * rn1 >= n1, "mid")
        .otherwise("tail")
        .alias("tier"),
    )


_ZIPF_HEAD = 100  # fit over the top-R ranks (the power-law head)


@query(
    "text_zipf_fit",
    oracle=rf"""
    WITH tok AS (
      SELECT unnest({_DUCK_TOKENS}) AS term FROM documents
    ), tf AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
      FROM tok GROUP BY term
    ), ranked AS (
      SELECT freq,
             CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term)
                  AS BIGINT) AS rnk
      FROM tf
    ), pts AS (
      SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000000)
                  AS DECIMAL(19,0)) AS x9,
             CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000000)
                  AS DECIMAL(19,0)) AS y9
      FROM ranked WHERE rnk <= {_ZIPF_HEAD}
    ), s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x9) AS DOUBLE) AS sx,
             CAST(SUM(y9) AS DOUBLE) AS sy,
             CAST(SUM(x9 * x9) AS DOUBLE) AS sxx,
             CAST(SUM(x9 * y9) AS DOUBLE) AS sxy,
             CAST(SUM(y9 * y9) AS DOUBLE) AS syy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             AS zipf_slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n / 1000000000, 6) AS intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS r_squared
    FROM s
    """,
    tags=("text", "profiling", "vocab", "regression"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the vocabulary head: least-squares slope of
    ln(freq) on ln(rank) for the top-100 terms — the power-law health
    number that pairs with text_vocab_stats (a natural corpus sits
    near slope -1; template/boilerplate flooding flattens the head,
    spam token-salad steepens it; R^2 says whether a line is even the
    right model). Fit over the HEAD on purpose: the rank tail of any
    finite corpus bends down (hapax plateau) and would bias the slope
    every Zipf plot in the literature truncates away.

    Cross-engine float discipline: each ln() quantizes to an exact
    INTEGER floor(ln*1e9) (a boundary flip needs ln within 1e-16 of a
    1e-9 grid line) held as DECIMAL(19,0); all five regression sums —
    including the PRODUCTS, which is why the grid is integer: a
    DECIMAL(38,18)^2 sum overflows DuckDB's HUGEINT accumulator — are
    exact DECIMAL(38,0) arithmetic, so partial-aggregate ORDER cannot
    matter. One well-defined decimal->double cast per sum, then the
    closed-form slope/intercept/R^2 are identical IEEE expressions on
    both engines (the 1e9 scale cancels in slope and R^2; the
    intercept divides it back), rounded to 6. Ranks are integers
    (freq desc, term tie-break) so x is deterministic by
    construction.

    Plan: one (term) count with map-side partials — the only
    corpus-scale stage — then a top-100 head (WindowGroupLimit) and a
    1-row regression aggregate. The unpartitioned rank window is the
    documented vocabulary-sized exception (bounded by distinct terms,
    further cut to 100 rows by the group limit)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(T.tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = tok.groupBy("term").agg(F.count("*").alias("freq"))
    ranked = tf.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), F.col("term")))
        .cast("bigint")
        .alias("rnk"),
    ).where(F.col("rnk") <= _ZIPF_HEAD)
    pts = ranked.select(
        F.floor(F.log(F.col("rnk").cast("double")) * 1e9)
        .cast("decimal(19,0)")
        .alias("x9"),
        F.floor(F.log(F.col("freq").cast("double")) * 1e9)
        .cast("decimal(19,0)")
        .alias("y9"),
    )
    x9, y9 = F.col("x9"), F.col("y9")
    s = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x9).cast("double").alias("sx"),
        F.sum(y9).cast("double").alias("sy"),
        F.sum(x9 * x9).cast("double").alias("sxx"),
        F.sum(x9 * y9).cast("double").alias("sxy"),
        F.sum(y9 * y9).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("bigint").alias("n_points"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n / F.lit(1e9), 6).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r_squared"),
    )


_REPORT_REMOVED = RATIO6_SQL.format(
    num="docs_in - docs_out", den="docs_in"
)
_REPORT_CUM = RATIO6_SQL.format(num="docs_out", den="n0")


@query(
    "curate_dedup_report",
    oracle=rf"""
    WITH corpus AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 100000000, text, lang
      FROM documents WHERE doc_id % 9 = 0
      UNION ALL
      SELECT doc_id + 200000000, substr(text, 1, 80), lang
      FROM documents WHERE doc_id % 7 = 0
    ), base AS (
      SELECT text, lang,
             len(list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '')) AS n_tok,
             CASE WHEN length(text) > 0
                  THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\s]',
                                                  '', 'g'))
                            AS DOUBLE) / length(text)
                  ELSE 0.0 END AS punct
      FROM corpus
    ), s1 AS (
      SELECT regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
      FROM base
      WHERE n_tok BETWEEN 20 AND 1000 AND punct < 0.1
        AND lang IN ('en', 'es', 'fr', 'de')
    ), d AS (
      SELECT DISTINCT t FROM s1
    ), r AS (
      SELECT t, ROW_NUMBER() OVER (ORDER BY t) AS rn FROM d
    ), drop3 AS (
      SELECT COUNT(*) AS nd
      FROM r a JOIN r b ON b.rn = a.rn + 1
      WHERE starts_with(b.t, a.t) AND b.t <> a.t
    ), c AS (
      SELECT (SELECT COUNT(*) FROM corpus) AS n0,
             (SELECT COUNT(*) FROM s1) AS n1,
             (SELECT COUNT(*) FROM d) AS n2,
             (SELECT COUNT(*) FROM d) - (SELECT nd FROM drop3) AS n3
    ), stages AS (
      SELECT '00_raw' AS stage, n0 AS docs_in, n0 AS docs_out, n0 FROM c
      UNION ALL
      SELECT '10_quality_gate', n0, n1, n0 FROM c
      UNION ALL
      SELECT '20_exact_text', n1, n2, n0 FROM c
      UNION ALL
      SELECT '30_truncated_prefix', n2, n3, n0 FROM c
    )
    SELECT stage, docs_in, docs_out,
           docs_in - docs_out AS removed,
           {_REPORT_REMOVED} AS removal_frac,
           {_REPORT_CUM} AS cumulative_kept_frac
    FROM stages
    """,
    tags=("curation", "dedup", "report"),
)
def curate_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEDUP FUNNEL TABLE every dataset paper publishes: documents
    in/out, removed count, removal fraction, and cumulative kept
    fraction for each curation stage — here C4-style quality gate
    (token band + punctuation + language allowlist), exact-text dedup
    (normalized-whitespace lowercase identity), and truncated-prefix
    removal (the lexicographic-adjacency pass). The fixture corpus is
    augmented with planted verbatim copies (doc_id % 9) and 80-char
    truncations (doc_id % 7) so every stage has real removals to
    account for; each stage's MECHANISM is an already-proven operator
    (curate_quality_filter, dedup_exact_min_survivor,
    dedup_truncated_docs) — this query proves the ACCOUNTING composes.

    All counts integer-exact; fractions via the exact rational. Plan:
    three stage-count aggregates (each map-side combined) + the
    range-partitioned global rank from dedup_truncated_docs for the
    adjacency count; the final report is a 4-row stack over one
    crossJoined count row. A stage's docs_out never feeds a
    re-materialization — the next stage derives from the same lazy
    lineage, so the corpus scans once per stage, not once per
    metric."""
    from cc2dataset_spark.operators.rank import global_row_number

    # corpus-scale per-row CPU over the 1-partition single-row-group
    # fixture scan (guide §2.5; no-op at production parallelism)
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents"), "doc_id"
    ).select(
        "doc_id", "text", "lang"
    )
    corpus = (
        docs.unionByName(
            docs.where(F.col("doc_id") % 9 == 0).select(
                (F.col("doc_id") + 100000000).alias("doc_id"),
                "text",
                "lang",
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 200000000).alias("doc_id"),
                F.substring("text", 1, 80).alias("text"),
                "lang",
            )
        )
    )
    kept = corpus.where(
        T.token_count("text").between(20, 1000)
        & (T.punct_ratio("text") < 0.1)
        & F.col("lang").isin("en", "es", "fr", "de")
    )
    norm = kept.select(
        F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ").alias("t")
    )
    distinct_t = norm.distinct()
    ranked = global_row_number(distinct_t, order_by=["t"], rank_col="rn")
    a = ranked.select(F.col("t").alias("ta"), "rn")
    b = ranked.select(F.col("t").alias("tb"), (F.col("rn") - 1).alias("rn"))
    drop3 = (
        a.join(b, "rn")
        .where(
            F.col("tb").startswith(F.col("ta"))
            & (F.col("tb") != F.col("ta"))
        )
        .agg(F.count("*").alias("nd"))
    )
    counts = (
        corpus.agg(F.count("*").alias("n0"))
        .crossJoin(F.broadcast(kept.agg(F.count("*").alias("n1"))))
        .crossJoin(F.broadcast(distinct_t.agg(F.count("*").alias("n2"))))
        .crossJoin(F.broadcast(drop3))
        .select("n0", "n1", "n2", (F.col("n2") - F.col("nd")).alias("n3"))
    )
    stages = counts.select(
        F.expr(
            "stack(4, "
            "'00_raw', n0, n0, "
            "'10_quality_gate', n0, n1, "
            "'20_exact_text', n1, n2, "
            "'30_truncated_prefix', n2, n3) AS (stage, docs_in, docs_out)"
        ),
        "n0",
    )
    from cc2dataset_spark.functions.numeric import ratio_round6

    return stages.select(
        "stage",
        "docs_in",
        "docs_out",
        (F.col("docs_in") - F.col("docs_out")).alias("removed"),
        ratio_round6(
            F.col("docs_in") - F.col("docs_out"), F.col("docs_in")
        ).alias("removal_frac"),
        ratio_round6(F.col("docs_out"), F.col("n0")).alias(
            "cumulative_kept_frac"
        ),
    )


_NOVELTY = RATIO6_SQL.format(num="COALESCE(n_novel, 0)", den="n_pairs")


@query(
    "text_ngram_novelty",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
    ), bg AS (
      SELECT DISTINCT doc_id, prev, cur FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk)),
                                     i -> {{'prev': tk[i],
                                            'cur': tk[i+1]}}),
                      recursive := true)
        FROM t WHERE len(tk) >= 2
      )
    ), per_bucket AS (
      SELECT doc_id // 50 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM bg GROUP BY doc_id // 50
    ), firsts AS (
      SELECT first_doc // 50 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_novel
      FROM (SELECT prev, cur, MIN(doc_id) AS first_doc
            FROM bg GROUP BY prev, cur)
      GROUP BY first_doc // 50
    )
    SELECT CAST(p.bucket AS BIGINT) AS bucket, p.n_pairs,
           CAST(COALESCE(f.n_novel, 0) AS BIGINT) AS n_novel,
           {_NOVELTY} AS novelty
    FROM per_bucket p LEFT JOIN firsts f ON f.bucket = p.bucket
    """,
    tags=("text", "curation", "profiling", "dedup"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty-decay curve: for each 50-doc ingestion bucket, the
    fraction of its distinct (doc, bigram) pairs whose bigram has
    NEVER appeared in an earlier document — the "how much new content
    does each crawl increment actually add" monitor that tells a
    pipeline when additional data stops buying coverage (novelty
    collapsing toward 0 = the crawl is re-reading itself; Lee 2022's
    dedup-improves-LMs result is this curve's consequence).

    Join-free formulation: a bigram type contributes exactly ONE
    novel pair — in the bucket of its min doc_id — so per-bucket
    novelty is two aggregates (distinct pair count per bucket;
    first-seen type count per bucket of min-doc) and a bucket-keyed
    left join of two TINY frames. No corpus-scale join-back of the
    first-occurrence table, which is what the naive per-pair novel
    flag would do.

    Integer-exact counts, exact-rational novelty. Scale: the distinct
    (doc, prev, cur) dedup is the corpus-scale stage (map-side
    partials absorb duplication); both aggregates ride it; output is
    bucket-count-sized."""
    # corpus-scale per-row CPU over the 1-partition single-row-group
    # fixture scan (guide §2.5; no-op at production parallelism)
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    t = docs.select(
        "doc_id", T.tokens(F.lower(F.col("text"))).alias("tk")
    ).where(F.size("tk") >= 2)
    pair = F.zip_with(
        F.slice(F.col("tk"), F.lit(1), F.size("tk") - 1),
        F.slice(F.col("tk"), F.lit(2), F.size("tk") - 1),
        lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
    )
    from pyspark.storagelevel import StorageLevel

    from cc2dataset_spark import caching

    bg = caching.track(
        t.select("doc_id", F.explode(pair).alias("p"))
        .select(
            "doc_id",
            F.col("p.prev").alias("prev"),
            F.col("p.cur").alias("cur"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    per_bucket = bg.groupBy(
        F.expr("doc_id div 50").alias("bucket")
    ).agg(F.count("*").alias("n_pairs"))
    firsts = (
        bg.groupBy("prev", "cur")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.expr("first_doc div 50").alias("bucket"))
        .agg(F.count("*").alias("n_novel"))
    )
    from cc2dataset_spark.functions.numeric import ratio_round6

    nn = F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint")
    return per_bucket.join(firsts, "bucket", "left").select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "n_pairs",
        nn.alias("n_novel"),
        ratio_round6(nn, F.col("n_pairs")).alias("novelty"),
    )


# Placeholder policy blocklist over the fixture vocabulary — the C4
# "badwords" MECHANISM with neutral stand-in terms; production swaps
# the tuple for the real policy list exactly like the checked-in PSL
# snapshot stands in for the full publicsuffix.org list
# (functions/links.load_public_suffix_rules).
_BLOCKLIST = ("slow", "crash", "stale")
_BLOCKLIST_SQL = "('slow', 'crash', 'stale')"
_BLOCK_RATE = RATIO6_SQL.format(num="n_flagged", den="n_docs")


@query(
    "curate_blocklist_filter",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_DUCK_TOKENS}) AS term
      FROM documents
    ), per_doc AS (
      SELECT doc_id, lang,
             CAST(COUNT(CASE WHEN term IN {_BLOCKLIST_SQL} THEN 1 END)
               AS BIGINT) AS n_hits
      FROM tok GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN n_hits > 0 THEN 1 END) AS BIGINT)
             AS n_flagged,
           CAST(SUM(n_hits) AS BIGINT) AS total_hits,
           {_BLOCK_RATE} AS flag_rate
    FROM per_doc GROUP BY lang
    """,
    tags=("curation", "policy", "filter"),
)
def curate_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-blocklist gating — the C4 badwords filter's mechanism
    (docs containing any blocklisted token are dropped wholesale; C4
    §2.2 removed ~7% of tokens this way), reported per language as
    docs/flagged/hit-count/flag-rate so the policy owner sees the
    removal volume BEFORE committing the drop. The list here is a
    neutral fixture-vocabulary stand-in (same placeholder convention
    as the PSL suffix tuple); production broadcasts the real list.

    All counts integer-exact, rate via the exact rational. Plan: one
    tokenize+explode scan with the blocklist test INLINE in the
    aggregate (a 3-term IN-list is a codegen predicate — a real
    ~400-term list broadcasts and joins instead), a doc-keyed count
    with map-side partials, then a lang-sized rollup."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(T.tokens(F.lower(F.col("text")))).alias("term"),
    )
    per_doc = tok.groupBy("doc_id", "lang").agg(
        F.count(F.when(F.col("term").isin(*_BLOCKLIST), 1))
        .cast("bigint")
        .alias("n_hits")
    )
    from cc2dataset_spark.functions.numeric import ratio_round6

    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("n_hits") > 0, 1))
        .cast("bigint")
        .alias("n_flagged"),
        F.sum("n_hits").cast("bigint").alias("total_hits"),
        ratio_round6(
            F.count(F.when(F.col("n_hits") > 0, 1)),
            F.count("*"),
        ).alias("flag_rate"),
    )
