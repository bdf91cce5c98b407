"""Text-analysis scalar operators for LLM-data pipelines (north-star
extension; no reference implementation — SURVEY.md §2 EXT / Stage 3).

All pure JVM Column expressions (zero Python in the hot path): token
counting, quality scoring, n-gram shingling, language-ID heuristic,
rolling-hash fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; empty string -> empty array."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Array of n-word shingles (space-joined) — MinHash/Jaccard input.

    Built by zipping n shifted slices of the token array, so the
    (expensive) tokenization expression is evaluated O(n) times per
    row — an index-lambda formulation re-evaluates it per shingle and
    is ~10x slower on real documents.
    """
    toks = tokens(col)
    k = F.size(toks) - (n - 1)
    safe_k = F.greatest(k, F.lit(0))
    acc = F.slice(toks, F.lit(1), safe_k)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, F.lit(1 + j), safe_k),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(acc)


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not ASCII alphanumeric/space.
    DELIBERATELY ASCII-scoped (the regex has a verbatim RE2/DuckDB
    twin): on non-Latin text every CJK/accented character counts as
    "punctuation", so quality_score's penalty saturates — the quality
    heuristic's domain is Latin-alphabet text; multilingual corpora
    should gate quality per lang_id bucket or swap in a
    Unicode-class-aware scorer (and its oracle twin) at this seam."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[A-Za-z0-9\s]", "")
    return F.when(F.length(c) > 0, F.length(stripped) / F.length(c)).otherwise(0.0)


def quality_score_from_tokens(
    text_col: Column | str, tok_col: Column | str
) -> Column:
    """The quality formula over a PRE-MATERIALIZED token array — the
    single source of truth for the length/punct/word-shape heuristic:
    quality_score (inline, re-tokenizing) and every query that ranks
    or filters on quality (text_quality_scores,
    dedup_cluster_best_quality, the curation gates' oracles) must all
    agree bit-for-bit, so the formula lives exactly once. Rounded to
    6 decimals — the value is ordering-deciding downstream."""
    tc = F.col(text_col) if isinstance(text_col, str) else text_col
    t = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    n_tok = F.size(t)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    mwl = F.when(n_tok > 0, total / n_tok).otherwise(0.0)
    len_score = F.least(n_tok / 64.0, F.lit(1.0))
    punct_penalty = F.least(punct_ratio(tc) * 4.0, F.lit(1.0))
    word_score = F.when((mwl >= 3.0) & (mwl <= 10.0), 1.0).otherwise(0.5)
    # NULL text scores 0.0 like the empty document: without the guard,
    # size(null tokens) is NULL, least() SKIPS nulls so len_score
    # collapses to 1.0, and punct_ratio's otherwise(0.0) removes the
    # penalty — a NULL doc would score 0.5, outranking every real doc
    # below it in quality-ordered dedup survivorship.
    return F.when(tc.isNull(), F.lit(0.0)).otherwise(
        F.round(len_score * (1.0 - punct_penalty * 0.5) * word_score, 6)
    )


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: favors mid-length docs with
    low punctuation density and word lengths typical of natural text.
    Convenience form that tokenizes inline (3x per row) — fine for
    filters; materialize the token array and use
    quality_score_from_tokens for full-corpus projections."""
    return quality_score_from_tokens(col, tokens(col))


# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic. Scoring is count-of-hits, ties broken by
# fixed language order.
_LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "los", "en", "un"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "que"),
    "de": ("der", "die", "und", "das", "ein", "nicht", "mit", "ist"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}


def lang_id_from_tokens(toks: Column) -> Column:
    """Stopword-overlap language guess over a pre-materialized
    lowercased distinct-token array column. Flat >=-cascade (ties go
    to the earlier language), NOT a sequential best-so-far when-chain:
    a chain embeds every earlier score expression twice per level, so
    the tokenize subtree would be duplicated ~2^k times in the plan
    (the exponential cousin of the no-CSE trap documented on
    shingle_hashes)."""
    score = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(m) for m in markers]))
        )
        for lang, markers in _LANG_MARKERS.items()
    }
    s_en, s_es, s_fr, s_de, s_zh = (
        score["en"], score["es"], score["fr"], score["de"], score["zh"]
    )
    return (
        F.when(F.greatest(s_en, s_es, s_fr, s_de, s_zh) == 0, F.lit("und"))
        .when(s_en >= F.greatest(s_es, s_fr, s_de, s_zh), F.lit("en"))
        .when(s_es >= F.greatest(s_fr, s_de, s_zh), F.lit("es"))
        .when(s_fr >= F.greatest(s_de, s_zh), F.lit("fr"))
        .when(s_de >= s_zh, F.lit("de"))
        .otherwise(F.lit("zh"))
    )


def lang_id(col: Column | str) -> Column:
    """Stopword-overlap language guess over a lowercased token set.
    Convenience inline form; in a query, materialize the token array
    first and use :func:`lang_id_from_tokens` so the tokenizer runs
    once per row."""
    toks = F.array_distinct(
        tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    )
    return lang_id_from_tokens(toks)


def shingle_hashes(col: Column | str, shingle_words: int = 3) -> Column:
    """md5 per word shingle — the winnowing input. Materialize this as
    its OWN projection column before windowing (see
    winnow_from_hashes): Catalyst does not common-subexpression-
    eliminate a non-trivial array expression referenced inside a
    higher-order ``transform``, so inlining it into the window loop
    recomputes every hash once per window — O(n^2) md5 calls per
    document (measured 48 s vs 2 s at sf0.1)."""
    return F.transform(word_shingles(col, shingle_words), lambda s: F.md5(s))


def winnow_from_hashes(h: Column, window: int = 4) -> Column:
    """Winnowing over an already-materialized hash array column:
    slide a window of ``window`` consecutive hashes, keep each
    window's minimum (distinct). ``h`` MUST be a plain column
    attribute (cheap to re-reference), not an expression tree."""
    nwin = F.size(h) - (window - 1)
    wins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), nwin),
            lambda i: F.array_min(F.slice(h, i, window)),
        )
    )
    return (
        F.when(F.size(h) == 0, F.array().cast("array<string>"))
        .when(nwin < 1, F.array(F.array_min(h)))
        .otherwise(wins)
    )


def winnow_fingerprints(
    col: Column | str, shingle_words: int = 3, window: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the standard rolling-hash fingerprint for document
    near-dup/plagiarism detection): hash every word shingle, slide a
    window of ``window`` consecutive hashes, keep each window's
    minimum; any shared run of >= window + shingle_words - 1 tokens is
    then guaranteed to share a fingerprint. The hash is md5 compared
    lexicographically, so the whole computation is engine-neutral
    (DuckDB-checkable) and pure codegen — no UDF, no shuffle.

    Returns array<string>: the distinct fingerprint set (empty for
    docs shorter than one shingle; a single global min for docs with
    fewer than ``window`` shingles, per the winnowing definition).

    NOTE: convenience single-expression form for small inputs/tests.
    In a query, materialize :func:`shingle_hashes` as its own
    projection first and apply :func:`winnow_from_hashes` to the
    column — the inline form re-evaluates the hash array per window
    (quadratic; see shingle_hashes docstring).
    """
    return winnow_from_hashes(shingle_hashes(col, shingle_words), window)


# GPT-2-style pre-tokenization pattern, restricted to constructs that
# behave identically in Java regex (Spark) and RE2 (DuckDB) — ASCII
# classes only, no lookahead, no unicode categories. Order matters:
# contractions, then space-prefixed letter/digit runs, then
# space-prefixed punctuation runs, then a bare apostrophe.
BPE_LIKE_PATTERN = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9']+|'"


def bpe_like_tokens(col: Column | str) -> Column:
    """BPE-ish regex tokenization (the north-star's second token
    counter next to whitespace :func:`tokens`): splits contractions,
    letter runs, digit runs, and punctuation runs the way byte-pair
    pre-tokenizers do, as a single codegen regexp_extract_all — no
    UDF. The pattern must be passed as a Column literal, NOT through a
    SQL string (SQL literal parsing would eat the backslash in \\s and
    silently change the token boundaries)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_LIKE_PATTERN), F.lit(0))


# PII scrubbing (C4/RefinedWeb-style pre-training hygiene): regexes are
# deliberately RE2-simple so Spark (Java regex) and DuckDB (RE2) agree
# on every match — both scan left-to-right, non-overlapping.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_DIGITS_RE = r"[0-9]{7,}"


def pattern_count(col: Column | str, pattern: str) -> Column:
    """Number of non-overlapping matches of ``pattern``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def pii_redact(col: Column | str) -> Column:
    """Replace emails then long digit runs with typed placeholders.
    Email pass runs FIRST: an email's local/domain part can contain a
    7+ digit run, and the digit pass would otherwise split it and leave
    a half-redacted address behind."""
    c = F.col(col) if isinstance(col, str) else col
    no_email = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(no_email, LONG_DIGITS_RE, "<NUM>")


def cdc_chunks(
    col: Column | str, window: int = 8, modulus: int = 32
) -> Column:
    """Content-defined chunking (the LBFS/storage-dedup primitive,
    Muthitacharoen et al. SOSP'01): split a string into variable-size
    chunks at positions where the hash of the trailing ``window``-char
    slice is 0 mod ``modulus`` — so chunk boundaries are determined by
    CONTENT, not offsets, and an insertion near the front of a
    document shifts every fixed-size block but leaves all CDC chunks
    after the next boundary byte-identical. That stability is what
    makes chunk-level dedup catch shared substrings across revisions
    of a blob where whole-blob fingerprints see two distinct objects.

    The boundary hash here is a full md5 of the w-char window
    (replayable in DuckDB via md5_number_lower; a production rolling
    Rabin fingerprint computes the same boundaries incrementally in
    O(1) per position instead of O(w) — same chunks, cheaper scan).
    Mean chunk length is ~``modulus`` chars.

    PERFORMANCE HAZARD: this per-row form nests the md5 filter inside
    higher-order-function lambdas, which (a) fall out of whole-stage
    codegen into the interpreted evaluator and (b) re-evaluate per
    reference — measured 86 s vs ~3 s at sf0.1 for identical output.
    For anything bigger than a per-row convenience call use
    operators/multimodal.cdc_chunk_fingerprints, which runs the hash
    in an exploded codegen Filter.
    """
    from cc2dataset_spark.functions.hashes import md5_mod

    c = F.col(col) if isinstance(col, str) else col
    ln = F.length(c)
    cuts = F.when(ln < window, F.array().cast("array<int>")).otherwise(
        F.filter(
            F.sequence(F.lit(window), F.greatest(ln, F.lit(window))),
            lambda i: md5_mod(
                F.concat(F.lit("cdc:"), c.substr(i - window + 1, F.lit(window))),
                modulus,
            )
            == 0,
        )
    )
    b = F.array_distinct(
        F.concat(
            F.array(F.lit(0)), cuts, F.array(ln)
        )
    )
    return F.zip_with(
        F.slice(b, F.lit(1), F.size(b) - 1),
        F.slice(b, F.lit(2), F.size(b) - 1),
        lambda s, e: c.substr(s + 1, e - s),
    )
