"""Link-extraction operators P1-P13 (SURVEY.md §2.2) as declarative
Column expressions over exploded WAT link structs.

Reference semantics: /root/reference/cc2dataset/main.py:23-131 (predicates
and projections), main.py:104-114 (absolutization), main.py:157-164 (base
URL), main.py:166-176 (scheme filter, uid, provenance). Everything is a
JVM-side expression except RFC-3986 ``urljoin``, which has no Spark
built-in: scalar kernels :func:`resolve_base` and :func:`join_url` define
it, and :func:`absolute_http_urls` fuses them with the scheme filter into
the pipeline's one Python (pandas/Arrow) UDF, so each link crosses into
Python once over a single source scan (a split/union plan scans twice).
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

VIDEO_EXTS = (".avi", ".mp4", ".mkv", ".webm", ".mov", ".mpg", ".mpeg", ".m4v")
AUDIO_EXTS = (".ogg", ".wav", ".mp3", ".flac", ".m4a")
TEXT_EXTS = (
    "pdf", "epub", "djvu", "mobi", "doc", "docx", "rtf", "txt",
    "odt", "ppt", "pptx", "pages", "keynote", "wps", "md",
)

DOCUMENT_TYPES = ("image", "image_only", "audio", "text", "video")


def _url() -> Column:
    # reference uses link.get("url", "") — null behaves as empty string
    return F.coalesce(F.col("link.url"), F.lit(""))


def _ends_with_any(col: Column, exts: tuple[str, ...]) -> Column:
    out = F.lit(False)
    for ext in exts:
        out = out | col.endswith(ext)
    return out


def valid_video_link() -> Column:
    """P1 — url ends with a video extension (main.py:23-27)."""
    return _ends_with_any(_url(), VIDEO_EXTS)


def valid_audio_link() -> Column:
    """P3 — url ends with an audio extension (main.py:70-72)."""
    return _ends_with_any(_url(), AUDIO_EXTS)


def valid_text_link() -> Column:
    """P2 — last '.'-segment in the text-extension set, >=2 segments
    (main.py:56-62)."""
    splits = F.split(_url(), r"\.")
    return (F.size(splits) >= 2) & F.element_at(splits, -1).isin(*TEXT_EXTS)


def valid_image_link() -> Column:
    """P4 — DOM path IMG@/src with non-empty alt (main.py:81-84)."""
    return (F.coalesce(F.col("link.path"), F.lit("")) == "IMG@/src") & (
        F.length(F.coalesce(F.col("link.alt"), F.lit(""))) > 0
    )


def valid_image_only_link() -> Column:
    """P5 — DOM path IMG@/src, empty alt allowed (main.py:93-95)."""
    return F.coalesce(F.col("link.path"), F.lit("")) == "IMG@/src"


# P8 dispatch: document_type -> (predicate, alt projection). Image types
# take link.alt; audio/video/text take link.text (main.py:31,66,77,89,100).
_DISPATCH = {
    "image": (valid_image_link, lambda: F.coalesce(F.col("link.alt"), F.lit(""))),
    "image_only": (
        valid_image_only_link,
        lambda: F.coalesce(F.col("link.alt"), F.lit("")),
    ),
    "audio": (valid_audio_link, lambda: F.coalesce(F.col("link.text"), F.lit(""))),
    "text": (valid_text_link, lambda: F.coalesce(F.col("link.text"), F.lit(""))),
    "video": (valid_video_link, lambda: F.coalesce(F.col("link.text"), F.lit(""))),
}


def link_predicate(document_type: str) -> Column:
    """P8 — predicate for a document type (main.py:117-131)."""
    if document_type not in _DISPATCH:
        raise ValueError(f"Unknown document type {document_type}")
    return _DISPATCH[document_type][0]()


def link_alt(document_type: str) -> Column:
    """P6/P7 — caption projection for a document type."""
    if document_type not in _DISPATCH:
        raise ValueError(f"Unknown document type {document_type}")
    return _DISPATCH[document_type][1]()


def _make_url_kernels():
    """Kernels built in a factory, so cloudpickle ships them BY VALUE (their
    qualnames are not importable): executors need not have this package."""
    from urllib.parse import urljoin

    http = ("http://", "https://")

    def join_url(base: str | None, url: str | None) -> str | None:
        """P10 kernel — Python's urljoin, byte for byte (main.py:104-110);
        absolute http(s) URLs and None pass through, a ValueError keeps url."""
        if url is None or url.startswith(http):
            return url
        try:
            return urljoin(base or "", url)
        except ValueError:
            return url

    def resolve_base(page: str | None, base: str | None) -> str | None:
        """Base-URL kernel (main.py:157-164): urljoin(page_url, Head.Base)
        with no absolute-scheme shortcut; a malformed <base href> such as
        'http://[' keeps the PAGE url (`except ValueError: pass`), not Base."""
        if base is None:
            return page
        try:
            return urljoin(page or "", base)
        except ValueError:
            return page

    def absolute_http_url(page: str | None, base: str | None, url: str | None) -> list[str]:
        """P10 + P11 fused (main.py:157-172): ``[absolute url]``, or ``[]``
        when it is not http(s). Only relative URLs need the base resolved."""
        if url is not None and not url.startswith(http):
            url = join_url(resolve_base(page, base), url)
        return [url] if url is not None and url.startswith(http) else []

    return join_url, resolve_base, absolute_http_url


join_url, resolve_base, absolute_http_url = _make_url_kernels()


@pandas_udf(StringType())
def urljoin_udf(base: pd.Series, url: pd.Series) -> pd.Series:
    """:func:`join_url` over Arrow batches."""
    return pd.Series([join_url(b, u) for b, u in zip(base, url)])


@pandas_udf(StringType())
def resolve_base_udf(page_url: pd.Series, base_raw: pd.Series) -> pd.Series:
    """:func:`resolve_base` over Arrow batches."""
    return pd.Series([resolve_base(p, b) for p, b in zip(page_url, base_raw)])


@pandas_udf(ArrayType(StringType()))
def absolute_http_urls(
    page_url: pd.Series, base_raw: pd.Series, url: pd.Series
) -> pd.Series:
    """:func:`absolute_http_url` over Arrow batches, for ``explode``: a
    ``where()`` on a string result would be pushed below the projection
    with the UDF inlined into it, so the UDF would run twice."""
    return pd.Series(
        [absolute_http_url(p, b, u) for p, b, u in zip(page_url, base_raw, url)]
    )


def absolutize_urls(df: DataFrame, url: str = "url", base: str = "base_url") -> DataFrame:
    """Resolve relative URLs in column ``url`` against column ``base``: one
    narrow projection that keeps every row (:func:`urljoin_udf` passes
    absolute URLs and NULLs through)."""
    return df.withColumn(url, urljoin_udf(F.col(base), F.col(url)))


def uid_column(alt: str = "alt", url: str = "url") -> Column:
    """P12 — uid = md5(alt || url), byte-identical to
    hashlib.md5((alt+url).encode()).hexdigest() (main.py:174)."""
    return F.md5(F.concat(F.col(alt), F.col(url)))


def normalize_url(col: Column | str) -> Column:
    """Canonicalize a URL for dedup: drop the fragment, lowercase the
    scheme+host (authority), strip default ports (:443 for https, :80
    for http), and remove utm_* tracking query parameters (cleaning up
    any dangling '?'/'&'). Path and non-tracking query params keep
    their case and order — they are semantically significant.

    utm-stripping is scoped to the query string only: the rest of the
    URL is split at the first '?' and the strip pattern anchors each
    tracking param to its own '[?&]' delimiter, so 'utm_' occurring in
    the path ('/utm_banner.png') or inside a longer param name
    ('xutm_source=1') is never touched, and a stripped leading
    '?utm_...' repairs the following '&' back to '?'.

    Pure codegen regex chain; every pattern is RE2-simple and valid
    verbatim in DuckDB (the oracle replays the identical sequence), so
    normalized-URL dedup is SQL-checkable end to end. This is the
    canonicalization the reference's md5(alt+url) uid implicitly
    skips — cc_dedup_normalized_url measures exactly how many uid
    duplicates it would have merged."""
    c = F.col(col) if isinstance(col, str) else col
    no_frag = F.regexp_replace(c, r"#.*$", "")
    prefix = F.regexp_extract(
        no_frag, r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)", 1
    )
    rest = F.substr(no_frag, F.length(prefix) + F.lit(1))
    # Only scheme and host:port are case-insensitive (RFC 3986):
    # userinfo is rebuilt verbatim between the lowered halves — a
    # wholesale lower(prefix) would merge URLs differing only in
    # credential case and corrupt stored credentials. (Oracle twins
    # replay lower(prefix): equivalent because no fixture URL carries
    # userinfo; a userinfo-bearing corpus needs the same split in its
    # SQL.)
    scheme = F.regexp_extract(prefix, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
    # Userinfo is greedy to the LAST '@' (WHATWG URL semantics): a
    # double-@ authority 'a@b@c' has userinfo 'a@b' and host 'c'; the
    # old first-@ split ([^/?#@]*@) left 'b@c' as the hostport.
    userinfo = F.regexp_extract(prefix, r"^[^:]+://([^/?#]*@)", 1)
    hostport = F.regexp_extract(prefix, r"://(?:[^/?#]*@)?(.*)$", 1)
    p = F.concat(F.lower(scheme), F.lit("://"), userinfo, F.lower(hostport))
    p = (
        F.when(p.startswith("https://"), F.regexp_replace(p, r":443$", ""))
        .when(p.startswith("http://"), F.regexp_replace(p, r":80$", ""))
        .otherwise(p)
    )
    # Split at the first '?': utm params can only live in the query.
    path_part = F.regexp_extract(rest, r"^([^?]*)", 1)
    q = F.substr(rest, F.length(path_part) + F.lit(1))
    # Each param is anchored to its own delimiter, so consecutive
    # utm params each match (one non-overlapping pass sees both the
    # leading '?utm_' and every '&utm_') and 'xutm_source' never does.
    # Only the string-LEADING '?' is a delimiter: a literal '?' inside
    # a param value ('?a=1?utm_x=2' — the tail is part of a's value,
    # RFC 3986 allows raw '?' in queries) must not start a match, so
    # the alternation is (^\?|&), not [?&]. Inside the query slice '&'
    # is always a delimiter, so '[^&#]' safely eats a value containing
    # a literal '?'.
    q = F.regexp_replace(q, r"(^\?|&)utm_[^&#]*", "")
    q = F.regexp_replace(q, r"^&", "?")
    q = F.regexp_replace(q, r"\?&", "?")
    q = F.regexp_replace(q, r"[?&]$", "")
    return F.concat(p, path_part, q)


def _psl_snapshot_path() -> str:
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "public_suffix_snapshot.dat",
    )


@functools.cache
def load_public_suffix_rules() -> dict:
    """Parse the checked-in Public Suffix List snapshot
    (cc2dataset_spark/data/public_suffix_snapshot.dat — the FULL
    publicsuffix.org file as of r9, 9506 rules, MPL-2.0 public data;
    standard format: '//' comments, '*.' wildcard labels, '!'
    exception rules). Returns::

        {"exact": {k: frozenset(rule)},      # k = label count
         "wild_base": {k: frozenset(base)},  # '*.base'; k counts the *
         "exc": {k: frozenset(rule)},        # '!' stripped
         "max_k": int}

    Single-label rules are dropped at parse time: the PSL default rule
    '*' already makes every bare TLD a public suffix, which is the
    algorithm's fallback (registrable = last two labels), so listing
    them would be dead weight in the match tables.
    """
    path = _psl_snapshot_path()
    exact: dict[int, set] = {}
    wild: dict[int, set] = {}
    exc: dict[int, set] = {}
    with open(path, encoding="utf8") as f:
        for line in f:
            rule = line.strip().lower()
            if not rule or rule.startswith("//"):
                continue
            if rule.startswith("!"):
                rule = rule[1:]
                k = rule.count(".") + 1
                if k >= 2:
                    exc.setdefault(k, set()).add(rule)
            elif rule.startswith("*."):
                base = rule[2:]
                k = base.count(".") + 2  # the * consumes one label
                wild.setdefault(k, set()).add(base)
            else:
                k = rule.count(".") + 1
                if k >= 2:
                    exact.setdefault(k, set()).add(rule)
    max_k = max([1, *exact, *wild, *exc])
    return {
        "exact": {k: frozenset(v) for k, v in exact.items()},
        "wild_base": {k: frozenset(v) for k, v in wild.items()},
        "exc": {k: frozenset(v) for k, v in exc.items()},
        "max_k": max_k,
    }


# The authority-extraction regex + root-dot strip used by BOTH
# with_registrable_domain and every per-host catalog query. One definition:
# a host extracted one way feeding a domain derived another way would
# silently count different host universes. RFC-3986 authority shape
# (r8 fixes): userinfo may contain ':' ('user:pass@h' — excluding it
# made backtracking capture the USERNAME as the host), a bracketed
# IPv6 literal keeps its colons ('[2001:db8::1]:8080' — the bare
# host class truncated it at the first ':'), and (r9) userinfo is
# GREEDY to the last '@' with '@' excluded from the host class, so a
# double-@ authority 'http://a@b@c/' yields host 'c' (WHATWG URL
# splits at the last '@'; the old first-@ split captured 'b@c').
_HOST_RE = (
    r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*@)?(\[[^\]]*\]|[^/:?#@]+)"
)


def host_from_url(col: Column | str) -> Column:
    """Lowercased, root-dot-stripped host of a URL ('' for relative
    URLs; NULL propagates). The single host definition behind
    :func:`with_registrable_domain` and the per-host catalog queries."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.lower(F.regexp_extract(c, _HOST_RE, 2)), r"\.$", ""
    )


def host_from_url_sql(url_expr: str) -> str:
    """DuckDB twin of :func:`host_from_url` as a SQL fragment."""
    return (
        f"regexp_replace(lower(regexp_extract({url_expr}, "
        f"'{_HOST_RE}', 2)), '\\.$', '')"
    )


@functools.cache
def _psl_match_table() -> tuple[tuple[tuple[str, int, bool, bool, bool], ...], tuple[int, ...]]:
    """The parsed snapshot re-keyed by MATCH STRING for the join form:
    rows ``(m_str, m, ex, wild, exc)`` where ``m`` is the label count
    of the string a host suffix must EQUAL, and the flags say which
    rule classes that string carries (a string can be several at once,
    e.g. both an exact rule and a wildcard base). Contributions:
    exact -> ps = m; wildcard base (``*.m_str``) -> ps = m + 1 when the
    host has >= m+1 labels; exception -> ps = m - 1, prevailing over
    all normal rules. Second element: the sorted distinct ``m`` values
    (one broadcast join each)."""
    rules = load_public_suffix_rules()
    flags: dict[str, list] = {}

    def row(s: str) -> list:
        return flags.setdefault(s, [s.count(".") + 1, False, False, False])

    for k, vals in rules["exact"].items():
        for s in vals:
            row(s)[1] = True
    for k, vals in rules["wild_base"].items():
        for s in vals:
            row(s)[2] = True
    for k, vals in rules["exc"].items():
        for s in vals:
            row(s)[3] = True
    rows = tuple(
        (s, m, ex, wild, exc)
        for s, (m, ex, wild, exc) in sorted(flags.items())
    )
    ms = tuple(sorted({m for _, m, *_ in rows}))
    return rows, ms


# Session-scoped cache of the PSL match table as a lineage-truncated
# DataFrame, keyed by applicationId (a stopped context gets a new id,
# so stale sessions can never serve a live caller). Why (r13-opt,
# guide §5 "very large query plans" / §3.3 "materialise to truncate"):
# the match table is STATIC PROGRAM DATA (the checked-in PSL snapshot
# — the same constant whether expressed as literals or rows), but
# building it per call embedded an ~8k-row LocalRelation into the
# caller's logical plan FIVE times (once per match-label-count join),
# so every PSL query paid ~3.6 s of driver-side createDataFrame
# (pickled-list path) plus analysis/canonicalization over a plan
# carrying 5x8k inline rows — measured 3.0-3.1 s WARM per execution
# of cc_domain_stats, and a 24-53 s cold tail. The cached frame is
# built once per session via the Arrow path and localCheckpoint'd, so
# every subsequent plan references five tiny RDD-scan nodes instead.
# This caches no query result and nothing derived from input data.
_PSL_RULES_DF_CACHE: dict[str, "DataFrame"] = {}


def _psl_rules_df(spark) -> DataFrame:
    app_id = spark.sparkContext.applicationId
    cached = _PSL_RULES_DF_CACHE.get(app_id)
    if cached is not None:
        return cached
    import pandas as pd

    rows, _ = _psl_match_table()
    pdf = pd.DataFrame(
        rows, columns=["m_str", "m", "ex", "wild", "exc"]
    )
    rules_df = spark.createDataFrame(
        pdf, "m_str string, m int, ex boolean, wild boolean, exc boolean"
    )
    # localCheckpoint blocks live in NON-RELIABLE executor storage: on
    # a real cluster (executor loss, dynamic allocation, spot nodes)
    # the truncated-lineage frame becomes permanently unrecomputable
    # and the appId-keyed cache would keep serving the broken entry
    # (r13 ADVICE). Local masters can't lose their one "executor"
    # without losing the session itself, so the lineage truncation is
    # gated to them; clusters keep the plain Arrow-built frame — still
    # built once per session, just with the (driver-resident, 8k-row)
    # LocalRelation lineage intact and re-broadcastable forever.
    if (spark.sparkContext.master or "").startswith("local"):
        rules_df = rules_df.localCheckpoint(eager=True)
    _PSL_RULES_DF_CACHE[app_id] = rules_df
    return rules_df


def with_registrable_domain(
    df: DataFrame,
    url_col: str | Column | None = None,
    host_col: str | None = None,
    out_col: str = "domain",
) -> DataFrame:
    """Add the eTLD+1 registrable domain — the per-domain aggregation
    key of C4/RefinedWeb-style curation (domain blocklists, per-domain
    caps, domain quality priors). Implements the Public Suffix List
    algorithm against the checked-in FULL snapshot
    (:func:`load_public_suffix_rules`): exception rules prevail, else
    the longest matching rule (exact or '*.'-wildcard), else the
    default '*' rule (bare TLD is the public suffix); registrable
    domain = public suffix + one label. Hosts with no more labels than
    their public suffix pass through whole; a relative URL (no
    authority) yields ''; NULL propagates.

    Exactly one of ``url_col`` (host derived via
    :func:`host_from_url`) or ``host_col`` (already a lowercased
    root-dot-stripped host) must be given.

    BROADCAST-JOIN form, not a generated isin expression: at the full
    9,506-rule list the literal expression measured 6.1 s of driver
    Column construction plus ~5 s of analysis/serialization PER
    EXECUTION (SCALE.md r9 probe) — a per-query driver tax that grows
    with the list. Instead the parsed rules become one ~9.4k-row
    match table and the host probes it with ONE broadcast hash join
    per distinct match-label-count m (5 for the current list): join
    key = the host's last-m-label suffix. Zero shuffles, no explode,
    no distinct — O(1) probes per row at any corpus size, and suffix
    EQUALITY makes the m-partitioned joins lossless (equal strings
    have equal label counts, so a clamped/empty suffix can never
    false-match). The DuckDB twin (:func:`registrable_domain_ctes`)
    parses THE SAME snapshot file with read_text and replays the same
    joins, so the engines can never drift to different rule sets."""
    if (url_col is None) == (host_col is None):
        raise ValueError("pass exactly one of url_col / host_col")
    _, ms = _psl_match_table()  # rows live in the cached session frame
    spark = df.sparkSession
    rules_df = _psl_rules_df(spark)
    host = (
        host_from_url(url_col) if url_col is not None else F.col(host_col)
    )
    cur = (
        df.withColumn("__psl_host", host)
        .withColumn("__psl_parts", F.split("__psl_host", r"\."))
        .withColumn("__psl_n", F.size("__psl_parts"))
    )
    n = F.col("__psl_n")
    norm_terms: list[Column] = [F.lit(1)]
    exc_terms: list[Column] = []
    drop = ["__psl_host", "__psl_parts", "__psl_n"]
    for m in ms:
        rk = rules_df.where(F.col("m") == m).select(
            F.col("m_str").alias(f"__psl_m{m}"),
            F.col("ex").alias(f"__psl_ex{m}"),
            F.col("wild").alias(f"__psl_w{m}"),
            F.col("exc").alias(f"__psl_x{m}"),
        )
        cur = cur.join(
            F.broadcast(rk),
            F.array_join(F.slice("__psl_parts", -m, m), ".")
            == F.col(f"__psl_m{m}"),
            "left",
        )
        norm_terms.append(F.when(F.col(f"__psl_ex{m}"), F.lit(m)))
        norm_terms.append(
            F.when(F.col(f"__psl_w{m}") & (n >= m + 1), F.lit(m + 1))
        )
        exc_terms.append(F.when(F.col(f"__psl_x{m}"), F.lit(m - 1)))
        drop += [f"__psl_m{m}", f"__psl_ex{m}", f"__psl_w{m}", f"__psl_x{m}"]
    # greatest() skips NULLs in Spark and DuckDB alike; the default '*'
    # rule is the F.lit(1) floor. Exceptions prevail when any matched.
    exc_ps = exc_terms[0] if len(exc_terms) == 1 else F.greatest(*exc_terms)
    ps = F.coalesce(exc_ps, F.greatest(*norm_terms))
    take = ps + F.lit(1)
    dom = F.when(n <= ps, F.col("__psl_host")).otherwise(
        F.array_join(F.slice("__psl_parts", -take, take), ".")
    )
    return cur.withColumn(out_col, dom).drop(*drop)


def registrable_domain_ctes(
    input_rel: str, host_col: str = "host", out_rel: str = "psl_dom"
) -> str:
    """DuckDB twin of :func:`with_registrable_domain` as a CTE-list
    fragment (splice into an oracle's WITH chain): defines ``pslm``
    (the match table parsed from THE SAME checked-in snapshot file via
    read_text — never a second copy of the rules) and ``{out_rel}``
    (every column of ``{input_rel}`` plus ``domain``). ``host_col``
    must already be the lowercased, root-dot-stripped host."""
    rows, ms = _psl_match_table()
    path = _psl_snapshot_path()
    h = host_col
    joins, norm_terms, exc_terms = [], ["1"], []
    for m in ms:
        joins.append(
            f"LEFT JOIN pslm p{m} ON p{m}.m = {m} AND p{m}.m_str = "
            f"array_to_string(ib0.__parts[-{m}:], '.')"
        )
        norm_terms.append(f"CASE WHEN p{m}.ex THEN {m} END")
        norm_terms.append(
            f"CASE WHEN p{m}.wild AND ib0.__n >= {m + 1} THEN {m + 1} END"
        )
        exc_terms.append(f"CASE WHEN p{m}.exc THEN {m - 1} END")
    exc_sql = (
        exc_terms[0]
        if len(exc_terms) == 1
        else "greatest(" + ", ".join(exc_terms) + ")"
    )
    return f"""
    pslm AS (
      SELECT m_str, len(string_split(m_str, '.')) AS m,
             bool_or(cls = 'ex') AS ex, bool_or(cls = 'wild') AS wild,
             bool_or(cls = 'exc') AS exc
      FROM (
        SELECT CASE WHEN starts_with(r, '!') THEN substr(r, 2)
                    WHEN starts_with(r, '*.') THEN substr(r, 3)
                    ELSE r END AS m_str,
               CASE WHEN starts_with(r, '!') THEN 'exc'
                    WHEN starts_with(r, '*.') THEN 'wild'
                    ELSE 'ex' END AS cls
        FROM (
          SELECT lower(trim(l)) AS r
          FROM (SELECT unnest(string_split(content, chr(10))) AS l
                FROM read_text('{path}'))
          WHERE trim(l) <> '' AND NOT starts_with(trim(l), '//')
        )
      )
      -- single-label exact/exception rules drop (PSL default-rule
      -- equivalent), matching load_public_suffix_rules
      WHERE cls = 'wild' OR len(string_split(m_str, '.')) >= 2
      GROUP BY 1, 2
    ), {out_rel} AS (
      SELECT ib.* EXCLUDE (__parts, __n, __ps),
             CASE WHEN ib.__n IS NULL THEN NULL
                  WHEN ib.__n <= ib.__ps THEN ib.{h}
                  ELSE array_to_string(ib.__parts[-(ib.__ps + 1):], '.')
             END AS domain
      FROM (
        SELECT ib0.*,
               coalesce({exc_sql},
                        greatest({", ".join(norm_terms)})) AS __ps
        FROM (SELECT i0.*, string_split(i0.{h}, '.') AS __parts,
                     len(string_split(i0.{h}, '.')) AS __n
              FROM {input_rel} i0) ib0
        {" ".join(joins)}
      ) ib
    )"""
