"""Link-extraction operators P1-P13 (SURVEY.md §2.2) as declarative
Column expressions over exploded WAT link structs.

Reference semantics: /root/reference/cc2dataset/main.py:23-131 (predicates
and projections), main.py:104-114 (absolutization), main.py:157-164 (base
URL), main.py:166-176 (scheme filter, uid, provenance). Everything is a
JVM-side expression, Python's ``urljoin`` included, which has no Spark
built-in: the scalar kernels :func:`resolve_base`, :func:`join_url` and
:func:`absolute_http_url` define it (and are the test oracle), and
:func:`with_resolved_base` (per record) with :func:`with_absolute_http_url`
(per link) reproduce them byte for byte as projections, so extraction
runs no Python worker.
"""

from __future__ import annotations

import functools
import re
import string
from urllib.parse import urlsplit, uses_netloc, uses_params, uses_relative

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

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


# Python's urljoin as SQL expressions (P10/P11, main.py:104-114,157-172),
# mirroring CPython 3.11's urllib/parse.py (urlsplit, urlparse, urlunparse,
# urljoin) step for step, with the scheme lists and the bracketed-netloc
# check of the installed module. Each stage is one projection; a part read
# twice is a projection attribute, never a copied subtree. The stages are
# SQL text, so building them costs one JVM call per stage, not one per
# node; the driver analyses every node on each operation, so a membership
# test is one RLIKE, not an IN list of literals.
_WHATWG_STRIP = r"^[\x00-\x20]+|[\t\r\n]"  # urlsplit's lstrip and unsafe bytes
# urlsplit + _splitparams in one match, parts joined by '\n' (which the
# strip removed): scheme (scheme_chars up to the first ':'), '//netloc',
# the path up to its params (';' after the last '/'), ';params', '?query',
# '#fragment'
_URL_PARTS = (
    r"(?s)^(?:([A-Za-z][A-Za-z0-9+.\-]*):)?(//[^/?#]*)?"
    r"((?:[^?#]*/)?[^/;?#]*)(;[^?#]*)?(\?[^#]*)?(#.*)?\z"
)
_H16 = "[0-9A-Fa-f]{1,4}"
_OCTET = "(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
_LS32 = rf"(?:{_H16}:{_H16}|{_OCTET}(?:\.{_OCTET}){{3}})"
_IPV6 = "|".join(
    (
        rf"(?:{_H16}:){{6}}{_LS32}",
        rf"::(?:{_H16}:){{5}}{_LS32}",
        rf"(?:{_H16})?::(?:{_H16}:){{4}}{_LS32}",
        rf"(?:(?:{_H16}:){{0,1}}{_H16})?::(?:{_H16}:){{3}}{_LS32}",
        rf"(?:(?:{_H16}:){{0,2}}{_H16})?::(?:{_H16}:){{2}}{_LS32}",
        rf"(?:(?:{_H16}:){{0,3}}{_H16})?::{_H16}:{_LS32}",
        rf"(?:(?:{_H16}:){{0,4}}{_H16})?::{_LS32}",
        rf"(?:(?:{_H16}:){{0,5}}{_H16})?::{_H16}",
        rf"(?:(?:{_H16}:){{0,6}}{_H16})?::",
    )
)
# _check_bracketed_host, on the text a bracketed host runs to (up to ']'):
# an IPvFuture address, or what ipaddress parses as IPv6 (the RFC 3986
# grammar, plus a %scope_id)
_BRACKETED_HOST_OK = rf"v[0-9A-Fa-f]+\.[^\]]+|(?:{_IPV6})(?:%[^%\]]+)?"
_DOT_SEGMENT = r"(?:^|/)\.\.?(?:/|\z)"
_TRAILING_DOT_SEGMENT = r"(?:^|/)\.\.?\z"
_PARTS_JOINED = "\n".join(f"${i}" for i in range(1, 7))
# urljoin takes the netloc from the base for every scheme it resolves
assert set(uses_relative) <= set(uses_netloc)


def _brackets_after_last_at() -> bool:
    """Which bracketed-host check the installed urlsplit runs on a netloc
    holding '[' and ']'. Patch releases with ``_check_bracketed_netloc``
    check the host after the last '@', where nothing may come before '['
    and only ':port' after ']' ('//a[::1]/' raises); earlier ones check
    what follows the first '[' ('//a[::1]/' is a netloc)."""
    try:
        urlsplit("//a[::1]/")
    except ValueError:
        return True
    return False


_BRACKETS_AFTER_LAST_AT = _brackets_after_last_at()


def _sql(s: str) -> str:
    """A SQL string literal holding ``s``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'").replace("\n", "\\n") + "'"


def _scheme_in(scheme: str, schemes: list[str]) -> str:
    """``scheme IN schemes`` as one RLIKE (a scheme is lowercase
    scheme_chars, or '')."""
    pattern = "^(?:" + "|".join(map(re.escape, schemes)) + r")\z"
    return f"{scheme} RLIKE {_sql(pattern)}"


@functools.cache
def _nfkc_netloc_chars() -> str:
    """_checknetloc as a character class: the characters whose NFKC form
    holds one of '/?#@:'. No composition starts with one of those five, so
    NFKC(netloc) holds one exactly when the netloc holds such a character."""
    import unicodedata

    bad = (
        chr(c)
        for c in range(0x80, 0x110000)
        if unicodedata.decomposition(chr(c))
        and any(x in unicodedata.normalize("NFKC", chr(c)) for x in "/?#@:")
    )
    return "[" + "".join(f"\\x{{{ord(ch):x}}}" for ch in bad) + "]"


def _netloc_error_pattern(after_last_at: bool) -> str:
    """A regex found in exactly the netlocs urlsplit raises ValueError on:
    unbalanced brackets, a bracketed host that is not IPv6 or IPvFuture,
    or a character whose NFKC form is one of '/?#@:' (_checknetloc).
    Which host a netloc holding '[' and ']' has depends on the patch
    release (see :data:`_BRACKETS_AFTER_LAST_AT`)."""
    unbalanced = r"^[^\]]*\[[^\]]*\z|^[^\[]*\][^\[]*\z"
    if after_last_at:
        # _check_bracketed_netloc on the part after the last '@': '[' must
        # begin it and only ':port' may follow ']'; without a '[', the
        # host is the text before the first ':'
        valid = (
            rf"(?:\[(?:{_BRACKETED_HOST_OK})(?:\](?::[^@]*)?)?"
            r"|v[0-9A-Fa-f]+\.[^:@\[]+(?::[^@\[]*)?)\z"
        )
        bracketed = rf"^(?=.*\[)(?=.*\])(?:.*@)?(?!{valid})[^@]*\z"
    else:
        # netloc.partition('[')[2].partition(']')[0]
        bracketed = rf"^(?=.*\])[^\[]*\[(?!(?:{_BRACKETED_HOST_OK})(?:\]|\z))"
    return f"(?s){unbalanced}|{bracketed}|{_nfkc_netloc_chars()}"


def _url_parts(url: str) -> str:
    """urlsplit's six raw parts of ``url``, as an array: the one regex pass
    over a URL, so it is materialized."""
    cleaned = f"regexp_replace({url}, {_sql(_WHATWG_STRIP)}, '')"
    joined = f"regexp_replace({cleaned}, {_sql(_URL_PARTS)}, {_sql(_PARTS_JOINED)})"
    return f"split({joined}, {_sql(chr(10))}, -1)"


# the urlparse fields urljoin reads of its base; of its url it also reads
# the fragment
_BASE_FIELDS = ("scheme", "netloc", "path", "params", "query", "err")
_URL_FIELDS = (*_BASE_FIELDS, "fragment")


def _url_fields(parts: str, default_scheme: str, p: str, fields: tuple[str, ...]) -> dict[str, str]:
    """urlparse(url, default_scheme) from the :func:`_url_parts` column
    ``parts``, as SQL for the columns ``{p}scheme``, ``netloc``, ``path``,
    ``params``, ``query``, ``err`` (urlsplit raises ValueError) and, in
    :data:`_URL_FIELDS`, ``fragment``."""
    raw = [None, *(f"element_at({parts}, {i})" for i in range(1, 7))]
    # the scheme is ASCII: translate lowercases it without lower()'s ICU
    # case mapping, whose first use costs a cold JVM about a second
    lowered = f"translate({raw[1]}, {_sql(string.ascii_uppercase)}, {_sql(string.ascii_lowercase)})"
    scheme = f"(CASE WHEN {raw[1]} = '' THEN {default_scheme} ELSE {lowered} END)"
    split_params = _scheme_in(scheme, uses_params)
    netloc = f"substr({raw[2]}, 3)"
    sql = {
        "scheme": scheme,
        "netloc": netloc,
        "path": f"(CASE WHEN {split_params} THEN {raw[3]} ELSE concat({raw[3]}, {raw[4]}) END)",
        "params": f"(CASE WHEN {split_params} THEN substr({raw[4]}, 2) ELSE '' END)",
        "query": f"substr({raw[5]}, 2)",
        "err": f"{netloc} RLIKE {_sql(_netloc_error_pattern(_BRACKETS_AFTER_LAST_AT))}",
        "fragment": f"substr({raw[6]}, 2)",
    }
    return {p + name: sql[name] for name in fields}


def _fields(p: str, fields: tuple[str, ...]) -> dict[str, str]:
    """The columns :func:`_url_fields` materialized with prefix ``p``."""
    return {name: p + name for name in fields}


def _urljoin(
    base: str, url: str, b: dict[str, str], u: dict[str, str], on_error: str, out: str
) -> tuple[list[dict[str, str]], str]:
    """urljoin(base, url) from the :func:`_url_fields` of ``base`` (``b``)
    and of ``url`` (``u``): the stages that materialize its parts as
    ``{out}_netloc``, ``_params``, ``_segs``, ``_stack``, ``_path`` and
    ``_query``, and the SQL of the joined URL, which is ``on_error`` where
    urljoin raises ValueError."""
    netloc, params, segs, stack, path, query = (
        f"{out}_{part}" for part in ("netloc", "params", "segs", "stack", "path", "query")
    )
    has_netloc = f"{u['netloc']} <> ''"
    inherit = f"({u['netloc']} = '' AND {u['path']} = '' AND {u['params']} = '')"
    # base_parts = bpath.split('/') without a non-empty last item, '/'-joined;
    # a lone '' stays, so an empty path gives a leading '/'
    bpath = b["path"]
    bdir = (
        f"CASE WHEN {bpath} = '' THEN '/'"
        f" ELSE left({bpath}, length({bpath}) - length(substring_index({bpath}, '/', -1))) END"
    )
    stages = [
        {
            netloc: f"CASE WHEN {has_netloc} THEN {u['netloc']} ELSE {b['netloc']} END",
            params: f"CASE WHEN {inherit} THEN {b['params']} ELSE {u['params']} END",
            # the segments, '/'-joined: base_parts + path.split('/') with
            # the empty middle segments filtered, or the path alone if
            # rooted; NULL where the url's netloc or the base's path is kept
            segs: f"CASE WHEN NOT {has_netloc} AND NOT {inherit} THEN"
            f" CASE WHEN startswith({u['path']}, '/') THEN {u['path']}"
            f" ELSE regexp_replace(concat({bdir}, {u['path']}), '/+', '/') END END",
        },
        {
            # only segments with a '.' or '..' go through the stack: '..'
            # pops (above the root it is ignored), '.' is skipped
            stack: f"CASE WHEN {segs} RLIKE {_sql(_DOT_SEGMENT)} THEN array_join(aggregate("
            f"split({segs}, '/', -1), CAST(array() AS ARRAY<STRING>), (stack, seg) ->"
            " CASE WHEN seg = '..' THEN slice(stack, 1, greatest(size(stack) - 1, 0))"
            " WHEN seg = '.' THEN stack ELSE array_append(stack, seg) END), '/') END",
        },
        {
            # a trailing '.' or '..' keeps its '/', and an empty path is '/'
            path: f"concat(CASE WHEN {has_netloc} THEN {u['path']} WHEN {segs} IS NULL THEN {bpath}"
            f" WHEN {segs} = '' OR {stack} = '' THEN '/' WHEN {stack} IS NULL THEN {segs}"
            f" WHEN {segs} RLIKE {_sql(_TRAILING_DOT_SEGMENT)} THEN concat({stack}, '/')"
            f" ELSE {stack} END, CASE WHEN {params} <> '' THEN concat(';', {params}) ELSE '' END)",
            query: f"CASE WHEN {inherit} AND {u['query']} = '' THEN {b['query']}"
            f" ELSE {u['query']} END",
        },
    ]
    scheme = u["scheme"]
    slashes = (
        f"({netloc} <> '' OR ({scheme} <> '' AND {_scheme_in(scheme, uses_netloc)}"
        f" AND NOT startswith({path}, '//')))"
    )
    unparsed = (
        f"concat(CASE WHEN {scheme} <> '' THEN concat({scheme}, ':') ELSE '' END,"
        f" CASE WHEN {slashes} THEN concat('//', {netloc}) ELSE '' END,"
        f" CASE WHEN {slashes} AND {path} <> '' AND NOT startswith({path}, '/')"
        f" THEN '/' ELSE '' END, {path},"
        f" CASE WHEN {query} <> '' THEN concat('?', {query}) ELSE '' END,"
        f" CASE WHEN {u['fragment']} <> '' THEN concat('#', {u['fragment']}) ELSE '' END)"
    )
    joined = (
        f"CASE WHEN {base} IS NULL OR {base} = '' THEN {url}"
        f" WHEN {url} IS NULL OR {url} = '' THEN {base}"
        f" WHEN {b['err']} OR {u['err']} THEN {on_error}"
        f" WHEN {scheme} <> {b['scheme']} OR NOT {_scheme_in(scheme, uses_relative)} THEN {url}"
        f" ELSE {unparsed} END"
    )
    return stages, joined


def _stages(df: DataFrame, stages: list[dict[str, str]]) -> DataFrame:
    for stage in stages:
        df = df.selectExpr("*", *(f"{sql} AS {name}" for name, sql in stage.items()))
    return df


_IS_HTTP = "(startswith({0}, 'http://') OR startswith({0}, 'https://'))"


def with_resolved_base(df: DataFrame, page: str = "page_url", base: str = "base_raw") -> DataFrame:
    """Per record, the base every link of the page joins to:
    :func:`resolve_base` as column ``__base``, with the urlparse fields
    urljoin reads of it as ``__base_*``. Run it before ``explode(links)``,
    so each base is resolved and parsed once per record."""
    keep = df.columns
    page_sql, base_sql = f"`{page}`", f"`{base}`"
    page_fields = _url_fields("__page_parts", "''", "__page_", _BASE_FIELDS)
    join, joined = _urljoin(
        page_sql,
        base_sql,
        _fields("__page_", _BASE_FIELDS),
        _fields("__braw_", _URL_FIELDS),
        page_sql,
        "__braw_join",
    )
    df = _stages(
        df,
        [
            {
                # the page is parsed as a base only when there is a <base href>
                "__page_parts": _url_parts(f"CASE WHEN {base_sql} IS NOT NULL THEN {page_sql} END"),
                "__braw_parts": _url_parts(base_sql),
            },
            {
                **page_fields,
                **_url_fields("__braw_parts", page_fields["__page_scheme"], "__braw_", _URL_FIELDS),
            },
            *join,
            {"__base": f"CASE WHEN {base_sql} IS NULL THEN {page_sql} ELSE {joined} END"},
            {"__base_parts": _url_parts("__base")},
            _url_fields("__base_parts", "''", "__base_", _BASE_FIELDS),
        ],
    )
    return df.select(*keep, "__base", *_fields("__base_", _BASE_FIELDS).values())


def with_absolute_http_url(df: DataFrame, url: str, out: str) -> DataFrame:
    """Per link, :func:`absolute_http_url` as column ``out``: the absolute
    http(s) URL, or NULL where the kernel returns ``[]``. ``df`` carries the
    columns :func:`with_resolved_base` added. An absolute http(s) URL takes
    the ``startswith`` branch: every part of its join is NULL, so it costs
    no regex."""
    keep = [f"`{c}`" for c in df.columns if not c.startswith("__base")]
    url_sql = f"`{url}`"
    is_http = _IS_HTTP.format(url_sql)
    relative = f"CASE WHEN NOT {is_http} THEN {url_sql} END"
    join, joined = _urljoin(
        "__base",
        "__rel",
        _fields("__base_", _BASE_FIELDS),
        _fields("__url_", _URL_FIELDS),
        "NULL",
        "__join",
    )
    df = _stages(
        df,
        [
            {"__rel": relative, "__url_parts": _url_parts(relative)},
            _url_fields("__url_parts", "__base_scheme", "__url_", _URL_FIELDS),
            *join,
            {"__join": joined},
        ],
    )
    return df.selectExpr(
        *keep,
        f"CASE WHEN {url_sql} IS NULL THEN NULL WHEN {is_http} THEN {url_sql}"
        f" WHEN {_IS_HTTP.format('__join')} THEN __join END AS `{out}`",
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
