"""Property-based parity tests (SURVEY.md §5 rebuild strategy (c)).

The uid = md5(alt || resolved_url) contract means urljoin parity must
hold byte-for-byte for arbitrary inputs — hypothesis hunts the corner
cases (scheme-less, dot-segments, fragments, empty, unicode).
One Spark job per example set, not per example.
"""

from urllib.parse import urljoin

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from cc2dataset_spark.functions.links import absolute_http_urls, urljoin_udf
from cc2dataset_spark.operators.asof import asof_join_union
from cc2dataset_spark.operators.dedup import dedup_exact

URL_CHARS = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABC0123456789-._~:/?#[]@!$&'()*+,;=% é中",
    max_size=40,
)
BASES = st.one_of(
    st.just("http://example.com/a/b/c.html"),
    st.just("https://h.io/x/"),
    URL_CHARS.map(lambda s: "http://e.com/" + s),
)
URLS = st.one_of(
    URL_CHARS,
    URL_CHARS.map(lambda s: "/" + s),
    URL_CHARS.map(lambda s: "../" + s),
    URL_CHARS.map(lambda s: "//host/" + s),
    URL_CHARS.map(lambda s: "http://abs.io/" + s),
    URL_CHARS.map(lambda s: "mailto:" + s),
    st.just(""),
)
PAGES = st.one_of(
    st.just("http://example.com/a/b/c.html"),
    st.just("https://h.io/x/"),
    URL_CHARS.map(lambda s: "https://p.org/" + s),
)
BASE_RAWS = st.one_of(
    st.none(),
    st.just("http://["),
    URL_CHARS,
    URL_CHARS.map(lambda s: "/" + s),
    URL_CHARS.map(lambda s: "https://b.net/" + s),
)


pytestmark = pytest.mark.slow  # hypothesis property suites: full tier only

def _py_reference(base: str, url: str) -> str:
    if url.startswith("http://") or url.startswith("https://"):
        return url
    try:
        return urljoin(base, url)
    except ValueError:
        return url


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(BASES, URLS), min_size=1, max_size=60))
def test_urljoin_udf_matches_python(spark, pairs):
    df = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["base_url", "url"]).astype("string")
    ).coalesce(1)
    got = [
        r.out
        for r in df.select(
            urljoin_udf(F.col("base_url"), F.col("url")).alias("out")
        ).collect()
    ]
    want = [_py_reference(b, u) for b, u in pairs]
    assert got == want


def _py_fused_reference(page: str, base_raw, url: str) -> list:
    """urljoin(resolve(page, base), url), then the http(s) filter."""
    base = page
    if base_raw is not None:
        try:
            base = urljoin(page, base_raw)
        except ValueError:
            pass
    url = _py_reference(base, url)
    return [url] if url.startswith(("http://", "https://")) else []


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(PAGES, BASE_RAWS, URLS), min_size=1, max_size=60))
def test_absolute_http_urls_matches_python(spark, triples):
    df = spark.createDataFrame(
        pd.DataFrame(triples, columns=["page", "base_raw", "url"]),
        "page string, base_raw string, url string",
    ).coalesce(1)
    got = [
        list(r.out)
        for r in df.select(
            absolute_http_urls("page", "base_raw", "url").alias("out")
        ).collect()
    ]
    want = [_py_fused_reference(p, b, u) for p, b, u in triples]
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 5), st.text(max_size=8)),
        min_size=1,
        max_size=80,
    )
)
def test_dedup_exact_idempotent_and_minimal(spark, rows):
    df = spark.createDataFrame(rows, "k int, v int, s string").coalesce(2)
    once = dedup_exact(df, keys=["k"])
    twice = dedup_exact(once, keys=["k"])
    a = sorted(tuple(r) for r in once.collect())
    b = sorted(tuple(r) for r in twice.collect())
    assert a == b  # idempotent
    # survivor = min (v, s) struct per key, independent of partitioning
    expect = {}
    for k, v, s in rows:
        cand = (v, s if s is not None else "")
        cur = expect.get(k)
        if cur is None or (v, s) < cur:
            expect[k] = (v, s)
    assert {r[0]: (r[1], r[2]) for r in a} == expect


# Tiny int domains force key collisions, timestamp ties, and
# unmatched keys — the corner cases of the backward as-of contract.
# 3 examples keep the whole-suite wall clock in budget (each example
# is 2 Spark collects x 2 join modes).
@settings(max_examples=3, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 15)),
        min_size=1,
        max_size=40,
    ),
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 15)),
        min_size=0,
        max_size=40,
    ),
)
def test_asof_union_matches_reference_semantics(spark, lrows, rrows):
    """asof_join_union == the spec: per left row, the right row of the
    same key with the greatest ts <= left ts, ties to the greatest
    tiebreak; left rows without a match drop (inner) / null (left)."""
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lrows)], "lid int, k int, lts int"
    ).coalesce(2)
    right = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(rrows)], "rid int, rk int, rts int"
    ).coalesce(3)

    def reference(how):
        out = {}
        for i, (k, t) in enumerate(lrows):
            cands = [
                (rt, ri) for ri, (rk, rt) in enumerate(rrows) if rk == k and rt <= t
            ]
            best = max(cands) if cands else None
            if best is None and how == "inner":
                continue
            out[i] = None if best is None else (best[1], best[0])
        return out

    for how in ("inner", "left"):
        got = {
            r.lid: (None if r.rid is None else (r.rid, r.rts))
            for r in asof_join_union(
                left,
                right,
                left_key="k",
                right_key="rk",
                left_ts="lts",
                right_ts="rts",
                right_values=["rid", "rts"],
                right_tiebreak="rid",
                how=how,
            ).collect()
        }
        assert got == reference(how), how
