"""The reference's core extraction operator, re-expressed as one
declarative plan (SURVEY.md §3.2: "the reference's query is a fixed
physical plan hand-fused into one generator").

Input: DataFrame[WAT_SCHEMA]. Output: DataFrame[uid, url, alt,
cc_filename, page_url] — semantically identical to
extract_documents_from_wat (/root/reference/cc2dataset/main.py:134-183),
but expressed as explode + Column predicates + md5, so Catalyst applies
nested-schema pruning (only the navigated JSON paths are read from
parquet), predicate pushdown, and whole-stage codegen. Python runs once
per kept link: one Arrow-batched UDF for base, urljoin and scheme filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cc2dataset_spark.functions.links import (
    absolute_http_urls,
    link_alt,
    link_predicate,
    uid_column,
)

_HTML_META = "Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`"


def _guarded(wat_df: DataFrame) -> DataFrame:
    """Envelope guards (P9): null-propagating struct access replaces
    the reference's `if X not in Y: continue` (main.py:146-155)."""
    links_col = F.col(f"{_HTML_META}.Links")
    base_raw = F.col(f"{_HTML_META}.Head.Base")
    page_url = F.col("Envelope.`WARC-Header-Metadata`.`WARC-Target-URI`")
    cc_filename = F.col("Container.Filename")
    return wat_df.where(links_col.isNotNull() & page_url.isNotNull()).select(
        links_col.alias("links"),
        base_raw.alias("base_raw"),
        page_url.alias("page_url"),
        cc_filename.alias("cc_filename"),
    )


def extract_document_links(wat_df: DataFrame, document_type: str) -> DataFrame:
    """WAT records -> deduplicable (uid, url, alt, cc_filename, page_url).

    Plan stages (all narrow — zero shuffles, one source scan):
      1. envelope guards (P9)
      2. explode(Links) — the 1->N expansion (main.py:166)
      3. per-type predicate + projection (P1-P8)
      4. base URL, absolutization, scheme filter (P10/P11,
         main.py:157-172): one Arrow UDF returning [url] or [], exploded;
         a malformed Base falls back to the page url, like the reference
      5. uid + provenance (P12/P13, main.py:173-176)
    """
    # no when() or split/union gate around the UDF: Spark evaluates a
    # UDF under when() for every row anyway, and a union scans twice
    exploded = _guarded(wat_df).select(
        F.explode("links").alias("link"), "base_raw", "page_url", "cc_filename"
    )
    url = absolute_http_urls(
        F.col("page_url"), F.col("base_raw"), F.coalesce(F.col("link.url"), F.lit(""))
    )
    absolute = exploded.where(link_predicate(document_type)).select(
        F.explode(url).alias("url"),
        link_alt(document_type).alias("alt"),
        "cc_filename",
        "page_url",
    )
    return absolute.select(
        uid_column("alt", "url").alias("uid"),
        "url",
        "alt",
        "cc_filename",
        "page_url",
    )


def extraction_stats(wat_df: DataFrame, document_type: str) -> DataFrame:
    """Drop accounting (X7, SURVEY §2.11: "count drops via accumulators
    instead of logs" — as a declarative aggregate, which is stronger:
    exact, reproducible, and shuffle-light).

    One row: records_total, records_no_links (failed guards),
    links_total (links on ALL records, guard failures included),
    links_kept (links surviving the ENTIRE chain: record guards,
    document-type predicate, AND the post-resolution scheme filter),
    and links_dropped = total - kept — the aggregate loss across all
    three tiers, NOT a per-tier attribution (a guard-failed record's
    links, a non-matching link, and a non-http(s) resolution all land
    in the same bucket; split per tier by diffing counts between
    stages if a loss investigation needs it).
    """
    links_col = F.col(f"{_HTML_META}.Links")
    page_url = F.col("Envelope.`WARC-Header-Metadata`.`WARC-Target-URI`")
    per_record = wat_df.select(
        F.lit(1).alias("_rec"),
        (links_col.isNull() | page_url.isNull()).alias("_no_links"),
        F.coalesce(F.size(links_col), F.lit(0)).alias("_n_links"),
    )
    totals = per_record.agg(
        F.count("*").alias("records_total"),
        F.sum(F.col("_no_links").cast("long")).alias("records_no_links"),
        F.sum("_n_links").alias("links_total"),
    )
    extracted = extract_document_links(wat_df, document_type)
    kept = extracted.agg(F.count("*").alias("links_kept"))
    return totals.crossJoin(kept).select(
        "records_total",
        "records_no_links",
        "links_total",
        "links_kept",
        (F.col("links_total") - F.col("links_kept")).alias("links_dropped"),
    )
