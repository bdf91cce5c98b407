"""The reference's core extraction operator, re-expressed as one
declarative plan (SURVEY.md §3.2: "the reference's query is a fixed
physical plan hand-fused into one generator").

Input: DataFrame[WAT_SCHEMA]. Output: DataFrame[uid, url, alt,
cc_filename, page_url] — semantically identical to
extract_documents_from_wat (/root/reference/cc2dataset/main.py:134-183),
but expressed as explode + Column predicates + md5, so Catalyst applies
nested-schema pruning (only the navigated JSON paths are read from
parquet), predicate pushdown, and whole-stage codegen. No Python runs
here: the base, urljoin and the scheme filter are JVM expressions, so a
scan task's one Python worker is the source's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cc2dataset_spark.functions.links import (
    link_alt,
    link_predicate,
    uid_column,
    with_absolute_http_url,
    with_resolved_base,
)

_HTML_META = "Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`"


def _envelope():
    """The navigated WAT fields and the guard every kept record passes."""
    links = F.col(f"{_HTML_META}.Links")
    page_url = F.col("Envelope.`WARC-Header-Metadata`.`WARC-Target-URI`")
    cc_filename = F.col("Container.Filename")
    passes = links.isNotNull() & page_url.isNotNull() & cc_filename.isNotNull()
    return links, page_url, cc_filename, passes


def _guarded(wat_df: DataFrame) -> DataFrame:
    """Envelope guards (P9): null-propagating struct access replaces
    the reference's `if X not in Y: continue` (main.py:146-155) and its
    `[]` indexing of Container.Filename and WARC-Target-URI, which never
    emits a row without them (main.py:156-159). The one place a WAT
    record is accepted or skipped: a malformed payload is an all-null
    row here, whichever source parsed it."""
    links, page_url, cc_filename, passes = _envelope()
    return wat_df.where(passes).select(
        links.alias("links"),
        F.col(f"{_HTML_META}.Head.Base").alias("base_raw"),
        page_url.alias("page_url"),
        cc_filename.alias("cc_filename"),
    )


def extract_document_links(wat_df: DataFrame, document_type: str) -> DataFrame:
    """WAT records -> deduplicable (uid, url, alt, cc_filename, page_url).

    Plan stages (all narrow — zero shuffles, one source scan):
      1. envelope guards (P9), and the base URL resolved and parsed
         once per record (main.py:157-164); a malformed Base falls back
         to the page url, like the reference
      2. explode(Links) — the 1->N expansion (main.py:166)
      3. per-type predicate + projection (P1-P8)
      4. absolutization and scheme filter (P10/P11, main.py:166-172):
         the url or NULL, exploded as a 0-or-1 array
      5. uid + provenance (P12/P13, main.py:173-176)
    """
    records = with_resolved_base(_guarded(wat_df), "page_url", "base_raw")
    exploded = records.select(F.explode("links").alias("link"), "*").drop("links")
    kept = exploded.where(link_predicate(document_type)).select(
        F.coalesce(F.col("link.url"), F.lit("")).alias("link_url"),
        link_alt(document_type).alias("alt"),
        "*",
    )
    resolved = with_absolute_http_url(kept, "link_url", "abs_url")
    # explode a 0-or-1 array: a where() on the url would be pushed below
    # the projection with the whole join copied into the Filter
    absolute = resolved.select(
        F.explode(F.when(F.col("abs_url").isNotNull(), F.array("abs_url"))).alias("url"),
        "alt",
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
    links, _, _, passes = _envelope()
    per_record = wat_df.select(
        F.lit(1).alias("_rec"),
        (~passes).alias("_no_links"),
        F.coalesce(F.size(links), F.lit(0)).alias("_n_links"),
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
