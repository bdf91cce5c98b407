"""WAT/WARC sources (SURVEY.md §2.1 S1-S10).

One ingestion path, ``read_wat_archives``: real gzipped WARC archives,
selected by scheme. Every path Hadoop can open (local, ``file:``,
``s3a:``, ``hdfs:``, and ``s3://`` rewritten to ``s3a://``) is read by
``spark.read.text``: Hadoop's gzip codec streams the concatenated
record members, gzip is not splittable so each archive is one task,
and a WAT metadata payload is the one line of a record that starts
with ``{``. Only ``http(s)://`` archives, which Hadoop cannot list,
are framed in Python: a ``mapInArrow`` over the paths (one Spark
partition per path, like the reference's ``sc.parallelize(paths,
len(paths))`` at main.py:274) opens, retries and frames each archive
and hands Spark its raw metadata payloads. Either way Spark parses
the payloads with ``from_json`` and ``WAT_SCHEMA``: one row per
record, schema-on-read with no inference, a malformed payload as an
all-null row. The envelope guards of ``operators/extraction.py`` drop
that row, mirroring the reference's skip-and-log at main.py:139-143.
A pipeline over local, ``s3a`` or ``hdfs`` paths starts no Python
worker; the https framer ships by value, so executors need only
pyspark, and uses fastwarc and fsspec when installed.

Index discovery (S1-S5) lists crawl indexes and samples WAT paths;
network listing is driver-side (it is a metadata operation), the
index-file *content* read is distributed via spark.read.text.
"""

from __future__ import annotations

import random
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

# Explicit WAT record schema (SURVEY.md §1.1) — the dynamic dict paths
# the reference navigates (main.py:144-164), made static.
LINK_TYPE = StructType(
    [
        StructField("url", StringType()),
        StructField("alt", StringType()),
        StructField("text", StringType()),
        StructField("path", StringType()),
    ]
)

WAT_SCHEMA = StructType(
    [
        StructField(
            "Envelope",
            StructType(
                [
                    StructField(
                        "Payload-Metadata",
                        StructType(
                            [
                                StructField(
                                    "HTTP-Response-Metadata",
                                    StructType(
                                        [
                                            StructField(
                                                "HTML-Metadata",
                                                StructType(
                                                    [
                                                        StructField(
                                                            "Links", ArrayType(LINK_TYPE)
                                                        ),
                                                        StructField(
                                                            "Head",
                                                            StructType(
                                                                [
                                                                    StructField(
                                                                        "Base",
                                                                        StringType(),
                                                                    )
                                                                ]
                                                            ),
                                                        ),
                                                    ]
                                                ),
                                            )
                                        ]
                                    ),
                                )
                            ]
                        ),
                    ),
                    StructField(
                        "WARC-Header-Metadata",
                        StructType([StructField("WARC-Target-URI", StringType())]),
                    ),
                ]
            ),
        ),
        StructField(
            "Container", StructType([StructField("Filename", StringType())])
        ),
    ]
)


# ---------------------------------------------------------------------------
# Index discovery (S1-S5) — driver-side listing + distributed index read
# ---------------------------------------------------------------------------

CC_S3_GLOB = "s3://commoncrawl/crawl-data/*/wat.paths.gz"
CC_HTTP_PREFIX = "https://data.commoncrawl.org/"


def crawl_links_from_get_started_html(html: str) -> list[str]:
    """Extract per-crawl ``wat.paths.gz`` index URLs from the
    commoncrawl.org *get-started* page HTML — the reference's http
    discovery semantics (main.py:215-228), re-expressed as a PURE
    function over the page text so it is unit-testable offline against
    a checked-in HTML fixture (tests/fixtures/cc_get_started.html);
    only the live fetch needs network.

    Per the reference's contract: lines are pre-stripped of a
    ``[WARC] `` prefix; a line participates iff it mentions an
    ``<li>s3://commoncrawl/crawl-data/`` entry; the first
    space-delimited token is kept; the s3 bucket prefix rewrites to
    the public https gateway (``https://data.commoncrawl.org/``);
    ``<wbr>`` soft-break tags the site injects into long paths are
    removed; and ``/wat.paths.gz`` is appended with a ``//wat`` →
    ``/wat`` collapse so entries with and without a trailing slash
    both resolve."""
    out = []
    for raw in html.splitlines():
        line = raw.replace("[WARC] ", "")
        if "<li>s3://commoncrawl/crawl-data/" not in line:
            continue
        tok = line.split(" ")[0]
        tok = tok.replace(
            "<li>s3://commoncrawl/", CC_HTTP_PREFIX
        ).replace("<wbr>", "")
        out.append((tok + "/wat.paths.gz").replace("//wat", "/wat"))
    return out


def get_cc_wat_index_links(
    source_cc_protocol: str = "s3",
    bucket_url: str = "s3://commoncrawl/crawl-data/",
    url_to_fs=None,
) -> list[str]:
    """List crawl-index files (S1/S2, main.py:209-228). Driver-side
    metadata operation; requires fsspec+s3fs at call time.

    ``bucket_url`` relocates the crawl root (any fsspec scheme — the
    offline tests point it at a memory://-semantics store);
    ``url_to_fs`` injects the filesystem resolver (default
    ``fsspec.core.url_to_fs``) so the glob/link-building logic is
    unit-testable without fsspec installed — the same hermetic
    injection seam as pipeline's ``session_factory``.
    Scheme reattachment goes through ``fs.unstrip_protocol``, which
    yields exactly the reference's ``"s3://" + path`` form on s3 and
    stays correct for any other filesystem.

    Three protocols:

    - ``s3``: glob the bucket (reference parity).
    - ``http``: DELIBERATE divergence from the reference — read the
      machine-readable collinfo.json index instead of scraping the
      get-started HTML page (brittle against site redesigns). The
      crawl-id set can therefore differ from the scrape (collinfo
      lists every indexed crawl, newest first) — callers selecting
      "the last N crawls" get the same semantics, but the raw ordering
      is collinfo's, not the HTML page's.
    - ``http-scrape``: the reference's exact HTML-rewrite path
      (:func:`crawl_links_from_get_started_html` — the parse logic is
      offline-tested; only this fetch needs network), for when
      byte-parity with the reference's discovery matters."""
    if url_to_fs is None:
        import fsspec

        url_to_fs = fsspec.core.url_to_fs
    if source_cc_protocol == "s3":
        fs, p = url_to_fs(bucket_url)
        return [
            fs.unstrip_protocol(e)
            for e in fs.glob(p.rstrip("/") + "/*/wat.paths.gz")
        ]
    if source_cc_protocol == "http":
        fs, p = url_to_fs("https://index.commoncrawl.org/collinfo.json")
        import json as _json

        crawls = _json.loads(fs.open(p).read())
        return [
            CC_HTTP_PREFIX + f"crawl-data/{c['id']}/wat.paths.gz" for c in crawls
        ]
    if source_cc_protocol == "http-scrape":
        fs, p = url_to_fs(
            "https://commoncrawl.org/the-data/get-started/"
        )
        html = fs.open(p).read().decode("utf8")
        return crawl_links_from_get_started_html(html)
    raise ValueError(f"Unknown protocol {source_cc_protocol}")


def _hadoop_path(path: str) -> str:
    """Hadoop 3 ships only the ``s3a://`` S3 filesystem (``s3://`` and
    ``s3n://`` were removed), so an ``s3://`` path is read as
    ``s3a://``."""
    return "s3a://" + path[len("s3://"):] if path.startswith("s3://") else path


def derive_wat_prefix(index_path: str) -> str:
    """The path prefix that makes a crawl index's BUCKET-RELATIVE
    entries ('crawl-data/CC-MAIN-.../....warc.wat.gz') openable, from
    the index file's own location: an s3/s3a commoncrawl index needs
    the bucket prefix, an https one the public gateway. '' for
    local/unknown layouts (caller supplies ``prefix`` explicitly).
    Silent-empty-run guard: without a prefix the relative entries are
    LOCAL paths that do not exist. ``read_wat_archives`` then fails
    loudly as it builds the frame (``PATH_NOT_FOUND``, with or without
    ``spark.sql.files.ignoreMissingFiles``: Spark checks every root path
    it is given), where the Python framer used to retry each one for
    ~15 s, skip it and let the pipeline 'succeed' with zero rows. Only
    ``http(s)://`` archives still go through that retry/skip tier."""
    for scheme in ("s3://", "s3a://"):
        if index_path.startswith(scheme + "commoncrawl/"):
            return scheme + "commoncrawl/"
    if index_path.startswith(CC_HTTP_PREFIX):
        return CC_HTTP_PREFIX
    return ""


def read_wat_index(
    spark: SparkSession,
    index_paths: list[str],
    wat_count: int | None = None,
    seed: int | None = None,
    prefix: str | None = None,
    opener=None,
) -> list[str]:
    """Read gzipped index files of WAT paths (S3/S4) distributed via
    spark.read.text (Hadoop gzip codec), then sample/shuffle (S5).

    Scheme handling: Hadoop 3 ships only the ``s3a://`` S3 filesystem
    (``s3://``/``s3n://`` were removed), so discovery's ``s3://``
    index URLs are rewritten to ``s3a://`` for the distributed read;
    ``http(s)://`` indexes — which Hadoop's stub HttpFileSystem cannot
    list/read — are fetched driver-side via fsspec (they are a few MB
    of gzipped text; the 5M-path payload lands on the driver either
    way, see below).

    ``prefix=None`` (default) derives each index's WAT-path prefix
    from its own location (:func:`derive_wat_prefix`) — index entries
    are bucket-relative, and an empty prefix silently yields an
    all-unopenable path list. Pass an explicit prefix (possibly '')
    for non-CommonCrawl layouts.

    The reference samples WITH replacement (random.choices,
    main.py:247) — kept for parity; pre-dedup duplicates are fine
    because the pipeline dedups by uid anyway.

    Driver-memory note: the sampled/shuffled path list materializes
    on the driver ONCE here (the sample/shuffle needs the full list;
    the reference does the same, main.py:237-251) — ~5M strings ≈
    hundreds of MB at full crawl. It does NOT stay resident:
    pipeline.cc2dataset streams it to the on-disk manifest, drops it,
    and re-streams only each part's slice
    (pipeline._read_manifest_slice), so steady-state driver path
    memory is ~n/multipart; resume never materializes the list at
    all.
    """
    wats: list[str] = []
    hadoop_paths: list[tuple[str, str]] = []
    for ip in index_paths:
        pfx = derive_wat_prefix(ip) if prefix is None else prefix
        # Schemes Hadoop has no real filesystem for go driver-side
        # via fsspec (memory:// serves the offline S1-S5 tests; the
        # ``opener`` seam lets them run without fsspec installed).
        if ip.startswith(("http://", "https://", "memory://")):
            import gzip

            if opener is None:
                import fsspec

                opener = fsspec.open
            with opener(ip, "rb") as f:
                raw = f.read()
            text = (
                gzip.decompress(raw) if raw[:2] == b"\x1f\x8b" else raw
            ).decode("utf8")
            wats.extend(
                pfx + line.strip()
                for line in text.splitlines()
                if line.strip()
            )
        else:
            hadoop_paths.append((_hadoop_path(ip), pfx))
    by_prefix: dict[str, list[str]] = {}
    for hp, pfx in hadoop_paths:
        by_prefix.setdefault(pfx, []).append(hp)
    for pfx, hps in by_prefix.items():
        rows = spark.read.text(hps).collect()
        wats.extend(pfx + r.value.strip() for r in rows if r.value.strip())
    rng = random.Random(seed)
    if wat_count is not None:
        return rng.choices(wats, k=wat_count)
    rng.shuffle(wats)  # decorrelate parts (main.py:249-250)
    return wats


# ---------------------------------------------------------------------------
# Archive source (S6-S10) — Hadoop reads the archives; http(s) in Python
# ---------------------------------------------------------------------------

_HTTP = ("http://", "https://")

# Payloads per Arrow batch: bounds what an archive task holds in flight
# and keeps each binary array far below Arrow's 2 GB int32 offset limit.
BATCH_RECORDS = 1024


def make_wat_batch_reader():
    """Build the per-archive function of the ``http(s)://`` branch of
    :func:`read_wat_archives`: WAT path -> one-column ``value: binary``
    ``pyarrow.RecordBatch`` es of raw metadata payloads,
    ``BATCH_RECORDS`` per batch, in archive order. Spark parses them
    (see :func:`read_wat_archives`).

    Built in a factory like ``warc_fallback.make_warc_record_iterator``:
    cloudpickle ships a function whose qualname is not importable BY
    VALUE, together with the WARC parser it closes over, so executors
    need nothing beyond pyspark (and its pyarrow).

    Containment: the whole-file read is retried 10 times with jitter
    and the archive is then skipped (the reference's file tier,
    main.py:190-200); a WARC framing error ends the archive, keeping
    every payload framed before it. Each prints one line to the task's
    stderr, so a lost archive leaves a trace in the executor log."""
    import pyarrow as pa

    from cc2dataset_spark.sources.warc_fallback import iter_warc_records

    schema = pa.schema([pa.field("value", pa.binary())])

    def iter_wat_batches(path: str) -> Iterator[pa.RecordBatch]:
        import random as _random
        import sys as _sys
        import time as _time
        from io import BytesIO

        def _trace(what: str, ex: Exception) -> None:
            print(
                f"cc2dataset_spark: {what}: {type(ex).__name__}: {ex}",
                file=_sys.stderr,
            )

        def _open(p: str):
            try:
                import fsspec

                return fsspec.open(p, "rb").open()
            except ImportError:
                # a remote scheme without fsspec (or its filesystem
                # plugin) is a CONFIGURATION error and must fail loudly
                # — builtin open would raise FileNotFoundError, which
                # the retry tier below treats as flaky IO (10 retries,
                # ~14 s of sleeps) and then silently skips the file,
                # making a missing dependency indistinguishable from an
                # empty crawl
                if "://" in p and not p.startswith("file://"):
                    raise NotImplementedError(
                        f"reading {p!r} requires fsspec for remote "
                        "schemes"
                    ) from None
                return open(p.removeprefix("file://"), "rb")

        def _payloads(stream) -> Iterator[bytes]:
            """metadata-record payloads, via fastwarc when installed,
            else the stdlib WARC parser (identical record selection:
            WARC-Type == metadata)."""
            try:
                from fastwarc.warc import ArchiveIterator, WarcRecordType
            except ImportError:
                for wtype, _headers, payload in iter_warc_records(stream):
                    if wtype == "metadata":
                        yield payload
                return
            for record in ArchiveIterator(
                stream, record_types=WarcRecordType.metadata, parse_http=False
            ):
                yield record.reader.read()

        attempts = 10  # the reference's retry budget (main.py:190-200)
        for i in range(attempts):
            try:
                # open INSIDE the retry: remote stores fail at open()
                # as often as at read()
                with _open(path) as f:
                    stream = BytesIO(f.read())
                break
            except NotImplementedError:
                raise  # missing fsspec: deterministic, never retried
            except Exception as ex:  # noqa: BLE001 - flaky remote IO
                if i == attempts - 1:
                    _trace(f"skipped {path} after {attempts} failed reads", ex)
                    return
                _time.sleep(1 + _random.random())
        values: list[bytes] = []
        n = 0
        try:
            for payload in _payloads(stream):
                values.append(payload)
                n += 1
                if len(values) == BATCH_RECORDS:
                    yield pa.record_batch([pa.array(values, pa.binary())], schema)
                    values = []
        except Exception as ex:  # noqa: BLE001 - framing error: the archive ends here
            _trace(f"{path} ends after {n} payloads", ex)
        if values:
            yield pa.record_batch([pa.array(values, pa.binary())], schema)

    return iter_wat_batches


iter_wat_batches = make_wat_batch_reader()


def _framed_payloads(spark: SparkSession, wat_paths: list[str]) -> DataFrame:
    """The Python framer: WAT paths -> one-column ``value: string``
    frame of raw metadata payloads, one Spark partition per path.

    Each task receives only its own path: ``parallelize`` pickles the
    list once on the driver, one path per slice, and the JVM unpickles
    it the way ``createDataFrame`` does a local list. No Python worker
    feeds the paths, and the function shipped to every task is the same
    few kilobytes whatever the path count. Each task runs
    :func:`iter_wat_batches` on its path in a ``mapInArrow``.
    """
    sc = spark.sparkContext
    jvm = sc._jvm
    pickled = sc.parallelize([(p,) for p in wat_paths], max(1, len(wat_paths)))
    rows = jvm.SerDeUtil.toJavaArray(jvm.SerDeUtil.pythonToJava(pickled._jrdd, True))
    path_schema = StructType([StructField("path", StringType())])
    paths = DataFrame(
        spark._jsparkSession.applySchemaToPythonRDD(rows.rdd(), path_schema.json()),
        spark,
    )

    def archives(batches):
        for batch in batches:
            for path in batch.column(0).to_pylist():
                yield from iter_wat_batches(path)

    # binary, not string: one non-UTF-8 payload would fail its whole
    # batch's Arrow string array. The cast to string is unvalidated, as
    # Hadoop's lines are, and Jackson reads either as UTF-8, so a
    # non-UTF-8 byte becomes U+FFFD.
    payloads = paths.mapInArrow(archives, "value binary")
    return payloads.select(F.col("value").cast("string"))


def read_wat_archives(spark: SparkSession, wat_paths: list[str]) -> DataFrame:
    """WAT archives -> DataFrame[WAT_SCHEMA], one row per metadata
    record, each archive's rows in archive order.

    The reader is chosen by each path's scheme. Hadoop reads every path
    it can open (``s3://`` is read as ``s3a://``) as text, in the JVM:
    gzip is not splittable, so each archive is one task whatever
    ``spark.sql.files.maxPartitionBytes`` says, though Spark may pack
    several small archives into one task. A WAT record's metadata
    payload is one JSON line, so the lines that start with ``{`` are
    the payloads; the WARC headers and the warcinfo record are not. A
    missing path fails here, when the frame is built; an archive that
    fails mid-read (a truncated gzip) keeps the lines read before the
    failure (``ignoreCorruptFiles``, set on this read only), and Spark
    logs one warning naming it. ``http(s)://`` paths, which Hadoop
    cannot list, go through :func:`_framed_payloads`. A list that mixes
    the two is read as the union of both, parsed by the one decoder.
    """
    http = [p for p in wat_paths if p.startswith(_HTTP)]
    hadoop = [_hadoop_path(p) for p in wat_paths if not p.startswith(_HTTP)]
    values = None
    if hadoop or not http:
        lines = spark.read.option("ignoreCorruptFiles", "true").text(hadoop)
        values = lines.where(F.col("value").startswith("{"))
    if http:
        framed = _framed_payloads(spark, http)
        values = framed if values is None else values.unionByName(framed)
    # A malformed payload becomes an all-null row.
    # ``inline(array(from_json(...)))`` is a ``Generate``, so the parse
    # runs once per record: ``select(from_json(...).alias("r")).select("r.*")``
    # would let the optimizer copy the parse into the envelope guards'
    # ``Filter`` and run it three times.
    return values.select(F.inline(F.array(F.from_json("value", WAT_SCHEMA))))
