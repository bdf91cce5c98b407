"""Archive-source tests (S6/S7, sources/wat.read_wat_archives: Hadoop's
text reader for local paths, and the https branch's Python framer, its
per-archive function ``iter_wat_batches``, which these tests call
directly on local paths).

The checked-in tiny.wat.warc.gz fixture holds the SAME envelopes as
tests/wat_fixtures.FIXTURE_RECORDS plus a warcinfo record and a
malformed-JSON record, so the archive path is checked golden-count
style against the pure-Python oracle — the rebuild's hermetic version
of the reference's pinned-WAT golden tests (reference
tests/test_single_warc.py:22-54). Every other case writes its own
archive with tests/wat_fixtures.write_wat_archive, and the reader's
rows are pinned exactly for each payload edge.

The archive path no longer gates on fastwarc: when it is absent (as
in the build sandbox) the stdlib gzip-member parser
(sources/warc_fallback.py) serves the same record stream, so the
golden tests run everywhere; where fastwarc IS installed the identical
assertions cover the fast path instead.
"""

from __future__ import annotations

import contextlib
import copy
import gzip
import io
import os
import subprocess
import sys
import time
import types

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cc2dataset_spark.operators.extraction import extract_document_links
from cc2dataset_spark.sources.wat import (
    BATCH_RECORDS,
    WAT_SCHEMA,
    _framed_payloads,
    iter_wat_batches,
    read_wat_archives,
)
from cc2dataset_spark.sources.warc_fallback import iter_warc_records
from tests.fixtures.build_tiny_wat import FIXTURE_PATH, build_warc_bytes, build
from tests.wat_fixtures import FIXTURE_RECORDS, oracle_extract, payload, write_wat_archive

# The fixture's metadata payloads: FIXTURE_RECORDS plus one malformed.
_FIXTURE_PAYLOADS = len(FIXTURE_RECORDS) + 1


def test_fixture_is_deterministic_and_checked_in():
    """The committed bytes must equal a fresh rebuild (mtime=0 gzip)."""
    assert os.path.exists(FIXTURE_PATH), "run tests/fixtures/build_tiny_wat.py"
    with open(FIXTURE_PATH, "rb") as f:
        committed = f.read()
    assert gzip.decompress(committed) == build_warc_bytes()


def test_fallback_parser_reads_fixture_records():
    """The stdlib parser sees every record (warcinfo + metadata) with
    headers and exact payload lengths, from the gzipped bytes."""
    with open(FIXTURE_PATH, "rb") as f:
        recs = list(iter_warc_records(f))
    types = [t for t, _, _ in recs]
    assert types.count("warcinfo") == 1
    # FIXTURE_RECORDS metadata + 1 malformed-JSON metadata record
    assert types.count("metadata") == len(FIXTURE_RECORDS) + 1
    for _, headers, body in recs:
        assert int(headers["Content-Length"]) == len(body)
        assert "WARC-Record-ID" in headers


def test_fallback_parser_reads_plain_and_raises_on_truncation():
    plain = build_warc_bytes()  # uncompressed
    recs = list(iter_warc_records(io.BytesIO(plain)))
    assert len(recs) >= 2
    with pytest.raises(ValueError, match="truncated|Content-Length|malformed"):
        list(iter_warc_records(io.BytesIO(plain[: len(plain) // 2])))
    with pytest.raises(ValueError, match="version line"):
        list(iter_warc_records(io.BytesIO(b"HTTP/1.1 200 OK\r\n\r\n")))


def _rows(batches) -> int:
    return sum(b.num_rows for b in batches)


@pytest.mark.parametrize(
    "document_type", ["image", "image_only", "audio", "text", "video"]
)
def test_read_wat_archives_golden_extraction(spark, tmp_path, document_type):
    """End-to-end archive bytes -> extraction == pure-Python oracle
    (uid spot checks included via full-tuple comparison)."""
    df = read_wat_archives(spark, [FIXTURE_PATH])
    got = sorted(
        tuple(r) for r in extract_document_links(df, document_type).collect()
    )
    want = sorted(oracle_extract(FIXTURE_RECORDS, document_type))
    assert got == want


def test_build_writes_fixture(tmp_path):
    """The builder runs anywhere and is stable across invocations."""
    p1 = build(str(tmp_path / "a.warc.gz"))
    p2 = build(str(tmp_path / "b.warc.gz"))
    with open(p1, "rb") as f1, open(p2, "rb") as f2:
        assert f1.read() == f2.read()


def _good() -> dict:
    return copy.deepcopy(FIXTURE_RECORDS[0])


def _links(rec) -> list:
    meta = rec["Envelope"]["Payload-Metadata"]["HTTP-Response-Metadata"]
    return meta["HTML-Metadata"]["Links"]


def _extract(df, document_type="image") -> list[tuple]:
    return sorted(tuple(r) for r in extract_document_links(df, document_type).collect())


def _oracle(records, document_type="image") -> list[tuple]:
    return sorted(oracle_extract(records, document_type))


def _parity_payloads() -> list[bytes]:
    """The fixture records (the null-Links one included) and every
    payload edge the reader pins."""
    number_url = _good()
    _links(number_url)[0]["url"] = 123
    no_container = _good()
    del no_container["Container"]
    non_utf8 = payload(_good()).replace(b'"A cat"', b'"A\xffcat"')
    assert b"\xff" in non_utf8
    return [payload(r) for r in FIXTURE_RECORDS] + [
        b"{not json!!",
        payload(number_url),
        non_utf8,
        payload(no_container),
    ]


def test_archive_rows_pin_each_payload_edge(spark, tmp_path):
    """The archive reader returns one row per record, in order: the
    fixture records as written, a malformed payload as an all-null row,
    a JSON number in a string field as its text, a non-UTF-8 byte as
    U+FFFD and a missing Container as null."""
    payloads = _parity_payloads()
    archive = write_wat_archive(tmp_path / "parity.warc.gz", payloads)
    df = read_wat_archives(spark, [archive])
    assert df.schema == WAT_SCHEMA
    rows = df.collect()
    assert len(rows) == len(payloads)
    n = len(FIXTURE_RECORDS)
    assert [r.asDict(recursive=True) for r in rows[:n]] == FIXTURE_RECORDS
    malformed, number_url, non_utf8, no_container = (
        r.asDict(recursive=True) for r in rows[n:]
    )
    assert malformed == {"Envelope": None, "Container": None}
    assert _links(number_url)[0]["url"] == "123"
    assert _links(non_utf8)[0]["alt"] == "A\ufffdcat"
    assert no_container["Container"] is None
    assert _links(no_container) == _links(FIXTURE_RECORDS[0])


def test_file_tier_drops_already_extracted_records(spark, tmp_path):
    """A structurally broken record (valid JSON, no 'Envelope') drops
    only itself, like a malformed-JSON record: the envelope guards skip
    its all-null fields and the good records of its file are kept. (The
    reference's broad except, main.py:178-183, dropped the whole file.)"""
    good = payload(FIXTURE_RECORDS[0])
    # file A: good record THEN a structurally broken one
    fa = write_wat_archive(tmp_path / "a.warc.gz", [good, b'{"not_envelope": 1}'])
    # file B: malformed JSON between two good records
    fb = write_wat_archive(
        tmp_path / "b.warc.gz", [good, b"{not json!!", good]
    )
    assert _rows(iter_wat_batches(fa)) == 2
    assert _rows(iter_wat_batches(fb)) == 3
    df = read_wat_archives(spark, [fa, fb])
    assert df.count() == 5
    assert _extract(df) == _oracle([FIXTURE_RECORDS[0]] * 3)


@contextlib.contextmanager
def _session_conf(spark, confs: dict):
    """Set session confs for the block and restore them after it."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_wat_source_one_partition_per_archive(spark, tmp_path):
    """Each archive is read by one task, so a failing file drops only
    its own rows. Spark orders files by size, so the per-partition
    counts are a multiset. Gzip is not splittable: with a 1 KB split
    size an archive 15 times larger is still one partition, where the
    same bytes uncompressed are split."""
    good = payload(FIXTURE_RECORDS[0])
    paths = [
        write_wat_archive(tmp_path / f"{name}.warc.gz", [good] * n)
        for name, n in (("a", 1), ("b", 2), ("c", 3))
    ]
    df = read_wat_archives(spark, paths)
    assert df.rdd.getNumPartitions() == len(paths)
    assert sorted(df.rdd.glom().map(len).collect()) == [1, 2, 3]

    big = write_wat_archive(tmp_path / "big.warc.gz", [good] * 3000)
    plain = tmp_path / "big.warc"
    with open(big, "rb") as f:
        plain.write_bytes(gzip.decompress(f.read()))
    assert os.path.getsize(big) > 15 * 1024
    split = {"spark.sql.files.maxPartitionBytes": "1k", "spark.sql.files.openCostInBytes": "0"}
    with _session_conf(spark, split):
        df = read_wat_archives(spark, [big])
        assert df.rdd.getNumPartitions() == 1
        assert df.count() == 3000
        assert read_wat_archives(spark, [str(plain)]).rdd.getNumPartitions() > 1


def test_source_function_does_not_grow_with_the_path_count(spark, monkeypatch):
    """Every task of the https framer unpickles the function handed to
    mapInArrow, so it must not carry the path list: its pickle is the
    same for one path and for 10,000 (each task gets its own path from
    its partition). Building the frame opens no archive."""
    from pyspark import cloudpickle

    frame = type(spark.range(1))
    real = frame.mapInArrow
    sizes = []

    def spy(self, func, schema, *args, **kwargs):
        sizes.append(len(cloudpickle.dumps(func)))
        return real(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(frame, "mapInArrow", spy)
    url = "https://data.commoncrawl.org/wat/{:05d}.warc.wat.gz"
    read_wat_archives(spark, [url.format(0)])
    many = read_wat_archives(spark, [url.format(i) for i in range(10_000)])
    assert many.rdd.getNumPartitions() == 10_000
    assert len(sizes) == 2 and sizes[0] == sizes[1]


def _framer_rows(spark, paths) -> list:
    """The Python framer's rows, through the reader's decoder."""
    values = _framed_payloads(spark, paths)
    return values.select(F.inline(F.array(F.from_json("value", WAT_SCHEMA)))).collect()


def test_jvm_reader_matches_python_framer_on_payload_edges(spark, tmp_path):
    """Hadoop's lines and the Python framer's payloads decode to the
    same rows, in order, on every payload edge the reader pins."""
    archive = write_wat_archive(tmp_path / "parity.warc.gz", _parity_payloads())
    jvm = read_wat_archives(spark, [archive]).collect()
    assert len(jvm) == len(_parity_payloads())
    assert jvm == _framer_rows(spark, [archive])


def test_payload_with_a_raw_line_break_splits_in_the_jvm_reader(spark, tmp_path):
    """The one known difference between the two readers: Hadoop splits
    a payload at a raw LF (valid JSON whitespace), so its first line is
    a malformed row and the rest are not payloads, where the Python
    framer parses the whole payload. Common Crawl writes each payload
    on one line."""
    good = _good()
    broken = payload(good).replace(b',"Container"', b',\n"Container"')
    archive = write_wat_archive(tmp_path / "lf.warc.gz", [broken, payload(good)])
    jvm = [r.asDict(recursive=True) for r in read_wat_archives(spark, [archive]).collect()]
    assert jvm == [{"Envelope": None, "Container": None}, good]
    framer = [r.asDict(recursive=True) for r in _framer_rows(spark, [archive])]
    assert framer == [good, good]


def test_truncated_gzip_keeps_the_records_before_the_cut(spark, tmp_path):
    """An archive whose gzip stream ends early keeps every record read
    before the cut, in order, as the Python framer does, and the read
    does not fail."""
    n = 3000
    full = write_wat_archive(tmp_path / "full.warc.gz", _numbered_records(n))
    with open(full, "rb") as f:
        raw = f.read()
    cut = tmp_path / "cut.warc.gz"
    cut.write_bytes(raw[: len(raw) * 2 // 3])
    rows = read_wat_archives(spark, [str(cut)]).collect()
    urls = [r.Envelope["WARC-Header-Metadata"]["WARC-Target-URI"] for r in rows]
    assert n // 2 < len(urls) < n
    assert urls == [f"http://e.com/{i}" for i in range(len(urls))]
    assert _rows(iter_wat_batches(str(cut))) == len(urls)


def test_missing_local_path_fails_when_the_frame_is_built(spark, tmp_path):
    """A missing Hadoop path raises PATH_NOT_FOUND as soon as the frame
    is built, also under ``ignoreMissingFiles``: a wrong prefix fails
    the run instead of letting it succeed with zero rows."""
    from pyspark.errors import AnalysisException

    missing = str(tmp_path / "crawl-data" / "missing.warc.wat.gz")
    for value in ("false", "true"):
        with _session_conf(spark, {"spark.sql.files.ignoreMissingFiles": value}):
            with pytest.raises(AnalysisException) as err:
                read_wat_archives(spark, [FIXTURE_PATH, missing])
        assert err.value.getCondition() == "PATH_NOT_FOUND"


def _numbered_records(n: int) -> list[bytes]:
    """``n`` guard-passing payloads whose page urls number them."""
    out = []
    for i in range(n):
        rec = _good()
        rec["Envelope"]["WARC-Header-Metadata"]["WARC-Target-URI"] = f"http://e.com/{i}"
        out.append(payload(rec))
    return out


def _values(batches) -> list[bytes]:
    return [v for b in batches for v in b.column("value").to_pylist()]


def _metadata_payloads(path) -> list[bytes]:
    with open(path, "rb") as f:
        return [p for t, _h, p in iter_warc_records(f) if t == "metadata"]


def test_batches_cross_chunk_boundaries_in_order(tmp_path):
    """The kernel's batches are one ``value: binary`` column holding the
    archive's metadata payloads, byte for byte and in record order,
    ``BATCH_RECORDS`` per batch (the warcinfo record is not one)."""
    n = 2 * BATCH_RECORDS + 1
    path = write_wat_archive(tmp_path / "long.warc.gz", _numbered_records(n))
    cases = ((path, [BATCH_RECORDS, BATCH_RECORDS, 1]), (FIXTURE_PATH, [_FIXTURE_PAYLOADS]))
    for archive, sizes in cases:
        batches = list(iter_wat_batches(archive))
        assert [b.num_rows for b in batches] == sizes
        assert all(b.schema == pa.schema([("value", pa.binary())]) for b in batches)
        assert _values(batches) == _metadata_payloads(archive)
    assert _values(iter_wat_batches(path)) == _numbered_records(n)


def test_broken_last_record_drops_converted_chunks(tmp_path, capfd):
    """A WARC framing error ends the archive: every payload framed
    before it is kept, here two full batches before a truncated record,
    and one stderr line names the archive and where it ended."""
    records = _numbered_records(2 * BATCH_RECORDS)
    truncated = b"WARC/1.0\r\nWARC-Type: metadata\r\nContent-Length: 500\r\n\r\n{"
    path = write_wat_archive(tmp_path / "broken.warc.gz", records, tail=truncated)
    with pytest.raises(ValueError, match="truncated"):
        _metadata_payloads(path)
    batches = list(iter_wat_batches(path))
    assert [b.num_rows for b in batches] == [BATCH_RECORDS, BATCH_RECORDS]
    assert _values(batches) == records
    assert capfd.readouterr().err == (
        f"cc2dataset_spark: {path} ends after {2 * BATCH_RECORDS} payloads: "
        "ValueError: truncated WARC payload\n"
    )


def test_archive_of_guard_failures_yields_no_batch(spark, tmp_path):
    """Records that all fail the envelope guards are still read, one
    row each with WAT_SCHEMA, and extraction over them is empty."""
    null_links = next(r for r in FIXTURE_RECORDS if _links(r) is None)
    no_html = {
        "Envelope": {
            "Payload-Metadata": {"HTTP-Response-Metadata": {}},
            "WARC-Header-Metadata": {"WARC-Target-URI": "http://e.com/"},
        },
        "Container": {"Filename": "f.warc.gz"},
    }
    path = write_wat_archive(
        tmp_path / "guards.warc.gz",
        [payload(r) for r in (null_links, no_html)],
    )
    assert _rows(iter_wat_batches(path)) == 2
    df = read_wat_archives(spark, [path])
    assert df.schema == WAT_SCHEMA
    assert df.count() == 2
    assert _extract(df, "image_only") == []


def test_non_string_link_value_drops_the_archive(spark, tmp_path):
    """A JSON number in a string field is read as its text: the
    archive is not dropped, the good record is kept, and the number
    becomes a relative url like any other."""
    bad = _good()
    _links(bad)[0]["url"] = 123
    payloads = [payload(FIXTURE_RECORDS[0]), payload(bad)]
    path = write_wat_archive(tmp_path / "int.warc.gz", payloads)
    _links(bad)[0]["url"] = "123"  # what the parse reads, for the oracle
    got = _extract(read_wat_archives(spark, [path]))
    assert got == _oracle([FIXTURE_RECORDS[0], bad])
    assert ("http://example.com/gallery/123", "A cat") in {(r[1], r[2]) for r in got}


def test_record_without_container_filename_is_skipped(spark, tmp_path):
    """The reference indexes Container.Filename, so it never emits a
    link without it: a record with a null Filename or no Container is
    skipped, and its neighbours are kept."""
    null_filename = _good()
    null_filename["Container"]["Filename"] = None
    no_container = _good()
    del no_container["Container"]
    payloads = [payload(r) for r in (null_filename, FIXTURE_RECORDS[0], no_container)]
    df = read_wat_archives(spark, [write_wat_archive(tmp_path / "f.warc.gz", payloads)])
    assert df.count() == 3
    assert _extract(df, "image_only") == _oracle([FIXTURE_RECORDS[0]], "image_only")


def test_read_wat_archives_of_no_paths_is_empty(spark):
    df = read_wat_archives(spark, [])
    assert df.schema == WAT_SCHEMA
    assert df.count() == 0


def _fsspec_failing_first(n: int, monkeypatch) -> list[str]:
    """Install an fsspec stand-in whose first ``n`` opens raise; return
    the list of paths it was asked to open."""
    calls: list[str] = []

    def flaky_open(path, mode):
        calls.append(path)
        if len(calls) <= n:
            raise OSError("transient remote failure")
        return types.SimpleNamespace(open=lambda: open(path, mode))

    monkeypatch.setitem(
        sys.modules, "fsspec", types.SimpleNamespace(open=flaky_open)
    )
    return calls


def test_warc_iter_retries_flaky_io(monkeypatch, capfd):
    """X6: the whole-file open is retried with backoff and then
    succeeds; when all 10 attempts fail the file is skipped (no rows,
    no raise, one stderr line) — the reference's file-tier containment
    (main.py:190-200)."""
    sleeps: list[float] = []
    monkeypatch.setattr(time, "sleep", sleeps.append)
    calls = _fsspec_failing_first(2, monkeypatch)
    assert _rows(iter_wat_batches(FIXTURE_PATH)) == _FIXTURE_PAYLOADS
    assert len(calls) == 3 and len(sleeps) == 2  # two failures + one success
    assert capfd.readouterr().err == ""

    calls = _fsspec_failing_first(10, monkeypatch)
    assert list(iter_wat_batches(FIXTURE_PATH)) == []
    assert len(calls) == 10  # exhausted and skipped, with a trace
    assert capfd.readouterr().err == (
        f"cc2dataset_spark: skipped {FIXTURE_PATH} after 10 failed reads: "
        "OSError: transient remote failure\n"
    )


def test_remote_path_without_fsspec_fails_loudly(monkeypatch):
    """A remote scheme with no fsspec installed is a configuration
    error: it raises on the first attempt instead of being retried as
    flaky IO and then silently skipped like an unreadable archive."""
    sleeps: list[float] = []
    monkeypatch.setattr(time, "sleep", sleeps.append)
    monkeypatch.setitem(sys.modules, "fsspec", None)
    with pytest.raises(NotImplementedError, match="requires fsspec"):
        list(iter_wat_batches("s3://commoncrawl/a.warc.wat.gz"))
    assert sleeps == []


def test_archive_reader_runs_where_the_package_is_not_importable(tmp_path):
    """Executors need only pyspark: the per-archive function ships by
    value, so an interpreter that cannot import this package unpickles
    it and reads the fixture archive."""
    from pyspark import cloudpickle

    code = (
        "import pickle, sys\n"
        "try:\n"
        "    import cc2dataset_spark\n"
        "    sys.exit('the package is importable')\n"
        "except ImportError:\n"
        "    pass\n"
        "fn = pickle.loads(sys.stdin.buffer.read())\n"
        "print(sum(b.num_rows for b in fn(sys.argv[1])))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code, FIXTURE_PATH],
        input=cloudpickle.dumps(iter_wat_batches),
        capture_output=True, cwd=tmp_path, env=env, timeout=120,
    )
    assert out.returncode == 0, out.stderr.decode()
    assert int(out.stdout) == _FIXTURE_PAYLOADS


def test_http_scrape_discovery_rewrite_offline():
    """S1/S2 http-scrape discovery, offline: the get-started HTML
    rewrite (reference main.py:215-228 semantics) against a checked-in
    page fixture — '[WARC] ' prefixes stripped, <wbr> soft breaks
    removed, first space-token taken, s3 bucket prefix rewritten to
    the https gateway, trailing-slash entries collapsing //wat, and
    non-crawl bullets ignored. Only the live fetch stays env-gated."""
    import os

    from cc2dataset_spark.sources.wat import crawl_links_from_get_started_html

    fixture = os.path.join(
        os.path.dirname(__file__), "fixtures", "cc_get_started.html"
    )
    html = open(fixture, encoding="utf8").read()
    got = crawl_links_from_get_started_html(html)
    assert got == [
        "https://data.commoncrawl.org/crawl-data/CC-MAIN-2023-50/wat.paths.gz",
        "https://data.commoncrawl.org/crawl-data/CC-MAIN-2023-40/wat.paths.gz",
        "https://data.commoncrawl.org/crawl-data/CC-MAIN-2023-23/wat.paths.gz",
        "https://data.commoncrawl.org/crawl-data/CC-MAIN-2023-14/wat.paths.gz",
    ]


# ---------------------------------------------------------------------------
# S1-S5 offline: glob discovery -> prefix derivation -> index read
# ---------------------------------------------------------------------------


class _FakeFS:
    """fsspec-shaped stand-in (glob + unstrip_protocol + open) with
    MemoryFileSystem / s3fs path semantics, so the discovery logic
    runs hermetically — this container ships no fsspec, which is
    exactly why the seam exists."""

    def __init__(self, protocol, files):
        self.protocol = protocol
        self.files = files  # path -> bytes

    def glob(self, pattern):
        import re

        rx = re.compile(
            "^"
            + "".join(
                "[^/]*" if c == "*" else re.escape(c) for c in pattern
            )
            + "$"
        )
        return sorted(p for p in self.files if rx.match(p))

    def unstrip_protocol(self, path):
        return f"{self.protocol}://{path}"

    def open(self, path, mode="rb"):
        import io

        return io.BytesIO(self.files[path])


def _gz_index(lines):
    import gzip

    return gzip.compress(("\n".join(lines) + "\n").encode("utf8"))


_CRAWLS = ["CC-MAIN-2023-50", "CC-MAIN-2024-10", "CC-MAIN-2024-18"]


def _fake_store(lead):
    files = {
        f"{lead}commoncrawl/crawl-data/{c}/wat.paths.gz": _gz_index(
            [
                f"crawl-data/{c}/segments/{s}/wat/f{s}.warc.wat.gz"
                for s in range(3)
            ]
        )
        for c in _CRAWLS
    }
    # decoys: wrong filename at crawl depth, right filename at the
    # wrong depth (a naive fnmatch '*' would cross the '/'), root junk
    files[f"{lead}commoncrawl/crawl-data/{_CRAWLS[0]}/warc.paths.gz"] = b"x"
    files[
        f"{lead}commoncrawl/crawl-data/{_CRAWLS[0]}/seg/wat.paths.gz"
    ] = b"x"
    files[f"{lead}commoncrawl/crawl-data/README"] = b"x"
    return files


def test_s3_glob_discovery_offline():
    """S1/S2 s3-glob branch (reference main.py:209-214), offline: the
    bucket glob must select exactly crawl-data/*/wat.paths.gz one
    level deep and reattach the filesystem's own scheme — byte-parity
    with the reference's 's3://' + path on s3 semantics."""
    from cc2dataset_spark.sources.wat import (
        derive_wat_prefix,
        get_cc_wat_index_links,
    )

    # s3fs semantics: no leading slash, protocol 's3'
    s3 = _FakeFS("s3", _fake_store(""))
    links = get_cc_wat_index_links(
        "s3", url_to_fs=lambda url: (s3, "commoncrawl/crawl-data/")
    )
    assert links == [
        f"s3://commoncrawl/crawl-data/{c}/wat.paths.gz" for c in _CRAWLS
    ]
    assert {derive_wat_prefix(l) for l in links} == {"s3://commoncrawl/"}

    # MemoryFileSystem semantics: leading slash, protocol 'memory'
    mem = _FakeFS("memory", _fake_store("/"))
    links = get_cc_wat_index_links(
        "s3",
        bucket_url="memory://commoncrawl/crawl-data/",
        url_to_fs=lambda url: (mem, "/commoncrawl/crawl-data"),
    )
    assert links == [
        f"memory:///commoncrawl/crawl-data/{c}/wat.paths.gz"
        for c in _CRAWLS
    ]
    # non-CommonCrawl layout: caller must supply the prefix explicitly
    assert {derive_wat_prefix(l) for l in links} == {""}


def test_wat_index_read_end_to_end_offline(spark):
    """S1->S5 chained offline: glob-discovered memory:// index links,
    driver-side gunzip via the opener seam, explicit prefix join,
    deterministic shuffle, and with-replacement sampling (reference
    main.py:237-251 semantics)."""
    from cc2dataset_spark.sources.wat import (
        get_cc_wat_index_links,
        read_wat_index,
    )

    mem = _FakeFS("memory", _fake_store("/"))
    links = get_cc_wat_index_links(
        "s3",
        bucket_url="memory://commoncrawl/crawl-data/",
        url_to_fs=lambda url: (mem, "/commoncrawl/crawl-data"),
    )

    def opener(url, mode="rb"):
        assert url.startswith("memory:///")
        return mem.open(url[len("memory://") :], mode)

    wats = read_wat_index(
        spark, links, prefix="s3a://commoncrawl/", opener=opener
    )
    want = {
        f"s3a://commoncrawl/crawl-data/{c}/segments/{s}/wat/f{s}.warc.wat.gz"
        for c in _CRAWLS
        for s in range(3)
    }
    assert set(wats) == want and len(wats) == len(want)
    # same seed -> identical shuffle order (decorrelation stays
    # reproducible for resume/debug)
    w1 = read_wat_index(
        spark, links, prefix="s3a://commoncrawl/", seed=7, opener=opener
    )
    w2 = read_wat_index(
        spark, links, prefix="s3a://commoncrawl/", seed=7, opener=opener
    )
    assert w1 == w2 and set(w1) == want
    # S5 sampling WITH replacement: exact count, all drawn from the index
    sampled = read_wat_index(
        spark, links, wat_count=20, seed=3, prefix="s3a://commoncrawl/",
        opener=opener,
    )
    assert len(sampled) == 20 and set(sampled) <= want
