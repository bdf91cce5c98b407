"""Dependency-free WARC record reader — the fallback behind
``sources/wat.read_wat_archives`` when fastwarc is absent.

Implements the public WARC format (ISO 28500 / the format Common Crawl
publishes): a record is

    WARC/1.0 CRLF
    <header-name>: <value> CRLF ...
    CRLF
    <Content-Length bytes of payload>
    CRLF CRLF

Common Crawl archives store ONE GZIP MEMBER PER RECORD; Python's gzip
module reads concatenated members transparently, so the whole archive
decompresses as a single stream of records. This parser reads that
stream strictly: a structurally broken record raises, and the caller
ends the archive there, keeping every record framed before it.
Payloads are not parsed here; a malformed JSON payload is Spark's
``from_json`` concern (an all-null row the envelope guards drop).

The iterator is constructed inside a factory and exported as the
factory's return value: cloudpickle pickles functions whose qualname
is not importable BY VALUE, so the Spark closure that captures
``iter_warc_records`` ships the parser's code inside the task itself —
executors need neither this package nor fastwarc on their PYTHONPATH
(matching the fastwarc path's self-containment property).

Parity: tests/test_warc_source.py runs the same golden fixture
(tiny.wat.warc.gz) through this parser and — where installed —
fastwarc, against the pure-Python oracle
(/root/reference/tests/test_single_warc.py:22-54 shape).
"""

from __future__ import annotations


def make_warc_record_iterator():
    """Build the by-value-picklable record iterator (see module doc)."""

    def iter_warc_records(raw):
        """Yield ``(warc_type, headers, payload_bytes)`` from a
        seekable binary file-like of WARC bytes (gzipped — possibly
        multi-member — or plain; auto-detected by magic)."""
        import gzip

        # peek the 2 magic bytes and REWIND rather than re-reading the
        # whole stream into a fresh bytes object: the caller already
        # holds the full ~1 GB archive in a BytesIO, and head + rest
        # concatenation would materialize a second full copy per task
        # (~2x peak memory on the no-fastwarc path) for nothing
        head = raw.read(2)
        raw.seek(0)
        stream = gzip.GzipFile(fileobj=raw) if head == b"\x1f\x8b" else raw

        def read_line() -> bytes:
            return stream.readline()

        while True:
            line = read_line()
            if not line:
                return
            if line in (b"\r\n", b"\n"):
                continue
            if not line.startswith(b"WARC/"):
                raise ValueError(f"expected WARC version line, got {line[:40]!r}")
            headers: dict[str, str] = {}
            while True:
                hline = read_line()
                if not hline:
                    raise ValueError("truncated WARC header block")
                if hline in (b"\r\n", b"\n"):
                    break
                if hline[:1] in (b" ", b"\t") and headers:
                    # obs-fold continuation: append to the last header
                    last = next(reversed(headers))
                    headers[last] += " " + hline.strip().decode(
                        "utf-8", "replace"
                    )
                    continue
                name, sep, value = hline.decode("utf-8", "replace").partition(":")
                if not sep:
                    raise ValueError(f"malformed WARC header line {hline[:40]!r}")
                headers[name.strip()] = value.strip()
            # WARC header field names are case-insensitive (ISO 28500
            # inherits RFC 822 field semantics) — look up through a
            # lowered view so 'content-length:' archives that fastwarc
            # accepts are not rejected by the fallback, while the
            # yielded dict keeps the archive's original casing.
            lowered = {k.lower(): v for k, v in headers.items()}
            try:
                length = int(lowered["content-length"])
            except (KeyError, ValueError) as ex:
                raise ValueError("missing/invalid Content-Length") from ex
            payload = stream.read(length)
            if len(payload) != length:
                raise ValueError("truncated WARC payload")
            yield lowered.get("warc-type", ""), headers, payload

    return iter_warc_records


iter_warc_records = make_warc_record_iterator()
