"""Build the checked-in tiny WAT fixture ``tiny.wat.warc.gz``.

A real (if small) gzipped WARC whose ``metadata`` records carry the
same WAT JSON envelopes as tests/wat_fixtures.FIXTURE_RECORDS — so the
archive reader (sources/wat.read_wat_archives) can be tested
against the pure-Python oracle of tests/wat_fixtures, golden-count
style like the reference's tests/test_single_warc.py:22-54.

Extra records exercise the containment tiers:
- a ``warcinfo`` record (must be ignored: record_types=metadata),
- a metadata record with a malformed JSON payload (an all-null row the
  envelope guards skip, main.py:141-143).

Deterministic output: fixed WARC-Date/Record-IDs and gzip mtime=0 —
rebuilding the fixture yields identical bytes.

Run from the repo root:  python tests/fixtures/build_tiny_wat.py
"""

from __future__ import annotations

import gzip
import io
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from tests.wat_fixtures import FIXTURE_RECORDS  # noqa: E402

FIXTURE_PATH = os.path.join(os.path.dirname(__file__), "tiny.wat.warc.gz")


def _warc_record(warc_type: str, headers: dict[str, str], payload: bytes) -> bytes:
    lines = [f"WARC/1.0\r\n".encode()]
    lines.append(f"WARC-Type: {warc_type}\r\n".encode())
    for k, v in headers.items():
        lines.append(f"{k}: {v}\r\n".encode())
    lines.append(f"Content-Length: {len(payload)}\r\n".encode())
    lines.append(b"\r\n")
    lines.append(payload)
    lines.append(b"\r\n\r\n")
    return b"".join(lines)


def build_warc_bytes() -> bytes:
    buf = io.BytesIO()
    n = 0

    def rec_id() -> str:
        nonlocal n
        n += 1
        return f"<urn:uuid:00000000-0000-0000-0000-{n:012d}>"

    buf.write(
        _warc_record(
            "warcinfo",
            {
                "WARC-Date": "2020-01-01T00:00:00Z",
                "WARC-Record-ID": rec_id(),
                "Content-Type": "application/warc-fields",
            },
            b"software: build_tiny_wat.py\r\nformat: WARC File Format 1.0\r\n",
        )
    )
    for rec in FIXTURE_RECORDS:
        uri = rec["Envelope"]["WARC-Header-Metadata"]["WARC-Target-URI"]
        payload = json.dumps(rec, separators=(",", ":")).encode()
        buf.write(
            _warc_record(
                "metadata",
                {
                    "WARC-Target-URI": uri,
                    "WARC-Date": "2020-01-01T00:00:00Z",
                    "WARC-Record-ID": rec_id(),
                    "Content-Type": "application/json",
                },
                payload,
            )
        )
    # malformed JSON payload -> all-null row, skipped by the guards
    buf.write(
        _warc_record(
            "metadata",
            {
                "WARC-Target-URI": "http://broken.example.com/",
                "WARC-Date": "2020-01-01T00:00:00Z",
                "WARC-Record-ID": rec_id(),
                "Content-Type": "application/json",
            },
            b'{"Envelope": {"Payload-Metadata": truncated',
        )
    )
    return buf.getvalue()


def build(path: str = FIXTURE_PATH) -> str:
    raw = build_warc_bytes()
    out = io.BytesIO()
    with gzip.GzipFile(fileobj=out, mode="wb", mtime=0) as gz:
        gz.write(raw)
    with open(path, "wb") as f:
        f.write(out.getvalue())
    return path


if __name__ == "__main__":
    p = build()
    print(f"wrote {p} ({os.path.getsize(p)} bytes)")
