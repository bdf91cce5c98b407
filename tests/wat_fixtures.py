"""Synthetic WAT fixture records (FIXTURES.md §A1), a writer of WAT
archives holding them, and a pure-Python semantic oracle for the
extraction operator.

The oracle re-derives the reference semantics (predicates, base-URL
resolution, urljoin absolutization, scheme filter, md5 uid) directly
from the spec in SURVEY.md §2.2 so the Spark plan can be checked
differentially without network access or reference code.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
from urllib.parse import urljoin

VIDEO_EXTS = (".avi", ".mp4", ".mkv", ".webm", ".mov", ".mpg", ".mpeg", ".m4v")
AUDIO_EXTS = (".ogg", ".wav", ".mp3", ".flac", ".m4a")
TEXT_EXTS = {
    "pdf", "epub", "djvu", "mobi", "doc", "docx", "rtf", "txt",
    "odt", "ppt", "pptx", "pages", "keynote", "wps", "md",
}


def link(url=None, alt=None, text=None, path=None):
    return {"url": url, "alt": alt, "text": text, "path": path}


def record(links, page_url, base=None, filename="crawl-00.warc.gz"):
    head = {"Base": base}
    return {
        "Envelope": {
            "Payload-Metadata": {
                "HTTP-Response-Metadata": {
                    "HTML-Metadata": {"Links": links, "Head": head}
                }
            },
            "WARC-Header-Metadata": {"WARC-Target-URI": page_url},
        },
        "Container": {"Filename": filename},
    }


def empty_record(page_url="http://nolinks.com/"):
    """Record whose HTML metadata carries no Links (guard P9)."""
    return {
        "Envelope": {
            "Payload-Metadata": {
                "HTTP-Response-Metadata": {
                    "HTML-Metadata": {"Links": None, "Head": {"Base": None}}
                }
            },
            "WARC-Header-Metadata": {"WARC-Target-URI": page_url},
        },
        "Container": {"Filename": "crawl-00.warc.gz"},
    }


FIXTURE_RECORDS = [
    # absolute + relative image links, with and without alt
    record(
        [
            link(url="https://img.example.com/cat.jpg", alt="A cat", path="IMG@/src"),
            link(url="/img/dog.jpg", alt="A dog", path="IMG@/src"),
            link(url="banner.png", alt="", path="IMG@/src"),
            link(url="/img/nopath.jpg", alt="ignored", path="A@/href"),
            link(url="//cdn.host.io/proto.gif", alt="proto-relative", path="IMG@/src"),
        ],
        page_url="http://example.com/gallery/page1.html",
    ),
    # <base href> overrides the page URL as resolution base
    record(
        [
            link(url="pic.png", alt="based pic", path="IMG@/src"),
            link(url="clip.mp4", text="a video clip"),
            link(url="song.mp3", text="a song"),
        ],
        page_url="https://example.org/articles/post.html",
        base="https://cdn.example.org/assets/",
    ),
    # relative <base href> is itself resolved against the page URL
    record(
        [link(url="deep.jpg", alt="deep image", path="IMG@/src")],
        page_url="https://example.org/a/b/c.html",
        base="/static/",
    ),
    # document/video/audio extension corpus incl. negatives
    record(
        [
            link(url="https://docs.example.com/paper.pdf", text="a paper"),
            link(url="https://docs.example.com/notes.md", text="notes"),
            link(url="https://docs.example.com/file.mp4x", text="not a video"),
            link(url="https://docs.example.com/noext", text="no extension"),
            link(url="https://docs.example.com/movie.webm", text="a movie"),
            link(url="https://docs.example.com/archive.tar.gz", text="tarball"),
            link(url="https://a.io/slides.PPTX", text="case sensitive"),
            link(url="mailto:someone@example.com", text="mail me"),
            link(url="https://audio.example.com/track.flac", text=None),
        ],
        page_url="https://docs.example.com/index.html",
        filename="crawl-01.warc.gz",
    ),
    # duplicate (alt, url) across records -> same uid, dedup collapses
    record(
        [link(url="https://img.example.com/cat.jpg", alt="A cat", path="IMG@/src")],
        page_url="http://mirror.example.net/copycat.html",
        filename="crawl-01.warc.gz",
    ),
    empty_record(),
]


def payload(rec: dict) -> bytes:
    """A record as the compact JSON payload of a WAT metadata record."""
    return json.dumps(rec, separators=(",", ":")).encode()


def write_wat_archive(path, payloads, tail=b"") -> str:
    """Write a gzipped WARC of metadata records with the given JSON
    payload bytes (reusing the fixture builder's record writer),
    followed by the raw bytes ``tail``; return the path."""
    from tests.fixtures.build_tiny_wat import _warc_record

    buf = io.BytesIO()
    for i, body in enumerate(payloads):
        headers = {
            "WARC-Date": "2020-01-01T00:00:00Z",
            "WARC-Record-ID": f"<urn:uuid:t-{i}>",
            "Content-Type": "application/json",
        }
        buf.write(_warc_record("metadata", headers, body))
    buf.write(tail)
    with open(path, "wb") as f:
        f.write(gzip.compress(buf.getvalue(), mtime=0))
    return str(path)


def oracle_extract(records: list[dict], document_type: str) -> list[tuple]:
    """Pure-Python derivation of the expected 5-tuples."""
    out = []
    for rec in records:
        env = rec["Envelope"]
        meta = env["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"]
        links = meta["Links"]
        page_url = env["WARC-Header-Metadata"]["WARC-Target-URI"]
        cc_filename = rec["Container"]["Filename"]
        if links is None or page_url is None or cc_filename is None:
            continue
        base_url = page_url
        if meta["Head"]["Base"] is not None:
            try:
                base_url = urljoin(base_url, meta["Head"]["Base"])
            except ValueError:
                pass
        for ln in links:
            url = ln["url"] or ""
            if document_type == "image":
                keep = (ln["path"] or "") == "IMG@/src" and len(ln["alt"] or "") > 0
                alt = ln["alt"] or ""
            elif document_type == "image_only":
                keep = (ln["path"] or "") == "IMG@/src"
                alt = ln["alt"] or ""
            elif document_type == "audio":
                keep = url.endswith(AUDIO_EXTS)
                alt = ln["text"] or ""
            elif document_type == "video":
                keep = url.endswith(VIDEO_EXTS)
                alt = ln["text"] or ""
            elif document_type == "text":
                parts = url.split(".")
                keep = len(parts) >= 2 and parts[-1] in TEXT_EXTS
                alt = ln["text"] or ""
            else:
                raise ValueError(document_type)
            if not keep:
                continue
            if not (url.startswith("http://") or url.startswith("https://")):
                try:
                    url = urljoin(base_url, url)
                except ValueError:
                    pass
            if not (url.startswith("http://") or url.startswith("https://")):
                continue
            uid = hashlib.md5((alt + url).encode()).hexdigest()
            out.append((uid, url, alt, cc_filename, page_url))
    return out
