"""Deterministic WAT corpus generator for the pipeline benchmark.

Writes gzipped WARC archives shaped like Common Crawl WAT files: one
gzip member per record, a leading ``warcinfo`` record, then one
``metadata`` record per page whose JSON payload is the WAT envelope
the sources navigate.  The link mix is configurable (see ``Mix``):

- ``image``: ``IMG@/src`` links with a non-empty alt;
- ``image_noalt``: ``IMG@/src`` links with an empty alt;
- ``text``: ``A@/href`` links to documents (``.pdf``, ``.docx`` ...);
- ``media``: ``A@/href`` links to audio and video files;
- everything else: ``A@/href`` links to pages and ``mailto:``;
- ``relative``: share of URLs written relative (root-, path- or
  protocol-relative) instead of absolute;
- ``dup``: share of image links that repeat an (alt, url) pair of the
  same site (site-wide logos), so the dedup exchange has work to do;
- ``malformed``: share of records whose JSON payload is truncated;
- ``no_links``: share of records whose ``Links`` is null;
- ``base``: share of records carrying a ``<base href>``.

The same seed and sizes produce byte-identical archives.  Expected
output comes from the repository's extraction oracle
(``tests/wat_fixtures.oracle_extract``), never from a second copy of
the extraction rules.
"""

from __future__ import annotations

import dataclasses
import gzip
import hashlib
import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from tests.fixtures.build_tiny_wat import _warc_record  # noqa: E402
from tests.wat_fixtures import link, oracle_extract, record  # noqa: E402

WORDS = (
    "red blue green small large photo image picture view city river "
    "house garden street night morning logo banner icon chart map "
    "team product report annual summer winter old new portrait market"
).split()
TLDS = (".com", ".org", ".net", ".co.uk", ".io", ".de")
DOC_EXTS = ("pdf", "docx", "txt", "epub", "pptx", "md", "odt", "rtf")
MEDIA_EXTS = (".mp4", ".webm", ".mp3", ".ogg", ".flac")
IMG_EXTS = (".jpg", ".png", ".gif", ".webp")
LOGOS_PER_SITE = 4
N_SITES = 300


@dataclasses.dataclass(frozen=True)
class Mix:
    image: float = 0.45
    image_noalt: float = 0.05
    text: float = 0.05
    media: float = 0.03
    relative: float = 0.30
    dup: float = 0.25
    malformed: float = 0.001
    no_links: float = 0.02
    base: float = 0.10


@dataclasses.dataclass
class Corpus:
    """Generated archives plus what the benchmark needs to check and
    probe them: the oracle's expected output for one document type, and
    every well-formed record's page URL and ``<base href>``."""

    paths: list[str]
    records: int
    links: int
    malformed: int
    gz_bytes: int
    expected: dict
    pages: list[str]
    bases: list[str | None]


def uid_digest(uids) -> str:
    """Order-insensitive digest of a set of uids."""
    return hashlib.sha256("\n".join(sorted(uids)).encode()).hexdigest()


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _relative(rng: random.Random, host: str, path: str) -> str:
    """A relative spelling of https://host/path."""
    r = rng.random()
    if r < 0.5:
        return "/" + path
    if r < 0.85:
        return path.rsplit("/", 1)[-1]
    return f"//{host}/{path}"


def _maybe_relative(rng, mix: Mix, host: str, path: str) -> str:
    if rng.random() < mix.relative:
        return _relative(rng, host, path)
    return f"https://{host}/{path}"


def _page_links(rng, mix: Mix, site: str, page: int, n: int) -> list[dict]:
    out = []
    for j in range(n):
        r = rng.random()
        if r < mix.image:
            if rng.random() < mix.dup:
                k = rng.randrange(LOGOS_PER_SITE)
                # a site-wide asset: same spelling on every page
                url = (
                    f"/static/logo{k}.png" if k % 2 else
                    f"https://cdn.{site}/logo{k}.png"
                )
                out.append(link(url=url, alt=f"{site} logo {k}", path="IMG@/src"))
            else:
                path = f"img/{page}_{j}{rng.choice(IMG_EXTS)}"
                url = _maybe_relative(rng, mix, site, path)
                out.append(link(url=url, alt=_words(rng, 1, 5), path="IMG@/src"))
            continue
        r -= mix.image
        if r < mix.image_noalt:
            url = _maybe_relative(rng, mix, site, f"px/{page}_{j}.gif")
            out.append(link(url=url, alt="", path="IMG@/src"))
            continue
        r -= mix.image_noalt
        if r < mix.text:
            path = f"docs/{page}_{j}.{rng.choice(DOC_EXTS)}"
            url = _maybe_relative(rng, mix, site, path)
            out.append(link(url=url, text=_words(rng, 1, 4), path="A@/href"))
            continue
        r -= mix.text
        if r < mix.media:
            path = f"media/{page}_{j}{rng.choice(MEDIA_EXTS)}"
            url = _maybe_relative(rng, mix, site, path)
            out.append(link(url=url, text=_words(rng, 1, 3), path="A@/href"))
            continue
        if rng.random() < 0.05:
            out.append(link(url=f"mailto:info@{site}", text="contact", path="A@/href"))
            continue
        path = f"{rng.choice(WORDS)}/{rng.randrange(10000)}.html"
        url = _maybe_relative(rng, mix, site, path)
        out.append(link(url=url, text=_words(rng, 1, 4), path="A@/href"))
    return out


def _archive(
    rng: random.Random,
    mix: Mix,
    name: str,
    sites: list[str],
    n_records: int,
    links_per_record: int,
    page0: int,
) -> tuple[bytes, list[dict], int, int]:
    members = []
    parsed: list[dict] = []
    n_links = 0
    n_bad = 0
    rid = 0

    def rec_id() -> str:
        nonlocal rid
        rid += 1
        return f"<urn:uuid:{page0:08d}-0000-0000-0000-{rid:012d}>"

    info = f"software: perfbench/watgen.py\r\nisPartOf: {name}\r\n".encode()
    members.append(
        _warc_record(
            "warcinfo",
            {
                "WARC-Date": "2020-01-01T00:00:00Z",
                "WARC-Filename": name,
                "WARC-Record-ID": rec_id(),
                "Content-Type": "application/warc-fields",
            },
            info,
        )
    )
    for i in range(n_records):
        page = page0 + i
        site = rng.choice(sites)
        scheme = "https" if rng.random() < 0.8 else "http"
        page_url = f"{scheme}://{site}/{rng.choice(WORDS)}/{page}.html"
        base = None
        if rng.random() < mix.base:
            base = f"https://cdn.{site}/assets/" if rng.random() < 0.5 else "/static/"
        if rng.random() < mix.no_links:
            links = None
        else:
            links = _page_links(rng, mix, site, page, links_per_record)
        rec = record(links, page_url=page_url, base=base, filename=name)
        payload = json.dumps(rec, separators=(",", ":")).encode()
        if rng.random() < mix.malformed:
            payload = payload[: len(payload) // 2]
            n_bad += 1
        else:
            parsed.append(rec)
            n_links += len(links or ())
        members.append(
            _warc_record(
                "metadata",
                {
                    "WARC-Target-URI": page_url,
                    "WARC-Date": "2020-01-01T00:00:00Z",
                    "WARC-Record-ID": rec_id(),
                    "Content-Type": "application/json",
                },
                payload,
            )
        )
    data = b"".join(gzip.compress(m, compresslevel=6, mtime=0) for m in members)
    return data, parsed, n_links, n_bad


def generate(
    out_dir: str,
    seed: int,
    archives: int,
    records_per_archive: int,
    document_type: str,
    links_per_record: int = 20,
    mix: Mix = Mix(),
) -> Corpus:
    """Write ``archives`` WAT files into ``out_dir`` and return them.
    The oracle runs archive by archive, so parsed records are never all
    held at once."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    sites = [
        f"site{k}-{rng.randrange(10**6)}{rng.choice(TLDS)}" for k in range(N_SITES)
    ]
    paths: list[str] = []
    pages: list[str] = []
    bases: list[str | None] = []
    uids: set[str] = set()
    n_records = n_kept = n_links = n_bad = gz = 0
    for a in range(archives):
        name = f"CC-MAIN-bench-{seed}-{a:05d}.warc.wat.gz"
        arng = random.Random(f"{seed}:{a}")
        data, parsed, nl, nb = _archive(
            arng, mix, name, sites, records_per_archive, links_per_record,
            page0=a * records_per_archive,
        )
        path = os.path.join(out_dir, name)
        with open(path, "wb") as f:
            f.write(data)
        paths.append(path)
        rows = oracle_extract(parsed, document_type)
        uids.update(r[0] for r in rows)
        n_kept += len(rows)
        for rec in parsed:
            env = rec["Envelope"]
            pages.append(env["WARC-Header-Metadata"]["WARC-Target-URI"])
            bases.append(
                env["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"]
                ["Head"]["Base"]
            )
        n_records += len(parsed)
        n_links += nl
        n_bad += nb
        gz += len(data)
    expected = {"links_kept": n_kept, "uids": len(uids), "uid_digest": uid_digest(uids)}
    return Corpus(paths, n_records, n_links, n_bad, gz, expected, pages, bases)
