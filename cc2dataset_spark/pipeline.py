"""End-to-end cc2dataset pipeline orchestration (SURVEY.md §2.11).

Re-expression of the reference's job layer (X1-X8,
/root/reference/cc2dataset/main.py:254-395): dedup/shuffle/write block,
multipart staging with union-merge, manifest + _SUCCESS resume, job-id
namespacing. Differences are physics, not semantics:

- The reference chains THREE shuffles (dropDuplicates -> sort(rand())
  -> repartition, main.py:256-260) and the repartition destroys the
  sort order anyway (§2.6 O2). We do TWO: the dedup exchange, then a
  single `repartition(n, xxhash64(uid, seed))` that both decorrelates
  rows and controls output file count.
- Multipart merge reads all parts with one multi-path parquet scan
  instead of a driver-side union fold (main.py:320-327).
- The dataset is written as zstd parquet (a write option; the caller's
  session conf is untouched), about a third smaller than Spark's
  default snappy: the md5-hex uid and the URLs need entropy coding.
- The returned row count is observed on the frame being written, in
  the write's own pass; the reference re-reads the written files to
  count them (main.py:254-266), which costs three more Spark jobs.
"""

from __future__ import annotations

import os
import posixpath
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cc2dataset_spark.operators.extraction import extract_document_links
from cc2dataset_spark.sources.wat import read_wat_archives

DEFAULT_MIN_FILES = 256
WATS_PER_FILE = 500


def output_file_count(wat_count: int, min_files: int = DEFAULT_MIN_FILES) -> int:
    """Reference sizing: >=256 files, ~1 per 500 WATs (main.py:260)."""
    return max(min_files, wat_count // WATS_PER_FILE)


def deduplicate_repartition_write(
    df: DataFrame,
    output_path: str,
    wat_count: int,
    shuffle: bool = True,
    seed: int = 42,
    min_files: int = DEFAULT_MIN_FILES,
) -> int:
    """Dedup by uid, optionally decorrelate row placement, write
    zstd parquet, return the written row count (main.py:254-266).

    The count is an ``Observation`` on the frame being written: the
    write pass counts its own rows, nothing is read back.

    Single post-dedup exchange: `repartition(n, xxhash64(uid, seed))`
    hashes a seeded key — rows scatter uniformly across n files (the
    decorrelation the reference wanted from sort(rand())) without a
    range-sort shuffle. The scatter key is a DETERMINISTIC function of
    the row, never `rand()`: hash-partitioning on a nondeterministic
    expression is the SPARK-23207 failure class — a fetch-failure
    retry re-evaluates rand() over a differently-ordered partition
    and rows silently duplicate or vanish. (Spark's own round-robin
    repartition(n) guards itself with a local sort for exactly this
    reason; a rand() partition key has no such guard.) xxhash64 of the
    just-deduped uid is unique per row, so the spread is as uniform as
    rand()'s, and a retry reproduces identical assignments.
    """
    uniques = df.dropDuplicates(["uid"])
    n = output_file_count(wat_count, min_files)
    if shuffle:
        repartitioned = uniques.repartition(
            n, F.xxhash64(F.col("uid"), F.lit(seed))
        )
    else:
        repartitioned = uniques.repartition(n)
    written = Observation()
    (
        repartitioned.observe(written, F.count(F.lit(1)).alias("rows"))
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(output_path)
    )
    return written.get["rows"]


def job_id(now: datetime | None = None) -> str:
    """%Y-%m-%d-%H-%M-%S job namespace (main.py:332-333)."""
    now = now or datetime.now(timezone.utc)
    return now.strftime("%Y-%m-%d-%H-%M-%S")


# All job-level IO goes through the shared fsio routing (fsspec when
# installed, a local shim otherwise, registered fakes first) so output
# paths may live on any filesystem Spark can write to (s3a://, gs://,
# hdfs://, local). The reference does the same (main.py:290-296,
# 376-380); plain os.* here would silently write the manifest to a
# literal "s3a:" directory on the driver's local disk and resume would
# never see _SUCCESS markers. The two names below are thin aliases —
# fsio.py is the single implementation (the sinks route through it
# too).
from cc2dataset_spark.fsio import fs_for as _fs_for
from cc2dataset_spark.fsio import join as _join


def _write_manifest(path: str, wat_paths) -> None:
    """Write one path per line, streaming — accepts any iterable so a
    caller-side generator never materializes on the driver here."""
    fs, p = _fs_for(path)
    fs.makedirs(posixpath.dirname(p), exist_ok=True)
    with fs.open(p, "w", encoding="utf8") as f:
        first = True
        for w in wat_paths:
            if not first:
                f.write("\n")
            f.write(w)
            first = False


def _stream_manifest(path: str):
    """Yield manifest lines one at a time — the full-crawl WAT index
    is ~5M paths (hundreds of MB as a Python list); the multipart
    loop only ever needs one part's slice, so nothing here may hold
    the whole file."""
    fs, p = _fs_for(path)
    with fs.open(p, "r", encoding="utf8") as f:
        for line in f:
            line = line.strip()
            if line:
                yield line


def _manifest_len(path: str) -> int:
    return sum(1 for _ in _stream_manifest(path))


def _read_manifest_slice(path: str, start: int, stop: int) -> list[str]:
    """Materialize only manifest lines [start, stop) — O(stop) line
    scans, O(stop - start) memory. Re-reading the file per part costs
    one driver-side text pass each, which is noise next to the part's
    Spark job; holding 5M strings for the whole run is not."""
    out: list[str] = []
    for i, line in enumerate(_stream_manifest(path)):
        if i >= stop:
            break
        if i >= start:
            out.append(line)
    return out


def _read_manifest(path: str) -> list[str]:
    return list(_stream_manifest(path))


def _part_has_success(output_path: str, part: int) -> bool:
    fs, p = _fs_for(_join(output_path, f"part_{part}", "_SUCCESS"))
    return fs.exists(p)


def last_successful_part(output_path: str) -> int:
    """Resume point: highest part_{i} bearing a _SUCCESS marker
    (main.py:290-296). Returns -1 when none."""
    fs, p = _fs_for(output_path)
    last = -1
    for marker in fs.glob(_join(p, "part_*", "_SUCCESS")):
        name = posixpath.basename(posixpath.dirname(marker))
        try:
            last = max(last, int(name.split("_")[1]))
        except ValueError:
            continue
    return last


def process_part(
    spark: SparkSession,
    wat_paths: list[str],
    output_path: str,
    document_type: str,
    shuffle: bool = True,
    seed: int = 42,
    min_files: int = DEFAULT_MIN_FILES,
) -> int:
    """X1 — one part: archives -> extraction -> dedup -> write."""
    wat_df = read_wat_archives(spark, wat_paths)
    extracted = extract_document_links(wat_df, document_type)
    return deduplicate_repartition_write(
        extracted,
        output_path,
        wat_count=len(wat_paths),
        shuffle=shuffle,
        seed=seed,
        min_files=min_files,
    )


def merge_parts(
    spark: SparkSession,
    part_paths: list[str],
    merged_path: str,
    wat_count: int,
    shuffle: bool = True,
    seed: int = 42,
    min_files: int = DEFAULT_MIN_FILES,
) -> int:
    """X2 merge — one multi-path scan of all parts (U1) + global dedup
    + write. Strictly fewer stages than a union fold."""
    merged = spark.read.parquet(*part_paths)
    return deduplicate_repartition_write(
        merged,
        merged_path,
        wat_count=wat_count,
        shuffle=shuffle,
        seed=seed,
        min_files=min_files,
    )


def cc2dataset(
    spark: SparkSession,
    output_path: str,
    wat_paths: list[str],
    document_type: str = "image",
    multipart: int | None = None,
    shuffle: bool = True,
    resume: str | None = None,
    seed: int = 42,
    min_files: int = DEFAULT_MIN_FILES,
    session_factory=None,
) -> int:
    """Full pipeline (X1-X5, main.py:336-387): job-namespaced output,
    manifest, optional multipart with resume, final merge. Returns the
    final dataset row count. ``wat_paths`` comes from
    sources.wat.read_wat_index (separated so hermetic tests can inject
    local paths — the reference hardwires network listing).

    ``session_factory`` (optional, () -> SparkSession): when set, each
    part runs on a FRESH session — the active one is stopped first —
    bounding executor-memory creep across parts exactly like the
    reference's per-part session restart (X4, main.py:364-371 and
    HISTORY.md:21).
    """

    def next_session(current: SparkSession) -> SparkSession:
        if session_factory is None:
            return current
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        return session_factory()
    if resume is not None and multipart is None:
        raise ValueError("resume requires multipart")
    job_path = resume if resume else _join(output_path, job_id())
    manifest = _join(job_path, "_wat_index_files.txt")
    if resume:
        # Resume never materializes the index: the loop below streams
        # each part's slice from the on-disk manifest, so the driver
        # holds at most one chunk of paths (~n/multipart) at a time —
        # at full crawl (~5M paths) the reference's whole-list read
        # (main.py:237-251) costs hundreds of driver MB for paths
        # whose parts are mostly already _SUCCESS-marked.
        wat_paths = None
        n_paths = _manifest_len(manifest)
    else:
        # Materialize once: callers may hand a generator, and both the
        # single-part flow (process_part consumes it BEFORE the
        # manifest write) and the multipart flow (manifest + part
        # slices) read it more than once — an exhausted iterator would
        # silently write an empty manifest. The list is dropped right
        # after the manifest write below, so driver memory stays
        # bounded by one full index exactly once, never per-part.
        wat_paths = list(wat_paths)
        n_paths = len(wat_paths)

    if multipart is None:
        # Parquet overwrite clears the job dir, so the manifest is
        # written after the data (underscore prefix so Hadoop ignores it in scans) for single-part jobs (the reference
        # writes it first and loses it to the overwrite —
        # main.py:376-377 vs main.py:261).
        n = process_part(
            spark,
            wat_paths,
            job_path,
            document_type,
            shuffle,
            seed,
            min_files,
        )
        _write_manifest(manifest, wat_paths)
        return n
    # The part count IS part of the on-disk layout: chunk boundaries
    # derive from it, while the resume point derives from _SUCCESS
    # markers — resuming with a DIFFERENT multipart recomputes chunk
    # from the new value against markers from the old one, silently
    # skipping (or re-processing) WAT ranges. Persist it with the
    # manifest and refuse a mismatched resume.
    mp_marker = _join(job_path, "_multipart.txt")
    if not resume:
        _write_manifest(manifest, wat_paths)
        _write_manifest(mp_marker, [str(multipart)])
        # From here every flow is manifest-driven: drop the in-memory
        # list so driver memory stays flat (one chunk at a time)
        # across the part loop regardless of index size.
        wat_paths = None
    else:
        fs, p = _fs_for(mp_marker)
        if fs.exists(p):
            recorded = int(_read_manifest(mp_marker)[0])
            if recorded != multipart:
                raise ValueError(
                    f"resume with multipart={multipart} but the job was "
                    f"started with multipart={recorded}: chunk boundaries "
                    "would shift and WAT ranges would be silently skipped "
                    f"or duplicated — pass multipart={recorded}"
                )

    chunk = (n_paths + multipart - 1) // multipart
    start_part = last_successful_part(job_path) + 1 if resume else 0
    for i in range(start_part, multipart):
        part_wats = _read_manifest_slice(
            manifest, i * chunk, (i + 1) * chunk
        )
        if not part_wats:
            continue
        spark = next_session(spark)
        process_part(
            spark,
            part_wats,
            _join(job_path, f"part_{i}"),
            document_type,
            shuffle,
            seed,
            min_files,
        )
    spark = next_session(spark)
    part_paths = [
        _join(job_path, f"part_{i}")
        for i in range(multipart)
        if _part_has_success(job_path, i)
    ]
    return merge_parts(
        spark,
        part_paths,
        _join(job_path, "merged"),
        wat_count=n_paths,
        shuffle=shuffle,
        seed=seed,
        min_files=min_files,
    )
