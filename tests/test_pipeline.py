"""Hermetic pipeline tests (X1-X5): dedup/write block, multipart merge,
resume, and the invariants implied by the reference
(/root/reference/cc2dataset/main.py:254-329): dedup idempotence and
multipart-merge == single-part on the same input. Every test reads real
WAT archives through the production reader, ``read_wat_archives``."""

import importlib.util
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from cc2dataset_spark import pipeline
from cc2dataset_spark.operators.extraction import extract_document_links
from cc2dataset_spark.sources.wat import read_wat_archives
from tests.wat_fixtures import FIXTURE_RECORDS, oracle_extract, payload, write_wat_archive


@pytest.fixture(scope="module")
def wat_archives(tmp_path_factory):
    """Two gzipped WAT archives holding the fixture records between
    them."""
    d = tmp_path_factory.mktemp("wats")
    return [
        write_wat_archive(d / f"wat_{i}.warc.wat.gz", [payload(r) for r in chunk])
        for i, chunk in enumerate([FIXTURE_RECORDS[:3], FIXTURE_RECORDS[3:]])
    ]


def _expected_unique_uids(document_type="image"):
    return {t[0] for t in oracle_extract(FIXTURE_RECORDS, document_type)}


def _data_files(path):
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if not f.startswith(("_", "."))
    )


def _column_codecs(path):
    """Every column chunk's codec over the data files in ``path``."""
    codecs = set()
    for f in _data_files(path):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            codecs |= {rg.column(c).compression for c in range(rg.num_columns)}
    return codecs


@pytest.fixture
def no_read_back(monkeypatch):
    """Make any parquet read through the DataFrame API fail."""

    def refuse(self, *paths, **options):
        raise AssertionError(f"parquet read back from {paths}")

    monkeypatch.setattr(DataFrameReader, "parquet", refuse)


def test_pipeline_on_real_warc_archive(spark, tmp_path):
    """End-to-end on the REAL gzipped WARC fixture — the archive path
    (stdlib parser here; fastwarc where installed) feeding the full
    extract -> dedup -> write -> count pipeline, matching the
    reference's single-WAT golden test shape
    (/root/reference/tests/test_single_warc.py:22-54)."""
    from tests.fixtures.build_tiny_wat import FIXTURE_PATH

    out = str(tmp_path / "warc_out")
    n = pipeline.cc2dataset(
        spark, out, [FIXTURE_PATH], document_type="image", min_files=1
    )
    assert n == len(_expected_unique_uids())
    job = os.path.join(out, os.listdir(out)[0])
    written = spark.read.parquet(job)
    assert {r.uid for r in written.select("uid").collect()} == (
        _expected_unique_uids()
    )


def test_single_part_pipeline(spark, tmp_path, wat_archives):
    out = str(tmp_path / "out")
    n = pipeline.cc2dataset(
        spark, out, wat_archives, document_type="image", min_files=4
    )
    assert n == len(_expected_unique_uids())
    job_dirs = os.listdir(out)
    assert len(job_dirs) == 1  # job-id namespace (X5)
    job = os.path.join(out, job_dirs[0])
    assert os.path.exists(os.path.join(job, "_wat_index_files.txt"))
    written = spark.read.parquet(job)
    assert sorted(written.columns) == ["alt", "cc_filename", "page_url", "uid", "url"]
    assert {r.uid for r in written.select("uid").collect()} == _expected_unique_uids()


def test_multipart_equals_single_part(spark, tmp_path, wat_archives):
    single = str(tmp_path / "single")
    multi = str(tmp_path / "multi")
    n1 = pipeline.cc2dataset(spark, single, wat_archives, document_type="image", min_files=2)
    n2 = pipeline.cc2dataset(
        spark, multi, wat_archives, document_type="image", multipart=2, min_files=2
    )
    assert n1 == n2 == len(_expected_unique_uids())
    job = os.path.join(multi, os.listdir(multi)[0])
    merged = spark.read.parquet(os.path.join(job, "merged"))
    assert {r.uid for r in merged.select("uid").collect()} == _expected_unique_uids()


def test_resume_skips_completed_parts(spark, tmp_path, wat_archives, monkeypatch):
    out = str(tmp_path / "resume")
    pipeline.cc2dataset(spark, out, wat_archives, document_type="image", multipart=2, min_files=2)
    job = os.path.join(out, os.listdir(out)[0])
    assert pipeline.last_successful_part(job) == 1

    calls = []
    real = pipeline.process_part

    def counting(spark_, paths, outp, *a, **kw):
        calls.append(outp)
        return real(spark_, paths, outp, *a, **kw)

    monkeypatch.setattr(pipeline, "process_part", counting)
    n = pipeline.cc2dataset(
        spark, out, wat_archives, document_type="image", multipart=2, resume=job, min_files=2
    )
    assert calls == []  # both parts had _SUCCESS; only the merge re-ran
    assert n == len(_expected_unique_uids())


def test_resume_requires_multipart(spark, tmp_path, wat_archives):
    with pytest.raises(ValueError, match="resume requires multipart"):
        pipeline.cc2dataset(spark, str(tmp_path), wat_archives, resume="x")


def test_dedup_idempotent(spark, wat_archives):
    df = extract_document_links(read_wat_archives(spark, wat_archives), "image_only")
    once = df.dropDuplicates(["uid"])
    assert once.count() == once.dropDuplicates(["uid"]).count()


def test_output_file_count_floor():
    assert pipeline.output_file_count(10) == 256
    assert pipeline.output_file_count(500 * 300) == 300


def test_shuffle_scatter_is_deterministic(spark, tmp_path, wat_archives):
    """The decorrelating scatter key must be a deterministic function
    of the row (xxhash64(uid, seed)), NEVER rand(): hash-partitioning
    on a nondeterministic expression is the SPARK-23207 class — a
    fetch-failure retry re-evaluates the RNG over reordered input and
    rows silently duplicate or vanish under real-cluster stage
    retries. Locally observable proxy: two runs over the same input
    place every row in the same output file."""
    wat_df = read_wat_archives(spark, wat_archives)
    extracted = extract_document_links(wat_df, "image")

    def placement(out):
        pipeline.deduplicate_repartition_write(
            extracted, str(out), wat_count=2, shuffle=True, min_files=8
        )
        files = sorted(
            f for f in os.listdir(out) if f.endswith(".parquet")
        )
        return [
            frozenset(
                r.uid for r in spark.read.parquet(str(out / f)).collect()
            )
            for f in files
        ]

    a = placement(tmp_path / "a")
    b = placement(tmp_path / "b")
    assert a == b
    assert sum(len(s) for s in a) == len(_expected_unique_uids("image"))
    # and the plan really carries no nondeterministic expression
    n = pipeline.output_file_count(2, 8)
    from pyspark.sql import functions as F

    plan = extracted.dropDuplicates(["uid"]).repartition(
        n, F.xxhash64(F.col("uid"), F.lit(42))
    )._jdf.queryExecution().analyzed().toString()
    assert "rand(" not in plan


def test_written_files_are_zstd(spark, tmp_path, wat_archives):
    """process_part and merge_parts both write every column chunk of
    every data file with zstd."""
    part = str(tmp_path / "part")
    merged = str(tmp_path / "merged")
    n = pipeline.process_part(spark, wat_archives, part, "image", min_files=4)
    m = pipeline.merge_parts(spark, [part], merged, wat_count=2, min_files=4)
    assert n == m == len(_expected_unique_uids())
    for path in (part, merged):
        assert len(_data_files(path)) == 4
        assert _column_codecs(path) == {"ZSTD"}


@pytest.mark.parametrize("shuffle", [True, False])
def test_write_counts_rows_without_reading_back(
    spark, tmp_path, wat_archives, no_read_back, shuffle
):
    """The returned count comes from the write pass itself: no parquet
    read during the call, and it equals the rows on disk."""
    extracted = extract_document_links(read_wat_archives(spark, wat_archives), "image")
    out = str(tmp_path / "out")
    n = pipeline.deduplicate_repartition_write(
        extracted, out, wat_count=2, shuffle=shuffle, min_files=4
    )
    on_disk = pq.read_table(_data_files(out)).column("uid").to_pylist()
    assert n == len(on_disk) == len(_expected_unique_uids("image"))
    assert set(on_disk) == _expected_unique_uids("image")
    assert len(_data_files(out)) == 4


def test_write_of_empty_input_returns_zero(
    spark, tmp_path, wat_archives, no_read_back
):
    extracted = extract_document_links(read_wat_archives(spark, wat_archives), "image")
    out = str(tmp_path / "empty")
    n = pipeline.deduplicate_repartition_write(
        extracted.where(F.lit(False)), out, wat_count=2, min_files=4
    )
    assert n == 0
    table = pq.read_table(_data_files(out))
    assert table.num_rows == 0
    assert table.column_names == extracted.columns


def test_parquet_bytes_tool(spark, tmp_path, wat_archives):
    """tools/parquet_bytes.py accounts for every byte of a written
    dataset: per-column plus non-column bytes add up to the files."""
    out = str(tmp_path / "out")
    n = pipeline.process_part(spark, wat_archives, out, "image", min_files=4)
    tool = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "parquet_bytes.py",
    )
    spec = importlib.util.spec_from_file_location("parquet_bytes", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    s = mod.summarize(out)
    assert s["rows"] == n and s["files"] == 4
    assert s["codecs"] == ["ZSTD"]
    assert list(s["column_bytes"]) == [
        "uid", "url", "alt", "cc_filename", "page_url"
    ]
    assert s["non_column_bytes"] > 0
    assert sum(s["column_bytes"].values()) + s["non_column_bytes"] == sum(
        os.path.getsize(f) for f in _data_files(out)
    )
    printed = subprocess.run(
        [sys.executable, tool, out], capture_output=True, text=True, check=True
    ).stdout
    assert f"rows        {n}\n" in printed
    assert "codecs      ZSTD\n" in printed
    assert "  uid " in printed and "(non-column)" in printed


def test_resume_rejects_changed_multipart(spark, tmp_path, wat_archives):
    """r8 regression: chunk boundaries derive from multipart while the
    resume point derives from _SUCCESS markers — resuming a job with a
    DIFFERENT multipart would silently skip/duplicate WAT ranges, so
    it must refuse loudly (and still resume fine with the recorded
    value)."""
    out = str(tmp_path / "resume_mp")
    pipeline.cc2dataset(
        spark, out, wat_archives, document_type="image", multipart=2,
        min_files=2,
    )
    job = os.path.join(out, os.listdir(out)[0])
    with pytest.raises(ValueError, match="multipart=2"):
        pipeline.cc2dataset(
            spark, out, wat_archives, document_type="image", multipart=3,
            resume=job, min_files=2,
        )
    # the recorded value still resumes
    n = pipeline.cc2dataset(
        spark, out, wat_archives, document_type="image", multipart=2,
        resume=job, min_files=2,
    )
    assert n == len(_expected_unique_uids())


@pytest.mark.slow
def test_multipart_streams_manifest_slices(
    spark, tmp_path, wat_archives, monkeypatch
):
    """r9: the multipart loop must drive itself from per-part manifest
    slices — at full crawl the WAT index is ~5M paths, and holding the
    whole list on the driver for the entire run (reference
    main.py:237-251) costs hundreds of MB for paths whose parts may
    already be _SUCCESS-marked. Contract: every part's source call
    receives exactly its chunk of the manifest (order-preserving,
    covering, disjoint), and the full manifest is NEVER materialized
    after the initial write — not on the first run, not on resume. The
    100,000 synthetic paths go to a recorder standing in for the reader,
    which returns a read of the real archives."""
    out = str(tmp_path / "streamed")
    n_paths, mp = 100_000, 4
    fake = [f"synthetic/wat_{i:06d}.gz" for i in range(n_paths)]
    calls = []

    def recording_source(s, paths):
        calls.append((paths[0], paths[-1], len(paths)))
        return read_wat_archives(s, wat_archives)

    monkeypatch.setattr(pipeline, "read_wat_archives", recording_source)
    real_read = pipeline._read_manifest

    def guarded(path):
        rows = real_read(path)
        assert len(rows) <= 1, (
            f"full manifest materialized on the driver: {path}"
        )
        return rows

    monkeypatch.setattr(pipeline, "_read_manifest", guarded)
    n = pipeline.cc2dataset(
        spark, out, fake, document_type="image", multipart=mp, min_files=1
    )
    assert n == len(_expected_unique_uids())
    chunk = (n_paths + mp - 1) // mp
    assert [c[2] for c in calls] == [chunk] * mp
    assert [c[0] for c in calls] == [
        f"synthetic/wat_{i * chunk:06d}.gz" for i in range(mp)
    ]
    assert [c[1] for c in calls] == [
        f"synthetic/wat_{min((i + 1) * chunk, n_paths) - 1:06d}.gz"
        for i in range(mp)
    ]
    # resume with every part complete: merge only, zero source calls,
    # manifest length streamed (not read whole — guarded above)
    calls.clear()
    job = os.path.join(out, os.listdir(out)[0])
    n2 = pipeline.cc2dataset(
        spark, out, fake, document_type="image", multipart=mp,
        resume=job, min_files=1
    )
    assert n2 == n and calls == []


def test_manifest_slice_memory_flat(tmp_path):
    """_read_manifest_slice must stream: peak allocation is bounded by
    the slice, not the manifest (100k paths here, ~5M at full crawl)."""
    import tracemalloc

    m = str(tmp_path / "manifest.txt")
    with open(m, "w", encoding="utf8") as f:
        for i in range(100_000):
            f.write(f"s3a://bucket/crawl-data/wat_{i:06d}.warc.wat.gz\n")
    file_bytes = os.path.getsize(m)
    tracemalloc.start()
    sl = pipeline._read_manifest_slice(m, 50_000, 51_000)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert len(sl) == 1_000
    assert sl[0].endswith("wat_050000.warc.wat.gz")
    assert sl[-1].endswith("wat_050999.warc.wat.gz")
    assert peak < file_bytes / 4, (
        f"slice read allocated {peak}B against a {file_bytes}B manifest"
    )
    assert pipeline._manifest_len(m) == 100_000
