"""CSV/JSON source roundtrips (S15) + CLI surface (X8)."""

from cc2dataset_spark.__main__ import main
from cc2dataset_spark.sources.files import read_csv, read_json, write_csv, write_json
from cc2dataset_spark.sources.tables import load_table


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    p = str(tmp_path / "docs_csv")
    write_csv(docs, p)
    back = read_csv(spark, p, "doc_id bigint, lang string, n_chars bigint")
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in docs.collect()}


def test_json_roundtrip(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    p = str(tmp_path / "ev_json")
    write_json(ev, p)
    back = read_json(spark, p, "event_id bigint, event_type string, value double")
    assert back.count() == ev.count()
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in ev.collect()}


def test_cli_list_queries(capsys):
    assert main(["list-queries"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out
    assert "[oracle]" in out
    assert "dedup_minhash_neardup" in out


def test_pipeline_session_restart(spark, tmp_path, monkeypatch):
    """session_factory is invoked per part + once for the merge."""
    from cc2dataset_spark import pipeline
    from tests.wat_fixtures import FIXTURE_RECORDS, payload, write_wat_archive

    p = write_wat_archive(tmp_path / "w.warc.wat.gz", map(payload, FIXTURE_RECORDS))
    calls = []

    def factory():
        calls.append(1)
        return spark  # reuse the test session; stopping is skipped below

    monkeypatch.setattr(
        pipeline.SparkSession, "getActiveSession", staticmethod(lambda: None)
    )
    n = pipeline.cc2dataset(
        spark,
        str(tmp_path / "out"),
        [p, p],
        multipart=2,
        min_files=2,
        session_factory=factory,
    )
    assert n > 0
    assert len(calls) == 3  # part_0, part_1, merge


def test_cli_pipeline_on_archive(spark, tmp_path, monkeypatch):
    """`pipeline` runs the whole CLI path end-to-end on a WAT archive
    (session builder patched to the test session)."""
    import cc2dataset_spark.__main__ as cli
    from tests.wat_fixtures import FIXTURE_RECORDS, oracle_extract, payload, write_wat_archive

    p = write_wat_archive(tmp_path / "w.warc.wat.gz", map(payload, FIXTURE_RECORDS))
    import cc2dataset_spark.session as session_mod

    monkeypatch.setattr(
        session_mod, "build_spark_session", lambda **kw: spark
    )
    rc = cli.main(
        [
            "pipeline",
            "--output-path",
            str(tmp_path / "out"),
            "--wat-paths",
            p,
        ]
    )
    assert rc == 0
    import glob as _glob

    written = spark.read.parquet(*_glob.glob(str(tmp_path / "out" / "*")))
    want = {t[0] for t in oracle_extract(FIXTURE_RECORDS, "image")}
    assert {r.uid for r in written.select("uid").collect()} == want


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    from cc2dataset_spark.sources.files import read_orc, write_orc
    from cc2dataset_spark.sources.tables import load_table

    nation = load_table(spark, sf_dir, "nation")
    p = str(tmp_path / "nation_orc")
    write_orc(nation, p)
    back = read_orc(spark, p)
    assert {tuple(r) for r in back.collect()} == {
        tuple(r) for r in nation.collect()
    }


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the partition column must prune at planning time:
    the scan's PartitionFilters carry the predicate and the other
    partitions' files are never read (PartitionCount: 1)."""
    import contextlib
    import io

    from cc2dataset_spark.sources.files import write_partitioned_parquet
    from cc2dataset_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    p = str(tmp_path / "docs_by_lang")
    write_partitioned_parquet(docs, p, ["lang"])
    scan = spark.read.parquet(p).where("lang = 'en'")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scan.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1].splitlines()[0]
    assert scan.count() == docs.where("lang = 'en'").count()


def test_cli_verify_subcommand(capsys):
    assert main(["verify", "q1_pricing_summary", "sample_deterministic"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary\tOK" in out
    assert "0 failed" in out
    assert main(["verify", "no_such_query"]) == 2
