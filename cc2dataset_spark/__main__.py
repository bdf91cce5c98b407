"""CLI (SURVEY.md §2.11 X8 — the reference's entry point is broken by a
missing ``import fire``, main.py:390-391; this one is argparse and
works).

Usage:
  python -m cc2dataset_spark pipeline --output-path OUT --wat-paths f1 f2 ...
  python -m cc2dataset_spark query QUERY_NAME [--sf-dir DIR]
  python -m cc2dataset_spark list-queries
  python -m cc2dataset_spark verify [NAME ...] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="cc2dataset_spark")
    sub = p.add_subparsers(dest="command", required=True)

    pipe = sub.add_parser("pipeline", help="run the WAT extraction pipeline")
    pipe.add_argument("--output-path", required=True)
    pipe.add_argument("--wat-paths", nargs="+", required=True)
    pipe.add_argument(
        "--document-type",
        default="image",
        choices=["image", "image_only", "audio", "text", "video"],
    )
    pipe.add_argument("--multipart", type=int, default=None)
    pipe.add_argument("--resume", default=None)
    pipe.add_argument("--no-shuffle", action="store_true")
    pipe.add_argument("--master", default=None)
    pipe.add_argument("--num-cores", type=int, default=None)
    pipe.add_argument("--mem-gb", type=int, default=None)

    q = sub.add_parser("query", help="run one catalog query and show it")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--explain", action="store_true")

    sub.add_parser("list-queries", help="list catalog queries")

    v = sub.add_parser(
        "verify",
        help="run catalog queries against their DuckDB oracles "
        "(differential correctness, same comparison as the test suite)",
    )
    v.add_argument(
        "names",
        nargs="*",
        help="query names (default: every oracle-backed query)",
    )
    v.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    if args.command == "list-queries":
        from cc2dataset_spark.plans.catalog import QUERIES, _load_all

        _load_all()
        for name in sorted(QUERIES):
            q = QUERIES[name]
            kind = "oracle" if q.oracle else "rows-only"
            print(f"{name}\t[{kind}]\t{q.doc.splitlines()[0] if q.doc else ''}")
        return 0

    from cc2dataset_spark.session import build_spark_session

    if args.command == "verify":
        from cc2dataset_spark.plans.catalog import QUERIES, _load_all

        try:
            # the differential harness ships with the repo, not the
            # wheel — verify is a repo-checkout tool
            from tests.oracle_harness import compare, duckdb_conn
        except ImportError:
            print(
                "verify needs the repo checkout on sys.path "
                "(tests/oracle_harness.py)",
                file=sys.stderr,
            )
            return 2

        _load_all()
        names = args.names or sorted(
            n for n, q in QUERIES.items() if q.oracle is not None
        )
        unknown = [n for n in names if n not in QUERIES]
        if unknown:
            print(f"unknown queries: {unknown}", file=sys.stderr)
            return 2
        spark = build_spark_session(master="local[*]")
        con = duckdb_conn(args.sf_dir)
        failed = 0
        checked = 0
        for name in names:
            q = QUERIES[name]
            if q.oracle is None:
                print(f"{name}\tSKIP (rows-only)")
                continue
            try:
                compare(q.fn(spark, args.sf_dir), con, q.oracle, name=name)
                checked += 1
                print(f"{name}\tOK")
            except AssertionError as ex:
                failed += 1
                print(f"{name}\tFAIL\t{str(ex)[:200]}")
            except Exception as ex:  # noqa: BLE001 - sweep must finish
                # an AnalysisException / DuckDB binder error in ONE
                # query must not abort the sweep: report it as a
                # failure and keep checking the rest
                failed += 1
                print(f"{name}\tERROR\t{type(ex).__name__}: {str(ex)[:180]}")
        print(
            f"verified {checked} queries, {failed} failed, "
            f"{len(names) - checked - failed} skipped (rows-only)"
        )
        return 1 if failed else 0

    if args.command == "query":
        from cc2dataset_spark.plans.catalog import QUERIES, _load_all

        _load_all()
        if args.name not in QUERIES:
            import difflib

            close = difflib.get_close_matches(args.name, QUERIES, n=3)
            hint = f" (did you mean: {', '.join(close)}?)" if close else ""
            print(f"unknown query {args.name!r}{hint}", file=sys.stderr)
            return 2
        spark = build_spark_session(master="local[*]")
        df = QUERIES[args.name].fn(spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        df.show(args.limit, truncate=False)
        return 0

    if args.command == "pipeline":
        from cc2dataset_spark.pipeline import cc2dataset

        spark = build_spark_session(
            master=args.master, num_cores=args.num_cores, mem_gb=args.mem_gb
        )
        n = cc2dataset(
            spark,
            args.output_path,
            args.wat_paths,
            document_type=args.document_type,
            multipart=args.multipart,
            shuffle=not args.no_shuffle,
            resume=args.resume,
        )
        print(f"rows written: {n}")
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
