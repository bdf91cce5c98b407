"""Benchmark of the WAT -> deduplicated parquet pipeline.

    python3 perfbench/run.py --workload wat_image --seed 1 --seconds 5 --trace 0

Generates a WAT corpus from ``--seed`` (perfbench/watgen.py), builds a
Spark session on ``local[<cores>]``, runs one warm-up operation, then
runs ``pipeline.cc2dataset`` over the corpus in a closed loop (one
operation at a time, the next sent when the previous one returned)
until ``--seconds`` of operations have been measured.  Every
operation's output is checked against the extraction oracle.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced operations (spans around the calls into each
layer's public functions), then times each layer on its own with the
probes described in perfbench/README.md, and reports the per-layer
metrics.  The last line of standard output is one JSON object; the
full run record (spans, per-operation counters, anchors) is written to
``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import glob
import io
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

WORKLOADS = {
    # high yield: ~45 % image links with alt, 30 % relative, 25 % of
    # image links repeating a site-wide (alt, url) pair
    "wat_image": {"document_type": "image", "archives": 4, "records": 2000, "links": 20},
    # same generator, archives twice as large; ~5 % of links survive,
    # so the read side carries most of the operation
    "wat_text": {"document_type": "text", "archives": 4, "records": 4000, "links": 20},
}
# The catalog queries that run the reference pipeline's operators over
# the generated ``documents`` table: the ``plans`` layer probe.
CATALOG_PROBE = ("cc_extract_image_wat", "cc_domain_stats")
KERNEL_REPS = 3
LAYERS = ("sources", "extraction", "links", "pipeline")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


def build_session(work: str):
    from cc2dataset_spark.session import build_spark_session

    tmp = os.path.join(work, "tmp")
    spark = build_spark_session(
        master=f"local[{cores()}]",
        app_name="perfbench",
        shuffle_partitions=max(32, cores()),
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    owns) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - already gone
                pass
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - hung JVM
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


# ---------------------------------------------------------------------------
# One operation and its output check
# ---------------------------------------------------------------------------


def dataset_dir(out: str) -> str:
    """The job directory ``cc2dataset`` created under ``out``."""
    jobs = glob.glob(os.path.join(out, "*"))
    if len(jobs) != 1:
        raise RuntimeError(f"expected one job directory under {out}, got {jobs}")
    return jobs[0]


def read_output(path: str) -> dict:
    """Rows, uid digest, parquet files and bytes of a written dataset."""
    import pyarrow.parquet as pq
    from watgen import uid_digest

    files = [
        f for f in glob.glob(os.path.join(path, "*"))
        if not os.path.basename(f).startswith(("_", "."))
    ]
    uids = pq.read_table(path, columns=["uid"]).column("uid").to_pylist()
    return {
        "rows": len(uids),
        "distinct": len(set(uids)),
        "uid_digest": uid_digest(uids),
        "files": len(files),
        "bytes": sum(os.path.getsize(f) for f in files),
    }


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cfg = WORKLOADS[args.workload]
        from probe import Tracer

        self.tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.counters = None
        self.failures: list[str] = []

    # -- inputs ---------------------------------------------------------
    def make_inputs(self) -> None:
        import watgen

        c = self.cfg
        t0 = time.perf_counter()
        self.corpus = watgen.generate(
            os.path.join(self.work, "corpus"), self.args.seed,
            c["archives"], c["records"], c["document_type"], c["links"],
        )
        self.expected = self.corpus.expected
        self.inputs_s = time.perf_counter() - t0

    # -- operations -----------------------------------------------------
    def pipeline_op(self, name: str, paths, expected, traced: bool) -> dict:
        from cc2dataset_spark import pipeline

        c = self.cfg
        sc = self.spark.sparkContext
        desc = f"perfbench {self.args.workload} {name}"
        out = os.path.join(self.work, "ops", name)
        rec = {"name": name, "traced": traced, "ok": False}
        sc.setJobDescription(desc)
        self.tracer.enabled = traced
        root = len(self.tracer.spans)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                n = pipeline.cc2dataset(
                    self.spark, out, paths, document_type=c["document_type"]
                )
            rec["wall_s"] = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - a failed operation is counted
            rec["wall_s"] = time.perf_counter() - t0
            rec["error"] = traceback.format_exc(limit=5)
            n = None
        finally:
            self.tracer.enabled = False
            sc.setJobDescription(None)
        if traced:
            rec["self_s"] = self.tracer.self_times(root)
            rec["span_count"] = len(self.tracer.spans) - root
        if n is not None:
            try:
                got = read_output(dataset_dir(out))
                rec["output"] = got
                rec["ok"] = (
                    n == got["rows"] == got["distinct"] == expected["uids"]
                    and got["uid_digest"] == expected["uid_digest"]
                )
                if not rec["ok"]:
                    rec["error"] = f"output mismatch: returned {n}, read {got}, expected {expected}"
            except Exception:  # noqa: BLE001 - unreadable output fails the op
                rec["error"] = traceback.format_exc(limit=5)
        try:
            rec["spark"] = self.counters.for_description(desc)
        except (OSError, ValueError):  # counters never fail the op
            rec["spark"] = None
        shutil.rmtree(out, ignore_errors=True)
        return rec

    # -- phases ---------------------------------------------------------
    def setup(self) -> dict:
        from probe import SparkCounters

        t0 = time.perf_counter()
        self.spark = build_session(self.work)
        t1 = time.perf_counter()
        self.counters = SparkCounters(self.spark)
        # the warm-up is a full operation on the same corpus: it loads
        # classes, starts the Python workers and lets the JIT compile
        # the hot paths at full size (a fresh JVM's first operation
        # costs two to three warm ones); Spark caches nothing across
        # operations, so the timed ones reuse no result of it
        warm = self.pipeline_op("warmup", self.corpus.paths, self.expected, False)
        if not warm["ok"]:
            raise RuntimeError(f"warm-up operation failed: {warm.get('error')}")
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        return {"start_s": t1 - t0, "warmup_s": warm["wall_s"], "warmup": warm}

    def timed(self) -> list[dict]:
        from probe import RssSampler

        ops: list[dict] = []
        measured = 0.0
        with RssSampler(self.jvm_pid) as rss:
            while True:
                i = len(ops)
                traced = bool(self.args.trace) and i % 2 == 1
                op = self.pipeline_op(f"op{i}", self.corpus.paths, self.expected, traced)
                ops.append(op)
                measured += op["wall_s"]
                # traced mode brackets each traced operation with
                # untraced ones (U T U ...), so the overhead estimate
                # cancels the speed-up of later operations
                enough = measured >= self.args.seconds
                if enough and (not self.args.trace or (len(ops) >= 3 and len(ops) % 2)):
                    break
        self.rss_peak_mb = rss.peak
        self.rss_samples = rss.samples
        return ops

    # -- layer probes (traced mode) ---------------------------------------
    def span_s(self, name: str, fn):
        with self.tracer.span(name) as s:
            out = fn()
        sp = self.tracer.spans[s.index]
        return sp["end"] - sp["start"], out

    def kernel(self, name: str, fn) -> float:
        return median(self.span_s(name, fn)[0] for _ in range(KERNEL_REPS))

    def probes(self) -> dict:
        import pandas as pd
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from cc2dataset_spark import pipeline
        from cc2dataset_spark.functions.links import (
            link_predicate,
            resolve_base_udf,
            urljoin_udf,
        )
        from cc2dataset_spark.operators import extraction
        from cc2dataset_spark.sources import wat
        from probe import plan_counts

        spark, sc = self.spark, self.spark.sparkContext
        dt = self.cfg["document_type"]
        paths = self.corpus.paths
        m: dict[str, float] = {}
        self.tracer.enabled = True

        # sources: single-core kernels on one archive
        for k, fn in source_kernels(spark, paths[0]).items():
            m[f"sources.{k}_s"] = self.kernel(f"sources.kernel.{k}", fn)
        m["sources.navigate_s"] = (
            m["sources.reader_s"] - m["sources.warc_frame_s"] - m["sources.json_s"]
        )

        def noop(df, label: str):
            sc.setJobDescription(f"perfbench probe {label}")
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                sc.setJobDescription(None)

        # sources: the Spark scan on its own
        obs = Observation("scan")
        scan_df = wat.read_wat_archives(spark, paths).observe(obs, F.count(F.lit(1)).alias("n"))
        m["sources.scan_s"], _ = self.span_s("sources.scan_noop", lambda: noop(scan_df, "scan"))
        m["sources.records"] = obs.get["n"]
        m["sources.records_per_s"] = m["sources.records"] / m["sources.scan_s"]

        # extraction: scan + extract, minus the scan
        obs = Observation("extract")
        ex_df = extraction.extract_document_links(
            wat.read_wat_archives(spark, paths), dt
        )
        counted = ex_df.observe(obs, F.count(F.lit(1)).alias("n"))
        total, _ = self.span_s("extraction.extract_noop", lambda: noop(counted, "extract"))
        m["extraction.extract_s"] = total - m["sources.scan_s"]
        m["extraction.links_in"] = self.corpus.links
        m["extraction.links_kept"] = obs.get["n"]
        m["extraction.keep_ratio"] = m["extraction.links_kept"] / self.corpus.links
        counts = plan_counts(ex_df)
        m["extraction.source_scans"] = counts["source_scans"]
        m["extraction.python_evals"] = counts["python_evals"]

        # links: the two Python kernels over the workload's own pairs
        H = "Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`"
        with self.tracer.span("links.collect_pairs"):
            rows = (
                wat.read_wat_archives(spark, paths)
                .select(
                    F.explode(f"{H}.Links").alias("link"),
                    F.col("Envelope.`WARC-Header-Metadata`.`WARC-Target-URI`").alias("page"),
                    F.col(f"{H}.Head.Base").alias("base"),
                )
                .where(link_predicate(dt))
                .select("page", "base", F.coalesce("link.url", F.lit("")).alias("url"))
                .collect()
            )
        rel = [r for r in rows if not r.url.startswith(("http://", "https://"))]
        pages = pd.Series(self.corpus.pages)
        bases = pd.Series(self.corpus.bases)
        m["links.resolve_base_s"] = self.kernel(
            "links.kernel.resolve_base", lambda: resolve_base_udf.func(pages, bases)
        )
        rel_base = resolve_base_udf.func(
            pd.Series([r.page for r in rel]), pd.Series([r.base for r in rel])
        )
        rel_url = pd.Series([r.url for r in rel])
        m["links.urljoin_s"] = self.kernel(
            "links.kernel.urljoin", lambda: urljoin_udf.func(rel_base, rel_url)
        )
        m["links.relative_share"] = len(rel) / len(rows) if rows else 0.0

        # pipeline: dedup + write on a pre-written extraction, then merge
        pre = os.path.join(self.work, "probe", "extracted")
        with self.tracer.span("pipeline.prewrite"):
            ex_df.write.mode("overwrite").parquet(pre)
        dw = os.path.join(self.work, "probe", "dedup")
        sc.setJobDescription("perfbench probe dedup_write")
        m["pipeline.dedup_write_s"], rows_out = self.span_s(
            "pipeline.dedup_write",
            lambda: pipeline.deduplicate_repartition_write(
                spark.read.parquet(pre), dw, wat_count=len(paths)
            ),
        )
        written = read_output(dw)
        m["pipeline.dedup_ratio"] = rows_out / m["extraction.links_kept"]
        m["pipeline.files_written"] = written["files"]
        m["pipeline.bytes_written_mb"] = written["bytes"] / (1 << 20)
        m["pipeline.out_bytes_per_row"] = written["bytes"] / rows_out
        sc.setJobDescription("perfbench probe merge")
        m["pipeline.merge_s"], merged_rows = self.span_s(
            "pipeline.merge",
            lambda: pipeline.merge_parts(
                spark, [dw], os.path.join(self.work, "probe", "merged"),
                wat_count=len(paths),
            ),
        )
        sc.setJobDescription(None)
        probe_ok = rows_out == merged_rows == self.expected["uids"]
        if not probe_ok:
            self.failures.append(
                f"pipeline probe rows {rows_out}/{merged_rows} != {self.expected['uids']}"
            )

        # plans: catalog queries over the generated documents table
        m["plans.build_s"], m["plans.exec_s"] = self.catalog_probe()
        self.tracer.enabled = False
        return m

    def catalog_probe(self) -> tuple[float, float]:
        import duckdb
        from cc2dataset_spark.plans.catalog import oracle_sql, queries
        from tests.oracle_harness import compare

        sf_dir = os.path.join(self.work, "catalog")
        docs = write_documents(sf_dir, self.args.seed)
        qs, oracles = queries(), oracle_sql()
        sc = self.spark.sparkContext
        build = exe = 0.0
        frames = {}
        for q in CATALOG_PROBE:
            sc.setJobDescription(f"perfbench probe plans {q}")
            b, df = self.span_s(f"plans.build.{q}", lambda: qs[q](self.spark, sf_dir))
            e, _ = self.span_s(
                f"plans.exec.{q}",
                lambda: df.write.format("noop").mode("overwrite").save(),
            )
            build += b
            exe += e
            frames[q] = df
        sc.setJobDescription(None)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
        for q, df in frames.items():
            try:
                compare(df, con, oracles[q], q)
            except AssertionError as ex:
                self.failures.append(f"catalog probe {q}: {ex}")
        con.close()
        return build, exe


class _CaptureSession:
    """Stands in for a SparkSession so that ``read_wat_archives`` hands
    over the per-archive function it would run on the executors."""

    def __init__(self):
        self.sparkContext = self
        self.fn = None

    def parallelize(self, paths, slices):
        return self

    def flatMap(self, fn):
        self.fn = fn
        return self

    def createDataFrame(self, rdd, schema):
        return None


def source_kernels(spark, path: str) -> dict:
    """Single-core kernels of the default archive source on one archive,
    with the libraries its reader picks: fastwarc and simdjson when
    installed, else the stdlib WARC parser and ``json``.

    ``reader`` is the source's own per-archive function fully consumed.
    If ``read_wat_archives`` no longer exposes one, it falls back to a
    one-archive Spark scan, which adds job overhead."""
    from cc2dataset_spark.sources import wat
    from cc2dataset_spark.sources.warc_fallback import iter_warc_records

    try:
        import simdjson as json_lib
    except ImportError:
        json_lib = json
    try:
        from fastwarc.warc import ArchiveIterator, WarcRecordType

        def payloads(raw):
            for rec in ArchiveIterator(
                io.BytesIO(raw), record_types=WarcRecordType.metadata, parse_http=False
            ):
                yield rec.reader.read()
    except ImportError:
        def payloads(raw):
            for t, _h, p in iter_warc_records(io.BytesIO(raw)):
                if t == "metadata":
                    yield p

    with open(path, "rb") as f:
        raw = f.read()
    docs = list(payloads(raw))

    def frame():
        for _ in payloads(raw):
            pass

    def parse():
        for p in docs:
            try:
                json_lib.loads(p)
            except ValueError:
                pass

    cap = _CaptureSession()
    try:
        wat.read_wat_archives(cap, [path])
    except Exception:  # noqa: BLE001 - the source changed shape
        cap.fn = None
    if cap.fn is not None:
        def read():
            for _ in cap.fn(path):
                pass
    else:
        def read():
            wat.read_wat_archives(spark, [path]).write.format("noop").mode(
                "overwrite"
            ).save()

    return {"warc_frame": frame, "json": parse, "reader": read}


def write_documents(sf_dir: str, seed: int, n: int = 500) -> str:
    """The catalog's ``documents`` table (FIXTURES.md schema), from the
    seed: ``n`` word-salad documents over 20 sources and 5 languages."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from watgen import WORDS

    rng = random.Random(f"documents:{seed}")
    texts = [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 80)))
        for _ in range(n)
    ]
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(("en", "en", "de", "fr", "zh")) for _ in range(n)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def end_to_end(r: Runner, ops: list[dict], setup: dict) -> dict:
    plain = [o for o in ops if not o["traced"]]
    wall = median(o["wall_s"] for o in plain)
    per_row = median(
        o["output"]["bytes"] / o["output"]["rows"] for o in plain if o.get("output")
    )
    return {
        "wall_s": (wall, "s"),
        "setup_s": (setup["start_s"] + setup["warmup_s"], "s"),
        "links_per_core_s": (r.corpus.links / (wall * cores()), "links/core/s"),
        "out_bytes_per_row": (per_row, "B/row"),
        "worker_peak_rss_mb": (r.rss_peak_mb, "MB"),
    }


SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "task_run_s": "s", "scan_stage_task_s": "s", "post_scan_task_s": "s",
    "scan_stage_wall_s": "s", "task_cpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "input_mb": "MB", "output_mb": "MB",
}
PROBE_UNITS = {
    "sources.records": "count", "sources.records_per_s": "1/s",
    "extraction.links_in": "count", "extraction.links_kept": "count",
    "extraction.keep_ratio": "ratio", "extraction.source_scans": "count",
    "extraction.python_evals": "count", "links.relative_share": "ratio",
    "pipeline.dedup_ratio": "ratio", "pipeline.files_written": "count",
    "pipeline.bytes_written_mb": "MB", "pipeline.out_bytes_per_row": "B/row",
}


def per_layer(r: Runner, ops: list[dict], setup: dict, probes: dict) -> dict:
    from probe import span_cost_s

    m: dict[str, tuple] = {}
    for k, v in probes.items():
        m[k] = (v, PROBE_UNITS.get(k, "s"))
    plain = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]
    counted = [o["spark"] for o in plain if o.get("spark")]
    if not counted:
        raise RuntimeError("no Spark counters could be read from the UI REST API")
    for k, unit in SPARK_UNITS.items():
        m[f"spark.{k}"] = (median(c[k] for c in counted), unit)
    wall = median(o["wall_s"] for o in plain)
    m["spark.core_util"] = (
        median(c["task_run_s"] for c in counted) / (wall * cores()), "ratio"
    )
    # the share of an operation during which the archives are decoded
    m["spark.scan_stage_wall_share"] = (
        median(c["scan_stage_wall_s"] for c in counted) / wall, "ratio"
    )
    m["session.start_s"] = (setup["start_s"], "s")
    m["session.warmup_s"] = (setup["warmup_s"], "s")
    # self time per layer inside traced operations.  The root span is
    # the cc2dataset call itself, so the layers cover the traced wall
    # time by construction; Spark is lazy, so the executors' work lands
    # in the span of the call that runs the action (pipeline).  The
    # split of executor time is spark.scan_stage_task_s and
    # spark.post_scan_task_s.
    for layer in LAYERS:
        m[f"trace.{layer}_self_s"] = (median(
            sum(v for k, v in o["self_s"].items() if k.startswith(layer + "."))
            for o in traced
        ), "s")
    # a traced operation against the mean of its untraced neighbours;
    # the gap also carries op-to-op noise, while the span bookkeeping
    # cost is the part tracing itself adds
    m["trace.overhead_s"] = (median(
        ops[i]["wall_s"] - (ops[i - 1]["wall_s"] + ops[i + 1]["wall_s"]) / 2
        for i in range(1, len(ops) - 1) if ops[i]["traced"]
    ), "s")
    m["trace.span_cost_s"] = (
        span_cost_s() * median(o["span_count"] for o in traced), "s"
    )
    m["ops.error_rate"] = (sum(not o["ok"] for o in ops) / len(ops), "ratio")
    return m


# ---------------------------------------------------------------------------


def run(args, work: str) -> dict:
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None
    r = Runner(args, work)
    r.make_inputs()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores(), "inputs_s": r.inputs_s,
        "corpus": {
            "archives": len(r.corpus.paths), "records": r.corpus.records,
            "malformed": r.corpus.malformed, "links": r.corpus.links,
            "gz_bytes": r.corpus.gz_bytes, "expected": r.expected,
        },
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    from probe import anchor, install_wrappers

    if args.trace:
        install_wrappers(r.tracer)
    try:
        setup = r.setup()
        record["setup"] = {k: v for k, v in setup.items() if k != "warmup"}
        record["anchor_before"] = anchor(r.spark)
        ops = r.timed()
        record["anchor_after"] = anchor(r.spark)
        probes = r.probes() if args.trace else {}
    finally:
        if r.spark is not None:
            stop_session(r.spark)
    record["ops"] = ops
    record["worker_rss"] = {"peak_mb": r.rss_peak_mb, "samples": r.rss_samples}
    if args.trace:
        metrics = per_layer(r, ops, setup, probes)
        record["spans"] = r.tracer.spans
    else:
        metrics = end_to_end(r, ops, setup)
    failed = sum(not o["ok"] for o in ops)
    record["failures"] = r.failures + [o["error"] for o in ops if o.get("error")]
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    ), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for k, (v, u) in metrics.items():
        print(f"{k:32s} {v:14.6g} {u}")
    for msg in record["failures"]:
        print("FAILURE:", msg.strip().splitlines()[-1])
    return {
        "correct": failed == 0 and not r.failures,
        "attempted": len(ops),
        "failed": failed,
        "metrics": record["metrics"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # fail fast, before any work, when the package under test is not the
    # one in this checkout
    import cc2dataset_spark
    import tests.wat_fixtures  # noqa: F401

    if not os.path.abspath(cc2dataset_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"cc2dataset_spark is not under {ROOT}")

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
