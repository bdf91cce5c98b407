"""Measurement helpers for the pipeline benchmark: spans, Spark REST
counters, plan node counts, the Python-worker RSS sampler and the
host-health anchor.  Everything here observes the engine from outside:
spans wrap calls into the package's public functions, counters come
from Spark's status REST API, and memory comes from ``/proc``.
"""

from __future__ import annotations

import datetime
import functools
import json
import os
import re
import sys
import threading
import time
import urllib.request

# Public functions wrapped in traced mode, by layer.  Each entry is
# (module, attribute); every loaded package module that imported the
# same object under the same name is patched too, so calls made
# through ``from x import f`` bindings are seen.
TRACED = {
    "sources": [("cc2dataset_spark.sources.wat", "read_wat_archives")],
    "extraction": [
        ("cc2dataset_spark.operators.extraction", "extract_document_links"),
    ],
    "links": [("cc2dataset_spark.functions.links", "absolutize_urls")],
    "pipeline": [
        ("cc2dataset_spark.pipeline", "cc2dataset"),
        ("cc2dataset_spark.pipeline", "process_part"),
        ("cc2dataset_spark.pipeline", "deduplicate_repartition_write"),
        ("cc2dataset_spark.pipeline", "merge_parts"),
    ],
}


class Tracer:
    """In-memory spans: name, start, end, parent and run id.  Spans are
    only recorded while ``enabled``; they are written out by the caller
    when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name under (and including) span ``root``:
        a span's duration minus the part of it its children cover.
        Children of one parent never overlap (the Spark driver is one
        thread), so the covered part is the sum of their durations."""
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(i)
        out: dict[str, float] = {}

        def walk(i: int) -> None:
            s = self.spans[i]
            covered = sum(
                self.spans[k]["end"] - self.spans[k]["start"]
                for k in kids.get(i, ())
            )
            own = s["end"] - s["start"] - covered
            out[s["name"]] = out.get(s["name"], 0.0) + own
            for k in kids.get(i, ()):
                walk(k)

        walk(root)
        return out


def span_cost_s(n: int = 20_000) -> float:
    """Measured cost of recording one span, in seconds."""
    t = Tracer("span-cost")
    t.enabled = True
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name
        self.index: int | None = None

    def __enter__(self):
        if self.t.enabled:
            parent = self.t._stack[-1] if self.t._stack else None
            self.index = len(self.t.spans)
            self.t.spans.append({
                "name": self.name, "start": time.perf_counter(), "end": None,
                "parent": parent, "run": self.t.run_id,
            })
            self.t._stack.append(self.index)
        return self

    def __exit__(self, *exc):
        if self.index is not None:
            self.t.spans[self.index]["end"] = time.perf_counter()
            self.t._stack.pop()
        return False


def install_wrappers(tracer: Tracer) -> None:
    """Wrap every function in ``TRACED`` so that each call records a
    span named ``<layer>.<function>`` while the tracer is enabled."""
    import importlib

    for layer, targets in TRACED.items():
        for mod_name, attr in targets:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            if getattr(fn, "_perfbench_wrapped", False):
                continue
            wrapped = _wrap(tracer, f"{layer}.{attr}", fn)
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "") or ""
                if name.startswith("cc2dataset_spark") and getattr(m, attr, None) is fn:
                    setattr(m, attr, wrapped)


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    wrapper._perfbench_wrapped = True
    return wrapper


# ---------------------------------------------------------------------------
# Spark counters from the status REST API
# ---------------------------------------------------------------------------


class SparkCounters:
    """Per-operation deltas of Spark's own execution counters, read from
    the UI REST API for the jobs carrying one job description."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until the status store has no running job, so counters
        of an action that just returned are complete."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if not self._get("/jobs?status=running"):
                return
            time.sleep(0.05)

    def for_description(self, description: str) -> dict:
        self.settle()
        jobs = [j for j in self._get("/jobs") if j.get("description") == description]
        stage_ids = {s for j in jobs for s in j.get("stageIds", ())}
        stages = [
            s for s in self._get("/stages?status=complete")
            if s["stageId"] in stage_ids
        ]
        mb = 1 / (1 << 20)
        run_s = sum(s.get("executorRunTime", 0) for s in stages) / 1e3
        # the archive scan stage reads no shuffle and no Hadoop input
        # (Python tasks open the archives) and feeds the dedup exchange;
        # sources, extraction and the link UDFs run fused in it
        scan = [
            s for s in stages
            if not s.get("shuffleReadBytes") and not s.get("inputBytes")
            and s.get("shuffleWriteBytes")
        ]
        scan_s = sum(s.get("executorRunTime", 0) for s in scan) / 1e3
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "task_run_s": run_s,
            "scan_stage_task_s": scan_s,
            "post_scan_task_s": run_s - scan_s,
            "scan_stage_wall_s": sum(_stage_wall_s(s) for s in scan),
            "task_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) * mb,
            "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in stages) * mb,
            "spill_mb": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                for s in stages
            ) * mb,
            "input_mb": sum(s.get("inputBytes", 0) for s in stages) * mb,
            "output_mb": sum(s.get("outputBytes", 0) for s in stages) * mb,
            "stage_list": [
                {k: s.get(k) for k in (
                    "stageId", "name", "numTasks", "executorRunTime",
                    "inputBytes", "shuffleReadBytes", "shuffleWriteBytes",
                    "outputBytes", "submissionTime", "completionTime",
                )}
                for s in stages
            ],
        }


def _stage_wall_s(stage: dict) -> float:
    """Submission to completion of one stage, from the REST timestamps
    (``2026-01-01T00:00:00.000GMT``)."""
    t0, t1 = (
        datetime.datetime.strptime(stage[k], "%Y-%m-%dT%H:%M:%S.%f%Z")
        for k in ("submissionTime", "completionTime")
    )
    return (t1 - t0).total_seconds()


_SCAN = re.compile(r"\bScan\b|BatchScan")
_PY_EVAL = re.compile(r"(Arrow|Batch)EvalPython")


def plan_counts(df) -> dict[str, int]:
    """Source-scan and Python-evaluation nodes in the executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    return {
        "source_scans": sum(1 for l in lines if _SCAN.search(l)),
        "python_evals": sum(1 for l in lines if _PY_EVAL.search(l)),
    }


# ---------------------------------------------------------------------------
# Python worker memory
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def worker_rss_mb(jvm_pid: int) -> float:
    """Summed RSS of the Python processes under the Spark JVM (the
    worker daemon and the workers it forks)."""
    kids = _children_map()
    total = 0
    stack = list(kids.get(jvm_pid, ()))
    while stack:
        pid = stack.pop()
        if _is_python(pid):
            total += _rss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024


class RssSampler:
    """Samples ``worker_rss_mb`` on a thread and keeps the peak."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, worker_rss_mb(self.jvm_pid))
            self.samples += 1
            self._stop.wait(self.interval)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


# ---------------------------------------------------------------------------
# Host-health anchor
# ---------------------------------------------------------------------------


def anchor(spark) -> dict[str, float]:
    """A fixed CPU loop and one fixed tiny Spark job, timed.  Recorded
    next to the metrics, never inside them: a slow anchor marks a
    stalled host, not a slower program."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    cpu = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(200_000).selectExpr("sum(id * 3) AS s").collect()
    job = time.perf_counter() - t0
    return {"cpu_loop_s": cpu, "spark_job_s": job}
