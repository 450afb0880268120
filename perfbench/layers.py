"""Per-layer metrics of a traced run: which calls get spans, the side
measurements (checkpoint writers, corpus prep), and the reduction of spans,
event log and serial baseline into named numbers.

A layer a workload bypasses reports 0 for its metrics: that workload does
none of that layer's work.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time

from perfbench.serial import pct
from perfbench.trace import read_eventlog, span_totals
from perfbench.workloads import CORES

UNITS = {
    "sources.html_ms_p50": "ms", "sources.html_ms_p99": "ms",
    "sources.pdf_ms_p50": "ms", "sources.pdf_ms_p99": "ms",
    "sources.cpu_s": "s", "sources.error_docs": "count",
    "extraction.report_ms_p50": "ms", "extraction.report_ms_p99": "ms",
    "extraction.cpu_s": "s", "extraction.goals": "count", "extraction.bmps": "count",
    "extraction.cost_tables": "count",
    "fused.wall_s": "s", "fused.python_run_s": "s", "fused.python_start_s": "s",
    "fused.bytes_to_python": "bytes", "fused.bytes_from_python": "bytes",
    "fused.task_s_p50": "s", "fused.task_s_max": "s", "fused.overhead_ratio": "ratio",
    "bronze.wall_s": "s", "bronze.bytes_to_python": "bytes",
    "silver.wall_s": "s", "silver.bytes_to_python": "bytes",
    "lineage.write_stage_s": "s", "tableio.write_checkpoint_s": "s", "lineage.jobs": "count",
    "gold.wall_s": "s", "gold.jobs": "count",
    "runner.bronze_s": "s", "runner.silver_s": "s", "runner.gold_s": "s",
    "runner.jobs": "count", "runner.resume_jobs": "count",
    "webrunner.cleaned_s": "s", "webrunner.flagged_s": "s", "webrunner.corpus_s": "s",
    "webrunner.jobs": "count", "ops.keep_ratio": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.executor_cpu_s": "s", "spark.executor_run_s": "s",
    "spark.gc_s": "s", "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.large_task_binary_warnings": "count",
    "session.start_s": "s", "session.warmup_s": "s",
    "trace.docs_per_s": "docs/s", "host.probe_ms": "ms",
}

_LARGE_BINARY = re.compile(r"task of very large size|Broadcasting large task binary")


def large_binary_warnings(spark_log: str) -> int:
    return len(_LARGE_BINARY.findall(spark_log))


def patches() -> list[tuple]:
    """The checkpoint writers the runners call, wrapped so that every stage
    write and lineage write gets its own span and job group."""
    from pdfextractor_spark.pipeline import runner, tableio, webrunner

    return [(runner, "write_stage", "write_stage"),
            (runner, "write_checkpoint", "checkpoint"),
            (webrunner, "write_stage", "write_stage"),
            (webrunner, "write_checkpoint", "checkpoint"),
            (tableio, "write_checkpoint", "checkpoint")]


def side_runs(spark, wl, out_dir, work, seed, tracer) -> tuple[dict, list[str]]:
    """Traced ``medallion_resume`` runs measure two more things after the
    passes: ``lineage.write_stage`` against a plain
    ``tableio.write_checkpoint`` of the same bronze frame (3 alternating
    reps), and one corpus-prep pass over its own seeded pages after a
    warm-up build over the same base pages, whose ``prep_report`` the
    pass must repeat. Returns the measurements and any gate failures."""
    from pdfextractor_spark.pipeline.lineage import write_stage
    from pdfextractor_spark.pipeline.tableio import write_checkpoint

    from perfbench.trace import NullTracer
    from perfbench.workloads import CorpusPrep

    if wl.name != "medallion_resume":
        return {}, []
    frame = spark.read.parquet(os.path.join(out_dir, "bronze"))
    side = {"write_stage": [], "write_checkpoint": [], "span_ids": []}
    for i in range(3):
        dest = os.path.join(work, f"side-{i}")
        t0 = time.perf_counter()
        with tracer.span("side.write_stage") as rec:
            write_stage(frame, dest + "-stage", "bronze")
        side["write_stage"].append(time.perf_counter() - t0)
        side["span_ids"].append(rec["id"])
        t0 = time.perf_counter()
        with tracer.span("side.write_checkpoint"):
            write_checkpoint(frame, dest + "-plain")
        side["write_checkpoint"].append(time.perf_counter() - t0)
        for suffix in ("-stage", "-stage_lineage", "-plain"):
            shutil.rmtree(dest + suffix, ignore_errors=True)

    prep = CorpusPrep()
    prep.make_inputs(seed)
    staged = prep.stage(os.path.join(work, "prep-staged"))
    warm = prep.run_pass(spark, staged, os.path.join(work, "prep-warm"), NullTracer(),
                         resume=False)
    with tracer.span("side.corpus_prep") as rec:
        res = prep.run_pass(spark, staged, os.path.join(work, "prep-pass"), tracer)
    side["prep"], side["prep_span"] = res, rec
    problems = prep.check(spark, staged, [warm, res])
    if res["expect"] != res["got"]:
        problems.append(f"corpus prep kept {res['got']} rows per leg, expected {res['expect']}")
    return side, problems


def med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(wl, passes, setups, tracer, log_path, side, base, docs_per_s) -> dict:
    spans = tracer.spans
    tot = span_totals(spans, read_eventlog(log_path))
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def desc(root: dict) -> list[dict]:
        """Every descendant of ``root``, in start order."""
        found, todo = [], list(kids.get(root["id"], []))
        while todo:
            s = todo.pop()
            found.append(s)
            todo.extend(kids.get(s["id"], []))
        return sorted(found, key=lambda s: s["start"])

    def under(root: dict, name: str) -> list[dict]:
        return [s for s in desc(root) if s["name"] == name]

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    pass_spans = [s for s in spans if s["name"] == "pass"]
    m = {k: 0 for k in UNITS}
    m.update(base)

    # whole passes, from the event log
    per_pass = [tot[s["id"]] for s in pass_spans]
    for key, field, scale in (
            ("spark.jobs", "jobs", 1), ("spark.stages", "stages", 1),
            ("spark.tasks", "tasks", 1), ("spark.failed_tasks", "failed_tasks", 1),
            ("spark.executor_cpu_s", "cpu_ns", 1e-9), ("spark.executor_run_s", "run_ms", 1e-3),
            ("spark.gc_s", "gc_ms", 1e-3), ("spark.shuffle_read_bytes", "shuffle_read", 1),
            ("spark.shuffle_write_bytes", "shuffle_write", 1),
            ("spark.spill_bytes", "spill", 1)):
        m[key] = med([t[field] * scale for t in per_pass])

    if wl.name == "extract_fused":
        fused = [under(p, "fused")[0] for p in pass_spans]
        ft = [tot[s["id"]] for s in fused]
        m["fused.wall_s"] = med([dur(s) for s in fused])
        m["fused.python_run_s"] = med([t["py_run_ms"] / 1e3 for t in ft])
        m["fused.python_start_s"] = med([t["py_start_ms"] / 1e3 for t in ft])
        m["fused.bytes_to_python"] = med([t["py_sent"] for t in ft])
        m["fused.bytes_from_python"] = med([t["py_ret"] for t in ft])
        m["fused.task_s_p50"] = med([pct(t["py_task_s"], 50) for t in ft])
        m["fused.task_s_max"] = med([max(t["py_task_s"], default=0.0) for t in ft])
        serial_cpu = m["sources.cpu_s"] + m["extraction.cpu_s"]
        m["fused.overhead_ratio"] = CORES * m["fused.wall_s"] / serial_cpu

    if wl.name == "medallion_resume":
        builds = [under(p, "runner")[0] for p in pass_spans]
        for layer in ("bronze", "silver"):
            # the data write inside the stage write: the UDF work itself
            writes = [under(under(b, f"write_stage:{layer}")[0], f"checkpoint:{layer}")[0]
                      for b in builds]
            m[f"{layer}.wall_s"] = med([dur(s) for s in writes])
            m[f"{layer}.bytes_to_python"] = med([tot[s["id"]]["py_sent"] for s in writes])
        gold_spans = [[s for s in desc(b) if s["name"].startswith("checkpoint:gold_")]
                      for b in builds]
        m["gold.wall_s"] = med([sum(dur(s) for s in g) for g in gold_spans])
        m["gold.jobs"] = med([sum(tot[s["id"]]["jobs"] for s in g) for g in gold_spans])
        sums = [p["summaries"][0] for p in passes]
        for layer in ("bronze", "silver", "gold"):
            m[f"runner.{layer}_s"] = med([s[f"{layer}_sec"] for s in sums])
        m["runner.jobs"] = med([tot[b["id"]]["jobs"] for b in builds])
        m["runner.resume_jobs"] = med(
            [tot[under(p, "runner.resume")[0]["id"]]["jobs"] for p in pass_spans])

    if "prep" in side:
        s1 = side["prep"]["summaries"][0]
        for phase in ("cleaned", "flagged", "corpus"):
            m[f"webrunner.{phase}_s"] = s1[f"{phase}_sec"]
        m["webrunner.jobs"] = tot[under(side["prep_span"], "webrunner")[0]["id"]]["jobs"]
        rep = s1["prep_report"]
        m["ops.keep_ratio"] = rep["docs_kept"] / rep["docs_in"]

    if "write_stage" in side:
        m["lineage.write_stage_s"] = med(side["write_stage"])
        m["tableio.write_checkpoint_s"] = med(side["write_checkpoint"])
        m["lineage.jobs"] = med([tot[sid]["jobs"] for sid in side["span_ids"]])

    m["session.start_s"] = med([s["start"] for s in setups])
    m["session.warmup_s"] = med([s["warmup"] for s in setups])
    m["trace.docs_per_s"] = docs_per_s
    # spark.large_task_binary_warnings and host.probe_ms are filled in by run.py
    return m

