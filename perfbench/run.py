#!/usr/bin/env python3
"""Layered benchmark for extraction, the checkpointed medallion runner and
corpus prep.

    python3 perfbench/run.py --workload extract_fused --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

Run from the repository root. One workload per call builds seeded inputs,
sets up a ``local[4]`` session twice (``setup_s`` is the median, here the
mean, of the two), repeats timed passes for ``--seconds`` (untraced runs at
least the workload's ``min_passes``, traced runs one), checks the outputs
and prints one JSON line last on stdout. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` enables Spark's event log, wraps layer
calls in spans, runs the serial baseline and reports the per-layer metrics;
traced ``medallion_resume`` runs also measure a corpus-prep side run.
``--workload all`` runs every workload untraced and traced in child
processes, prints every metric by name and unit, and the tracing overhead.
A failed correctness gate exits 1.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
# each set-up costs a session start and a warm-up pass (~9 s for the
# runner); two keep a run inside its time budget
SETUPS = 2
MAX_PASSES = 12

E2E_UNITS = {"docs_per_s": "docs/s", "resume_s": "s", "setup_s": "s",
             "peak_rss_mb": "MB", "doc_error_rate": "ratio", "byte_match_rate": "ratio"}


def _environment(work: str, trace: bool) -> None:
    """Settings for the JVM and Python workers this process launches: every
    file they write stays under ``work``; tracing adds the event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # get_spark reads SPARK_DRIVER_MEMORY for -Xmx (default 12g). A 1 GiB
    # cap keeps a run small on a shared host, and peak_rss_mb steady: with
    # 12g, G1 grew the heap of the same run anywhere from ~4 to ~7 GB
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{logdir}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it and its Python
    workers to end."""
    from pyspark import SparkContext

    from perfbench.trace import alive, descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the Python workers leave once the JVM has gone; any that outlast the
    # deadline are killed, and the run waits until they have ended
    deadline = time.time() + 30
    while any(alive(pid) for pid in workers):
        if time.time() > deadline:
            for pid in workers:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.1)


# one probe loop: waits for the start time in argv[1], then prints its ms
_PROBE = """import sys, time
def loop():
    x = 0
    for i in range(2_000_000):
        x += i
time.sleep(max(0.0, float(sys.argv[1]) - time.time()))
t0 = time.perf_counter()
loop()
print((time.perf_counter() - t0) * 1000)
"""


def _host_probe_ms() -> float:
    """Median wall time of a fixed pure-Python loop run in four processes at
    once. Shared hosts change speed over minutes, and the share of their
    four cores that runs in parallel changes most (one loop alone read
    ~100 ms while four at once read 370-520 ms each); the probe lets a
    reader tell host drift from a change in the program."""
    from perfbench.procs import run_parallel

    # the loops start together once every process has started
    start = str(time.time() + 0.5)
    return statistics.median(float(out) for out in run_parallel([(_PROBE, [start])] * 4))


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def run_workload(name: str, seed: int, seconds: int, trace: bool) -> tuple[dict, int]:
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work, trace)
    sys.path.insert(0, ROOT)

    from pdfextractor_spark.pipeline import arrowtune
    from pdfextractor_spark.session import get_spark

    from perfbench import layers, serial
    from perfbench.trace import NullTracer, RssSampler, Tracer
    from perfbench.workloads import CORES, WORKLOADS

    t_run = time.perf_counter()

    def note(what: str) -> None:
        print(f"perfbench: {name}: {what} at {time.perf_counter() - t_run:.1f} s",
              file=sys.stderr, flush=True)

    probes = [_host_probe_ms()]
    wl = WORKLOADS[name]()
    wl.make_inputs(seed)
    note("inputs generated")
    arrow_default = os.environ.get("SPARK_GRAFT_ARROW_BATCH", "1024")
    problems: list[str] = []
    setups, passes = [], []
    tracer = NullTracer()
    spark = None
    try:
        with RssSampler() as rss:
            for i in range(SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = get_spark(app_name=f"perfbench-{name}", cores=CORES)
                t1 = time.perf_counter()
                # each session starts from get_spark's settings: a batch size
                # an earlier session's plan chose must not carry over
                batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
                if batch != arrow_default:
                    problems.append(f"session {i} starts with arrow batch {batch}")
                staged = wl.stage(_fresh(os.path.join(work, f"staged-{i}")))
                t2 = time.perf_counter()
                wl.warm_up(spark, staged, _fresh(os.path.join(work, "warm")))
                t3 = time.perf_counter()
                setups.append({"start": t1 - t0, "stage": t2 - t1, "warmup": t3 - t2})
                note(f"set-up {i}: " + ", ".join(f"{k} {v:.2f} s" for k, v in setups[-1].items()))
            if trace:
                tracer = Tracer(spark)
                tracer.install(layers.patches())
            t_meas = time.perf_counter()
            out = None
            # traced runs make one pass: their metrics carry no bound
            while len(passes) < (1 if trace else wl.min_passes) or (
                    time.perf_counter() - t_meas < seconds and len(passes) < MAX_PASSES):
                spark.catalog.clearCache()
                # every pass pays for arrowtune's batch-size probe, as a
                # fresh production call does
                arrowtune._PROBE_CACHE.clear()
                if spark.sparkContext._jsc.sc().getPersistentRDDs().size():
                    problems.append(f"persisted RDDs remain before pass {len(passes)}")
                if out is not None:
                    shutil.rmtree(out, ignore_errors=True)
                out = _fresh(os.path.join(work, f"pass-{len(passes)}"))
                with tracer.span("pass"):
                    passes.append(wl.run_pass(spark, staged, out, tracer))
                probes.append(_host_probe_ms())
            tracer.uninstall()
            note(f"{len(passes)} passes: " + ", ".join(
                f"{p['build_s']:.2f}+{p['resume_s']:.2f} s" for p in passes))
            problems += wl.check(spark, staged, out, passes)
            note("outputs checked")
            side = {}
            if trace:
                side, more = layers.side_runs(spark, wl, out, work, seed, tracer)
                problems += more
            app_id = spark.sparkContext.applicationId
            _stop_spark(spark)
            spark = None
            note("spark stopped")
    finally:
        if spark is not None:
            _stop_spark(spark)

    # --- correctness gate -------------------------------------------------
    attempted = failed = 0
    for p in passes:
        for n_in, n_out in zip(p["expect"], p["got"]):
            attempted += n_in
            failed += abs(n_in - n_out)
    if failed:
        problems.append(f"{failed} of {attempted} docs missing from the outputs")
    if any(p["entities"] != passes[0]["entities"] for p in passes):
        problems.append("entity counts differ between passes of one seed")
    byte_rate = sum(p["matched"] for p in passes) / sum(p["parity"] for p in passes)
    if byte_rate != 1.0:
        problems.append(f"byte_match_rate {byte_rate} != 1.0")

    e2e = {
        "docs_per_s": layers.med([p["base_docs"] / p["build_s"] for p in passes]),
        "resume_s": layers.med([p["resume_s"] for p in passes]),
        "setup_s": layers.med([sum(s.values()) for s in setups]),
        "peak_rss_mb": rss.peak_kb / 1024,
        "doc_error_rate": passes[-1]["errors"] / passes[-1]["rows"],
        "byte_match_rate": byte_rate,
    }
    # untraced runs report the host probe on stderr: their metrics are the
    # end-to-end set, but a reader still needs to tell host drift apart
    note(f"host.probe_ms {layers.med(probes):.1f} (min {min(probes):.1f}, "
         f"max {max(probes):.1f})")
    if trace:
        log_path = os.path.join(work, "eventlog", app_id)
        metrics = layers.per_layer(wl, passes, setups, tracer, log_path, side,
                                   serial.baseline(wl.base_rows),
                                   e2e["docs_per_s"])
        metrics["host.probe_ms"] = layers.med(probes)
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".perfbench_out", f"{name}-seed{seed}-spans.json"))
        units = layers.UNITS
    else:
        metrics, units = e2e, E2E_UNITS
    shutil.rmtree(work, ignore_errors=True)
    for msg in problems:
        print(f"perfbench: {name}: {msg}", file=sys.stderr)
    result = {"correct": not problems, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    return result, 1 if problems else 0


def run_all(seed: int, seconds: int) -> int:
    """Every workload untraced then traced, each in its own process."""
    from perfbench.workloads import WORKLOADS

    merged, code, attempted, failed = {}, 0, 0, 0
    for name in WORKLOADS:
        got = {}
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"perfbench: {name} trace={trace} exited {proc.returncode}",
                      file=sys.stderr)
                code = 1
                if not lines:
                    continue
            res = json.loads(lines[-1])
            code |= not res["correct"]
            attempted += res["attempted"]
            failed += res["failed"]
            got.update(res["metrics"])
        if "docs_per_s" in got and "trace.docs_per_s" in got:
            got["trace.overhead"] = {
                "value": 1 - got["trace.docs_per_s"]["value"] / got["docs_per_s"]["value"],
                "unit": "ratio"}
        for metric, v in got.items():
            print(f"{name:<18} {metric:<36} {v['value']:>16.6g} {v['unit']}")
            merged[f"{name}.{metric}"] = v
    print(json.dumps({"correct": code == 0, "attempted": attempted, "failed": failed,
                      "metrics": merged}))
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_fused", "medallion_resume", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "pdfextractor_spark", "session.py")):
        print("perfbench: run from the repository root (pdfextractor_spark/ not found)",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    if not args.trace:
        result, code = run_workload(args.workload, args.seed, args.seconds, False)
        print(json.dumps(result))
        return code
    # the traced run counts the Spark log's large-task-binary warnings:
    # route this process's stderr (inherited by the JVM) through a file
    log = os.path.join(ROOT, ".perfbench_work", f"stderr-{os.getpid()}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    saved = os.dup(2)
    with open(log, "wb") as f:
        os.dup2(f.fileno(), 2)
    try:
        result, code = run_workload(args.workload, args.seed, args.seconds, True)
    finally:
        sys.stderr.flush()
        os.dup2(saved, 2)
        os.close(saved)
        with open(log, errors="replace") as f:
            text = f.read()
        os.remove(log)
    from perfbench.layers import large_binary_warnings

    result["metrics"]["spark.large_task_binary_warnings"] = {
        "value": large_binary_warnings(text), "unit": "count"}
    sys.stderr.write("".join(l for l in text.splitlines(True)
                             if "perfbench:" in l or "Traceback" in l or "Error" in l))
    print(json.dumps(result))
    return code


def _end_children() -> None:
    """The last guard on every way out: kill any process this run started
    that still runs, and wait until each has ended."""
    from perfbench.trace import alive, descendants

    left = descendants(os.getpid())
    if left:
        print(f"perfbench: ending {len(left)} leftover processes", file=sys.stderr)
    for pid in left:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            # not a child of this process: wait for it to end
            while alive(pid):
                time.sleep(0.05)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    try:
        code = main()
    finally:
        _end_children()
    sys.exit(code)
