"""Measurement plumbing: spans with Spark job groups, the event-log reader,
and the process-tree memory sampler.

Everything here observes the program from outside. Spans wrap calls into
the package's public functions; each span sets its own Spark job group, so
the jobs the event log records can be attributed to the span that caused
them. Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class NullTracer:
    """Tracing off: the untraced runs that give the end-to-end numbers."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def uninstall(self) -> None:
        pass


class Tracer:
    """Spans (name, start, end, parent) recorded at layer boundaries.

    ``span`` sets the Spark job group ``pb<id>`` for the calls inside it and
    restores the enclosing group on exit, so nested spans own the jobs that
    run while they are innermost."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{sid}")
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            rec["end"] = time.perf_counter() - self.t0

    def install(self, patches) -> None:
        """Wrap ``module.attr`` callables whose second argument is a
        checkpoint path in a span named ``<layer>:<path basename>``."""
        for module, attr, layer in patches:
            orig = getattr(module, attr)

            def wrapper(df, path, *a, _orig=orig, _layer=layer, **kw):
                with self.span(f"{_layer}:{os.path.basename(path.rstrip('/'))}"):
                    return _orig(df, path, *a, **kw)

            setattr(module, attr, wrapper)
            self._patched.append((module, attr, orig))

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# --- event log ------------------------------------------------------------

_PY = {
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_ret",
    "time to start Python workers": "py_start_ms",
    "time to run Python workers": "py_run_ms",
}


def read_eventlog(path: str) -> dict:
    """Jobs (with their job group) and per-task metrics from one
    uncompressed, non-rolling Spark event log file."""
    jobs: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stages_done: list[int] = []
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                jobs[jid] = (e.get("Properties") or {}).get("spark.jobGroup.id")
                for s in e["Stage IDs"]:
                    stage_job.setdefault(s, jid)
            elif kind == "SparkListenerStageCompleted":
                stages_done.append(e["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                t = {
                    "stage": e["Stage ID"],
                    "s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    "failed": bool(info.get("Failed")),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "py_sent": 0, "py_ret": 0, "py_start_ms": 0, "py_run_ms": 0,
                }
                for a in info.get("Accumulables") or []:
                    key = _PY.get(a.get("Name"))
                    if key:
                        t[key] += int(a.get("Update") or 0)
                tasks.append(t)
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": jobs, "stage_job": stage_job, "stages_done": stages_done,
            "tasks": tasks}


def span_totals(spans: list[dict], log: dict) -> dict[int, dict]:
    """Per span, the work of the jobs it or any of its descendants owned."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid: int) -> set[str]:
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(f"pb{cur}")
            todo.extend(children.get(cur, []))
        return out

    totals = {}
    for s in spans:
        groups = subtree(s["id"])
        jids = {j for j, g in log["jobs"].items() if g in groups}
        tasks = [t for t in log["tasks"] if t["job"] in jids]
        stages = [st for st in log["stages_done"] if log["stage_job"].get(st) in jids]
        tot = {"jobs": len(jids), "stages": len(stages), "tasks": len(tasks),
               "task_s": [t["s"] for t in tasks]}
        for k in ("run_ms", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write",
                  "spill", "py_sent", "py_ret", "py_start_ms", "py_run_ms"):
            tot[k] = sum(t[k] for t in tasks)
        tot["failed_tasks"] = sum(t["failed"] for t in tasks)
        tot["py_task_s"] = [t["s"] for t in tasks if t["py_sent"] > 0]
        totals[s["id"]] = tot
    return totals


# --- memory ---------------------------------------------------------------

def descendants(root: int) -> set[int]:
    """Pids of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces: ppid follows the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    tree, frontier = set(), [root]
    while frontier:
        for pid in children.get(frontier.pop(), []):
            if pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _tree_rss_kb(root: int) -> int:
    tree = descendants(root) | {root}
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Python process, the JVM it launches and the JVM's Python workers), sampled
    every ``interval`` seconds on a background thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
