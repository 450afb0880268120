"""Child processes the benchmark starts outside Spark: plain subprocesses
that it waits for on every path out, so none outlives a run.

The standard library's ``multiprocessing`` pools are avoided on purpose:
their spawn start method launches a resource-tracker process that ends
only after the parent has exited.
"""

from __future__ import annotations

import subprocess
import sys


def run_parallel(scripts: list[tuple[str, list[str]]], timeout: float = 150) -> list[bytes]:
    """Run ``python -c script args...`` for every (script, args) at once and
    return each one's stdout. Every child has ended when this returns or
    raises; a child that fails raises ``RuntimeError``."""
    procs: list[subprocess.Popen] = []
    try:
        for script, args in scripts:
            procs.append(subprocess.Popen([sys.executable, "-c", script, *args],
                                          stdout=subprocess.PIPE))
        outs = [p.communicate(timeout=timeout)[0] for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
            p.stdout.close()
    for p in procs:
        if p.returncode:
            raise RuntimeError(f"child {p.args[2][:60]!r} exited {p.returncode}")
    return outs
