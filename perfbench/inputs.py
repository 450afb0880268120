"""Seeded workload inputs: ``corpus.generate_pages`` plus benchmark-side
shaping, generated by at most ``nproc`` child processes and staged as
parquet with pyarrow (no Spark involved).

Every input is a function of (workload, seed) alone.
"""

from __future__ import annotations

import math
import os
import pickle
import random

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.procs import run_parallel

PAGES = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

# corpus-prep shaping: hosts, robots rules, url gates
N_HOSTS = 23
ROBOTS = [(f"site{h}.org",
           "User-agent: trainingbot\nDisallow: /private/\n" if h % 2 == 0 else "")
          for h in range(N_HOSTS)]
PRIVATE_SHARE = 0.04   # urls under /private/ (disallowed on even hosts)
SPAM_SHARE = 0.01      # urls carrying a spam token (url_quality gate)
DUP_SHARE = 0.08       # exact-duplicate texts re-published under new urls


def _c4_shape(text: str | None) -> str | None:
    """Terminate every line with a full stop: extracted plan text is
    mostly headings and list items, which C4's line filter would drop
    wholesale; shaped, C4 keeps most documents and the corpus-global
    stages see most rows."""
    if text is None:
        return None
    lines = []
    for line in text.split("\n"):
        s = line.strip()
        if s:
            lines.append(s if s[-1] in ".!?" else s + ".")
    return "\n".join(lines)


def _chunk(args) -> list[dict]:
    seed, start, n, text_only = args
    from pdfextractor_spark.corpus import generate_pages

    rows = generate_pages(n, seed=seed, start=start)
    if not text_only:
        return rows
    from pdfextractor_spark.pipeline.bronze import _extract_one

    out = []
    for i, r in enumerate(rows, start):
        text = r["text"] if r["text"] is not None else _extract_one(r["html"], None)[0]
        rng = random.Random(seed * 7_919 + i)
        h = rng.randrange(N_HOSTS)
        u = rng.random() if text else 1.0
        # docs without text (failed payloads) always reach the cleaning
        # stages, so the share left empty there is the same for every seed
        path = ("private" if u < PRIVATE_SHARE else
                "casino" if u < PRIVATE_SHARE + SPAM_SHARE else "p")
        out.append({"url": f"https://site{h}.org/{path}/{i}", "warc_ts": r["warc_ts"],
                    "html": None, "text": _c4_shape(text), "lang": r["lang"]})
    return out


def generate(seed: int, start: int, n: int, text_only: bool = False) -> list[dict]:
    """Rows for doc ids [start, start+n), split over <= nproc processes."""
    procs = max(1, min(os.cpu_count() or 1, 4, n // 200 or 1))
    step = math.ceil(n / procs)
    jobs = [(seed, start + k, min(step, n - k), int(text_only))
            for k in range(0, n, step)]
    parts = run_parallel([(_CHILD, [str(a) for a in job]) for job in jobs])
    return [r for part in parts for r in pickle.loads(part)]


# a child process: one chunk of rows, pickled to stdout (anything else the
# libraries print goes to stderr)
_CHILD = """import pickle, sys
from perfbench.inputs import _chunk
seed, start, n, text_only = map(int, sys.argv[1:])
out, sys.stdout = sys.stdout.buffer, sys.stderr
out.write(pickle.dumps(_chunk((seed, start, n, bool(text_only)))))
"""


def inject_duplicates(rows: list[dict], seed: int) -> tuple[list[dict], int]:
    """Re-publish a seeded share of texts under new urls on hosts without
    robots rules; returns (rows + copies, number of copies). Only texts
    whose original passes every per-document gate are copied, so the
    exact-content dedup must remove at least every copy."""
    rng = random.Random(seed)
    ok = [r for r in rows if r["text"] and "/p/" in r["url"]]
    picks = rng.sample(ok, int(len(rows) * DUP_SHARE))
    copies = [{**r, "url": r["url"].replace("https://site", "https://mirror")
               .replace(".org/p/", ".net/copy/")} for r in picks]
    return rows + copies, len(copies)


def expected_perdoc_survivors(rows: list[dict]) -> int:
    """Rows the per-document phase must keep: all but /private/ urls on
    hosts whose robots rules disallow them and spam-token urls."""
    disallow = {host for host, rules in ROBOTS if rules}
    n = 0
    for r in rows:
        host = r["url"].split("/")[2]
        if "/casino/" in r["url"] or ("/private/" in r["url"] and host in disallow):
            continue
        n += 1
    return n


def to_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=PAGES)


def stage(table: pa.Table, path: str, files: int = 8) -> None:
    """Write ``table`` as ``files`` parquet files under a fresh ``path``."""
    os.makedirs(path)
    step = math.ceil(table.num_rows / files)
    for k in range(files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:03d}.parquet"))
