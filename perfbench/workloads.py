"""The workloads. Each stages its seeded inputs, runs one timed pass
through a production entry point, and checks its own outputs.

A pass reads the staged parquet through a freshly built plan and writes
into a fresh output directory; ``run.py`` clears Spark's cache before it.
Every pass has two timed legs over the same pages: a build over the base
pages and a resume (or delta) leg after ~10% new urls arrive.
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import functions as F

from . import inputs, serial
from .trace import NullTracer

CORES = 4
PARTITIONS = CORES * 4
# fixed url sample for the row-equality gate: plain html and pdf docs, a
# large-tail doc (id 7, 108), corrupt payloads (13, 110) and image-only
# pdfs (11, 100)
SAMPLE_IDS = sorted(set(range(12)) | {13, 100, 108, 110})


def _files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


class Workload:
    name = ""
    n_base = 0
    text_only = False
    # untraced runs report medians over at least this many passes, which
    # absorb a pass that the host slowed
    min_passes = 3

    def make_inputs(self, seed: int) -> None:
        self.base_rows = inputs.generate(seed, 0, self.n_base, self.text_only)
        self.delta_rows = inputs.generate(seed, self.n_base, self.n_base // 10, self.text_only)

    def stage(self, root: str) -> dict:
        """Write the inputs under ``root``; returns the staged file lists."""
        base, delta = inputs.to_table(self.base_rows), inputs.to_table(self.delta_rows)
        inputs.stage(base, os.path.join(root, "base"))
        inputs.stage(delta, os.path.join(root, "delta"))
        return {"base": _files(os.path.join(root, "base")),
                "delta": _files(os.path.join(root, "delta")),
                "n_base": base.num_rows, "n_delta": delta.num_rows}

    def warm_up(self, spark, staged: dict, out_dir: str) -> None:
        """The build leg over one staged base file (an eighth of the pages):
        loads every layer of the measured pass."""
        self.run_pass(spark, {"base": staged["base"][:1], "delta": []}, out_dir,
                      NullTracer(), resume=False)

    def sample_rows(self) -> list[dict]:
        by_url = {r["url"]: r for r in self.base_rows}
        return [by_url[f"https://example.org/plans/doc-{i:07d}"] for i in SAMPLE_IDS]


def _silver_counts(df) -> dict:
    """Entity and parity counts over silver-shaped rows (benchjob's
    aggregation plus the entity yields)."""
    cols = [
        F.count(F.lit(1)).alias("docs"),
        F.sum("total_goals").alias("goals"),
        F.sum(F.size("bmps")).alias("bmps"),
        F.sum(F.size("cost_tables")).alias("cost_tables"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
    ]
    if "text_match" in df.columns:
        cols += [F.sum(F.when(F.col("text_match"), 1).otherwise(0)).alias("matched"),
                 F.sum(F.when(F.col("text_match").isNotNull(), 1).otherwise(0)).alias("parity")]
    return {k: int(v or 0) for k, v in df.agg(*cols).first().asDict().items()}


def _rows_equal(spark, got_rows, want_dicts) -> list[str]:
    """Compare Spark rows with serial dicts after the same Spark type
    conversion; returns the urls that differ."""
    from pdfextractor_spark.pipeline.schema import SILVER_SCHEMA

    cols = [f.name for f in SILVER_SCHEMA.fields]
    want = spark.createDataFrame([[d.get(c) for c in cols] for d in want_dicts],
                                 SILVER_SCHEMA).collect()
    got = {r["url"]: r.asDict(recursive=True) for r in got_rows}
    bad = []
    for r in want:
        g = got.get(r["url"])
        if g is None or {c: g[c] for c in cols} != r.asDict(recursive=True):
            bad.append(r["url"])
    return bad


class ExtractFused(Workload):
    """pages -> silver through ``pipeline.fused.extract_fused``; the delta
    leg extracts only urls missing from the base (``lineage.resume_remaining``
    anti-join). Loads sources + extraction; no checkpoint or gold layer."""

    name = "extract_fused"
    n_base = 900

    def run_pass(self, spark, staged, out_dir, tracer, resume=True) -> dict | None:
        from pdfextractor_spark.pipeline.fused import extract_fused
        from pdfextractor_spark.pipeline.lineage import resume_remaining

        t0 = time.perf_counter()
        with tracer.span("fused"):
            c = _silver_counts(extract_fused(spark.read.parquet(*staged["base"]),
                                             num_partitions=PARTITIONS))
        t1 = time.perf_counter()
        if not resume:
            return None
        with tracer.span("fused.delta"):
            todo = resume_remaining(spark.read.parquet(*staged["base"], *staged["delta"]),
                                    spark.read.parquet(*staged["base"]), key="url")
            d = _silver_counts(extract_fused(todo, num_partitions=PARTITIONS))
        t2 = time.perf_counter()
        return {"build_s": t1 - t0, "resume_s": t2 - t1, "base_docs": staged["n_base"],
                "expect": (staged["n_base"], staged["n_delta"]),
                "got": (c["docs"], d["docs"]),
                "errors": c["errors"] + d["errors"], "rows": c["docs"] + d["docs"],
                "matched": c["matched"] + d["matched"], "parity": c["parity"] + d["parity"],
                "entities": (c, d)}

    def check(self, spark, staged, out_dir, passes) -> list[str]:
        from pdfextractor_spark.pipeline.fused import extract_fused

        rows = self.sample_rows()
        urls = [r["url"] for r in rows]
        got = (extract_fused(spark.read.parquet(*staged["base"]).where(F.col("url").isin(urls)),
                             num_partitions=PARTITIONS).collect())
        bad = _rows_equal(spark, got, serial.reference_rows(rows, fused=True))
        return [f"fused row differs from serial: {u}" for u in bad]

    def warm_up(self, spark, staged: dict, out_dir: str) -> None:
        """Both legs over one staged base file and one delta file: with the
        build leg alone, the first timed pass's delta leg ran ~25% slower
        than later ones."""
        self.run_pass(spark, {"base": staged["base"][:1], "delta": staged["delta"][:1],
                              "n_base": 0, "n_delta": 0}, out_dir, NullTracer())


class MedallionResume(Workload):
    """``pipeline.runner.run_pipeline`` pages -> bronze, silver, gold
    checkpoints in a fresh dir, then again with ``resume=True`` after ~10%
    new urls are appended. Loads every layer, the staged extraction path
    and the runner's checkpoint, lineage and gold layers."""

    name = "medallion_resume"
    n_base = 480
    # a pass runs ~100 Spark jobs (~14 s on an idle 4-core host, whatever
    # the doc count): two passes keep 22 runs of each workload within the
    # benchmark's time budget
    min_passes = 2

    def run_pass(self, spark, staged, out_dir, tracer, resume=True) -> dict | None:
        from pdfextractor_spark.pipeline.runner import run_pipeline

        t0 = time.perf_counter()
        with tracer.span("runner"):
            s1 = run_pipeline(spark, spark.read.parquet(*staged["base"]), out_dir)
        t1 = time.perf_counter()
        if not resume:
            return None
        with tracer.span("runner.resume"):
            s2 = run_pipeline(spark, spark.read.parquet(*staged["base"], *staged["delta"]),
                              out_dir, resume=True)
        t2 = time.perf_counter()
        c = _silver_counts(spark.read.parquet(os.path.join(out_dir, "silver")))
        return {"build_s": t1 - t0, "resume_s": t2 - t1, "base_docs": staged["n_base"],
                "expect": (staged["n_base"], staged["n_base"] + staged["n_delta"]),
                "got": (s1["docs"], s2["docs"]),
                "errors": s2["errors"], "rows": s2["docs"],
                "matched": s2["byte_identical_matched"], "parity": s2["byte_identical_total"],
                "summaries": (s1, s2),
                "entities": ({k: s1[k] for k in ("docs", "errors", "byte_identical_matched")},
                             c)}

    def check(self, spark, staged, out_dir, passes) -> list[str]:
        rows = self.sample_rows()
        urls = [r["url"] for r in rows]
        got = (spark.read.parquet(os.path.join(out_dir, "silver"))
               .where(F.col("url").isin(urls)).collect())
        bad = _rows_equal(spark, got, serial.reference_rows(rows, fused=False))
        return [f"staged silver row differs from serial: {u}" for u in bad]


PREP_KW = dict(
    extract=False, url_quality={}, dup_line_min_count=None, quality_floor=0.0,
    max_docs_per_host=90, shard_budget=4096,
)


class CorpusPrep(Workload):
    """``pipeline.webrunner.run_corpus_prep`` over pages whose text is
    filled in at set-up (``extract=False``: the parse layer is bypassed),
    then resumed after ~10% new urls. Loads the ops stages and shuffles.

    Measured inside traced ``medallion_resume`` runs (``layers.side_runs``),
    not as an end-to-end workload of its own."""

    name = "corpus_prep"
    n_base = 600
    text_only = True

    def make_inputs(self, seed: int) -> None:
        super().make_inputs(seed)
        self.base_rows, self.n_copies = inputs.inject_duplicates(self.base_rows, seed)

    def _kw(self, spark) -> dict:
        robots = spark.createDataFrame(inputs.ROBOTS, "host string, robots_txt string")
        return dict(PREP_KW, robots=(robots, "trainingbot"))

    def run_pass(self, spark, staged, out_dir, tracer, resume=True) -> dict:
        """Build leg, then (with ``resume``) the resume leg; the build-only
        form returns just the build's summary."""
        from pdfextractor_spark.pipeline.webrunner import run_corpus_prep

        with tracer.span("webrunner"):
            s1 = run_corpus_prep(spark, spark.read.parquet(*staged["base"]), out_dir,
                                 **self._kw(spark))
        if not resume:
            return {"summaries": (s1,)}
        with tracer.span("webrunner.resume"):
            s2 = run_corpus_prep(spark, spark.read.parquet(*staged["base"], *staged["delta"]),
                                 out_dir, resume=True, **self._kw(spark))
        return {"expect": (inputs.expected_perdoc_survivors(self.base_rows),
                           inputs.expected_perdoc_survivors(self.base_rows + self.delta_rows)),
                "got": (s1["cleaned_rows"], s2["cleaned_rows"]),
                "summaries": (s1, s2),
                "digests": _digests(spark.read.parquet(os.path.join(out_dir, "corpus")))}

    def check(self, spark, staged, passes) -> list[str]:
        """Every pass's exact dedup removes at least the injected copies and
        every build over the base pages yields the same ``prep_report`` row;
        the last pass's corpus (byte-identical text per url) equals the
        single-pass lazy declaration over the same pages."""
        from pdfextractor_spark.pipeline.webclean import prepare_training_corpus

        problems = []
        first = passes[0]["summaries"][0]["prep_report"]
        for p in passes:
            s1 = p["summaries"][0]
            if s1["cleaned_rows"] - s1["flagged_rows"] < self.n_copies:
                problems.append(f"exact dedup removed {s1['cleaned_rows'] - s1['flagged_rows']}"
                                f" rows, fewer than the {self.n_copies} injected copies")
            if s1["prep_report"] != first:
                problems.append(f"prep_report {s1['prep_report']} differs from {first}"
                                " between builds of one seed")
        pages = spark.read.parquet(*staged["base"], *staged["delta"])
        ref = _digests(prepare_training_corpus(pages, filter_rows=True, **self._kw(spark)))
        if ref != passes[-1]["digests"]:
            problems.append("runner corpus differs from the single-pass declaration in "
                            f"{len(ref ^ passes[-1]['digests'])} rows")
        return problems


def _digests(df) -> set[tuple[str, str]]:
    return {(r["url"], r["h"]) for r in
            df.select("url", F.sha2(F.col("text"), 256).alias("h")).collect()}


WORKLOADS = {w.name: w for w in (ExtractFused, MedallionResume)}

