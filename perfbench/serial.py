"""Single-thread baseline with no Spark: the same documents through the
same per-document functions the Spark UDFs call, one at a time.

It gives the per-document cost of the ``sources`` layer (payload decode and
text extraction) and the ``extraction`` layer (sectioning and structuring),
and their summed CPU time, the denominator of ``fused.overhead_ratio``.
"""

from __future__ import annotations

import math
import time

from pdfextractor_spark.pipeline.bronze import _extract_one
from pdfextractor_spark.pipeline.silver import build_report_row
from pdfextractor_spark.sources.encoding import sniff_decode
from pdfextractor_spark.sources.html import extract_html_text
from pdfextractor_spark.sources.pdf import extract_pdf_auto


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile; 0 for an empty sample."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def _source(payload: bytes) -> tuple[str | None, bool]:
    """The parse branch ``bronze._extract_one`` takes: (text, is_error)."""
    if payload[:5] == b"%PDF-":
        try:
            text = extract_pdf_auto(payload)[0]
        except Exception:
            return None, True
        return text, not text.strip()
    try:
        return extract_html_text(sniff_decode(payload)[0]), False
    except Exception:
        return None, True


def baseline(rows: list[dict]) -> dict:
    html_ms, pdf_ms, report_ms = [], [], []
    src_cpu = rep_cpu = 0.0
    errors = goals = bmps = tables = 0
    for r in rows:
        payload = r["html"]
        text = r["text"]
        if payload:
            w0, c0 = time.perf_counter(), time.thread_time()
            text, err = _source(bytes(payload))
            src_cpu += time.thread_time() - c0
            (pdf_ms if payload[:5] == b"%PDF-" else html_ms).append(
                (time.perf_counter() - w0) * 1000)
            errors += err
        w0, c0 = time.perf_counter(), time.thread_time()
        row = build_report_row(r["url"], r["lang"], text)
        rep_cpu += time.thread_time() - c0
        report_ms.append((time.perf_counter() - w0) * 1000)
        goals += row["total_goals"]
        bmps += row["total_bmps"]
        tables += len(row["cost_tables"])
    return {
        "sources.html_ms_p50": pct(html_ms, 50), "sources.html_ms_p99": pct(html_ms, 99),
        "sources.pdf_ms_p50": pct(pdf_ms, 50), "sources.pdf_ms_p99": pct(pdf_ms, 99),
        "sources.cpu_s": src_cpu, "sources.error_docs": errors,
        "extraction.report_ms_p50": pct(report_ms, 50),
        "extraction.report_ms_p99": pct(report_ms, 99),
        "extraction.cpu_s": rep_cpu,
        "extraction.goals": goals, "extraction.bmps": bmps,
        "extraction.cost_tables": tables,
    }


def reference_rows(rows: list[dict], fused: bool) -> list[dict]:
    """Serial silver rows, ``build_report_row(_extract_one(...))``. The
    fused path also carries the extraction error into the row."""
    out = []
    for r in rows:
        text = r["text"] if isinstance(r["text"], str) else None
        raw, _parser, _n, error, _enc = _extract_one(r["html"], text)
        row = build_report_row(r["url"], r["lang"], raw)
        if fused and error is not None and row.get("error") is None:
            row["error"] = error
        out.append(row)
    return out
