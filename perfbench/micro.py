"""Single-thread microbench of the Python worker functions.

Runs on the driver, one page at a time, the functions the Arrow UDFs
batch over: ``html_extract.extract_text``, ``sources.qa.parse_qa_page``
and ``operators.flows.extract_page_flow_nodes``.  Their cost is per page
and scales out with partitions, so pages/s of one thread is the number a
change to them should move.  Pass-to-pass noise is large (tens of
percent), so these stay per-layer metrics.
"""

from __future__ import annotations

import time

from graph4code_spark.html_extract import extract_text
from graph4code_spark.operators.flows import build_flow_catalog, extract_page_flow_nodes
from graph4code_spark.sources.qa import parse_qa_page
from graph4code_spark.synth import FIXED_CATALOG


def _rate(n: int, seconds: float) -> float:
    return n / seconds if seconds > 0 else 0.0


def run_micro(pages: list[tuple[str, str]]) -> dict[str, float]:
    """``pages``: (url, html) pairs, already decoded."""
    t = time.perf_counter()
    for _, html in pages:
        extract_text(html)
    text_s = time.perf_counter() - t

    t = time.perf_counter()
    parsed = [parse_qa_page(url, html) for url, html in pages]
    qa_s = time.perf_counter() - t

    catalog = build_flow_catalog(FIXED_CATALOG)
    codes = [(q["url"], q["codes"]) for q in parsed if q is not None]
    nodes = errors = 0
    t = time.perf_counter()
    for url, page_codes in codes:
        try:
            nodes += len(extract_page_flow_nodes(url, page_codes, catalog))
        except Exception:  # noqa: BLE001 - counted, as the UDF's fault barrier does
            errors += 1
    flows_s = time.perf_counter() - t

    return {
        "html_extract.pages_per_s": _rate(len(pages), text_s),
        "sources.qa.pages_per_s": _rate(len(pages), qa_s),
        "operators.flows.pages_per_s": _rate(len(codes), flows_s),
        "operators.flows.nodes_per_page": nodes / max(len(codes), 1),
        "operators.flows.page_errors": errors,
    }
