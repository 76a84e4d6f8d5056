"""Standing guard against unbounded aggregation buffers.

Spark's exact ``percentile`` / ``median`` / ``collect_list`` /
``collect_set`` aggregates hold a whole group inside an
ObjectHashAggregate buffer whose spill fallback triggers on the number
of KEYS, not buffer size — so a tall group (few keys x millions of
rows) never spills and dies with a heap OOM. The 10x scaling census
measured exactly that on the old agg_percentiles plan; the sort-based
kernel in operators/quantiles.py replaced the whole class.

This test makes the ban mechanical:

* exact percentile/median aggregate calls are forbidden in plan code
  (percentile_approx, a mergeable fixed-size sketch, is fine; the
  quantile kernel itself and tests that pin equivalence are exempt);
* every collect_list/collect_set call site must appear in the bounded
  whitelist below — adding a new one fails here until its boundedness
  argument is recorded.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "s3_avro_repair_spark"

# file -> (expected call-site count, why every site is bounded)
BOUNDED_COLLECT_SITES = {
    "operators/windows.py": (2, "ROWS frames of 20 (ts_ewma) and 7 (ts_rolling_median)"),
    "operators/aggregations.py": (3, "5 distinct priorities (agg_collect); rank<=k rows and 3 k-sized sketches (agg_distinct_kmv)"),
    "operators/llm.py": (1, "per-document segment list (dedup_segments)"),
    "operators/text_quality.py": (1, "rank<=1024 bucket members (dedup_simhash)"),
    "operators/graph.py": (1, "64 dims per centroid of k=4 (kmeans_quantized) or k=8 (dedup_semantic): the one Lloyd update, _lloyd_two_rounds"),
    "operators/composite.py": (1, "per-document segment list (q_corpus_pipeline)"),
    "operators/extensions.py": (2, "per-document span list (<= len/16 structs) and per-document kept-token arrays, one per delivery copy (dedup_substring_apply r10 doc-level rework — same document-length bound as the single site it replaced)"),
    "operators/curation.py": (3, "one 127-char hex prefix per delivery copy (dedup_phash r11 in-row signature — the 63-coefficient median collect it replaced is now in-row); 24-row trend frame + one-per-day seasonal list (ts_seasonal_decompose)"),
}

EXACT_PERCENTILE = re.compile(
    r"F\.(median|percentile|mode)\(|[\"'(]\s*percentile\(|expr\(\s*[\"']median\("
)
COLLECT = re.compile(r"collect_(list|set)\(")


def py_sources():
    return sorted(PKG.rglob("*.py"))


def test_no_buffering_exact_percentile_aggregates():
    offenders = []
    for path in py_sources():
        if path.name == "quantiles.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if "percentile_approx" in line:
                continue
            if EXACT_PERCENTILE.search(line):
                offenders.append(f"{path.relative_to(PKG)}:{i}: {line.strip()}")
    assert not offenders, (
        "exact percentile/median/mode aggregates buffer whole groups "
        "without spilling; use operators/quantiles.exact_quantiles "
        "(or a bounded rewrite) instead:\n" + "\n".join(offenders)
    )


def test_collect_sites_are_whitelisted_bounded():
    found: dict[str, int] = {}
    for path in py_sources():
        n = sum(
            1
            for line in path.read_text().splitlines()
            if COLLECT.search(line) and not line.lstrip().startswith("#")
        )
        if n:
            found[str(path.relative_to(PKG))] = n
    expected = {k: v[0] for k, v in BOUNDED_COLLECT_SITES.items()}
    assert found == expected, (
        "collect_list/collect_set call sites changed; every site buffers "
        "its whole group in a non-spilling ObjectHashAggregate buffer, so "
        "each one must be bounded (frame, rank<=k, per-doc) and recorded "
        f"in BOUNDED_COLLECT_SITES.\nfound={found}\nwhitelist={expected}"
    )
