"""Round-17 (optimization round 2) pins:

1. VERDICT r16 item 9: the session table memo's correctness rests on
   catalog.register_tables being the ONLY writer of the ten TABLES
   temp-view names — a later module registering e.g. its own
   'lineitem' view would silently serve stale plans out of the memo.
   The audit that established this was a one-off grep; this makes it
   a standing lint.
2. VERDICT r16 item 2: bench.py's output JSON must carry the
   ambient-load marker (marker_min) whenever the marker query was
   benched, so PERF comparisons self-adjudicate co-tenant
   contamination (additions-only; the driver contract ignores extra
   keys).
"""

from __future__ import annotations

import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "datafusion_tpc_spark")


def test_table_view_names_owned_by_catalog_only():
    """No module outside catalog.py may createOrReplaceTempView any of
    the ten TABLES names (catalog.register_tables' precondition, made
    a lint per VERDICT r16 item 9). Derived views with other names
    (partsupp, logs, docs_for_udtf) are fine — they are not memoized
    base tables."""
    from datafusion_tpc_spark.catalog import TABLES

    offenders: list[str] = []
    for root, _dirs, files in os.walk(_PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            if os.path.basename(path) == "catalog.py":
                continue
            with open(path) as fh:
                src = fh.read()
            for m in re.finditer(
                r"createOrReplaceTempView\(\s*[\"']([^\"']+)[\"']", src
            ):
                if m.group(1) in TABLES:
                    offenders.append(f"{path}: {m.group(0)}")
    assert not offenders, (
        "TABLES view names must only be registered by "
        f"catalog.register_tables (the memo's ownership precondition): "
        f"{offenders}"
    )


def test_bench_emits_marker_min():
    """bench.py's JSON line carries the in-run marker (q_dedup_prefix
    min) exactly when the marker is in the benched set. Pinned on
    bench.summarize, the function that builds the line (running the
    bench here would cost minutes and race the suite's Spark
    session)."""
    sys.path.insert(0, _REPO)
    from bench import summarize

    med = {"q_scan_full": 0.5, "q_dedup_prefix": 1.25}
    mins = {"q_scan_full": 0.25, "q_dedup_prefix": 1.0}
    out = summarize(med, mins, 0.1)
    assert out == {
        "metric": "sum_median_sec",
        "value": 1.75,
        "unit": "sec",
        "queries": med,
        "queries_min": mins,
        "sum_min_sec": 1.25,
        "sf": 0.1,
        "marker_min": 1.0,
    }
    out = summarize({"q_scan_full": 0.5}, {"q_scan_full": 0.25}, 0.1)
    assert "marker_min" not in out
    assert out["value"] == 0.5 and out["sum_min_sec"] == 0.25
