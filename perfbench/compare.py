"""Compare two sets of perfbench results, metric by metric, per workload.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds result records as run.py writes them
(.perfbench/results/, one subdirectory per workload, or one workload's
records directly). Records with --trace 0 give the end-to-end metrics,
records with --trace 1 the per-layer ones. For every metric the table
shows each side's median and quartiles, the change of the medians and
the metric's bound from BENCHMARK.json, and a verdict:

- unresolved: either side's spread (q3 - q1, as a share of its median)
  is wider than the bound, unless every new run reads better than
  every base run;
- worse / better: the medians differ by more than the bound;
- same: within the bound.

Per-layer metrics have no bound and get no verdict.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

from stats import quartiles

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec() -> dict[str, dict]:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"]}


def load_records(root: str) -> dict[str, list[dict]]:
    """workload -> records found under root (recursively)."""
    out: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(root, "**", "*.json"), recursive=True)):
        with open(path) as f:
            rec = json.load(f)
        if isinstance(rec, dict) and "workload" in rec and "metrics" in rec:
            out.setdefault(rec["workload"], []).append(rec)
    return out


def series(records: list[dict]) -> dict[str, tuple[list[float], str]]:
    out: dict[str, tuple[list[float], str]] = {}
    for rec in records:
        for name, (value, unit) in rec["metrics"].items():
            out.setdefault(name, ([], unit))[0].append(value)
    return out


def verdict(base: list[float], new: list[float], spec: dict | None) -> str:
    if spec is None:
        return ""
    bound, lower = spec["bound"], spec["better"] == "lower"
    b1, bm, b3 = quartiles(base)
    n1, nm, n3 = quartiles(new)
    if lower:
        dominates = max(new) < min(base)
    else:
        dominates = min(new) > max(base)
    spread = max((b3 - b1) / bm if bm else 0.0, (n3 - n1) / nm if nm else 0.0)
    if spread > bound:
        return "better (every run)" if dominates else "unresolved"
    change = (nm - bm) / bm if bm else 0.0
    worse = change > bound if lower else change < -bound
    better = change < -bound if lower else change > bound
    return "worse" if worse else "better" if better else "same"


def compare(base_root: str, new_root: str) -> int:
    spec = load_spec()
    base, new = load_records(base_root), load_records(new_root)
    worse = 0
    for workload in sorted(set(base) & set(new)):
        bs, ns = series(base[workload]), series(new[workload])
        print(f"== {workload}: base {len(base[workload])} runs, new {len(new[workload])} runs")
        print(
            f"  {'metric':32s} {'unit':>6s} {'base q1/med/q3':>30s} "
            f"{'new q1/med/q3':>30s} {'change':>8s} {'bound':>6s}  verdict"
        )
        for name in [n for n in bs if n in ns]:
            (bv, unit), (nv, _) = bs[name], ns[name]
            b, n = quartiles(bv), quartiles(nv)
            change = (n[1] - b[1]) / b[1] if b[1] else 0.0
            m = spec.get(name)
            v = verdict(bv, nv, m)
            worse += v == "worse"
            bound = f"{m['bound']:.2f}" if m else "-"
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(
                f"  {name:32s} {unit:>6s} {fmt(b):>30s} {fmt(n):>30s} "
                f"{change:+8.1%} {bound:>6s}  {v}"
            )
    return worse


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args()
    sys.exit(1 if compare(args.base, args.new) else 0)


if __name__ == "__main__":
    main()
