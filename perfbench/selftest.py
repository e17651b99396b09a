"""Self-test of the benchmark: a short run of each workload on the
sf0.001 tables, untraced and traced, asserting that

- every end-to-end and per-layer metric is emitted with its unit;
- every timed op's action ran at least one Spark job;
- 0 < spark.cpu_util <= 1, per workload and per query;
- fail_ratio == 0 (every op succeeded, every output check matched);
- in the traced run every job of the event log is attributed to
  exactly one op or to set-up.

    python3 perfbench/selftest.py [--workload NAME ...]

Run from the checkout root; exits non-zero on the first failed check.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import metrics
from workloads import SELFTEST_SF_DIR, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = os.path.join(os.getcwd(), ".perfbench", "runs")


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")


def _run(workload: str, trace: int) -> tuple[dict, str]:
    """One run.py invocation; returns (its result line, its run dir)."""
    before = set(os.listdir(RUNS)) if os.path.isdir(RUNS) else set()
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", "7",
        "--seconds", "1",
        "--trace", str(trace),
        "--sf-dir", SELFTEST_SF_DIR,
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    sys.stderr.write(out.stderr[-3000:])
    _check(out.returncode == 0, f"{workload} trace={trace}: run.py exited {out.returncode}")
    new = sorted(set(os.listdir(RUNS)) - before)
    _check(len(new) == 1, f"{workload}: expected one new run dir, got {new}")
    return json.loads(out.stdout.strip().splitlines()[-1]), os.path.join(RUNS, new[0])


def _emitted(result: dict, units: dict[str, str], where: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    _check(got == units, f"{where}: metrics/units {got} != {units}")


def selftest(workload: str) -> None:
    res, _ = _run(workload, 0)
    _emitted(res, metrics.E2E_UNITS, f"{workload} trace=0")
    _check(res["correct"] and res["failed"] == 0, f"{workload}: failures {res}")

    res, run_dir = _run(workload, 1)
    _emitted(res, metrics.LAYER_UNITS, f"{workload} trace=1")
    m = {k: v["value"] for k, v in res["metrics"].items()}
    _check(res["failed"] == 0 and m["fail_ratio"] == 0, f"{workload}: fail_ratio {m['fail_ratio']}")
    _check(0 < m["spark.cpu_util"] <= 1, f"{workload}: spark.cpu_util {m['spark.cpu_util']}")

    with open(os.path.join(run_dir, "traced.json")) as f:
        traced = json.load(f)
    table = metrics.op_table(traced)
    for o in traced["ops"]:
        _check(table[o["op"]]["action.jobs"] >= 1, f"{workload}: op {o['op']} ({o['q']}) ran no action job")
    _, per_query = metrics.layers(traced, 1.0, traced["cpus"])
    for q, row in per_query.items():
        util = row["spark.cpu_util"]
        _check(0 < util <= 1, f"{workload}: {q} spark.cpu_util {util}")
    ops = {o["op"] for o in traced["cold"] + traced["warm"] + traced["ops"]}
    for j in traced["jobs"]:
        _check(j["label"] is not None, f"{workload}: job {j['job_id']} unattributed")
        op = j["label"][0]
        _check(op == "setup" or op in ops, f"{workload}: job {j['job_id']} labelled {j['label']}")
        _check(j["how"] != "window" or j["matches"] == 1, f"{workload}: job {j['job_id']} in {j['matches']} windows")
    print(
        f"selftest {workload}: ok ({len(traced['ops'])} timed ops, {len(traced['jobs'])} jobs, "
        f"{m['trace.jobs_by_window']:.2%} attributed by window)"
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    args = ap.parse_args()
    for w in args.workload or sorted(WORKLOADS):
        selftest(w)


if __name__ == "__main__":
    main()
