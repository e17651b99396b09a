"""Turn a worker's raw record into the benchmark's metrics.

End-to-end metrics come from an untraced worker; per-layer metrics
from a traced one. "Per op" values are means over the timed ops, which
run in whole passes, so every query weighs the same.
"""

from __future__ import annotations

import math
from collections import defaultdict

from expected import mismatches
from stats import geomean, hd_quantile, median

E2E_UNITS = {
    "setup_s": "s",
    "qps": "1/s",
    "op_ms_p50": "ms",
    "op_ms_p90": "ms",
    "cpu_ms_per_op": "ms",
}

LAYER_UNITS = {
    "session.get_spark_ms": "ms",
    "catalog.load_table.calls": "count",
    "catalog.load_table.ms": "ms",
    "catalog.load_table.setup_calls": "count",
    "catalog.load_table.setup_ms": "ms",
    "catalog.ensure_optimized.ms": "ms",
    "build.ms": "ms",
    "build.jobs": "count",
    "build.first_ms": "ms",
    "build.first_jobs": "count",
    "action.ms": "ms",
    "action.jobs": "count",
    "action.stages": "count",
    "action.tasks": "count",
    "spark.run_ms": "ms",
    "spark.cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.cpu_util": "ratio",
    "spark.wait_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "driver.cpu_ms": "ms",
    "io.bytes_written": "bytes",
    "io.records_written": "count",
    "cache.disk_delta_mb": "MB",
    "peak_rss_mb": "MB",
    "retained_mb": "MB",
    "fail_ratio": "ratio",
    "trace.overhead": "ratio",
    "trace.jobs_by_window": "ratio",
    "trace.jobs": "count",
    "trace.unattributed_jobs": "count",
}


def failures(res: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, messages) over cold, warm-up and timed ops and
    the output checks."""
    ops = res["cold"] + res["warm"] + res["ops"]
    msgs = [f"{o['q']} ({o['op']}): {o['error']}" for o in ops if not o["ok"]]
    checks = res.get("checks", [])
    msgs += mismatches(checks, res["sf"])
    return len(ops) + len(checks), len(msgs), msgs


def end_to_end(res: dict, spawn_ms: float) -> dict[str, float]:
    ops = res["ops"]
    by_q = defaultdict(list)
    for o in ops:
        if o["ok"]:
            by_q[o["q"]].append(o["ms"])
    # a failed op misses every latency limit
    pooled = [o["ms"] if o["ok"] else float("inf") for o in ops]
    p90 = hd_quantile(pooled, 0.9)
    return {
        "setup_s": (res["setup_end_ms"] - spawn_ms) / 1000.0,
        "qps": len(res["queries"]) / (median(res["passes_ms"]) / 1000.0),
        "op_ms_p50": geomean(median(v) for v in by_q.values()),
        # a result line holds finite numbers; failures show in `failed`
        "op_ms_p90": p90 if math.isfinite(p90) else 0.0,
        # the median pass, like qps: a JIT or GC burst, or a co-tenant,
        # moves one pass, not the figure
        "cpu_ms_per_op": median(res["passes_cpu_ms"]) / len(res["queries"]),
    }


def op_table(res: dict) -> dict[str, dict[str, float]]:
    """Per-op layer values (op id -> metric -> value) of a traced record."""
    table: dict[str, dict[str, float]] = {}
    for o in res["cold"] + res["warm"] + res["ops"]:
        table[o["op"]] = defaultdict(
            float, {"build.ms": o["build_ms"], "action.ms": o["action_ms"], "ms": o["ms"]}
        )
    for j in res["jobs"]:
        if not j["label"] or j["label"][0] not in table:
            continue
        op, phase = j["label"]
        row, m = table[op], j["metrics"]
        row[f"{phase}.jobs"] += m["jobs"]
        if phase == "action":
            row["action.stages"] += m["stages"]
            row["action.tasks"] += m["tasks"]
        for k, v in m.items():
            if "." in k:  # the spark.* and io.* sums
                row[k] += v
    for s in res["spans"]:
        if s["op"] in table and s["name"] == "catalog.load_table":
            table[s["op"]]["catalog.load_table.calls"] += 1
            table[s["op"]]["catalog.load_table.ms"] += s["end_ms"] - s["start_ms"]
    for row in table.values():
        row["spark.wait_ms"] = row["spark.run_ms"] - row["spark.cpu_ms"]
    return table


_PER_OP = (
    "catalog.load_table.calls",
    "catalog.load_table.ms",
    "build.ms",
    "build.jobs",
    "action.ms",
    "action.jobs",
    "action.stages",
    "action.tasks",
    "spark.run_ms",
    "spark.cpu_ms",
    "spark.gc_ms",
    "spark.wait_ms",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "io.bytes_written",
    "io.records_written",
)


def _rollup(rows: list[dict], cores: int, cpu_per_op_ms: float | None) -> dict[str, float]:
    n = max(len(rows), 1)
    out = {k: sum(r[k] for r in rows) / n for k in _PER_OP}
    wall = sum(r["ms"] for r in rows)
    out["spark.cpu_util"] = sum(r["spark.cpu_ms"] for r in rows) / (wall * cores) if wall else 0.0
    if cpu_per_op_ms is not None:
        out["driver.cpu_ms"] = cpu_per_op_ms - out["spark.cpu_ms"]
    return out


def layers(res: dict, untraced_qps: float, cores: int) -> tuple[dict, dict]:
    """(workload-level per-layer metrics, per-query per-layer metrics)."""
    table = op_table(res)
    timed = [table[o["op"]] for o in res["ops"]]
    cold = [table[o["op"]] for o in res["cold"]]
    spans_outside_loop = [
        s for s in res["spans"] if s["op"] is None or s["op"].startswith("c")
    ]

    def span_sum(name: str, spans) -> tuple[int, float]:
        hits = [s for s in spans if s["name"] == name]
        return len(hits), sum(s["end_ms"] - s["start_ms"] for s in hits)

    out = _rollup(timed, cores, res["tree_cpu_ms"] / len(res["ops"]))
    calls, ms = span_sum("catalog.load_table", spans_outside_loop)
    jobs = res["jobs"]
    attempted, failed, _ = failures(res)
    qps = len(res["queries"]) / (median(res["passes_ms"]) / 1000.0)
    out.update(
        {
            "session.get_spark_ms": res["get_spark_ms"],
            "catalog.load_table.setup_calls": calls,
            "catalog.load_table.setup_ms": ms,
            "catalog.ensure_optimized.ms": span_sum(
                "fixtures.optimize.ensure_optimized", res["spans"]
            )[1],
            "build.first_ms": sum(r["build.ms"] for r in cold),
            "build.first_jobs": sum(r["build.jobs"] for r in cold),
            "cache.disk_delta_mb": res["disk_delta_bytes"] / 2**20,
            "peak_rss_mb": res["peak_rss_mb"],
            "retained_mb": res["jvm_heap_mb"] + res["py_rss_mb"],
            "fail_ratio": failed / attempted,
            "trace.overhead": qps / untraced_qps,
            "trace.jobs_by_window": (
                sum(j["how"] == "window" for j in jobs) / len(jobs) if jobs else 0.0
            ),
            "trace.jobs": len(jobs),
            "trace.unattributed_jobs": sum(j["label"] is None for j in jobs),
        }
    )
    per_query = {}
    for q in res["queries"]:
        rows = [table[o["op"]] for o in res["ops"] if o["q"] == q]
        first = [table[o["op"]] for o in res["cold"] if o["q"] == q]
        pq = _rollup(rows, cores, None)
        pq["build.first_ms"] = sum(r["build.ms"] for r in first)
        pq["build.first_jobs"] = sum(r["build.jobs"] for r in first)
        pq["op_ms_p50"] = median(r["ms"] for r in rows)
        per_query[q] = pq
    return out, per_query
