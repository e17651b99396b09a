"""One benchmark client: set-up, output check and a closed loop of ops.

Started by perfbench/run.py from the root of a checkout, one process
per measurement, so that set-up is what a caller pays from process
start: import + ``registry.load_all()``, ``session.get_spark``, then
one cold pass; untimed warm-up passes follow before the timed loop. An
op is ``registry.QUERIES[name](spark, sf_dir)`` followed by a ``noop``
write of the returned DataFrame.

With ``--trace`` the worker runs under Spark's event log (enabled by
the runner through PYSPARK_SUBMIT_ARGS), tags every op's build and
action with a job group, wraps the public functions of
``datafusion_tpc_spark.catalog`` and ``fixtures.optimize`` with spans,
and attributes the logged jobs to ops after the session stops.
"""

from __future__ import annotations

import argparse
import dataclasses
import functools
import gc
import inspect
import json
import os
import random
import sys
import threading
import time
import traceback

# the program under test lives at the checkout root, the worker runs from it
sys.path.insert(1, os.getcwd())

import eventlog  # noqa: E402
import procfs  # noqa: E402
from workloads import WORKLOADS, sf_tag  # noqa: E402


def _now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written out
    once at exit. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def start(self, name: str) -> dict | None:
        if not self.enabled:
            return None
        stack = self._local.__dict__.setdefault("stack", [])
        span = {
            "name": name,
            "start_ms": _now_ms(),
            "end_ms": None,
            "parent": stack[-1]["id"] if stack else None,
            "op": self.op_id,
        }
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: dict | None) -> None:
        if span is not None:
            span["end_ms"] = _now_ms()
            self._local.stack.pop()

    def wrap_public_functions(self, module, span_prefix: str) -> None:
        """Replace each public function defined in ``module`` with a
        spanned wrapper, in the module and in every loaded module that
        imported the name directly."""
        for name, fn in list(vars(module).items()):
            if name.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ != module.__name__:
                continue
            wrapper = self._wrapped(fn, f"{span_prefix}.{name}")
            for mod in list(sys.modules.values()):
                if getattr(mod, name, None) is fn:
                    setattr(mod, name, wrapper)

    def _wrapped(self, fn, span_name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = self.start(span_name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(span)

        return wrapper


class Client:
    def __init__(self, spark, sf_dir: str, tracer: Tracer):
        from datafusion_tpc_spark import registry

        self.queries = registry.QUERIES
        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self.tracer = tracer

    def _group(self, op_id: str, phase: str) -> None:
        if self.tracer.enabled:
            self.sc.setJobGroup(eventlog.group_id(op_id, phase), phase)

    def op(self, name: str, op_id: str) -> tuple[dict, object]:
        """Run one op; never raises. Returns its record (times in epoch
        ms) and the DataFrame it built (None if the build failed)."""
        tr = self.tracer
        tr.op_id = op_id
        rec = {"q": name, "op": op_id, "ok": False, "error": None}
        root = tr.start("op")
        t0 = _now_ms()
        t1 = df = None
        try:
            self._group(op_id, "build")
            span = tr.start("build")
            try:
                df = self.queries[name](self.spark, self.sf_dir)
            finally:
                tr.end(span)
            t1 = _now_ms()
            self._group(op_id, "action")
            span = tr.start("action")
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                tr.end(span)
            rec["ok"] = True
        except Exception as exc:  # an op failure is a result, not a crash
            first_line = (str(exc).splitlines() or [""])[0]
            rec["error"] = f"{type(exc).__name__}: {first_line[:300]}"
            traceback.print_exc(file=sys.stderr)
        t2 = _now_ms()
        tr.end(root)
        if tr.enabled:
            self.sc._jsc.clearJobGroup()
        tr.op_id = None
        rec.update(t0=t0, t1=t1 if t1 is not None else t2, t2=t2)
        rec["build_ms"] = rec["t1"] - t0
        rec["action_ms"] = t2 - rec["t1"]
        rec["ms"] = t2 - t0
        return rec, df


def check(name: str, df) -> dict:
    """Row count and order-insensitive digest of an op's DataFrame."""
    from digest import digest

    if df is None:
        return {"q": name, "rows": None, "digest": None, "error": "op failed"}
    try:
        rows, dig = digest(df)
        return {"q": name, "rows": rows, "digest": dig, "error": None}
    except Exception as exc:
        traceback.print_exc(file=sys.stderr)
        return {"q": name, "rows": None, "digest": None, "error": type(exc).__name__}


def _dir_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                try:
                    total += os.lstat(os.path.join(dirpath, f)).st_size
                except OSError:
                    pass
    return total


def _retained_mb(spark) -> tuple[float, float]:
    """Memory the session holds on to: (JVM heap in use after full GCs,
    the Python client's resident memory). Unlike peak RSS it does not
    depend on when the JVM chose to grow its heap."""
    jvm = spark.sparkContext._jvm
    # Python first, so Py4J releases JVM objects; then two JVM GCs with
    # a pause, which lets Spark's ContextCleaner drop what the first
    # one made unreachable
    gc.collect()
    for _ in range(2):
        time.sleep(0.5)
        jvm.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20, procfs.rss_mb(os.getpid())


def _stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to end (it exits when its stdin
    closes); the runner reaps any process of the worker still left."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--check", action="store_true")
    ap.add_argument("--min-passes", type=int, default=2)
    ap.add_argument("--warmup-passes", type=int, default=0)
    ap.add_argument("--eventlog-dir")
    args = ap.parse_args()

    names = list(WORKLOADS[args.workload])
    rng = random.Random(args.seed)
    tracer = Tracer(args.trace)
    res: dict = {"queries": names, "sf": sf_tag(args.sf_dir), "cpus": args.cpus}

    span = tracer.start("registry.load_all")
    from datafusion_tpc_spark import registry

    registry.load_all()
    tracer.end(span)
    if args.trace:
        import fixtures.optimize
        from datafusion_tpc_spark import catalog

        tracer.wrap_public_functions(catalog, "catalog")
        tracer.wrap_public_functions(fixtures.optimize, "fixtures.optimize")
    from datafusion_tpc_spark.session import get_spark

    span = tracer.start("session.get_spark")
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=args.cpus)
    res["get_spark_ms"] = (time.perf_counter() - t) * 1000.0
    tracer.end(span)
    res["spark_version"] = spark.version
    res["java_version"] = spark.sparkContext._jvm.System.getProperty("java.version")
    client = Client(spark, args.sf_dir, tracer)

    # the cold pass runs in the workload's listed order: what runs first
    # in a fresh JVM shapes its JIT profile for the rest of the run
    span = tracer.start("setup.cold_pass")
    res["cold"] = [client.op(q, f"c{i}")[0] for i, q in enumerate(names)]
    tracer.end(span)
    res["setup_end_ms"] = _now_ms()

    # untimed warm-up (see workloads.WARMUP_PASSES)
    res["warm"] = []
    for _ in range(args.warmup_passes):
        order = names[:]
        rng.shuffle(order)
        res["warm"] += [client.op(q, f"w{len(res['warm'])}")[0] for q in order]

    cache_roots = (".cache", "spark-warehouse")
    disk0 = _dir_bytes(*cache_roots)
    cpu0 = procfs.tree_cpu_ms(os.getpid())
    ops, passes, passes_cpu, last_df = [], [], [], {}
    loop_start = time.perf_counter()
    cpu = cpu0
    while True:
        order = names[:]
        rng.shuffle(order)
        p0 = time.perf_counter()
        for q in order:
            rec, last_df[q] = client.op(q, f"o{len(ops)}")
            ops.append(rec)
        passes.append((time.perf_counter() - p0) * 1000.0)
        cpu, prev = procfs.tree_cpu_ms(os.getpid()), cpu
        passes_cpu.append(cpu - prev)
        elapsed = time.perf_counter() - loop_start
        if elapsed >= args.seconds and len(passes) >= args.min_passes:
            break
    res["loop_s"] = time.perf_counter() - loop_start
    res["tree_cpu_ms"] = procfs.tree_cpu_ms(os.getpid()) - cpu0
    res["peak_rss_mb"] = procfs.peak_rss_mb(os.getpid())
    res["disk_delta_bytes"] = _dir_bytes(*cache_roots) - disk0
    res["ops"], res["passes_ms"], res["passes_cpu_ms"] = ops, passes, passes_cpu
    if args.check:
        # outside timing: the DataFrames the last pass built and wrote
        res["checks"] = [check(q, last_df[q]) for q in names]
    del last_df  # their executed plans pin broadcast relations
    if args.trace:  # retained_mb is a per-layer metric
        res["jvm_heap_mb"], res["py_rss_mb"] = _retained_mb(spark)
    _stop_session(spark)

    if args.trace:
        res["spans"] = tracer.spans
        logs = [os.path.join(args.eventlog_dir, f) for f in os.listdir(args.eventlog_dir)]
        if len(logs) != 1:
            raise SystemExit(f"expected one event log in {args.eventlog_dir}, found {logs}")
        windows = [
            eventlog.Window(o["op"], phase, lo, hi)
            for o in res["cold"] + res["warm"] + ops
            for phase, lo, hi in (("build", o["t0"], o["t1"]), ("action", o["t1"], o["t2"]))
        ]
        jobs = eventlog.read_jobs(logs[0])
        eventlog.attribute(jobs, windows, res["setup_end_ms"])
        res["jobs"] = [dataclasses.asdict(j) for j in jobs]
    with open(args.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
