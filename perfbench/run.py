"""perfbench: call-to-last-row benchmark of the registered queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 20 --trace 0

An op is what a caller pays: ``registry.QUERIES[name](spark, sf_dir)``
then a ``noop`` write of the DataFrame it returns. One client thread
in one worker process drives the workload's queries in a closed loop,
in passes that run every query once in a seed-shuffled order. Set-up
is process start, ``registry.load_all()``, ``session.get_spark`` with
min(4, nproc // 2) cores, and one cold pass; a few untimed warm-up
passes follow before the timed loop. Inputs are the tables under
perfbench/data/sf0.01, read through the layout-optimized copies
(SPARK_GRAFT_OPT_CACHE=1).

``--trace 0`` runs one untraced worker and prints the end-to-end
metrics. ``--trace 1`` runs an untraced worker and then a traced one
(Spark event log on, job groups per op, spans around the catalog),
each timing for half of ``--seconds``, and prints the per-layer
metrics, with ``trace.overhead`` the ratio of the two workers'
throughput. Either way the untraced worker checks every
query's row count and content digest against perfbench/expected.json
once, outside timing.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; a readable
summary goes to standard error, and the full record (host stamp,
per-query numbers) to .perfbench/results/<workload>/ for
perfbench/compare.py.

The first run of a workload in a checkout first runs one untimed
set-up to build the program's on-disk caches (.cache/), so every
measured set-up starts from the same state.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import os
import shlex
import signal
import subprocess
import sys
import time

import metrics
import procfs
from workloads import SF_DIR, WARMUP_PASSES, WORKLOADS, sf_tag

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
# a run must end within 180 s; the untimed first set-up in a checkout
# builds the program's disk caches and may take longer
RUN_BUDGET_S = 170
PREPARE_BUDGET_S = 600
# a worker's JVM and Python daemons exit on their own once it stops
REAP_GRACE_S = 20


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _source_digest() -> str:
    """Content hash of the program under test (stands in for the git rev
    in a checkout that is not a repository)."""
    h = hashlib.sha256()
    for top in ("datafusion_tpc_spark", "fixtures"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _git_rev() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _worker_env(cpus: int, eventlog_dir: str | None) -> dict:
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if eventlog_dir:
        for conf in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{eventlog_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ):
            submit += ["--conf", conf]
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_OPT_CACHE="1",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )
    return env


def _run_worker(
    run_dir: str, tag: str, args: list[str], cpus: int, trace: bool, deadline: float
) -> tuple[dict, float]:
    """Run one worker to completion, killing it at the monotonic
    deadline; returns (its record, spawn epoch ms)."""
    out = os.path.join(run_dir, f"{tag}.json")
    log = os.path.join(run_dir, f"{tag}.log")
    eventlog_dir = None
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args, "--cpus", str(cpus), "--out", out]
    if trace:
        eventlog_dir = os.path.join(run_dir, f"{tag}-eventlog")
        os.makedirs(eventlog_dir)
        cmd += ["--trace", "--eventlog-dir", eventlog_dir]
    env = _worker_env(cpus, eventlog_dir)
    with open(log, "w") as logf:
        spawn_ms = time.time() * 1000.0
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT)
        # every process the worker starts (its JVM, and the JVM's
        # pyspark.daemon, which leads a process group of its own and
        # outlives the JVM by a moment); sampled while the worker runs,
        # since children of an exited process lose their parent link
        started: dict[int, int] = {}
        try:
            while proc.poll() is None and time.monotonic() < deadline:
                started.update(procfs.tree_starts(proc.pid))
                time.sleep(0.5)
        finally:
            grace = REAP_GRACE_S
            if proc.poll() is None:  # past the deadline, or interrupted
                proc.kill()
                grace = 0
            proc.wait()
            procfs.reap(started, grace)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        _fail(f"{tag} worker exited with {proc.returncode}; log: {log}")
    with open(out) as f:
        return json.load(f), spawn_ms


def _print_summary(record: dict) -> None:
    w = sys.stderr.write
    st = record["stamp"]
    w(f"# perfbench {record['workload']} seed={st['seed']} nproc={st['nproc']} "
      f"SPARK_GRAFT_CPUS={st['SPARK_GRAFT_CPUS']} rev={st['git_rev'] or '-'} "
      f"src={st['source_digest']} pyspark={st['pyspark']} java={st['java']}\n")
    for name, (value, unit) in record["metrics"].items():
        w(f"  {name:32s} {value:14.4f} {unit}\n")
    w(f"  failed {record['failed']} of {record['attempted']} attempted "
      f"(ops and output checks); {record['ops']} timed ops in {record['passes']} passes\n")
    for msg in record["failures"]:
        w(f"  FAIL {msg}\n")
    if record.get("per_query"):
        cols = ("op_ms_p50", "build.ms", "action.ms", "action.jobs", "spark.cpu_util", "build.first_ms")
        w(f"  {'query':26s}" + "".join(f"{c:>16s}" for c in cols) + "\n")
        for q, row in record["per_query"].items():
            w(f"  {q:26s}" + "".join(f"{row.get(c, 0.0):16.2f}" for c in cols) + "\n")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=SF_DIR, help=argparse.SUPPRESS)
    ap.add_argument(
        "--record",
        action="store_true",
        help="store this run's output digests in perfbench/expected.json",
    )
    args = ap.parse_args()
    # on SIGTERM unwind through _run_worker's cleanup, which kills the
    # worker and every process it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "datafusion_tpc_spark", "registry.py")):
        _fail(f"no datafusion_tpc_spark package under {ROOT}; run from the checkout root")
    if not os.path.isfile(os.path.join(args.sf_dir, "lineitem.parquet")):
        _fail(f"no input tables under {args.sf_dir}")
    if args.seconds <= 0:
        _fail("--seconds must be positive")

    nproc = len(os.sched_getaffinity(0))
    # half the host's cores, at most 4: the JVM's JIT and GC threads,
    # the Python client and its workers run beside Spark's task slots,
    # and with a slot on every core the run measured the scheduler
    # (latencies and CPU per op moved 20-40% from run to run on 4 cores)
    cpus = max(1, min(4, nproc // 2))
    src = _source_digest()
    stamp_utc = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{stamp_utc}-s{args.seed}-t{args.trace}")
    os.makedirs(run_dir)
    # a traced run splits its time between an untraced and a traced
    # worker, so trace.overhead compares loops of the same length
    loop_s = args.seconds / 2 if args.trace else args.seconds
    base = ["--workload", args.workload, "--seed", str(args.seed), "--sf-dir", args.sf_dir]
    loop = ["--seconds", str(loop_s), "--warmup-passes", str(WARMUP_PASSES)]

    prepared = os.path.join(STATE, "prepared", f"{args.workload}-{sf_tag(args.sf_dir)}-{src}")
    if not os.path.exists(prepared):
        _run_worker(
            run_dir,
            "prepare",
            base + ["--seconds", "0", "--min-passes", "1"],
            cpus,
            False,
            time.monotonic() + PREPARE_BUDGET_S,
        )
        os.makedirs(os.path.dirname(prepared), exist_ok=True)
        open(prepared, "w").close()

    deadline = time.monotonic() + RUN_BUDGET_S
    res, spawn_ms = _run_worker(
        run_dir, "untraced", base + loop + ["--check"], cpus, False, deadline
    )
    e2e = metrics.end_to_end(res, spawn_ms)
    if args.record:
        import expected

        expected.record(res["checks"], res["sf"])
    attempted, failed, msgs = metrics.failures(res)
    per_query = None
    if args.trace:
        traced, _ = _run_worker(
            run_dir, "traced", base + loop, cpus, True, deadline
        )
        values, per_query = metrics.layers(traced, e2e["qps"], cpus)
        t_attempted, t_failed, t_msgs = metrics.failures(traced)
        attempted, failed, msgs = attempted + t_attempted, failed + t_failed, msgs + t_msgs
        out_metrics = {k: (values[k], u) for k, u in metrics.LAYER_UNITS.items()}
    else:
        out_metrics = {k: (e2e[k], u) for k, u in metrics.E2E_UNITS.items()}

    record = {
        "workload": args.workload,
        "trace": args.trace,
        "stamp": {
            "seed": args.seed,
            "seconds": args.seconds,
            "nproc": nproc,
            "SPARK_GRAFT_CPUS": cpus,
            "git_rev": _git_rev(),
            "source_digest": src,
            "pyspark": res["spark_version"],
            "java": res["java_version"],
            "sf": res["sf"],
            "utc": stamp_utc,
        },
        "metrics": out_metrics,
        "ops": len(res["ops"]),
        "passes": len(res["passes_ms"]),
        "attempted": attempted,
        "failed": failed,
        "failures": msgs,
        "per_query": per_query,
    }
    results = os.path.join(STATE, "results", args.workload)
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, os.path.basename(run_dir) + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    _print_summary(record)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out_metrics.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
