"""Workload definitions shared by the runner, the worker and the tools.

Each workload is a fixed list of registered query names. The worker
drives them in a closed loop from one client thread; a pass runs every
query once, in an order shuffled by the run's seed.
"""

from __future__ import annotations

import os

HERE = os.path.dirname(os.path.abspath(__file__))

# Input tables: a copy of the deterministic sf0.01 test tables (and
# sf0.001 for the self-test) kept beside the benchmark, so a run reads
# nothing outside its checkout.
DATA_DIR = os.path.join(HERE, "data")
SF_DIR = os.path.join(DATA_DIR, "sf0.01")
SELFTEST_SF_DIR = os.path.join(DATA_DIR, "sf0.001")

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Tier-A reference shapes plus TPC-H joins: time goes to Spark
    # actions of 1-9 jobs; builds are cheap, Python workers idle.
    "olap": (
        "q_scan_full",
        "q_filter_proj",
        "q_agg_avg",
        "q_agg_distinct",
        "q_join_inner",
        "q_tpch_q9",
        "q_tpch_q10",
        "q_win_rank",
    ),
    # LLM-data operators side by side with served-index reads and
    # writes on every call: Python UDF workers, tokenizing, shingling
    # and hashing; build-time driver work (index probe collects,
    # writer commits, streaming micro-batches run from the stream's
    # own thread).
    "curate_serve": (
        "q_udf",
        "q_pipe_tfidf",
        "q_dedup_minhash",
        "q_sim_ivf_served",
        "q_sink_json",
        "q_stream_tumble",
    ),
}


# Untimed passes between set-up and the timed loop, in the seeded order.
# Without them the timed loop samples the JVM's JIT warm-up: olap pass
# times fall by half over its first ten passes, and how far along that
# curve a run gets depends on the host's speed at the time.
WARMUP_PASSES = 2


def sf_tag(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))
