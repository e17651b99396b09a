"""Declared-query registry.

Every operator from SURVEY.md §2 registers here as a named query:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible and deterministic) an ANSI-SQL oracle
string for DuckDB. The driver contract (__spark_entry__.py) simply
re-exports these dicts.

Conventions (SURVEY.md §5, FIXTURES.md):
- alias every computed column identically on both sides,
- explicit NULLS FIRST/LAST on every ORDER BY,
- ROUND(x, 6) on floating aggregates,
- array_sort around collect_list/array_agg,
- explicit casts at type-coercion edges (SUM(bigint) → DuckDB HUGEINT
  needs CAST AS BIGINT; counts are BIGINT on both sides).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

QUERIES: dict[str, Callable[[Any, str], Any]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a declared query. ``oracle=None`` marks a rows-only
    check (approx / nondeterministic / non-SQL-expressible — the `†`
    ids in SURVEY.md §2)."""

    def deco(fn):
        # Silent overwrite would run the EARLIER-registered query under
        # the later one's oracle expectations (or vice versa) — the
        # r7 q_pipe_split near-miss: a new module reused an existing
        # name and every check "passed" by exercising the old query.
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} "
                f"(already registered by {QUERIES[name].__module__})"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        fn.query_name = name
        return fn

    return deco


def load_all() -> None:
    """Import every query module; each registers its queries on import.

    QUERIES order is import order, and nothing depends on it: Tier-1
    (tests/test_queries_oracle.py) verifies every registered query.
    The order below is kept stable so import-time side effects (e.g.
    ``logs_queries``'s fixture build) run where they always have.
    """
    from datafusion_tpc_spark.queries import events_ext  # noqa: F401
    from datafusion_tpc_spark.operators import (  # noqa: F401
        prefix_join,
        splits,
        pq,
    )
    from datafusion_tpc_spark.queries import diagnostics  # noqa: F401
    from datafusion_tpc_spark.operators import sketches_ext  # noqa: F401
    from datafusion_tpc_spark.queries import forecast  # noqa: F401
    from datafusion_tpc_spark.operators import semdedup, batching, cdc, mmr  # noqa: F401
    from datafusion_tpc_spark.operators import similarity  # noqa: F401
    from datafusion_tpc_spark.operators import raneval  # noqa: F401
    from datafusion_tpc_spark.queries import readability  # noqa: F401
    from datafusion_tpc_spark.operators import quantization, retrieval  # noqa: F401
    from datafusion_tpc_spark.operators import audit  # noqa: F401
    from datafusion_tpc_spark.queries import (  # noqa: F401
        tpch_full,
        tpch_more,
        sql_shapes,
        typefns,
        sinks,
    )
    from datafusion_tpc_spark.operators import (  # noqa: F401
        sketches,
        sampling,
        layout,
        bloom,
        bucketing,
    )
    from datafusion_tpc_spark.queries import scalar_ext, udfs_ext, geo  # noqa: F401
    from datafusion_tpc_spark.operators import skyline, kmeans  # noqa: F401
    from datafusion_tpc_spark.queries import sinks_ext  # noqa: F401
    from datafusion_tpc_spark.queries import (  # noqa: F401
        events_behavior,
        aggregates_more,
        windows_ext,
    )
    from datafusion_tpc_spark.operators import pipeline_ext  # noqa: F401
    from datafusion_tpc_spark.streaming import (  # noqa: F401
        stream_enrich,
        py_source,
        py_sink,
        merge,
        stream_quantile,
    )
    from datafusion_tpc_spark.operators import (  # noqa: F401
        multimodal,
        graph,
    )
    from datafusion_tpc_spark.operators import ivf_served  # noqa: F401
    from datafusion_tpc_spark.operators import lsh_served  # noqa: F401
    from datafusion_tpc_spark.operators import decontam_served  # noqa: F401
    from datafusion_tpc_spark.streaming import admission  # noqa: F401
    from datafusion_tpc_spark.queries import diagnostics_ext  # noqa: F401
    from datafusion_tpc_spark.queries import (  # noqa: F401
        aggregates,
        logs_queries,
    )
    from datafusion_tpc_spark.operators import (  # noqa: F401
        dedup,  # NOTE: pipeline imports dedup — dedup must precede it
        pipeline,
    )
    from datafusion_tpc_spark.queries import stats_ext  # noqa: F401
    from datafusion_tpc_spark.operators import (  # noqa: F401
        curation,
        audit_ext,
        dedup_ext,
    )
    from datafusion_tpc_spark.queries import sinks_dpo  # noqa: F401
    from datafusion_tpc_spark.queries import (  # noqa: F401
        events,
        joins,
        scalar_functions,
    )
    from datafusion_tpc_spark.streaming import stream_queries  # noqa: F401
    from datafusion_tpc_spark.queries import (  # noqa: F401
        tpch,
        udfs,
        windows,
    )
    from datafusion_tpc_spark.streaming import late_data  # noqa: F401
    from datafusion_tpc_spark.queries import (  # noqa: F401
        sorts,
        setops,
        arrays,
        tpch_extra,
        scans,
        predicates,
        subqueries,
    )
    from datafusion_tpc_spark.streaming import stream_sink  # noqa: F401
    from datafusion_tpc_spark.operators import (  # noqa: F401
        asof,
        chunking,
        text,
    )
    from datafusion_tpc_spark.queries import aggregates_ext  # noqa: F401
