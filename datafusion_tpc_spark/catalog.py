"""Table registration — the Spark analog of the reference's
``ctx.register_parquet("logs", path, ParquetReadOptions::default()
.parquet_pruning(true))`` (reference benches/query.rs:35-40) and
``ctx.read_parquet`` (reference src/main.rs:45).

Schema comes from Parquet footers, exactly like the reference; the one
normalization we apply is the ``events.ts`` column, which has shipped
as BOTH timestamp[ns] and timestamp[us] across driver testdata drops
(FIXTURES.md §9). We probe the loaded dtype: ns files surface as long
(``spark.sql.legacy.parquet.nanosAsLong``) and are truncated to
microseconds — the same truncation DuckDB applies when casting
TIMESTAMP_NS → TIMESTAMP — while µs files read natively. The
streaming twin of this probe is
``streaming/stream_queries._events_streaming`` (footer-level, since
streaming sources need the schema up front).

Scale note: at 100 TB these reads hit a distributed store via the
Hadoop FS layer; nothing here is local-mode-specific. Registration is
metadata-only (footer reads), no data motion.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from datafusion_tpc_spark.session import configure_runtime

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def sanitized_sf_tag(sf_dir: str) -> str:
    """Identifier- AND path-safe tag for an sf_dir — the SINGLE
    implementation shared by every module deriving SQL table names or
    cache directory names from the corpus path (bucketing, layout,
    ivf_served). The raw rsplit('sf') remainder is kept for the
    driver's sf* dirs (preserves pre-r11 table names and cache keys:
    '0.01' → '0_01'), but sanitized to [0-9A-Za-z_]: an arbitrary
    corpus path (no 'sf' segment → the WHOLE path, absolute) would
    otherwise leak '/' into a saveAsTable identifier (ParseException)
    and — worse — make os.path.join(CACHE_ROOT, tag) DISCARD the
    cache root and write outside it (the r11 degenerate sweep's
    committed-junk incident). The fix was first pasted per-site and
    the third copy got missed (review r11) — change it HERE only."""
    import re

    raw = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return re.sub(r"[^0-9A-Za-z_]", "_", raw) or "root"


def cpu_width(spark: SparkSession, floor: int = 8) -> int:
    """Parallelism for CPU-dense, byte-light fan-out stages (the
    explicit-width family: prefix verify, per-cluster GEMM, chunk
    hashing, sketch partitions). r16 (optimization round): these were
    hard-coded ``repartition(32)`` — correct on the local[32] bench
    box, wrong everywhere else, and they distorted the driver's
    lower-core scaling runs (a local[8] session still fanned to 32
    tasks). ``defaultParallelism`` is the LIVE session's core budget
    (local[k] → k; cluster → total executor cores), so the width now
    tracks whatever session the driver passes. The floor keeps the
    multi-partition code paths exercised even on tiny sessions."""
    try:
        return max(floor, spark.sparkContext.defaultParallelism)
    except Exception:
        return max(floor, 8)


# Session-scoped table memo (r16): spark.read.parquet costs ~125 ms
# of driver-side schema/footer work per table and every query callable
# re-loads its tables at call time, so an N-query session paid
# O(N × tables) of pure re-analysis (the driver's 50-query correctness
# pass ~45 s, a full 304-query mirror ~4 min). DataFrames are
# immutable lazy plans — one per (session, table, file fingerprint) is
# semantically identical to one per call. The memo dict is ATTACHED TO
# THE SESSION OBJECT (not held in a module global): its lifetime is
# exactly the session's, and the spark→memo→DataFrame→spark loop is a
# plain reference cycle the gc collects when the session is dropped.
# (A WeakKeyDictionary keyed by the session does NOT work here — the
# memoized DataFrames strongly reference their session, so the value
# chain roots the key and the entry never evicts; r16 review.)
_MEMO_LOCK = threading.Lock()


def _session_store(spark: SparkSession, attr: str) -> dict:
    """The session-attached memo dict. Callers hold _MEMO_LOCK."""
    store = getattr(spark, attr, None)
    if store is None:
        store = {}
        setattr(spark, attr, store)
    return store


def _source_fingerprint(src: str):
    """(mtime_ns, size) of a file source; for a directory-shaped table
    the direct children are folded in (an in-place part-file rewrite
    does not bump the directory's own mtime). None = unverifiable —
    the caller must NOT memoize."""
    try:
        st = os.stat(src)
    except OSError:
        return None
    if not os.path.isdir(src):
        return (st.st_mtime_ns, st.st_size)
    try:
        entries = tuple(
            sorted(
                (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                for e in os.scandir(src)
            )
        )
    except OSError:
        return None
    return ("dir", st.st_mtime_ns, entries)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; normalizes events.ts ns→µs timestamp.

    With SPARK_GRAFT_OPT_CACHE=1 (bench path) the read goes through
    the layout-optimized copy (fixtures/optimize.py): identical rows,
    row groups sized so scans parallelize across cores.

    Memoized per (session, sf_dir, name, opt-flag, source fingerprint)
    on the session object itself. configure_runtime still runs on
    every call (it is the driver-session contract hook, ~3 ms)."""
    configure_runtime(spark)
    src = f"{sf_dir}/{name}.parquet"
    opt = os.environ.get("SPARK_GRAFT_OPT_CACHE") == "1"
    fp = _source_fingerprint(src)
    key = (sf_dir, name, opt, fp)
    if fp is not None:
        with _MEMO_LOCK:
            df = _session_store(spark, "_dftpc_table_memo").get(key)
        if df is not None:
            return df
    path = src
    if opt:
        from fixtures.optimize import ensure_optimized

        path = ensure_optimized(sf_dir, name)
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns epoch → µs timestamp. Integer DIV, not floor(x/1000):
        # double division loses precision at 1e18 ns. Truncation
        # matches DuckDB's TIMESTAMP_NS → TIMESTAMP cast.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if fp is not None:
        with _MEMO_LOCK:
            _session_store(spark, "_dftpc_table_memo")[key] = df
    return df


def pid_alive(pid: int) -> bool:
    """Is a cache/run dir's owning process still running? Used by the
    streaming run-dir pruners (ADVICE r14): a dir name embeds its
    creator's PID so a concurrent process (driver rehearsal alongside
    bench) never rmtree's another's in-flight checkpoint mid-stream.
    kill(pid, 0) probes without signaling; EPERM means
    alive-but-other-user."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def prune_stale_cache_dirs(
    root: str,
    live_key: str,
    *,
    prune_legacy: bool = False,
    max_age_s: int = 21600,
    extra: tuple[str, ...] = (),
) -> None:
    """Reclaim superseded fingerprint cache entries (dirs OR files)
    for live_key's sf-tag prefix (ADVICE r6: every testdata drop that
    replaces a source parquet would otherwise leak a full derived
    copy forever). The ONE pruning implementation for every
    `<tag>-<fingerprint>` cache in the repo (partsupp, zorder/compact
    layouts, the late-replay fixture, bucketed tables, the
    layout-optimized bench copies) — review r7 found the age-gate
    logic duplicated and drifting.

    Two-phase supersession marking (review r7 #2): an entry's own
    mtime is its BUILD time, so age-gating on it would delete a
    just-superseded-but-old entry out from under a concurrent reader.
    Instead, the first prune call after supersession drops a 0-byte
    `<name>.superseded` marker; the entry is removed only once the
    MARKER is older than max_age_s (6 h — longer than any realistic
    run: the driver flags a stall at 1 h, full pytest+bench is
    <30 min). Callers invoke this right after building a new
    fingerprint, so each stale entry survives until the second
    build event ≥ 6 h later — the leak is bounded at ~2 superseded
    copies per cache, and a reader that outlives 6 h across a
    testdata swap is unsupported.

    `extra` names additional exact entries to treat as superseded
    (e.g. a legacy un-fingerprinted file name); `prune_legacy`
    sweeps any dash-less sibling (the partsupp pre-tag key format).
    """
    import time

    prefix = live_key.split("-", 1)[0] + "-"
    cutoff = time.time() - max_age_s
    try:
        sibs = os.listdir(root)
    except OSError:
        return
    live = {live_key}
    for sib in sibs:
        p = os.path.join(root, sib)
        if sib.endswith(".superseded"):
            # orphaned marker (its target already reclaimed or renamed
            # away, e.g. a writer's tmp that got published)
            if sib[: -len(".superseded")] not in sibs:
                try:
                    os.remove(p)
                except OSError:
                    pass
            continue
        if sib in live:
            continue
        if not (
            sib.startswith(prefix)
            or (prune_legacy and "-" not in sib)
            or sib in extra
        ):
            continue
        marker = p + ".superseded"
        try:
            if os.path.exists(marker):
                if os.path.getmtime(marker) < cutoff:
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        os.remove(p)
                    os.remove(marker)
            else:
                with open(marker, "w"):
                    pass
        except OSError:
            pass


CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache"
)

# One lock per cache entry (not one per module): a build may nest
# another entry's build (_upserted_ivf_index -> _ivf_index) without
# deadlocking, and unrelated entries build concurrently.
_ENTRY_LOCKS: dict[str, threading.Lock] = {}
_TMP_SEP = "-tmp."  # <key>-tmp.<uuid>: a build's private temp sibling


def _entry_lock(key: str) -> threading.Lock:
    with _MEMO_LOCK:
        return _ENTRY_LOCKS.setdefault(key, threading.Lock())


def fingerprint(*parts) -> str:
    """Cache-key digest: md5 of the ':'-joined parts, 12 hex chars.
    Derived artifacts pass their source file's (mtime_ns, size) —
    testdata drops replace files at the same path, and a path-only key
    would keep serving the old bytes — plus any recipe constants."""
    return hashlib.md5(":".join(map(str, parts)).encode()).hexdigest()[:12]


def source_stat(sf_dir: str, table: str) -> tuple[int, int]:
    """(mtime_ns, size) of one testdata table file — the source half
    of every derived-artifact fingerprint."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    return st.st_mtime_ns, st.st_size


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path):
        os.remove(path)


def cached_dir(root: str, key: str, build, marker: str | None = "_SUCCESS") -> str:
    """The one build-once path for derived on-disk artifacts; returns
    ``<root>/<key>``. Warm: a single exists check on the entry's
    ``marker`` (``None`` = the entry is one file, its own marker).
    Cold: under the entry's lock, ``build(tmp)`` writes a private
    sibling temp (a dir, pre-created, or a file path when marker is
    None), which is published by one atomic rename. A cross-process
    race loser discards its copy; a markerless dir left at the key by
    an interrupted unpublished writer is replaced. Superseded siblings
    sharing the key's '<tag>-' prefix — and temps orphaned by killed
    builds, which carry that prefix too — go to the two-phase prune.
    A build that raises publishes nothing."""
    path = os.path.join(root, key)
    done = path if marker is None else os.path.join(path, marker)
    if os.path.exists(done):
        return path
    with _entry_lock(path):
        if os.path.exists(done):
            return path
        tmp = f"{path}{_TMP_SEP}{uuid.uuid4().hex[:8]}"
        os.makedirs(root if marker is None else tmp, exist_ok=True)
        try:
            build(tmp)
        except BaseException:
            _remove(tmp)
            raise
        try:
            os.replace(tmp, path)
        except OSError:
            if not os.path.exists(done):
                shutil.rmtree(path, ignore_errors=True)
                os.replace(tmp, path)
            else:  # lost a cross-process race; ours is spare
                _remove(tmp)
        prune_stale_cache_dirs(root, key)
    return path


def bucketed_index(
    spark: SparkSession, root: str, name: str, dir_key: str, frame, col: str,
    n_buckets: int, then=None,
) -> str:
    """Ensure the bucketed catalog table ``name`` exists; return it.
    The catalog entry is per session, so the build runs once per
    (session, name): ``frame()`` is written ``bucketBy/sortBy(col)``
    to a per-PID data dir (saveAsTable is not atomic, and two
    processes building one name must not interleave files under one
    path), under a per-name lock for in-process threads. ``then(path)``
    is an optional second write step (an ingest append); if it raises,
    the half-built table is dropped — best effort, the session itself
    may be what failed — and the ORIGINAL error propagates, so a later
    tableExists() never serves the incomplete index."""
    with _entry_lock(name):
        if not spark.catalog.tableExists(name):
            key = f"{dir_key}-{os.getpid()}"
            path = os.path.join(root, key)
            (
                frame()
                .write.mode("overwrite")
                .option("path", path)
                .bucketBy(n_buckets, col)
                .sortBy(col)
                .saveAsTable(name)
            )
            if then is not None:
                try:
                    then(path)
                except BaseException:
                    try:
                        spark.sql(f"DROP TABLE IF EXISTS {name}")
                    except Exception:
                        pass
                    raise
            prune_stale_cache_dirs(root, key)
    return name


_PARTSUPP_ROOT = os.path.join(CACHE_ROOT, "partsupp")


def _partsupp_key(sf_dir: str) -> str:
    """<sf_dir tag>-<lineitem fingerprint>: one live entry per sf_dir,
    superseded fingerprints pruned under the shared tag prefix."""
    return f"{fingerprint(sf_dir)[:8]}-{fingerprint(*source_stat(sf_dir, 'lineitem'))}"


def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived partsupp table (tpch_full.py module docstring),
    MATERIALIZED once per (sf_dir, lineitem fingerprint) instead of
    re-aggregated inside every execution of TPC-H q2/q9/q11/q16/q20
    (VERDICT r5 item 3: the per-query derivation made q_tpch_q9 the
    suite's worst contention amplifier — 20.16 s under 12-concurrent
    while 0.69 s serial, BASELINE.md).

    This is exactly what a 100 TB deployment does: partsupp is a
    persisted derived table maintained by the ingest pipeline, not a
    per-query CTE. Values are bit-stable across the persist hop: MIN
    is order-independent, SUM(l_quantity) sums integral-valued doubles
    exactly, and parquet round-trips doubles losslessly — so the
    DuckDB oracles keep deriving the CTE inline and still hash-match."""
    configure_runtime(spark)

    def build(tmp):
        li = load_table(spark, sf_dir, "lineitem")
        li.groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        ).agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "ps_supplycost"
            ),
            F.sum("l_quantity").alias("ps_availqty"),
        ).write.mode("overwrite").parquet(tmp)

    return spark.read.parquet(
        cached_dir(_PARTSUPP_ROOT, _partsupp_key(sf_dir), build)
    )


def derived_partsupp_bytes(sf_dir: str) -> int:
    """On-disk size of the CURRENT materialized partsupp for sf_dir
    (0 if not yet built). Lets callers gate broadcast hints on actual
    data volume instead of hard-coding them (ADVICE r6: q_tpch_q9's
    unconditional F.broadcast(ps) overrides autoBroadcastJoinThreshold
    and would OOM, not fall back, once ps outgrows memory)."""
    try:
        path = os.path.join(_PARTSUPP_ROOT, _partsupp_key(sf_dir))
        return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    except OSError:
        return 0


def register_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view (in-memory session
    catalog — reference benches/query.rs:35 registers its one table the
    same way). Returns name → DataFrame.

    createOrReplaceTempView costs ~50 ms/table of analysis, so a view
    is re-registered only when the memoized DataFrame under that name
    CHANGED for this session (new sf_dir, flipped opt flag, or a
    testdata swap — the load_table fingerprint covers all three).
    The check-register-record triple runs under _MEMO_LOCK so the
    view memo can never disagree with the live temp view under
    concurrent callers with different sf_dirs (r16 review: unlocked,
    two racing registrations could leave the memo pointing at the
    loser and a later call would skip the healing re-register).
    Precondition: the ten TABLES view names are owned by this function
    (nothing else in the repo registers them — audited r16)."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        with _MEMO_LOCK:
            views = _session_store(spark, "_dftpc_view_memo")
            if views.get(name) is not df:
                df.createOrReplaceTempView(name)
                views[name] = df
        out[name] = df
    return out
