"""The cache-entry primitive (catalog.cached_dir / bucketed_index):
every derived on-disk artifact and bucketed serving index is built
through it, so its contract is pinned here on toy builds — publish
only complete entries, build once per key under concurrency, leave
orphans of killed builds to the two-phase prune, and never leave a
half-built bucketed table servable."""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from datafusion_tpc_spark.catalog import bucketed_index, cached_dir


def _write_marker(tmp):
    with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
        f.write("ok")


def test_failed_build_publishes_nothing(tmp_path):
    root = str(tmp_path)

    def broken(tmp):
        with open(os.path.join(tmp, "part-0"), "w") as f:
            f.write("half")
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError, match="build died"):
        cached_dir(root, "tag-fp", broken)
    assert os.listdir(root) == []

    calls = []

    def good(tmp):
        calls.append(tmp)
        _write_marker(tmp)

    path = cached_dir(root, "tag-fp", good)
    assert calls and path == os.path.join(root, "tag-fp")
    assert os.listdir(path) == ["_SUCCESS"]
    assert os.listdir(root) == ["tag-fp"]


def test_concurrent_cold_calls_build_once(tmp_path):
    """More threads than cores cold-call one key with a short switch
    interval: exactly one build runs and everyone gets its entry."""
    root = str(tmp_path)
    calls = []

    def slow(tmp):
        calls.append(tmp)
        time.sleep(0.2)
        _write_marker(tmp)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=2 * (os.cpu_count() or 4)) as pool:
            futs = [pool.submit(cached_dir, root, "tag-fp", slow) for _ in range(16)]
            paths = {f.result(timeout=60) for f in futs}
    finally:
        sys.setswitchinterval(old)
    assert paths == {os.path.join(root, "tag-fp")}
    assert len(calls) == 1
    assert os.listdir(root) == ["tag-fp"]


def test_file_entry(tmp_path):
    """marker=None: the entry is a single file, its own marker."""
    root = str(tmp_path)

    def build(tmp):
        with open(tmp, "w") as f:
            f.write("rows")

    path = cached_dir(root, "nation-fp.parquet", build, marker=None)
    with open(path) as f:
        assert f.read() == "rows"
    assert os.listdir(root) == ["nation-fp.parquet"]


def test_orphaned_temp_is_reclaimed_by_prune(tmp_path):
    """A killed build never reaches its cleanup: its private temp
    survives. The next build under the same tag prefix marks it
    superseded, and a build after the marker ages out removes it."""
    root = str(tmp_path)
    seen = []

    def killed(tmp):
        seen.append(tmp)
        raise KeyboardInterrupt

    with pytest.raises(KeyboardInterrupt):
        cached_dir(root, "tag-fp1", killed)
    orphan = seen[0]
    os.makedirs(orphan)  # what a SIGKILL mid-build leaves behind
    with open(os.path.join(orphan, "part-0"), "w") as f:
        f.write("half")

    cached_dir(root, "tag-fp2", _write_marker)
    assert os.path.exists(orphan)  # two-phase: marked, not deleted
    marker = orphan + ".superseded"
    assert os.path.exists(marker)
    os.utime(marker, (1, 1))  # age the marker past the reader window

    cached_dir(root, "tag-fp3", _write_marker)
    assert not os.path.exists(orphan)
    assert not os.path.exists(marker)
    assert os.path.exists(os.path.join(root, "tag-fp3", "_SUCCESS"))


def test_bucketed_index_failed_second_step_drops_table(spark, tmp_path):
    name = "cache_entries_then_fails"
    spark.sql(f"DROP TABLE IF EXISTS {name}")

    def then(path):
        assert os.path.isdir(path)
        assert spark.catalog.tableExists(name)  # base write registered it
        raise ValueError("ingest append failed")

    with pytest.raises(ValueError, match="ingest append failed"):
        bucketed_index(
            spark, str(tmp_path), name, "toy-fp",
            lambda: spark.range(16).withColumnRenamed("id", "k"), "k", 4,
            then=then,
        )
    assert not spark.catalog.tableExists(name)

    # the next call rebuilds and serves the complete table
    assert bucketed_index(
        spark, str(tmp_path), name, "toy-fp",
        lambda: spark.range(16).withColumnRenamed("id", "k"), "k", 4,
    ) == name
    try:
        assert spark.table(name).count() == 16
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
