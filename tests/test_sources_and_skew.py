"""Round-trip tests for the source/sink matrix and equivalence tests
for the skew utilities (salted forms must equal unsalted forms)."""

from __future__ import annotations

import os
import tempfile

import pytest

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.functions.skew import salted_aggregate, salted_join
from datafusion_tpc_spark.sources.connectors import (
    ConnectorUnavailable,
    read_any,
    write_partitioned,
)
from tests.conftest import SF_DIR

os.makedirs("/root/repo/.cache", exist_ok=True)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_write_read_roundtrip(spark, fmt):
    src = load_table(spark, SF_DIR, "nation")
    with tempfile.TemporaryDirectory(dir="/root/repo/.cache") as d:
        path = os.path.join(d, f"nation_{fmt}")
        write_partitioned(src, path, fmt=fmt)
        back = read_any(spark, fmt, path, schema="n_nationkey int, n_name string, n_regionkey int")
        assert _sorted_rows(back.select(*src.columns)) == _sorted_rows(src)


def test_partitioned_write_prunes(spark):
    src = load_table(spark, SF_DIR, "customer")
    with tempfile.TemporaryDirectory(dir="/root/repo/.cache") as d:
        path = os.path.join(d, "cust_part")
        write_partitioned(src, path, partition_by=["c_mktsegment"])
        back = read_any(spark, "parquet", path)
        one = back.filter(F.col("c_mktsegment") == "BUILDING")
        # partition pruning: the physical plan's scan must carry the
        # partition filter, and counts must match
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert one.count() == src.filter("c_mktsegment = 'BUILDING'").count()


def test_lakehouse_unavailable_is_clear(spark):
    with pytest.raises(ConnectorUnavailable):
        read_any(spark, "delta", "/tmp/nonexistent")


def test_salted_aggregate_matches_plain(spark):
    o = load_table(spark, SF_DIR, "orders")
    plain = _sorted_rows(
        o.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
            F.min("o_orderkey").alias("mn"),
            F.max("o_orderkey").alias("mx"),
        )
    )
    salted = salted_aggregate(
        o.select("o_orderstatus", "o_totalprice", "o_orderkey"),
        ["o_orderstatus"],
        {"n": "count", "total": "sum:o_totalprice", "mn": "min:o_orderkey", "mx": "max:o_orderkey"},
        n_salts=8,
    ).select(
        "o_orderstatus", "n", F.round("total", 4).alias("total"), "mn", "mx"
    )
    assert _sorted_rows(salted) == plain


def test_salted_join_matches_plain(spark):
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    plain = _sorted_rows(
        o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_mktsegment")
    )
    salted = _sorted_rows(
        salted_join(o, c, "o_custkey", "c_custkey", n_salts=8).select(
            "o_orderkey", "c_mktsegment"
        )
    )
    assert salted == plain


def test_avro_roundtrips_jarless(spark):
    """Avro (SURVEY §2.1 Tier B) must round-trip with OR without the
    spark-avro jar: read_any prefers the jar, else the pure-Python
    pyavro datasource (sources/avro_py.py). Nullable + numeric + string
    fields, deflate codec, multi-block file."""
    from datafusion_tpc_spark.sources import avro_py
    from datafusion_tpc_spark.sources.connectors import read_any

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "score", "type": ["null", "double"]},
            {"name": "flag", "type": "boolean"},
        ],
    }
    rows = [
        {"id": i, "name": None if i % 7 == 0 else f"row-{i}",
         "score": None if i % 5 == 0 else i * 1.25, "flag": i % 2 == 0}
        for i in range(50)
    ]
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "t.avro")
        avro_py.write_avro(path, schema, rows, rows_per_block=8)
        back = read_any(spark, "avro", path)
        got = sorted(map(tuple, back.collect()))
        want = sorted((r["id"], r["name"], r["score"], r["flag"]) for r in rows)
        assert got == want
        # block-split partitioning: 50 rows / 8 per block = 7 partitions
        _, _, _, first = avro_py.read_header(path)
        assert len(avro_py.block_index(path, first)) == 7


def test_avro_block_splits_parallelize(spark):
    """The pyavro reader must expose one InputPartition per Avro block
    (sync-marker splits) — a single big file still fans out."""
    from datafusion_tpc_spark.sources import avro_py

    schema = {"type": "record", "name": "t",
              "fields": [{"name": "v", "type": "long"}]}
    rows = [{"v": i} for i in range(100)]
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "t.avro")
        avro_py.write_avro(path, schema, rows, rows_per_block=10, codec="null")
        avro_py.register(spark)
        df = spark.read.format("pyavro").load(path)
        assert df.rdd.getNumPartitions() == 10
        assert sorted(r["v"] for r in df.collect()) == list(range(100))


def test_blake2b_matches_hashlib(spark):
    """blake2b pandas_udf (SURVEY §2.8 digest family) must equal
    stdlib hashlib exactly, and preserve NULLs."""
    import hashlib

    from datafusion_tpc_spark.functions.digests import blake2b_hex

    df = spark.createDataFrame(
        [("hello world",), ("",), (None,)], "s string"
    ).select("s", blake2b_hex("s").alias("h"))
    got = {r["s"]: r["h"] for r in df.collect()}
    expect = lambda v: hashlib.blake2b(v.encode(), digest_size=32).hexdigest()
    assert got["hello world"] == expect("hello world")
    assert got[""] == expect("")
    assert got[None] is None


def test_blake3_spec_vectors():
    """Pure-Python BLAKE3 (functions/blake3_py.py) must match the
    published spec vectors — single-block inputs pin the compression
    function, permutation schedule, and flag handling; the multi-chunk
    case pins the chaining-value stack's determinism."""
    from datafusion_tpc_spark.functions.blake3_py import blake3_hex

    assert (
        blake3_hex(b"")
        == "af1349b9f5f9a1a6a0404dea36dcc9499bcb25c9adc112b7cc9a93cae41f3262"
    )
    assert (
        blake3_hex(b"abc")
        == "6437b3ac38465133ffb63b75273a8db548c558465d79db03fd359c6cd5bd9d85"
    )
    # chunk boundaries: 1024 (1 chunk), 1025 (2 chunks), 3073 (4 chunks
    # — exercises the parent-merge stack); deterministic + distinct
    multi = [blake3_hex(b"y" * n) for n in (1024, 1025, 3073)]
    assert len(set(multi)) == 3
    assert all(len(h) == 64 for h in multi)
    assert multi == [blake3_hex(b"y" * n) for n in (1024, 1025, 3073)]


def test_blake3_udf_works(spark):
    """blake3_hex() must return a working UDF in every environment:
    wheel when installed, pure-Python spec fallback otherwise."""
    from datafusion_tpc_spark.functions.digests import blake3_hex

    udf = blake3_hex()
    df = spark.createDataFrame([("abc",), (None,)], "s string").select(
        udf("s").alias("h")
    )
    got = [r["h"] for r in df.collect()]
    assert (
        "6437b3ac38465133ffb63b75273a8db548c558465d79db03fd359c6cd5bd9d85" in got
    )
    assert None in got


def test_pyavro_writer_commit_manifest(spark):
    """Distributed Avro writer (sources/avro_py.py PyAvroWriter): the
    _SUCCESS manifest written at driver commit must list exactly the
    part files on disk, the part count must follow the input
    partitioning, and a round trip must preserve rows byte-exactly
    (bigint/double/string surface)."""
    import os

    from datafusion_tpc_spark.sources.avro_py import register

    register(spark)
    src = spark.range(0, 1000).selectExpr(
        "id", "CAST(id AS DOUBLE) / 7 AS x", "concat('v', id) AS s"
    ).repartition(5)
    out = os.path.join("/tmp", "pyavro_writer_test")
    src.write.format("pyavro").mode("overwrite").option("path", out).save()
    parts = sorted(p for p in os.listdir(out) if p.endswith(".avro"))
    assert len(parts) == 5
    with open(os.path.join(out, "_SUCCESS")) as f:
        manifest = sorted(l for l in f.read().splitlines() if l)
    assert manifest == parts
    back = spark.read.format("pyavro").load(out)
    assert sorted(r.asDict().items() for r in back.collect()) == sorted(
        r.asDict().items() for r in src.collect()
    )


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The runtime half of the skew story (functions/skew.py is the
    manual half): a sort-merge join with one hot key must be split by
    AQE's OptimizeSkewedJoin — the final adaptive plan marks the join
    `skew=true`. This is the mechanism the 100 TB design leans on for
    fact⋈fact skew before reaching for manual salting."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 500000).select(
            F.when(F.col("id") % 5 != 0, 0).otherwise(F.col("id") % 1000).alias("k"),
            F.concat(F.lit("pad-"), F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        j = left.join(right.hint("merge"), "k")
        assert len(j.collect()) == 500000  # correctness under the split
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, f"AQE did not split the hot key:\n{plan[:800]}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _derived_partsupp(spark, sf_dir):
    from datafusion_tpc_spark.catalog import derived_partsupp

    return derived_partsupp(spark, sf_dir)


def _registered(name):
    def run(spark, sf_dir):
        from datafusion_tpc_spark import registry

        registry.load_all()
        return registry.QUERIES[name](spark, sf_dir)

    return run


# derived on-disk artifact → (source table it derives from, builder)
_DERIVED_CACHES = {
    "derived_partsupp": ("lineitem", _derived_partsupp),
    "q_scan_csv": ("nation", _registered("q_scan_csv")),
    "q_scan_json": ("region", _registered("q_scan_json")),
    "q_scan_avro": ("nation", _registered("q_scan_avro")),
}


@pytest.mark.parametrize("target", sorted(_DERIVED_CACHES))
def test_derived_cache_keys_on_source_fingerprint(spark, tmp_path, target):
    """A derived .cache artifact must rebuild when its source file
    changes AT THE SAME PATH (testdata drops do exactly this) — the
    cache key carries the source's (mtime_ns, size) fingerprint, the
    _evolve_dirs pattern ADVICE r5 flagged layout.py for missing.
    Simulated with a private sf_dir copy: build once, swap in a
    half-size source, and the derived row count must change."""
    import shutil

    import pyarrow.parquet as pq

    table, build = _DERIVED_CACHES[target]
    sf = tmp_path / "sfpriv"
    sf.mkdir()
    dst = str(sf / f"{table}.parquet")
    shutil.copyfile(os.path.join(SF_DIR, f"{table}.parquet"), dst)

    n1 = build(spark, str(sf)).count()
    assert n1 > 1

    tbl = pq.read_table(dst)
    pq.write_table(tbl.slice(0, tbl.num_rows // 2), dst + ".tmp")
    os.replace(dst + ".tmp", dst)

    n2 = build(spark, str(sf)).count()
    assert n2 < n1, (
        f"{target} served stale data after the source file was "
        f"replaced in place ({n1} == {n2})"
    )
