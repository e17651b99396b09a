"""Type-surface extensions (r5): interval arithmetic, binary type,
and a one-pass column profiler — the SURVEY §1 type rows (Interval,
Binary) that had no dedicated oracled query, plus the data-profiling
pass every corpus audit starts with (DuckDB SUMMARIZE / Spark
df.summary analog, but as a declared engine query with an exact
oracle).

Reference surface: Arrow 34 Interval(YM/DT/MDN) and Binary types via
the DataFusion 19 dependency (reference Cargo.toml:15, Cargo.lock:102
— SURVEY §1 maps them to DayTimeIntervalType/YearMonthIntervalType
and BinaryType).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.registry import query


@query(
    "q_fn_interval",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 90 DAY  AS due_ts,
           o_orderdate + INTERVAL 1 YEAR  AS renewal_ts,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)
                AS BIGINT) AS days_since_epoch_start
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1995-03-01'
    """,
)
def q_fn_interval(spark, sf_dir):
    """Interval arithmetic — day-time interval addition (+90 days),
    year-month interval addition (+1 year, calendar-aware), and
    timestamp difference in days. Closes the SURVEY §1 Interval type
    row: DayTimeIntervalType and YearMonthIntervalType arithmetic
    both stay timestamp-typed on output (no raw interval column in
    the oracled output — interval rendering differs across engines,
    the arithmetic result doesn't).

    Scale: pure row-local expression work inside the scan stage;
    the date filter prunes row groups."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-01").cast("timestamp")
    )
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")).alias("due_ts"),
        (F.col("o_orderdate") + F.expr("INTERVAL 1 YEAR")).alias("renewal_ts"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_epoch_start"),
    )


@query(
    "q_fn_binary",
    oracle="""
    SELECT c_custkey,
           CAST(octet_length(unhex(md5(c_name))) AS BIGINT) AS digest_bytes,
           hex(unhex(md5(c_name))) AS digest_hex,
           base64(unhex(md5(c_name))) AS digest_b64,
           CAST(octet_length(unhex(md5(c_name)) || unhex(md5(c_mktsegment)))
                AS BIGINT) AS concat_bytes
    FROM customer
    WHERE c_custkey <= 500
    """,
)
def q_fn_binary(spark, sf_dir):
    """Binary type round-trip — string → unhex → BinaryType →
    octet_length / hex / base64 / binary concat. Closes the SURVEY §1
    Binary type row. No raw binary column in the oracled output (the
    driver canonicalizer normalizes bytes differently per engine);
    hex/base64 text forms carry the evidence instead — both engines
    emit uppercase hex and standard base64.

    Scale: row-local codegen expressions; the key filter prunes."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    digest = F.unhex(F.md5("c_name"))
    digest2 = F.unhex(F.md5("c_mktsegment"))
    return c.select(
        "c_custkey",
        F.octet_length(digest).cast("bigint").alias("digest_bytes"),
        F.hex(digest).alias("digest_hex"),
        F.base64(digest).alias("digest_b64"),
        F.octet_length(F.concat(digest, digest2)).cast("bigint").alias("concat_bytes"),
    )


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


@query(
    "q_profile",
    oracle="""
    SELECT 'o_orderkey' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           CAST(MIN(o_custkey) AS VARCHAR),
           CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           MIN(o_orderstatus),
           MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           MIN(o_orderpriority),
           MAX(o_orderpriority)
    FROM orders
    """,
)
def q_profile(spark, sf_dir):
    """One-pass column profiler (DuckDB SUMMARIZE / pandas describe
    analog): per-column row count, null count, exact distinct count,
    min and max — the audit pass that precedes every pipeline run.
    Spark computes ALL columns' stats in ONE aggregation (the
    multi-distinct agg Catalyst rewrites via Expand — row
    multiplication × |columns|, the documented cost of exact multi-
    column distincts, SURVEY §2.4), then unpivots with stack(); the
    oracle's UNION ALL of per-column scans is the naive 4-scan
    formulation — same result, 4× the IO, which is exactly why the
    engine-side shape matters at 100 TB.

    Numeric min/max are cast to string AFTER aggregation (BIGINT
    values — formatting is engine-stable; doubles would not be)."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for col in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{col}__n"),
            (F.count(F.lit(1)) - F.count(col)).alias(f"{col}__null"),
            F.countDistinct(col).alias(f"{col}__dist"),
            F.min(col).cast("string").alias(f"{col}__min"),
            F.max(col).cast("string").alias(f"{col}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{col}', {col}__n, {col}__null, {col}__dist, {col}__min, {col}__max"
        for col in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) "
            "AS (col_name, n, n_null, n_distinct, min_s, max_s)"
        )
    )


@query(
    "q_fn_variant",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(CAST(json_extract(props, '$.k') AS INT)), 6) AS avg_k,
           ROUND(SUM(CASE WHEN user_id % 2 = 0 THEN value ELSE 0 END), 6)
             AS even_user_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type NULLS LAST
    """,
)
def q_fn_variant(spark, sf_dir):
    """VARIANT type (Spark 4's semi-structured type — binary-encoded
    JSON with typed path extraction, the open-format twin of the
    engine-specific JSON types DF 19 lacks entirely): parse the props
    payload into a VARIANT and extract `$.k` typed; round-trip the
    typed columns through to_json → parse_json → variant_get and
    aggregate on the extracted values. The oracle computes the same
    aggregates DIRECTLY from the base columns — a hash match proves
    the variant round-trip is lossless (ints, doubles, nested paths),
    which is the property that matters before pointing this at real
    event payloads.

    Scale: parse_json/variant_get are JVM expressions inside the scan
    stage — parse once, extract the needed fields, let partial
    aggregation collapse the rest; VARIANT's binary encoding is
    designed to push typed extraction to the columnar reader."""
    ev = load_table(spark, sf_dir, "events")
    extracted = ev.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
        F.expr(
            "variant_get(parse_json(to_json(struct(user_id, value))), '$.user_id', 'bigint')"
        ).alias("u"),
        F.expr(
            "variant_get(parse_json(to_json(struct(user_id, value))), '$.value', 'double')"
        ).alias("val"),
    )
    return (
        extracted.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.round(
                F.sum(F.when(F.col("u") % 2 == 0, F.col("val")).otherwise(F.lit(0.0))),
                6,
            ).alias("even_user_value"),
        )
        .orderBy(F.col("event_type").asc_nulls_last())
    )
