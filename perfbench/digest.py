"""Order-insensitive content digest of a DataFrame, computed in Spark.

Each row hashes (xxhash64) over its columns with every value
canonicalized: floating values rounded to 6 decimals (so the digest is
stable under last-bit float noise), decimals as strings, maps as
key-sorted entry arrays, and each column preceded by its null flag
(xxhash64 skips nulls, so (NULL, 1) and (1, NULL) would collide
without it). The row hashes are summed exactly as DECIMAL(38,0): the
sum of a multiset does not depend on row order or partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T


def _canon(c: Column, dt: T.DataType) -> Column:
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return F.round(c.cast("double"), 6)
    if isinstance(dt, T.DecimalType):
        return c.cast("string")
    if isinstance(dt, T.ArrayType):
        return F.transform(c, lambda x: _canon(x, dt.elementType))
    if isinstance(dt, T.MapType):
        entries = T.ArrayType(
            T.StructType(
                [T.StructField("key", dt.keyType), T.StructField("value", dt.valueType)]
            )
        )
        return _canon(F.array_sort(F.map_entries(c)), entries)
    if isinstance(dt, T.StructType):
        return F.struct(*[_canon(c[f.name], f.dataType).alias(f.name) for f in dt.fields])
    return c


def digest(df: DataFrame) -> tuple[int, str]:
    """(row count, digest string) of df's rows as a multiset."""
    fields = df.schema.fields
    df = df.toDF(*[f"c{i}" for i in range(len(fields))])
    cols = []
    for i, f in enumerate(fields):
        c = F.col(f"c{i}")
        cols += [c.isNull(), _canon(c, f.dataType)]
    h = F.xxhash64(*cols) if cols else F.lit(0)
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
    ).first()
    return int(row["n"]), str(row["s"] if row["s"] is not None else 0)
