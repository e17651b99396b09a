"""Data-quality diagnostics, second block — distribution-drift audits
(north-star extension; no reference counterpart — the reference is a
SQL engine harness, benches/query.rs:24-26 carries no DQ surface).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.registry import query

# Fixed-width value bins: W=25 over value ∈ (0, ~500] → bins 0..9,
# clamped on BOTH sides (bin 9 absorbs overflow, bin 0 underflow — a
# future testdata drop with negative values must not mint bins outside
# [0, B) or the closed-form missing-bin fold breaks; review r11).
# Data-independent edges keep the binning a pure row-local function
# (no quantile pass, no cross-engine percentile semantics); x/25.0 and
# floor are IEEE-exact on both engines.
_B = 10
_W = 25.0
_S = _B / 2.0  # Laplace total correction: +0.5 per bin × B bins


@query(
    "q_dq_psi",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             GREATEST(0, LEAST({_B - 1},
                               CAST(FLOOR(value / {_W}) AS INT))) AS bin,
             CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END AS ia
      FROM events
    ),
    c AS (
      SELECT event_type, bin,
             SUM(ia) AS ca, SUM(1 - ia) AS cb
      FROM b GROUP BY event_type, bin
    ),
    f AS (
      SELECT event_type, ca, cb,
             SUM(ca) OVER (PARTITION BY event_type) AS na,
             SUM(cb) OVER (PARTITION BY event_type) AS nb,
             COUNT(*) OVER (PARTITION BY event_type) AS nbins
      FROM c
    )
    SELECT event_type,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           ROUND(
             SUM(((cb + 0.5) / (nb + {_S}) - (ca + 0.5) / (na + {_S}))
                 * ln(((cb + 0.5) / (nb + {_S}))
                      / ((ca + 0.5) / (na + {_S}))))
             + ({_B} - nbins)
               * ((0.5 / (nb + {_S}) - 0.5 / (na + {_S}))
                  * ln((0.5 / (nb + {_S})) / (0.5 / (na + {_S})))),
           6) AS psi
    FROM f
    GROUP BY event_type, na, nb, nbins
    """,
)
def q_dq_psi(spark, sf_dir):
    """Population Stability Index drift audit — the production
    monitoring check that a feature's distribution hasn't shifted
    between a reference window and the current one (the standard
    model-monitoring / training-data-freshness gate; PSI < 0.1 stable,
    0.1-0.25 moderate shift, > 0.25 retrain). Per event_type, the
    value distribution of days 1-15 (reference, A) vs days 16-31
    (current, B): PSI = Σ_bins (p_B − p_A) · ln(p_B / p_A).

    Position in the drift family: q_dq_drift (queries/diagnostics.py)
    is the per-BIN contribution REPORT for one feature and one vintage
    pair (10 rows, where did it move); this is the per-SEGMENT
    aggregated STATISTIC (one row per event_type, the number a
    monitoring gate thresholds) over event-time slices, and q_text_kl
    is the text-vocabulary analog. Fixed-width bins + Laplace smoothing
    (+0.5 per bin, +B/2 per total) keep empty bins defined; bins
    absent from BOTH slices all contribute the identical smoothed
    term ((q₀−p₀)·ln(q₀/p₀) with p₀ = 0.5/(n_A+B/2)), so instead of a
    bin-grid completion join the fold adds (B − nbins_present) ×
    that closed form — one scan, no grid, no second pass.
    Day-of-month slicing avoids timestamp literals entirely (the
    fixture's ts unit has shipped as both ns and µs — TESTDATA
    quirk).

    100 TB: ONE events scan with a row-local bin projection → a
    (event_type × ≤10-bin) map-side-combinable conditional aggregate —
    the shuffle is |types|·B rows regardless of input size; marginals
    come from window sums over that tiny rollup inside the same plan
    (q_text_kl precedent — no second scan, no join). ln() is
    transcendental → ROUND(…, 6) per repo convention."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(_B - 1), F.floor(F.col("value") / _W).cast("int")
            ),
        ).alias("bin"),
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("ia"),
    )
    c = e.groupBy("event_type", "bin").agg(
        F.sum("ia").alias("ca"), F.sum(1 - F.col("ia")).alias("cb")
    )
    w = Window.partitionBy("event_type")
    f = c.select(
        "event_type",
        "ca",
        "cb",
        F.sum("ca").over(w).alias("na"),
        F.sum("cb").over(w).alias("nb"),
        F.count(F.lit(1)).over(w).alias("nbins"),
    )
    pa = (F.col("ca") + 0.5) / (F.col("na") + _S)
    pb = (F.col("cb") + 0.5) / (F.col("nb") + _S)
    p0 = F.lit(0.5) / (F.col("na") + _S)
    q0 = F.lit(0.5) / (F.col("nb") + _S)
    return (
        f.groupBy("event_type", "na", "nb", "nbins")
        .agg(F.sum((pb - pa) * F.log(pb / pa)).alias("s_present"))
        .select(
            "event_type",
            "na",
            "nb",
            F.round(
                F.col("s_present")
                + (F.lit(_B) - F.col("nbins"))
                * ((q0 - p0) * F.log(q0 / p0)),
                6,
            ).alias("psi"),
        )
        .select(
            "event_type",
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            "psi",
        )
    )
