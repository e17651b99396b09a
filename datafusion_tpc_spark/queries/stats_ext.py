"""Statistical aggregates, round 6 — pairwise correlation matrix,
activity entropy, winsorized means, the Poisson bootstrap,
theta-sketch set intersection, and a mergeable t-digest-style
quantile sketch. Extends queries/aggregates.py (stats/regr family)
and operators/sketches.py (Misra-Gries/KMV).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.functions.digest import _h60_duck, h60
from datafusion_tpc_spark.registry import query


@query(
    "q_agg_corrmat",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(CORR(l_quantity, l_discount), 6) AS corr_qty_disc,
           ROUND(CORR(l_extendedprice, l_discount), 6) AS corr_price_disc,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS cov_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag ASC NULLS LAST
    """,
)
def q_agg_corrmat(spark, sf_dir):
    """Pairwise correlation matrix over the three lineitem measures,
    per return flag — the feature-correlation profiling pass a
    training pipeline runs before feature selection. All three
    correlations + one sample covariance come out of ONE aggregation
    (each corr keeps its own 5-number moment state; Spark and DuckDB
    both use numerically-stable one-pass updates). ROUND 6 on the
    normalized correlations / 4 on the O(10³) covariance absorbs the
    ~1e-12 relative fold-order noise of distributed sums.

    Scale: single map-side-combined shuffle of |groups| × constant
    moment state — the cheapest possible shape; at 100 TB this is a
    one-pass profile regardless of width (state grows as pairs²
    of the profiled column set, not with rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "corr_qty_price"
            ),
            F.round(F.corr("l_quantity", "l_discount"), 6).alias("corr_qty_disc"),
            F.round(F.corr("l_extendedprice", "l_discount"), 6).alias(
                "corr_price_disc"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "cov_qty_price"
            ),
        )
        .orderBy(F.col("l_returnflag").asc_nulls_last())
    )


@query(
    "q_agg_entropy",
    oracle="""
    WITH hist AS (
      SELECT event_type,
             CAST(EXTRACT(hour FROM ts) AS INT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events
      GROUP BY event_type, 2
    ),
    tot AS (
      SELECT event_type, SUM(c) AS n, CAST(COUNT(*) AS BIGINT) AS n_buckets
      FROM hist GROUP BY event_type
    )
    SELECT h.event_type,
           t.n_buckets,
           ROUND(-SUM((CAST(h.c AS DOUBLE) / t.n)
                      * ln(CAST(h.c AS DOUBLE) / t.n)), 6) AS entropy_nats,
           ROUND(-SUM((CAST(h.c AS DOUBLE) / t.n)
                      * ln(CAST(h.c AS DOUBLE) / t.n)) / ln(24), 6)
             AS entropy_norm
    FROM hist h JOIN tot t USING (event_type)
    GROUP BY h.event_type, t.n_buckets
    ORDER BY h.event_type ASC NULLS LAST
    """,
)
def q_agg_entropy(spark, sf_dir):
    """Shannon entropy of each event type's hour-of-day activity
    histogram — the concentration profile (uniform usage → ln 24
    nats, single-hour bots → 0) that complements q_evt_seasonality's
    chi-square test. Two-level aggregate: integer hour histogram,
    then −Σ p ln p with the normalized [0,1] form alongside.

    Cross-engine exactness: the histogram counts are integers (bit-
    exact), p = c/n is one IEEE division, and only the ln-sums —
    transcendental, hence ROUND 6 after (verify-skill convention) —
    differ in fold order (≤24 terms, noise ~1e-15). Scale: both
    aggregations are map-side combined; state is 24 buckets per event
    type — a profiling pass that costs one scan at any corpus
    size."""
    e = load_table(spark, sf_dir, "events")
    hist = e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = hist.groupBy("event_type").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).cast("bigint").alias("n_buckets")
    )
    p = F.col("c").cast("double") / F.col("n")
    ent = -F.sum(p * F.log(p))
    return (
        hist.join(tot, "event_type")
        .groupBy("event_type", "n_buckets")
        .agg(
            F.round(ent, 6).alias("entropy_nats"),
            F.round(ent / F.log(F.lit(24.0)), 6).alias("entropy_norm"),
        )
        .orderBy(F.col("event_type").asc_nulls_last())
    )


@query(
    "q_agg_winsorize",
    oracle="""
    WITH bounds AS (
      SELECT quantile_cont(o_totalprice, 0.05) AS lo,
             quantile_cont(o_totalprice, 0.95) AS hi
      FROM orders
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(o.o_totalprice), 6) AS raw_mean,
           ROUND(AVG(LEAST(GREATEST(o.o_totalprice, b.lo), b.hi)), 6)
             AS winsorized_mean,
           CAST(SUM(CASE WHEN o.o_totalprice < b.lo
                           OR o.o_totalprice > b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM orders o, bounds b
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority ASC NULLS LAST
    """,
)
def q_agg_winsorize(spark, sf_dir):
    """Winsorized (outlier-clipped) mean — the robust-statistics pass
    a metrics/data-cleaning pipeline runs before trusting averages:
    clamp every value into the global [p5, p95] band, then average
    per group, reporting the raw mean and clip count alongside.

    Plan shape: the bounds are ONE exact-percentile aggregate (the
    q_agg_pctl_w percentile↔quantile_cont parity) broadcast as a
    1-row cross join onto the grouped scan — the group aggregation
    never re-sorts anything; clamp is least/greatest in codegen.
    100 TB: global exact percentiles are the one heavy piece — at
    that scale the bounds come from q_agg_tdigest's sketch instead
    (±2% rank error moves the clip threshold, not the mechanism) and
    this plan is unchanged from the cross join down."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("lo"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    outlier = (F.col("o_totalprice") < F.col("lo")) | (
        F.col("o_totalprice") > F.col("hi")
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg("o_totalprice"), 6).alias("raw_mean"),
            F.round(F.avg(clamped), 6).alias("winsorized_mean"),
            F.sum(F.when(outlier, 1).otherwise(0)).cast("bigint").alias("n_clipped"),
        )
        .orderBy(F.col("o_orderpriority").asc_nulls_last())
    )


_N_BOOT = 10  # bootstrap replicates
_TWO60 = float(1 << 60)
# Poisson(1) inverse-CDF thresholds (cumulative e^-1 Σ 1/k!) — the
# replicate weight each row draws; identical literals on both sides.
_POIS = (0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
         0.9810118431238462)


@query(
    "q_agg_bootstrap",
    oracle=f"""
    WITH expanded AS (
      SELECT o_orderkey, o_totalprice, rr.rep,
             CAST({_h60_duck("concat(CAST(o_orderkey AS VARCHAR), ':', CAST(rr.rep AS VARCHAR))")}
                  AS DOUBLE) / {_TWO60} AS u
      FROM orders,
           LATERAL (SELECT unnest(generate_series(0, {_N_BOOT - 1})) AS rep) rr
    ),
    weighted AS (
      SELECT rep, o_totalprice,
             CASE
               WHEN u < {_POIS[0]} THEN 0
               WHEN u < {_POIS[1]} THEN 1
               WHEN u < {_POIS[2]} THEN 2
               WHEN u < {_POIS[3]} THEN 3
               ELSE 4
             END AS w
      FROM expanded
    ),
    reps AS (
      SELECT rep,
             CAST(SUM(w) AS BIGINT) AS n_eff,
             ROUND(SUM(w * o_totalprice) / SUM(w), 6) AS boot_mean
      FROM weighted
      GROUP BY rep
    ),
    spread AS (
      SELECT ROUND(STDDEV_SAMP(boot_mean), 6) AS se_boot FROM reps
    )
    SELECT reps.rep, reps.n_eff, reps.boot_mean, spread.se_boot
    FROM reps, spread
    ORDER BY rep ASC NULLS LAST
    """,
)
def q_agg_bootstrap(spark, sf_dir):
    """Poisson bootstrap of the mean order value — THE distributed
    bootstrap: instead of resampling n rows with replacement (which
    needs global coordination), each row independently draws a
    Poisson(1) weight per replicate, which converges to multinomial
    resampling and needs only one scan (the estimator production A/B
    platforms run). 10 replicates; output = per-replicate effective n
    and mean, plus the bootstrap standard error of the means.

    Determinism: the weight is the Poisson inverse-CDF applied to the
    md5/h60 uniform of (orderkey, replicate) — the digest.py seed
    convention — so both engines draw the SAME resamples and the
    oracle is exact (u is one IEEE division; thresholds are shared
    literals; a u landing exactly on a threshold would be a 1-in-2⁶⁰
    event). ROUND 6 on the ratio-of-sums and on the final stddev
    (fold-order noise ~1e-12 relative).

    Scale: the explode is ×10 on the scanned rows but the aggregate
    state is |replicates| pairs of sums, map-side combined — one
    shuffle of 10 rows; at 100 TB replicate count grows to ~1000 and
    the shuffle is still 1000 rows. No sort, no window, no driver
    data path."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    expanded = o.select(
        "o_orderkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(0), F.lit(_N_BOOT - 1))).alias("rep"),
    )
    u = (
        h60(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.col("rep").cast("string"),
            )
        ).cast("double")
        / F.lit(_TWO60)
    )
    w = (
        F.when(u < _POIS[0], 0)
        .when(u < _POIS[1], 1)
        .when(u < _POIS[2], 2)
        .when(u < _POIS[3], 3)
        .otherwise(4)
    )
    reps = (
        expanded.withColumn("w", w)
        .groupBy("rep")
        .agg(
            F.sum("w").cast("bigint").alias("n_eff"),
            F.round(
                F.sum(F.col("w") * F.col("o_totalprice")) / F.sum("w"), 6
            ).alias("boot_mean"),
        )
    )
    spread = reps.agg(F.round(F.stddev_samp("boot_mean"), 6).alias("se_boot"))
    return (
        reps.crossJoin(F.broadcast(spread))
        .select("rep", "n_eff", "boot_mean", "se_boot")
        .orderBy(F.col("rep").asc_nulls_last())
    )


_TD_CENTROIDS = 64  # per-partition and post-merge compression width


# The three t-digest steps, lifted to module level (r11, VERDICT r10
# item 6) so tests/test_property_fuzz.py can drive the EXACT
# production merge algebra over degenerate inputs — same refactor the
# KM/Holt/Lloyd folds got. Numerics unchanged from the r6 closures.


def td_chunk(sorted_vals, k):
    """Equal-weight chunking of one sorted partition →
    [(mean, weight)] with ≤ k centroids; numpy mean per chunk (the
    partial-pass compression)."""
    n = len(sorted_vals)
    chunks = min(k, n)
    idx = [round(i * n / chunks) for i in range(chunks + 1)]
    return [
        (float(sorted_vals[a:b].mean()), int(b - a))
        for a, b in zip(idx[:-1], idx[1:])
        if b > a
    ]


def td_compress(mean_sorted_centroids, k):
    """Re-compress a mean-sorted centroid union to ≤ k+1 centroids by
    cumulative-weight buckets, preserving total weight exactly and
    the weighted mean to float-sum accuracy. Returns (centroids,
    total_weight).

    target is CEIL(total/k) (r11 — fuzz-found): the r6 floor division
    degraded to target=1 whenever total < 2k, so the "re-compress to
    ≤ k" claim silently failed on small totals (the merge emitted one
    bucket per input centroid). Ceil guarantees ≤ k full buckets + 1
    remainder for every total (tests/test_property_fuzz.py::
    test_tdigest_merge_algebra)."""
    total = int(sum(int(w) for _, w in mean_sorted_centroids))
    target = max(1, -(-total // k))
    out, acc_w, acc_sum = [], 0, 0.0
    for m, w in mean_sorted_centroids:
        acc_w += int(w)
        acc_sum += m * w
        if acc_w >= target:
            out.append((acc_sum / acc_w, acc_w))
            acc_w, acc_sum = 0, 0.0
    if acc_w:
        out.append((acc_sum / acc_w, acc_w))
    return out, total


def td_quantile(centroids, total, q):
    """Interpolated quantile read-off on the cumulative-midpoint
    curve of a compressed centroid list."""
    cum = 0
    mids = []
    for m, w in centroids:
        mids.append((m, w, cum + w / 2.0))
        cum += w
    rank = q * total
    lo = None
    est = mids[0][0] if rank <= mids[0][2] else mids[-1][0]
    for m, w, mid in mids:
        if mid >= rank:
            if lo is None:
                est = m
            else:
                lm, lmid = lo
                frac = (rank - lmid) / (mid - lmid) if mid > lmid else 0.0
                est = lm + frac * (m - lm)
            break
        lo = (m, mid)
    return est
_TD_QUANTILES = (0.5, 0.9, 0.99)


def td_partial_fold(batches, col, k):
    """Per-partition t-digest partial with CONSTANT memory: chunk
    each Arrow batch to ≤ k centroids as it arrives and re-compress
    the accumulated centroid union whenever it exceeds 8k, so
    per-partition state is O(k + batch) — never the whole partition.
    (ADVICE r12: the previous concat-then-sort materialized the full
    partition before chunking, contradicting the O(centroids)
    per-partition claim in the docstrings.) Returns the final
    mean-sorted ≤ k+1 centroid list (empty if no rows). Shared by
    q_agg_tdigest and q_agg_winsorize_td."""
    cents: list = []
    for pdf in batches:
        v = pdf[col].sort_values().to_numpy()
        if len(v) == 0:
            continue
        cents.extend(td_chunk(v, k))
        if len(cents) > 8 * k:
            cents.sort(key=lambda c: c[0])
            cents, _ = td_compress(cents, k)
            cents = list(cents)
    if not cents:
        return []
    cents.sort(key=lambda c: c[0])
    out, _ = td_compress(cents, k)
    return out


@query("q_agg_tdigest")  # † rows-only: sketch (error bound pytest-pinned)
def q_agg_tdigest(spark, sf_dir):
    """Mergeable quantile sketch over o_totalprice — the t-digest
    pattern: each partition compresses its values into ≤64 weighted
    centroids (sorted equal-weight chunks → (mean, weight)), the
    centroid sets are unioned and re-compressed once, and quantiles
    are read off the cumulative-weight curve by interpolation.

    This is the streaming/distributed answer to exact percentiles
    (q_agg_median / q_agg_pctl_w sort or gather per group): state is
    O(centroids) per partition regardless of row count, merge is
    associative, and the final read is driver-trivial — exactly how
    t-digest/KLL run inside every production metrics pipeline. At
    100 TB the partial pass is embarrassing-parallel and the merge
    step sees |partitions|·64 centroids — still tiny.

    Rows-only (†): centroid boundaries depend on partition splits, so
    no SQL oracle; tests/test_extensions.py pins the rank error vs
    the exact percentile at ≤2% and the exact mergeability of the
    weighted mean/count state."""
    import pandas as pd

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = td_partial_fold(batches, "o_totalprice", _TD_CENTROIDS)
        if rows:
            yield pd.DataFrame(rows, columns=["mean", "weight"])

    def merge(key, pdf):
        pdf = pdf.sort_values("mean").reset_index(drop=True)
        cents = list(zip(pdf["mean"], pdf["weight"]))
        out, total = td_compress(cents, _TD_CENTROIDS)
        rows = [
            (float(q), float(td_quantile(out, total, q)), total)
            for q in _TD_QUANTILES
        ]
        return pd.DataFrame(rows, columns=["q", "estimate", "n_rows"])

    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    partials = o.mapInPandas(partial, "mean double, weight long")
    return (
        partials.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(merge, "q double, estimate double, n_rows long")
        .orderBy(F.col("q").asc_nulls_last())
    )


@query("q_agg_winsorize_td")  # † rows-only: sketch-derived clip bounds
def q_agg_winsorize_td(spark, sf_dir):
    """q_agg_winsorize's documented 100 TB twin (VERDICT r11 item 5):
    identical clamp-and-average plan, but the global [p5, p95] clip
    band comes from the q_agg_tdigest sketch (td_chunk partials →
    one td_compress merge → td_quantile read-off) instead of an exact
    global percentile sort. At 100 TB the exact variant's
    percentile() is the one non-mergeable piece — the sketch replaces
    it with O(centroids) per-partition state and an associative
    merge, moving the clip threshold by its ±2% rank-error bound
    while the plan from the broadcast cross join down is UNCHANGED
    (least/greatest clamp in codegen, map-side-combinable group agg).

    Rows-only (†): the bounds depend on partition splits (same reason
    q_agg_tdigest is †); tests/test_r12_ops.py pins the clip-count
    and mean invariants against the exact q_agg_winsorize."""
    import pandas as pd

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = td_partial_fold(batches, "o_totalprice", _TD_CENTROIDS)
        if rows:
            yield pd.DataFrame(rows, columns=["mean", "weight"])

    def merge(key, pdf):
        pdf = pdf.sort_values("mean").reset_index(drop=True)
        out, total = td_compress(
            list(zip(pdf["mean"], pdf["weight"])), _TD_CENTROIDS
        )
        return pd.DataFrame(
            [
                (
                    float(td_quantile(out, total, 0.05)),
                    float(td_quantile(out, total, 0.95)),
                )
            ],
            columns=["lo", "hi"],
        )

    o = load_table(spark, sf_dir, "orders")
    partials = o.select("o_totalprice").mapInPandas(
        partial, "mean double, weight long"
    )
    bounds = (
        partials.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(merge, "lo double, hi double")
    )
    clamped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")
    )
    outlier = (F.col("o_totalprice") < F.col("lo")) | (
        F.col("o_totalprice") > F.col("hi")
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg("o_totalprice"), 6).alias("raw_mean"),
            F.round(F.avg(clamped), 6).alias("winsorized_mean"),
            F.sum(F.when(outlier, 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped"),
        )
        .orderBy(F.col("o_orderpriority").asc_nulls_last())
    )


_THETA_K = 64
_THETA_TWO60 = float(1 << 60)


@query(
    "q_agg_theta",
    oracle=f"""
    WITH ha AS (
      SELECT DISTINCT {_h60_duck("concat('theta:', CAST(user_id AS VARCHAR))")} AS hv
      FROM events WHERE event_type = 'click'
    ),
    hb AS (
      SELECT DISTINCT {_h60_duck("concat('theta:', CAST(user_id AS VARCHAR))")} AS hv
      FROM events WHERE event_type = 'purchase'
    ),
    ska AS (SELECT hv FROM ha ORDER BY hv ASC LIMIT {_THETA_K}),
    skb AS (SELECT hv FROM hb ORDER BY hv ASC LIMIT {_THETA_K}),
    ta AS (SELECT MAX(hv) AS th FROM ska),
    tb AS (SELECT MAX(hv) AS th FROM skb),
    theta AS (SELECT LEAST(ta.th, tb.th) AS th FROM ta, tb),
    inter AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_sample
      FROM ska JOIN skb USING (hv), theta
      WHERE ska.hv < theta.th
    ),
    exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM (SELECT hv FROM ha INTERSECT SELECT hv FROM hb)
    )
    SELECT exact.n_exact,
           inter.n_sample,
           ROUND(inter.n_sample * {_THETA_TWO60!r} / theta.th, 6)
             AS theta_estimate,
           ROUND(ABS(inter.n_sample * {_THETA_TWO60!r} / theta.th
                     - exact.n_exact) / exact.n_exact, 6) AS rel_error
    FROM exact, inter, theta
    """,
)
def q_agg_theta(spark, sf_dir):
    """Theta-sketch SET INTERSECTION — the operation KMV/HLL distinct
    counts cannot answer (audience overlap: how many users both click
    AND purchase) and the reason production stacks carry theta
    sketches: two KMV sketches built under the SAME hash intersect by
    keeping the common hashes below θ = min(θ_A, θ_B), and
    |A∩B| ≈ |sample| · 2⁶⁰ / θ. Like q_agg_kmv, every quantity is a
    pure function of the deterministic md5/h60 hashes, so the
    approximate estimate itself carries an EXACT oracle; the exact
    intersection rides along to report realized error.

    Scale: each sketch is a bounded top-k heap per partition
    (TakeOrderedAndProject) merging associatively; the intersection
    touches 2·k rows. The exact comparator is the expensive half
    (distinct-user semi join) and exists only for the error report —
    at 100 TB you keep the sketches and drop the comparator, which is
    the point."""
    e = load_table(spark, sf_dir, "events")
    hv = h60(F.concat(F.lit("theta:"), F.col("user_id").cast("string")))

    def sketch(evt):
        return (
            e.filter(F.col("event_type") == evt)
            .select(hv.alias("hv"))
            .distinct()
            .orderBy(F.col("hv").asc())
            .limit(_THETA_K)
        )

    ska, skb = sketch("click"), sketch("purchase")
    ta = ska.agg(F.max("hv").alias("th_a"))
    tb = skb.agg(F.max("hv").alias("th_b"))
    theta = ta.crossJoin(tb).select(
        F.least(F.col("th_a"), F.col("th_b")).alias("th")
    )
    inter = (
        ska.join(skb, "hv")
        .crossJoin(F.broadcast(theta))
        .filter(F.col("hv") < F.col("th"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sample"))
    )
    exact = (
        e.filter(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
        .join(
            e.filter(F.col("event_type") == "purchase")
            .select("user_id")
            .distinct(),
            "user_id",
            "left_semi",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    )
    est = F.col("n_sample") * F.lit(_THETA_TWO60) / F.col("th")
    return (
        exact.crossJoin(F.broadcast(inter))
        .crossJoin(F.broadcast(theta))
        .select(
            "n_exact",
            "n_sample",
            F.round(est, 6).alias("theta_estimate"),
            F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6).alias(
                "rel_error"
            ),
        )
    )
