"""Round-7 catalog, part 3: KMV distinct sketches with set algebra,
and decimal-exact time-series diagnostics.

- **KMV (k-minimum-values) sketches**: the third mergeable-sketch
  family beside the HLL registers (catalog_r7, union-only) and the
  Count-Min store (catalog_r7b, frequencies). KMV's k-min set is a
  uniform sample of the hashed key space, so merged sketches answer
  UNION **and INTERSECTION / Jaccard** questions — the cross-day
  cohort-overlap class no HLL can serve. Per-day sketches are
  persisted to a parquet store and every estimate entry reads ONLY
  the store (<= days*k integer rows), never the raw events.
  Estimates are exact wide-integer arithmetic (Spark DECIMAL ``div``
  / DuckDB HUGEINT ``//``), so they hash-gate bit-for-bit.
- **Time-series diagnostics** over daily order revenue / event
  values: CUSUM changepoint localization with the cumulative sums
  kept exact by scaling (n*prefix - t*total, never a dividing mean),
  day-of-week seasonal indices from DECIMAL sums, and the OLS trend
  line fitted from exact integer/decimal moments (the corr_matrix
  pattern applied to regression).

Reference parity: the reference QAs loads by comparing counts and
distributions across time windows (qa_load_file_snapshot.R:61-108,
qa_sql_load.R's row-count drift checks); these entries are the
at-scale continuations — overlap/drift/trend answered from merged
sketch state or single-pass exact moments instead of rescans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apde_etl_spark.operators.sketch import (
    KMV_K,
    kmv_estimate,
    kmv_merge,
    kmv_sketch,
    sql_kmv_estimate,
)
from apde_etl_spark.plans.artifacts import artifact
from apde_etl_spark.plans.catalog import (
    _sql_round,
    load,
    load_events,
    register,
)
from apde_etl_spark.plans.catalog_r7 import _SQL_H60_USER


def _ensure_kmv_store(spark: SparkSession, sf_dir: str) -> str:
    """Build per-day KMV sketch tables ONCE and persist them
    partitioned by day — the distinct-sketch store the estimate
    entries merge FROM STORAGE."""

    def build(d: str) -> str:
        ev = load_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
        sk = kmv_sketch(ev, "user_id", ["day"])
        sk.write.mode("overwrite").partitionBy("day").parquet(d)
        return d

    return artifact("kmv", sf_dir, ("events",), build)


#: shared oracle CTE: per-day k-min sketches of distinct user hashes.
_KMV_REG_CTES = f"""
ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events
       WHERE user_id IS NOT NULL),
hh AS (SELECT DISTINCT day, {_SQL_H60_USER} AS hval FROM ev),
rk AS (SELECT day, hval,
              CAST(row_number() OVER (PARTITION BY day ORDER BY hval)
                   AS INTEGER) AS rnk
       FROM hh),
sk AS (SELECT day, rnk, hval FROM rk WHERE rnk <= {KMV_K})"""


_KMV_DAILY_SQL = f"""
WITH {_KMV_REG_CTES}
SELECT day, rnk, hval FROM sk
"""


@register("kmv_daily_user_sketch", _KMV_DAILY_SQL)
def kmv_daily_user_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE per-day KMV sketches (operators/sketch.py:kmv_sketch):
    plain-integer (day, rnk, hval) rows — the k smallest distinct
    hash60 values per day. The rank predicate compiles to Spark's
    WindowGroupLimit per-partition top-k, so no day's distinct set is
    ever fully materialized; the persisted state is <= k rows per day
    regardless of traffic. Read BACK from the partitioned store so
    the gate covers the write->read round trip."""
    d = _ensure_kmv_store(spark, sf_dir)
    return spark.read.parquet(d).select(
        F.col("day").cast("date").alias("day"), "rnk", "hval")


_KMV_UNION_SQL = f"""
WITH {_KMV_REG_CTES},
u AS (SELECT DISTINCT hval FROM sk),
ur AS (SELECT hval,
              CAST(row_number() OVER (ORDER BY hval) AS INTEGER) AS rnk
       FROM u),
m AS (SELECT hval, rnk FROM ur WHERE rnk <= {KMV_K}),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_in_sketch,
             max(CASE WHEN rnk = {KMV_K} THEN hval END) AS kth_min
      FROM m)
SELECT CAST((SELECT count(DISTINCT day) FROM sk) AS BIGINT) AS n_days,
       n_in_sketch, kth_min,
       {sql_kmv_estimate()} AS est_distinct,
       CAST((SELECT count(DISTINCT user_id) FROM ev) AS BIGINT)
         AS exact_distinct
FROM a
"""


@register("kmv_union_from_storage", _KMV_UNION_SQL)
def kmv_union_from_storage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge the PERSISTED per-day KMV sketches into one month-wide
    distinct estimate WITHOUT rescanning events: the k smallest
    distinct hvals across <= days*k stored rows form a valid sketch
    of the union (k-min of a union = k-min of the k-mins), then the
    (k-1)*2^60/kth_min estimator in exact wide-integer division.
    Emits the estimate beside the exact distinct so the accuracy
    contract is IN the gate."""
    d = _ensure_kmv_store(spark, sf_dir)
    sk = spark.read.parquet(d)
    est = kmv_estimate(kmv_merge(sk))
    ev = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    exact = ev.agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct"))
    days = sk.agg(F.count_distinct("day").cast("long").alias("n_days"))
    return (
        est.crossJoin(F.broadcast(exact)).crossJoin(F.broadcast(days))
        .select("n_days", "n_in_sketch", "kth_min", "est_distinct",
                "exact_distinct")
    )


_KMV_INTERSECT_SQL = f"""
WITH {_KMV_REG_CTES},
pa AS (SELECT DISTINCT hval FROM sk WHERE dayofmonth(day) % 2 = 0),
pb AS (SELECT DISTINCT hval FROM sk WHERE dayofmonth(day) % 2 = 1),
ska AS (SELECT hval FROM
        (SELECT hval, row_number() OVER (ORDER BY hval) AS r FROM pa)
        WHERE r <= {KMV_K}),
skb AS (SELECT hval FROM
        (SELECT hval, row_number() OVER (ORDER BY hval) AS r FROM pb)
        WHERE r <= {KMV_K}),
u AS (SELECT DISTINCT hval FROM (SELECT hval FROM ska
                                 UNION ALL SELECT hval FROM skb)),
m AS (SELECT hval, CAST(row_number() OVER (ORDER BY hval) AS INTEGER) AS rnk
      FROM u QUALIFY rnk <= {KMV_K}),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_in_sketch,
             max(CASE WHEN rnk = {KMV_K} THEN hval END) AS kth_min,
             CAST(sum(CASE WHEN hval IN (SELECT hval FROM ska)
                            AND hval IN (SELECT hval FROM skb)
                           THEN 1 ELSE 0 END) AS BIGINT) AS matches
      FROM m),
e AS (SELECT n_in_sketch, kth_min, matches,
             {sql_kmv_estimate()} AS est_union
      FROM a),
x AS (SELECT CAST(count(*) AS BIGINT) AS exact_intersection FROM (
        SELECT user_id FROM ev WHERE dayofmonth(day) % 2 = 0
        INTERSECT
        SELECT user_id FROM ev WHERE dayofmonth(day) % 2 = 1))
SELECT matches, n_in_sketch AS union_n, kth_min, est_union,
       CAST(matches * est_union // n_in_sketch AS BIGINT)
         AS est_intersection,
       CAST(matches * 1000000 // n_in_sketch AS BIGINT) AS jaccard_ppm,
       exact_intersection
FROM e, x
"""


@register("kmv_cohort_intersection", _KMV_INTERSECT_SQL)
def kmv_cohort_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-overlap estimate from SKETCHES ALONE — the operation HLL
    registers cannot do. Cohort A = users active on even days of
    month, cohort B = odd days. Each cohort's sketch merges from the
    per-day store; the union sketch's members present in BOTH cohort
    sketches give rho = matches/n_in_sketch, est_intersection =
    matches * est_union div n_in_sketch (n_in_sketch = |union sketch|,
    which is < k while the union sketch is unsaturated — dividing by a
    fixed k would under-estimate there) — all exact integer
    arithmetic, gated beside the exact INTERSECT count. At 100 TB the same three sketch merges
    answer any day-range overlap from KBs of state."""
    d = _ensure_kmv_store(spark, sf_dir)
    sk = spark.read.parquet(d).withColumn(
        "par", (F.dayofmonth("day") % 2).cast("int"))
    ska = kmv_merge(sk.filter(F.col("par") == 0)).select("hval")
    skb = kmv_merge(sk.filter(F.col("par") == 1)).select("hval")
    u = kmv_merge(ska.unionAll(skb))
    est_u = kmv_estimate(u)
    marked = (
        u.join(F.broadcast(ska.withColumn("in_a", F.lit(1))), "hval", "left")
        .join(F.broadcast(skb.withColumn("in_b", F.lit(1))), "hval", "left")
    )
    matches = marked.agg(
        F.sum(F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(),
                     1).otherwise(0)).cast("long").alias("matches"))
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select("user_id", (F.dayofmonth(F.to_date("ts")) % 2).alias("par"))
    )
    exact = (
        ev.filter(F.col("par") == 0).select("user_id").distinct()
        .intersect(ev.filter(F.col("par") == 1).select("user_id").distinct())
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
    )
    return (
        matches.crossJoin(F.broadcast(est_u)).crossJoin(F.broadcast(exact))
        .select(
            "matches",
            F.col("n_in_sketch").alias("union_n"),
            "kth_min",
            F.col("est_distinct").alias("est_union"),
            F.expr("CAST((matches * est_distinct) div n_in_sketch AS BIGINT)")
            .alias("est_intersection"),
            F.expr("CAST((matches * 1000000) div n_in_sketch AS BIGINT)")
            .alias("jaccard_ppm"),
            "exact_intersection",
        )
    )


# ===========================================================================
# Time-series diagnostics: CUSUM changepoint, DOW seasonality, OLS trend
# ===========================================================================

_CUSUM_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DECIMAL(38,6))
           AS rev
  FROM orders GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(rev) AS DECIMAL(38,6)) AS total FROM daily),
cum AS (
  SELECT day, rev,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(sum(rev) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DECIMAL(38,6)) AS prefix
  FROM daily
),
s AS (
  SELECT day, t, rev,
         CAST(n * prefix - t * total AS DECIMAL(38,6)) AS s_scaled
  FROM cum, tot
),
mx AS (SELECT max(abs(s_scaled)) AS peak FROM s)
SELECT day, t, rev, s_scaled,
       CAST(abs(s_scaled) = (SELECT peak FROM mx) AS BOOLEAN)
         AS is_changepoint
FROM s
ORDER BY day
LIMIT 100
"""


@register("cusum_changepoint_daily", _CUSUM_SQL)
def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint localization over daily order revenue (Page
    1954, public method). The classical statistic S_t = sum(x_i -
    mean) needs a dividing mean; scaling by n keeps it EXACT:
    s_scaled_t = n*prefix_t - t*total (DECIMAL(38,6) throughout), and
    argmax|s_scaled| = argmax|S| since n > 0. One aggregate + one
    ordered window over the DAILY rollup (days rows, not orders rows
    — the window input is post-aggregation state). Flags the max-|S|
    day as the changepoint; first 100 days emitted for the gate."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    from apde_etl_spark.operators.cache import tracked_persist

    # days-sized rollup read by tot, the prefix window, and the peak
    # aggregate — persist so orders scans once (plan audit: 4 scans)
    daily = tracked_persist(
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
             .cast("decimal(38,6)").alias("rev")),
        scope="timeseries",
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rev").cast("decimal(38,6)").alias("total"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "day", "rev", "n", "total",
            F.row_number().over(Window.orderBy("day")).cast("long")
            .alias("t"),
            F.sum("rev").over(w).cast("decimal(38,6)").alias("prefix"),
        )
    )
    s = cum.select(
        "day", "t", "rev",
        (F.col("n") * F.col("prefix") - F.col("t") * F.col("total"))
        .cast("decimal(38,6)").alias("s_scaled"),
    )
    peak = s.agg(F.max(F.abs(F.col("s_scaled"))).alias("peak"))
    return (
        s.crossJoin(F.broadcast(peak))
        .select("day", "t", "rev", "s_scaled",
                (F.abs(F.col("s_scaled")) == F.col("peak"))
                .alias("is_changepoint"))
        .orderBy("day").limit(100)
    )


_DOW_SQL = f"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS day, CAST(value AS DECIMAL(38,6)) AS v
  FROM events WHERE value IS NOT NULL
),
-- ISO day number 1=Mon..7=Sun, identical across engines
dw AS (SELECT isodow(day) AS dow, v FROM ev),
per AS (SELECT CAST(dow AS INTEGER) AS dow,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS DECIMAL(38,6)) AS sum_v
        FROM dw GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_all,
               CAST(sum(sum_v) AS DECIMAL(38,6)) AS sum_all FROM per)
SELECT dow, n, sum_v,
       {_sql_round('(CAST(sum_v AS DOUBLE) / n)'
                   ' / (CAST(sum_all AS DOUBLE) / n_all)', 6)}
         AS seasonal_index
FROM per, tot
ORDER BY dow
"""


@register("dow_seasonality_events", _DOW_SQL)
def dow_seasonality_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal indices for event values: per-DOW mean
    over the global mean. Sums are exact DECIMAL (so the only floats
    are two divisions over identical integers/decimals, then one
    rounded ratio — the repo's standard float-boundary discipline).
    Day numbering is ISO (Mon=1..Sun=7) via dayofweek-shift on the
    Spark side and isodow in DuckDB — the one cross-engine DOW
    convention that agrees. Single map-side-combine aggregate over
    events; 7-row output."""
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select(F.to_date("ts").alias("day"),
                F.col("value").cast("decimal(38,6)").alias("v"))
    )
    # Spark dayofweek: 1=Sun..7=Sat -> ISO 1=Mon..7=Sun
    iso = ((F.dayofweek("day") + 5) % 7 + 1).cast("int")
    per = (
        ev.select(iso.alias("dow"), "v")
        .groupBy("dow")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("v").cast("decimal(38,6)").alias("sum_v"))
    )
    tot = per.agg(F.sum("n").cast("long").alias("n_all"),
                  F.sum("sum_v").cast("decimal(38,6)").alias("sum_all"))
    from apde_etl_spark.functions.core import round_half_away

    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "dow", "n", "sum_v",
            round_half_away(
                (F.col("sum_v").cast("double") / F.col("n"))
                / (F.col("sum_all").cast("double") / F.col("n_all")), 6,
            ).alias("seasonal_index"),
        )
        .orderBy("dow")
    )


_TREND_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DECIMAL(38,6))
           AS rev
  FROM orders GROUP BY 1
),
idx AS (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, rev
  FROM daily
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS DECIMAL(38,6)) AS sx,
         CAST(sum(rev) AS DECIMAL(38,6)) AS sy,
         CAST(sum(t * t) AS DECIMAL(38,6)) AS sxx,
         CAST(sum(t * rev) AS DECIMAL(38,6)) AS sxy
  FROM idx
)
SELECT n, sx, sy, sxx, sxy,
       {_sql_round('(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)'
                   ' * CAST(sy AS DOUBLE))'
                   ' / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)'
                   ' * CAST(sx AS DOUBLE))', 6)} AS slope_per_day,
       {_sql_round('(CAST(sy AS DOUBLE) - ((n * CAST(sxy AS DOUBLE)'
                   ' - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))'
                   ' / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)'
                   ' * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / n', 6)}
         AS intercept
FROM m
"""


@register("trend_daily_revenue_ols", _TREND_SQL)
def trend_daily_revenue_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS trend line over daily revenue — the corr_matrix pattern
    (exact DECIMAL moments in ONE aggregate, float only at the final
    closed-form division) applied to regression. Emits the exact
    moment sums (n, sx, sy, sxx, sxy) BESIDE the rounded slope and
    intercept, so the gate pins the distributed part exactly and the
    scalar algebra at 6 dp. Day index t comes from a row_number over
    the daily rollup (days rows — tiny-window class)."""
    from pyspark.sql import Window

    from apde_etl_spark.functions.core import round_half_away

    o = load(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
             .cast("decimal(38,6)").alias("rev"))
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
        "rev")
    m = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("decimal(38,6)").alias("sx"),
        F.sum("rev").cast("decimal(38,6)").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("decimal(38,6)").alias("sxx"),
        F.sum(F.col("t") * F.col("rev")).cast("decimal(38,6)").alias("sxy"),
    )
    slope = (
        (F.col("n") * F.col("sxy").cast("double")
         - F.col("sx").cast("double") * F.col("sy").cast("double"))
        / (F.col("n") * F.col("sxx").cast("double")
           - F.col("sx").cast("double") * F.col("sx").cast("double"))
    )
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n")
    )
    return m.select(
        "n", "sx", "sy", "sxx", "sxy",
        round_half_away(slope, 6).alias("slope_per_day"),
        round_half_away(intercept, 6).alias("intercept"),
    )


# ===========================================================================
# Differentially-private count release: geometric mechanism, exact CDF
# ===========================================================================

#: 60-bit uniform space (matches hash60)
_DP_T = 1 << 60

#: seed prefix — production would rotate this per release; the gate
#: pins one so the mechanism is reproducible cross-engine.
_DP_SEED = "dpseed:1:"


def _dp_noise_exprs(h: str) -> str:
    """Two-sided geometric noise with alpha = 1/2 (epsilon = ln 2),
    inverse-CDF sampled from a 60-bit uniform ``h`` in EXACT integer
    arithmetic — shared text for Spark and DuckDB (identical syntax):
    the CDF thresholds floor(T/(3*2^(k-1))) reduce to a bit-length,
    so noise = -bitlen(T div 3(h+1)) on the low tail, +bitlen(T div
    3(T-h)) on the high tail, 0 in the middle third. No float log
    anywhere; P(0)=1/3, P(+-k)=(1/3)*2^-k exactly."""
    qn = f"(CAST({_DP_T} AS BIGINT) // (3 * ({h} + 1)))"
    qp = f"(CAST({_DP_T} AS BIGINT) // (3 * ({_DP_T} - {h})))"
    return (f"CAST(CASE WHEN {qn} >= 1 THEN -length(bin({qn})) "
            f"WHEN {qp} >= 1 THEN length(bin({qp})) "
            f"ELSE 0 END AS INTEGER)")


_DP_SQL = f"""
WITH c AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
),
hh AS (
  SELECT event_type, n_exact,
         CAST(concat('0x', substr(md5('{_DP_SEED}' || event_type), 1, 15))
              AS BIGINT) AS h
  FROM c
)
SELECT event_type, n_exact,
       {_dp_noise_exprs('h')} AS noise,
       CAST(n_exact + {_dp_noise_exprs('h')} AS BIGINT) AS n_noisy
FROM hh
ORDER BY event_type
"""


@register("dp_geometric_event_counts", _DP_SQL)
def dp_geometric_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release via the GEOMETRIC MECHANISM
    (Ghosh-Roughgarden-Sundararajan 2009, public method; the discrete
    analogue of Laplace, epsilon = ln 2 for unit-sensitivity counts).
    The noise is inverse-CDF sampled from a SEEDED 60-bit uniform
    (hash60 of seed||key) in exact integer arithmetic — the CDF
    thresholds collapse to bit-lengths, the repo's established
    no-float-log trick — so the release is reproducible and
    hash-gates bit-for-bit. ``n_exact`` is emitted ONLY for the gate's
    accuracy contract; a production release drops it and rotates the
    seed per publication. Scale shape: one map-side-combine count per
    key, noise is a per-row expression — no extra shuffle."""
    from apde_etl_spark.operators.similarity import hash60

    c = (
        load_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    hh = c.withColumn(
        "h", hash60(F.concat(F.lit(_DP_SEED), F.col("event_type"))))
    # Spark's integer division is `div`; keep one text with // -> div
    noise_sql = _dp_noise_exprs("h").replace("//", "div")
    return (
        hh.select(
            "event_type", "n_exact",
            F.expr(noise_sql).alias("noise"),
            (F.col("n_exact") + F.expr(noise_sql)).cast("long")
            .alias("n_noisy"),
        )
        .orderBy("event_type")
    )


# ===========================================================================
# Walk-forward forecast backtest: naive vs seasonal-naive
# ===========================================================================

_BACKTEST_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DECIMAL(38,6))
           AS rev
  FROM orders GROUP BY 1
),
lagged AS (
  SELECT day, rev,
         lag(rev, 1) OVER (ORDER BY day) AS f_naive,
         lag(rev, 7) OVER (ORDER BY day) AS f_seasonal
  FROM daily
),
errs AS (
  SELECT 'naive' AS model,
         CAST(count(*) AS BIGINT) AS n_scored,
         CAST(sum(abs(rev - f_naive)) AS DECIMAL(38,6)) AS sum_abs_err
  FROM lagged WHERE f_naive IS NOT NULL
  UNION ALL
  SELECT 'seasonal_naive' AS model,
         CAST(count(*) AS BIGINT) AS n_scored,
         CAST(sum(abs(rev - f_seasonal)) AS DECIMAL(38,6)) AS sum_abs_err
  FROM lagged WHERE f_seasonal IS NOT NULL
)
SELECT model, n_scored, sum_abs_err,
       CAST(CAST(sum_abs_err * 1000000 AS HUGEINT) // n_scored AS BIGINT)
         AS mae_e6
FROM errs
ORDER BY model
"""


@register("backtest_seasonal_naive", _BACKTEST_SQL)
def backtest_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward backtest of the two standard forecasting baselines
    over daily revenue: naive (predict yesterday) and seasonal-naive
    (predict the value 7 days back). Every error is honest walk-forward
    (the forecast uses only prior days, via lag over the day-ordered
    rollup), the absolute-error sums are exact DECIMAL, and MAE is a
    DECIMAL division both engines compute identically at scale 6. The
    window input is the daily rollup (days rows, post-aggregation) —
    the documented tiny-window class. A real model slots into the same
    harness: replace the lag column with its prediction column."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
             .cast("decimal(38,6)").alias("rev"))
    )
    from apde_etl_spark.operators.cache import tracked_persist

    w = Window.orderBy("day")
    # two arms (naive, seasonal) consume the lagged rollup — persist so
    # orders scans and the window run once
    lagged = tracked_persist(
        daily.select(
            "day", "rev",
            F.lag("rev", 1).over(w).alias("f_naive"),
            F.lag("rev", 7).over(w).alias("f_seasonal"),
        ),
        scope="timeseries",
    )

    def arm(model: str, fcol: str) -> DataFrame:
        return (
            lagged.filter(F.col(fcol).isNotNull())
            .agg(
                F.lit(model).alias("model"),
                F.count(F.lit(1)).cast("long").alias("n_scored"),
                F.sum(F.abs(F.col("rev") - F.col(fcol)))
                .cast("decimal(38,6)").alias("sum_abs_err"),
            )
        )

    errs = arm("naive", "f_naive").unionByName(
        arm("seasonal_naive", "f_seasonal"))
    # MAE as exact integer micros: DECIMAL(38,6)*10^6 is integral, the
    # floor division matches DuckDB's HUGEINT // bit-for-bit (a
    # fractional decimal division would round at engine-specific
    # scales)
    return errs.select(
        "model", "n_scored", "sum_abs_err",
        F.expr("CAST(CAST(sum_abs_err * 1000000 AS DECIMAL(38,0))"
               " div n_scored AS BIGINT)").alias("mae_e6"),
    ).orderBy("model")


# ===========================================================================
# Streaming KMV distinct: foreachBatch min-merge of k-min sets
# ===========================================================================


def _fold_kmv_state(batch_df: DataFrame,
                    existing: DataFrame | None) -> DataFrame:
    """Fold one micro-batch into the global KMV state: sketch the
    batch, keep the k smallest distinct hvals of the union. Min-merge
    is associative, commutative AND idempotent, so at-least-once
    replays and any micro-batch slicing land on the identical k-min
    set."""
    sk = kmv_sketch(batch_df, "user_id")
    if existing is None:
        return sk
    return kmv_merge(existing.unionByName(sk).select("hval"))


_KMV_STREAM_SQL = f"""
WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
hh AS (SELECT DISTINCT {_SQL_H60_USER} AS hval FROM ev),
rk AS (SELECT hval,
              CAST(row_number() OVER (ORDER BY hval) AS INTEGER) AS rnk
       FROM hh),
m AS (SELECT hval, rnk FROM rk WHERE rnk <= {KMV_K}),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_in_sketch,
             max(CASE WHEN rnk = {KMV_K} THEN hval END) AS kth_min
      FROM m)
SELECT n_in_sketch, kth_min,
       {sql_kmv_estimate()} AS est_distinct,
       CAST((SELECT count(DISTINCT user_id) FROM ev) AS BIGINT)
         AS exact_distinct
FROM a
"""


@register("stream_kmv_distinct", _KMV_STREAM_SQL)
def stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING KMV distinct sketch — completes the streaming-twin
    triad (HLL max-merge, CMS sum-fold, KMV min-merge): each
    micro-batch's k-min set folds into the persisted state under the
    shared idempotent foreachBatch runner. The oracle sketches all
    events in one pass — stream-batch convergence is hash-proven
    because the k smallest distinct hashes of a multiset are invariant
    to how the stream was sliced. Unlike the HLL twin this state also
    serves INTERSECTIONS against any other stored sketch."""
    import atexit
    import shutil
    import tempfile

    from apde_etl_spark.plans.catalog import normalize_ts
    from apde_etl_spark.plans.catalog_r2 import run_idempotent_upsert

    load_events(spark, sf_dir)  # sets the nanos conf if needed
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    src = normalize_ts(src)
    workdir = tempfile.mkdtemp(prefix="stream_kmv_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    target = run_idempotent_upsert(src, workdir, _fold_kmv_state)
    state = spark.read.parquet(target)
    est = kmv_estimate(kmv_merge(state.select("hval")))
    ev = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    exact = ev.agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact)).select(
        "n_in_sketch", "kth_min", "est_distinct", "exact_distinct")


_KMV_ROLLING_SQL = f"""
WITH {_KMV_REG_CTES},
spine AS (SELECT DISTINCT day FROM sk),
win AS (
  SELECT s.day AS day, k.hval AS hval
  FROM spine s JOIN sk k
    ON k.day BETWEEN s.day - INTERVAL 6 DAY AND s.day
),
du AS (SELECT DISTINCT day, hval FROM win),
rk2 AS (SELECT day, hval,
              CAST(row_number() OVER (PARTITION BY day ORDER BY hval)
                   AS INTEGER) AS rnk
       FROM du),
m2 AS (SELECT day, hval, rnk FROM rk2 WHERE rnk <= {KMV_K}),
a AS (SELECT day,
             CAST(count(*) AS BIGINT) AS n_in_sketch,
             max(CASE WHEN rnk = {KMV_K} THEN hval END) AS kth_min
      FROM m2 GROUP BY day),
x AS (
  SELECT s.day AS day,
         CAST(count(DISTINCT e.user_id) AS BIGINT) AS exact_distinct_7d
  FROM spine s JOIN ev e
    ON e.day BETWEEN s.day - INTERVAL 6 DAY AND s.day
  GROUP BY 1
)
SELECT a.day, n_in_sketch, kth_min,
       {sql_kmv_estimate()} AS est_distinct_7d,
       exact_distinct_7d
FROM a JOIN x ON a.day = x.day
ORDER BY a.day
"""


@register("kmv_rolling7_distinct", _KMV_ROLLING_SQL)
def kmv_rolling7_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users PER DAY, served ENTIRELY from the
    per-day sketch store: a range join of the day spine against <=
    days*k stored integer rows, one per-day re-rank, one estimate per
    day — the sliding-distinct query that needs a full rescan per
    window without sketches (distinct does not decompose over
    overlapping windows; HLL registers would union but never subtract
    — KMV's re-rank gives any window from the same state). The exact
    per-window distinct rides beside the estimate for the gate's
    accuracy contract; at 100 TB one would sample-audit instead."""
    from pyspark.sql import Window

    d = _ensure_kmv_store(spark, sf_dir)
    sk = spark.read.parquet(d).select(
        F.col("day").cast("date").alias("day"), "hval")
    spine = sk.select("day").distinct()
    win = (
        spine.alias("s")
        .join(sk.alias("k"),
              F.col("k.day").between(F.date_sub(F.col("s.day"), 6),
                                     F.col("s.day")))
        .select(F.col("s.day").alias("day"), "hval")
        .distinct()
    )
    w = Window.partitionBy("day").orderBy("hval")
    m = (
        win.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= KMV_K)
    )
    from apde_etl_spark.operators.sketch import kmv_estimate_expr

    a = m.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_in_sketch"),
        F.max(F.when(F.col("rnk") == KMV_K, F.col("hval")))
        .alias("kth_min"),
    )
    est = kmv_estimate_expr()
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
    )
    x = (
        spine.alias("s")
        .join(ev.alias("e"),
              F.col("e.day").between(F.date_sub(F.col("s.day"), 6),
                                     F.col("s.day")))
        .groupBy(F.col("s.day").alias("day"))
        .agg(F.count_distinct("user_id").cast("long")
             .alias("exact_distinct_7d"))
    )
    return (
        a.join(x, "day")
        .select("day", "n_in_sketch", "kth_min",
                est.alias("est_distinct_7d"),
                "exact_distinct_7d")
        .orderBy("day")
    )


# ===========================================================================
# Vocabulary-shift detection: corpus drift between two crawls
# ===========================================================================

_VSHIFT_TOPN = 15
#: integer scale for the odds-ratio score (12 decimal digits)
_VSHIFT_SCALE = 10 ** 12


_VSHIFT_SQL = f"""
WITH split AS (
  SELECT doc_id,
         CASE WHEN doc_id * 2 < (SELECT max(doc_id) + min(doc_id)
                                 FROM documents)
              THEN 'a' ELSE 'b' END AS half,
         regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
tok AS (SELECT half, unnest(toks) AS term FROM split),
cnt AS (SELECT term,
               CAST(COALESCE(SUM(CASE WHEN half = 'a' THEN 1 END), 0)
                    AS HUGEINT) AS c_a,
               CAST(COALESCE(SUM(CASE WHEN half = 'b' THEN 1 END), 0)
                    AS HUGEINT) AS c_b
        FROM tok GROUP BY term),
tot AS (SELECT CAST(sum(c_a) AS HUGEINT) AS n_a,
               CAST(sum(c_b) AS HUGEINT) AS n_b,
               CAST(count(*) AS HUGEINT) AS v
        FROM cnt),
scored AS (
  SELECT term, CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
         CAST(((c_b + 1) * (n_a + v) * {_VSHIFT_SCALE})
              // ((c_a + 1) * (n_b + v)) AS BIGINT) AS rise_score
  FROM cnt, tot
),
rising AS (
  SELECT 'rising' AS direction, term, c_a, c_b, rise_score FROM scored
  ORDER BY rise_score DESC, term LIMIT {_VSHIFT_TOPN}
),
falling AS (
  SELECT 'falling' AS direction, term, c_a, c_b, rise_score FROM scored
  ORDER BY rise_score ASC, term LIMIT {_VSHIFT_TOPN}
)
SELECT * FROM rising UNION ALL SELECT * FROM falling
"""


@register("vocab_shift_terms", _VSHIFT_SQL)
def vocab_shift_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift monitor: the terms whose relative frequency rose /
    fell most between two crawls (halves of the corpus by doc-id
    midpoint — at 100 TB, two ingest periods). Score = the add-one
    smoothed frequency-ratio odds, kept EXACT by integer scaling:
    floor((c_b+1)(N_a+V) * 10^12 / ((c_a+1)(N_b+V))) — the same
    monotone-surrogate trick as pmi_collocations (log-odds ordering ==
    odds ordering), in wide-integer division (Spark DECIMAL div /
    DuckDB HUGEINT //) so top-k and ties are bit-identical. One
    explode + one groupBy with map-side combine; top-k via
    TakeOrdered, never a global sort of the vocabulary."""
    docs = load(spark, sf_dir, "documents")
    mid = docs.agg((F.max("doc_id") + F.min("doc_id")).alias("mm"))
    tok = (
        docs.crossJoin(F.broadcast(mid))
        .select(
            F.when(F.col("doc_id") * 2 < F.col("mm"), F.lit("a"))
            .otherwise(F.lit("b")).alias("half"),
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
        )
    )
    from apde_etl_spark.operators.cache import tracked_persist

    # persist the vocabulary-sized counts: tot, the scored frame, and
    # BOTH top-k arms read cnt — without the persist each consumer
    # re-runs the corpus explode+groupBy (plan audit showed 8 scans)
    cnt = tracked_persist(
        tok.groupBy("term").agg(
            F.sum(F.when(F.col("half") == "a", 1).otherwise(0)).cast("long")
            .alias("c_a"),
            F.sum(F.when(F.col("half") == "b", 1).otherwise(0)).cast("long")
            .alias("c_b"),
        ),
        scope="vocabshift",
    )
    tot = cnt.agg(
        F.sum("c_a").cast("long").alias("n_a"),
        F.sum("c_b").cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    scored = (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "term", "c_a", "c_b",
            F.expr(
                f"CAST((CAST(c_b + 1 AS DECIMAL(38,0))"
                f" * CAST(n_a + v AS DECIMAL(38,0))"
                f" * CAST({_VSHIFT_SCALE} AS DECIMAL(38,0)))"
                f" div (CAST(c_a + 1 AS DECIMAL(38,0))"
                f" * CAST(n_b + v AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("rise_score"),
        )
    )
    rising = (
        scored.orderBy(F.desc("rise_score"), "term").limit(_VSHIFT_TOPN)
        .select(F.lit("rising").alias("direction"), "term", "c_a", "c_b",
                "rise_score")
    )
    falling = (
        scored.orderBy(F.asc("rise_score"), "term").limit(_VSHIFT_TOPN)
        .select(F.lit("falling").alias("direction"), "term", "c_a", "c_b",
                "rise_score")
    )
    return rising.unionByName(falling)


# ===========================================================================
# Direct standardization: the epidemiology rate-adjustment classic
# ===========================================================================

#: per-stratum rates are floor-scaled to 10^9 (per-billion) integers
_DSR_SCALE = 10 ** 9


_DSR_SQL = f"""
WITH pop AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_pop
  FROM customer GROUP BY 1, 2
),
ev AS (
  SELECT c.c_nationkey, c.c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_events
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
strata AS (
  SELECT p.c_nationkey, p.c_mktsegment, p.n_pop,
         COALESCE(e.n_events, 0) AS n_events,
         CAST((COALESCE(e.n_events, 0) * {_DSR_SCALE}) // p.n_pop
              AS BIGINT) AS rate_e9
  FROM pop p LEFT JOIN ev e
    ON p.c_nationkey = e.c_nationkey
   AND p.c_mktsegment = e.c_mktsegment
),
std AS (
  SELECT c_mktsegment, CAST(sum(n_pop) AS BIGINT) AS w
  FROM pop GROUP BY 1
),
dsr AS (
  SELECT s.c_nationkey,
         CAST(sum(s.n_events) AS BIGINT) AS n_events,
         CAST(sum(s.n_pop) AS BIGINT) AS n_pop,
         CAST(sum(s.rate_e9 * d.w) // sum(d.w) AS BIGINT) AS dsr_e9,
         CAST((sum(s.n_events) * {_DSR_SCALE}) // sum(s.n_pop)
              AS BIGINT) AS crude_e9
  FROM strata s JOIN std d ON s.c_mktsegment = d.c_mktsegment
  GROUP BY 1
)
SELECT c_nationkey, n_events, n_pop, crude_e9, dsr_e9
FROM dsr ORDER BY c_nationkey
"""


@register("standardized_order_rate", _DSR_SQL)
def standardized_order_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTLY STANDARDIZED RATES — the reference's home discipline
    (APDE publishes age-adjusted rates; qa_load_final's
    proportion-by-group checks are the QA face of the same
    stratified-rate machinery). Order rates per nation adjusted to
    the GLOBAL market-segment mix, so nations with different customer
    compositions compare fairly: DSR_n = sum_s(rate_ns * W_s) /
    sum_s(W_s) with rate_ns floor-scaled to per-billion integers —
    exact integer arithmetic end to end (weights and counts are
    BIGINTs; weighted sums stay under 2^63), so crude vs adjusted
    hash-gate bit-for-bit. Scale shape: one fact-dim broadcast join,
    two map-side-combine aggregates, a 125-row strata frame — the
    standard-population table broadcasts at any scale."""
    from apde_etl_spark.operators.cache import tracked_persist

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    # 125-row strata census read by the strata join AND the standard
    # population — persist so customer scans once for both
    pop = tracked_persist(
        c.groupBy("c_nationkey", "c_mktsegment").agg(
            F.count(F.lit(1)).cast("long").alias("n_pop")),
        scope="timeseries",
    )
    ev = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey",
                                    "c_mktsegment")),
               o.o_custkey == F.col("c_custkey"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    strata = (
        pop.join(ev, ["c_nationkey", "c_mktsegment"], "left")
        .select(
            "c_nationkey", "c_mktsegment", "n_pop",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        )
        .withColumn(
            "rate_e9",
            F.expr(f"CAST((n_events * {_DSR_SCALE}) div n_pop AS BIGINT)"))
    )
    std = pop.groupBy("c_mktsegment").agg(
        F.sum("n_pop").cast("long").alias("w"))
    dsr = (
        strata.join(F.broadcast(std), "c_mktsegment")
        .groupBy("c_nationkey")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("n_pop").cast("long").alias("n_pop"),
            F.expr("CAST(sum(rate_e9 * w) div sum(w) AS BIGINT)")
            .alias("dsr_e9"),
            F.expr(f"CAST((sum(n_events) * {_DSR_SCALE})"
                   f" div sum(n_pop) AS BIGINT)").alias("crude_e9"),
        )
    )
    return dsr.select("c_nationkey", "n_events", "n_pop", "crude_e9",
                      "dsr_e9").orderBy("c_nationkey")


# ===========================================================================
# Bloom filter store: portable set-membership bits, FPR measured in-gate
# ===========================================================================

def _ensure_bloom_store(spark: SparkSession, sf_dir: str) -> str:
    from apde_etl_spark.operators.sketch import bloom_bits

    def build(d: str) -> str:
        ev = load_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
        bits = bloom_bits(ev, "user_id", ["day"])
        bits.write.mode("overwrite").partitionBy("day").parquet(d)
        return d

    return artifact("bloom", sf_dir, ("events",), build)


def _sql_bloom_ctes() -> str:
    from apde_etl_spark.operators.sketch import BLOOM_K, sql_bloom_pos

    return f"""
ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events
       WHERE user_id IS NOT NULL),
x AS (SELECT day, user_id, CAST(t.j AS INTEGER) AS j
      FROM ev, range(0, {BLOOM_K}) t(j)),
bits AS (SELECT DISTINCT day, {sql_bloom_pos('user_id', 'j')} AS pos
         FROM x)"""


_BLOOM_DAILY_SQL = f"""
WITH {_sql_bloom_ctes()}
SELECT day, pos FROM bits
"""


@register("bloom_daily_user_bits", _BLOOM_DAILY_SQL)
def bloom_daily_user_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE per-day Bloom filters (operators/sketch.py:bloom_bits)
    — the fourth mergeable-sketch family, completing the quartet:
    distinct (HLL/KMV), frequency (CMS), quantile (qhist), and now
    MEMBERSHIP. State is the distinct set-bit positions as plain
    integer rows (<= m per day regardless of traffic); days merge
    with DISTINCT (bitwise OR). The 100 TB artifact: 'did user X
    appear in this day range?' answered from KBs of state — the join
    pruning / ingest-dedup pre-check that never rescans history.
    Read back from the partitioned store."""
    d = _ensure_bloom_store(spark, sf_dir)
    return spark.read.parquet(d).select(
        F.col("day").cast("date").alias("day"), "pos")


def _bloom_member_sql() -> str:
    from apde_etl_spark.operators.sketch import BLOOM_K, sql_bloom_pos

    return f"""
WITH {_sql_bloom_ctes()},
m AS (SELECT DISTINCT pos FROM bits),
dom AS (SELECT CAST(unnest(range(0,
            (SELECT least(2 * (CAST(max(user_id) AS BIGINT) + 1),
                          1000000) FROM ev))) AS BIGINT)
          AS probe_key),
pr AS (SELECT probe_key, CAST(t.j AS INTEGER) AS j
       FROM dom, range(0, {BLOOM_K}) t(j)),
pp AS (SELECT probe_key, {sql_bloom_pos('probe_key', 'j')} AS pos FROM pr),
mem AS (SELECT probe_key,
               CAST(count(*) AS BIGINT) AS k_total,
               CAST(sum(CASE WHEN pos IN (SELECT pos FROM m)
                             THEN 1 ELSE 0 END) AS BIGINT) AS k_set
        FROM pp GROUP BY 1),
truth AS (SELECT DISTINCT user_id FROM ev),
j2 AS (SELECT probe_key, (k_set = k_total) AS flagged,
              probe_key IN (SELECT user_id FROM truth) AS present
       FROM mem)
SELECT CAST(count(*) AS BIGINT) AS n_probed,
       CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(sum(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT)
         AS n_present,
       CAST(sum(CASE WHEN flagged AND NOT present THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positive,
       CAST(sum(CASE WHEN NOT flagged AND present THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_negative
FROM j2
"""


@register("bloom_membership_from_storage", _bloom_member_sql())
def bloom_membership_from_storage(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Probe the MERGED Bloom bits (distinct positions across the
    per-day store — bitwise OR) with a candidate domain twice the
    size of the true key space, so half the probes are absent:
    flagged/present/false-positive counts come out as integers, and
    the no-false-negative guarantee is a hash-gated column that must
    be 0 — the filter contract proven in the gate, at a fill factor
    that makes false positives actually occur at the bench scale."""
    from apde_etl_spark.operators.sketch import bloom_contains

    d = _ensure_bloom_store(spark, sf_dir)
    bits = spark.read.parquet(d).select("pos").distinct()
    ev = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    # LONG arithmetic (int32 ids would overflow at 2*(max+1)) and a
    # 1M cap: the probe domain is a gate fixture sized by the dense
    # testdata ids — production probes come from a candidate feed, not
    # an enumeration of the id space
    mx = ev.agg(
        F.least(2 * (F.max("user_id").cast("long") + 1),
                F.lit(1_000_000)).alias("n")).collect()[0]["n"]
    dom = spark.range(int(mx)).select(F.col("id").alias("probe_key"))
    mem = bloom_contains(bits, dom, "probe_key")
    truth = ev.select("user_id").distinct().withColumn("__p", F.lit(1))
    j = mem.join(F.broadcast(truth),
                 mem.probe_key == truth.user_id, "left")
    flagged = F.col("is_member")
    present = F.col("__p").isNotNull()
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_probed"),
        F.sum(flagged.cast("int")).cast("long").alias("n_flagged"),
        F.sum(present.cast("int")).cast("long").alias("n_present"),
        F.sum((flagged & ~present).cast("int")).cast("long")
        .alias("n_false_positive"),
        F.sum((~flagged & present).cast("int")).cast("long")
        .alias("n_false_negative"),
    )


# ===========================================================================
# Time-bounded funnel + hash-randomized A/B conversion test
# ===========================================================================

#: each step must follow the previous within this window
_FUNNEL_WINDOW_H = 48


_TB_FUNNEL_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, ts FROM events WHERE user_id IS NOT NULL
),
s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
       WHERE event_type = 'signup' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t2
       FROM ev e JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'view' AND e.ts >= s1.t1
         AND e.ts <= s1.t1 + INTERVAL {_FUNNEL_WINDOW_H} HOUR
       GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t3
       FROM ev e JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
         AND e.ts <= s2.t2 + INTERVAL {_FUNNEL_WINDOW_H} HOUR
       GROUP BY 1)
SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_signup,
       CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_view_within,
       CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_purchase_within,
       CAST((SELECT count(*) FROM s3) * 1000000
            // (SELECT count(*) FROM s1) AS BIGINT) AS conv_ppm
"""


@register("funnel_time_bounded", _TB_FUNNEL_SQL)
def funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel where each step must occur WITHIN 48h of the
    previous step's first occurrence — the product-analytics semantics
    (attribution windows), vs funnel_signup_view_purchase's unbounded
    ordering. Each stage is a min-timestamp aggregate joined to the
    previous stage's qualifiers (all shuffles on user_id, reused
    across stages); conversion emitted as exact ppm integer division.
    At 100 TB: three user-keyed aggregates, no window over raw
    events."""
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "event_type", "ts")
    )
    win = F.expr(f"INTERVAL {_FUNNEL_WINDOW_H} HOURS")
    s1 = (ev.filter(F.col("event_type") == "signup")
          .groupBy("user_id").agg(F.min("ts").alias("t1")))
    s2 = (
        ev.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter((F.col("ts") >= F.col("t1"))
                & (F.col("ts") <= F.col("t1") + win))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") >= F.col("t2"))
                & (F.col("ts") <= F.col("t2") + win))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    n1 = s1.agg(F.count(F.lit(1)).cast("long").alias("n_signup"))
    n2 = s2.agg(F.count(F.lit(1)).cast("long").alias("n_view_within"))
    n3 = s3.agg(F.count(F.lit(1)).cast("long").alias("n_purchase_within"))
    return (
        n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(n3))
        .select(
            "n_signup", "n_view_within", "n_purchase_within",
            F.expr("CAST((n_purchase_within * 1000000) div n_signup"
                   " AS BIGINT)").alias("conv_ppm"),
        )
    )


_AB_SQL = """
WITH ev AS (
  SELECT user_id, event_type FROM events WHERE user_id IS NOT NULL
),
assign AS (
  SELECT DISTINCT user_id,
         CAST(user_id % 2 AS INTEGER) AS variant
  FROM ev
),
conv AS (
  SELECT DISTINCT user_id FROM ev WHERE event_type = 'purchase'
),
arms AS (
  SELECT a.variant,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_converted
  FROM assign a LEFT JOIN conv c ON a.user_id = c.user_id
  GROUP BY 1
)
SELECT variant, n_users, n_converted,
       CAST(n_converted * 1000000 // n_users AS BIGINT) AS conv_ppm
FROM arms ORDER BY variant
"""


@register("abtest_conversion_arms", _AB_SQL)
def abtest_conversion_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically assigned to two
    arms (id parity — production uses a salted hash, same shape),
    per-arm user and converter counts from ONE distinct-user frame
    left-joined to the converter set, conversion as exact ppm. The
    z-statistic is a driver-side scalar over these four integers — the
    distributed part (the counts) is what hash-gates; any stats
    library can consume the arms table. At 100 TB: two user-keyed
    aggregates, assignment is a projection."""
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "event_type")
    )
    assign = ev.select("user_id").distinct().withColumn(
        "variant", (F.col("user_id") % 2).cast("int"))
    conv = (ev.filter(F.col("event_type") == "purchase")
            .select("user_id").distinct().withColumn("__c", F.lit(1)))
    return (
        assign.join(conv, "user_id", "left")
        .groupBy("variant")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
             F.sum(F.coalesce(F.col("__c"), F.lit(0))).cast("long")
             .alias("n_converted"))
        .select("variant", "n_users", "n_converted",
                F.expr("CAST((n_converted * 1000000) div n_users"
                       " AS BIGINT)").alias("conv_ppm"))
        .orderBy("variant")
    )
