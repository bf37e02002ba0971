"""Round-4 catalog, part 2: temporal joins, runtime bloom pruning,
semantic dedup, and deterministic sampling.

The reference's event-time surface stops at lag/lead change flags
(qa_load_data.R lag machinery, covered by W3); these entries extend the
engine with the temporal operators an event/training-data pipeline
needs, each expressed as a single equi-shuffle (operators/temporal.py),
plus three scale tools: Spark's runtime Bloom-filter join pruning
(executed), SemDeDup-style embedding dedup, and hash-deterministic
stratified sampling (the reproducible alternative to ``sampleBy`` whose
Bernoulli draws differ run to run and engine to engine).

Oracles: DuckDB has a NATIVE ``ASOF JOIN`` — the as-of entries are
hash-checked against it, so Spark's union+window formulation is proven
value-identical to a first-class database implementation of the same
semantics, not just to a re-statement of itself.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apde_etl_spark.functions.core import round_half_away
from apde_etl_spark.operators import similarity as SIM
from apde_etl_spark.operators.temporal import asof_join, range_join_binned
from apde_etl_spark.plans.artifacts import artifact
from apde_etl_spark.plans.catalog import (
    _sql_round,
    load,
    load_events,
    register,
)
from apde_etl_spark.plans.catalog_ext import (
    _sql_hash60,
    _sql_hyperplane_bucket,
)


def _clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts", "value")
    )


def _errors_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error events pre-aggregated to unique (user_id, ts) — the
    deterministic build side both engines need (at duplicate build
    timestamps, ASOF match choice is ambiguous in DuckDB and
    order-dependent in the window formulation)."""
    return (
        load_events(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .groupBy("user_id", F.col("ts").alias("err_ts"))
        .agg(F.max("value").alias("err_value"))
        .select("user_id", "err_ts", "err_value")
    )


# ===========================================================================
# As-of join — backward (state at-or-before the observation)
# ===========================================================================

_ASOF_BACKWARD_ORACLE = f"""
WITH probe AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
), build AS (
  SELECT user_id, ts AS err_ts, max(value) AS err_value
  FROM events WHERE event_type = 'error' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, p.ts,
       {_sql_round('p.value', 2)} AS click_value,
       b.err_ts,
       {_sql_round('b.err_value', 2)} AS err_value
FROM probe p ASOF LEFT JOIN build b
  ON p.user_id = b.user_id AND b.err_ts <= p.ts
"""


@register("asof_attribute_clicks", _ASOF_BACKWARD_ORACLE)
def asof_attribute_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN, backward: attach to every click the most recent error
    at-or-before it for the same user (left semantics — clicks before
    any error keep NULLs). Spark lacks this operator; the union+window
    formulation (operators/temporal.py) runs it as ONE hash shuffle on
    user_id with a single ordered scan per user — no range join, no
    nested loop, cost independent of lookback depth. The oracle is
    DuckDB's NATIVE ``ASOF LEFT JOIN``, so the hash match proves the
    formulation against a first-class implementation of the semantics."""
    out = asof_join(
        _clicks(spark, sf_dir),
        _errors_unique(spark, sf_dir),
        on=["user_id"],
        probe_ts="ts",
        build_ts="err_ts",
        build_cols=["err_value"],
        direction="backward",
        allow_exact=True,
    )
    return out.select(
        "event_id", "user_id", "ts",
        round_half_away(F.col("value"), 2).alias("click_value"),
        "err_ts",
        round_half_away(F.col("err_value"), 2).alias("err_value"),
    )


# ===========================================================================
# As-of join — forward strict (next state after the observation)
# ===========================================================================

_ASOF_FORWARD_ORACLE = f"""
WITH probe AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), build AS (
  SELECT user_id, ts AS err_ts, max(value) AS err_value
  FROM events WHERE event_type = 'error' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, p.ts,
       min(b.err_ts) AS next_err_ts,
       {_sql_round('arg_min(b.err_value, b.err_ts)', 2)} AS next_err_value
FROM probe p LEFT JOIN build b
  ON p.user_id = b.user_id AND b.err_ts > p.ts
GROUP BY p.event_id, p.user_id, p.ts
"""


@register("asof_next_error", _ASOF_FORWARD_ORACLE)
def asof_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN, forward strict: for every click, the EARLIEST error
    strictly after it for the same user — time-to-failure shapes. Same
    single-shuffle union+window machinery with the scan order mirrored
    (ts descending). The oracle states the semantics independently as a
    per-probe ``min``/``arg_min`` over the inequality join — quadratic
    as written (fine for an oracle), which is exactly why the engine
    side is the O(n log n)-per-key window instead."""
    out = asof_join(
        _clicks(spark, sf_dir).drop("value"),
        _errors_unique(spark, sf_dir),
        on=["user_id"],
        probe_ts="ts",
        build_ts="err_ts",
        build_cols=["err_value"],
        direction="forward",
        allow_exact=False,
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("err_ts").alias("next_err_ts"),
        round_half_away(F.col("err_value"), 2).alias("next_err_value"),
    )


# ===========================================================================
# Range join — points into intervals via bin equi-join
# ===========================================================================

_RANGE_WINDOW_MINUTES = 30

_RANGE_JOIN_ORACLE = f"""
WITH iv AS (
  SELECT event_id AS err_id, ts AS w_start,
         ts + INTERVAL {_RANGE_WINDOW_MINUTES} MINUTE AS w_end
  FROM events WHERE event_type = 'error'
), pt AS (
  SELECT event_id, ts, value FROM events WHERE event_type = 'click'
)
SELECT iv.err_id, iv.w_start,
       CAST(count(pt.event_id) AS BIGINT) AS n_clicks,
       {_sql_round('coalesce(sum(pt.value), 0)', 2)} AS click_value
FROM iv LEFT JOIN pt
  ON pt.ts >= iv.w_start AND pt.ts < iv.w_end
GROUP BY iv.err_id, iv.w_start
"""


@register("range_windows_click_impact", _RANGE_JOIN_ORACLE)
def range_windows_click_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN: click activity inside the 30-minute window after each
    error, zero-filled for quiet windows. There is NO equi-key — a naive
    Spark join on the interval predicate is a BroadcastNestedLoop over
    |errors| x |clicks|; ``range_join_binned`` explodes each interval to
    its covered 30-minute bins and hashes each click to its single bin,
    so the overlap test becomes a bin EQUI-join (one shuffle, candidate
    volume = per-bin density x ~2 bins per interval) that survives 100x
    data on both sides. The oracle states the semantics as the plain
    inequality join."""
    ev = load_events(spark, sf_dir)
    iv = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr(f"INTERVAL {_RANGE_WINDOW_MINUTES} MINUTES"))
            .alias("w_end"),
        )
    )
    pt = (
        ev.filter(F.col("event_type") == "click")
        .select("event_id", "ts", "value")
    )
    j = range_join_binned(
        iv, pt, start_col="w_start", end_col="w_end", ts_col="ts",
        bin_width=_RANGE_WINDOW_MINUTES * 60, how="left",
    )
    return j.groupBy("err_id", "w_start").agg(
        F.count(F.col("event_id")).alias("n_clicks"),
        round_half_away(F.coalesce(F.sum("value"), F.lit(0.0)), 2)
        .alias("click_value"),
    )


# ===========================================================================
# Runtime Bloom-filter join pruning — executed
# ===========================================================================

_BLOOM_ORACLE = f"""
SELECT l.l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       {_sql_round('sum(l.l_extendedprice)', 2)} AS revenue
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE s.s_acctbal > 9900
GROUP BY l.l_returnflag
"""


@register("bloom_pruned_supplier_revenue", _BLOOM_ORACLE)
def bloom_pruned_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dim⋈fact revenue where Spark injects a RUNTIME BLOOM
    FILTER on the fact scan: the selective ``s_acctbal`` predicate makes
    the supplier side tiny, and Catalyst rewrites the fact side to
    ``might_contain(bloom(s_suppkey), xxhash64(l_suppkey))`` BEFORE the
    shuffle, so non-matching fact rows die at the scan instead of
    crossing the wire (SPARK-32268). The injection is size-gated by
    ``spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold``
    (default 10GB) — off at test scale, on exactly when the fact table
    is big; tests/test_plan_shapes.py lowers the gate and asserts the
    ``might_contain`` rewrite appears. Values are threshold-independent
    (bloom false positives are re-checked by the join) — the oracle
    checks the plain join."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9900)
    j = li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        round_half_away(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


# ===========================================================================
# SemDeDup-style semantic dedup over embeddings
# ===========================================================================

_SEMDEDUP_THRESHOLD = 0.35
_SEMDEDUP_PLANES = 6


def _sql_semantic_dedup(num_planes: int, dim: int, threshold: float) -> str:
    planes = SIM.hyperplanes(num_planes, dim)
    return f"""
WITH raw AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), e AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, y -> y*y))) AS n FROM raw
), eb AS (
  SELECT vec_id, v, n, {_sql_hyperplane_bucket(planes)} AS b FROM e
), pairs AS (
  SELECT b.vec_id AS id_b
  FROM eb a JOIN eb b ON a.b = b.b AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) / (a.n * b.n)
        >= {threshold}
)
SELECT vec_id, CAST(b AS INTEGER) AS bucket,
       vec_id NOT IN (SELECT id_b FROM pairs) AS kept
FROM eb
"""


@register("semantic_dedup_lsh",
          _sql_semantic_dedup(_SEMDEDUP_PLANES, 64, _SEMDEDUP_THRESHOLD))
def semantic_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): bucket the
    corpus by hyperplane sign bits (deterministic stand-in for the
    paper's k-means clusters), drop any vector cosine-similar
    (>= 0.35) to a lower-id vector in its bucket, and emit the full
    (vec_id, bucket, kept) decision table. Completes the dedup ladder:
    exact -> MinHash/SimHash/Jaccard (lexical) -> embedding-cosine
    clusters (neardup) -> SEMANTIC prune (this entry). One bucketed
    self-join — ~n^2/2^planes candidates, size-gated broadcast vs
    salted shuffle — so it holds at corpus scale."""
    emb = load(spark, sf_dir, "embeddings")
    return SIM.semantic_dedup(
        emb, "vec_id", "embedding",
        threshold=_SEMDEDUP_THRESHOLD, num_planes=_SEMDEDUP_PLANES, dim=64,
    )


# ===========================================================================
# Deterministic (hash-based) stratified sampling
# ===========================================================================

#: per-mille keep thresholds per order status — the strata rates
_SAMPLE_RATES = {"O": 100, "F": 50, "P": 500}

_SAMPLE_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_orderstatus,
       {_sql_round('o_totalprice', 2)} AS o_totalprice
FROM orders
WHERE {_sql_hash60("CAST(o_orderkey AS VARCHAR)")} % 1000 <
      CASE o_orderstatus WHEN 'O' THEN {_SAMPLE_RATES['O']}
                         WHEN 'F' THEN {_SAMPLE_RATES['F']}
                         ELSE {_SAMPLE_RATES['P']} END
"""


@register("deterministic_stratified_sample", _SAMPLE_ORACLE)
def deterministic_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic stratified sampling: keep a row iff
    ``hash60(key) % 1000`` falls under its stratum's per-mille rate
    (10% of open orders, 5% of fulfilled, 50% of pending). The
    reproducible alternative to ``df.sampleBy`` — Bernoulli draws give a
    DIFFERENT sample every run and every engine, which is useless for
    debugging a 100 TB pipeline or holding out an eval set; the
    content hash gives the SAME sample on every run, every engine
    (md5-based hash60 — the DuckDB oracle reproduces it bit-for-bit),
    and any cluster layout. Embarrassingly parallel: a per-row filter,
    no shuffle, pushed to the scan."""
    o = load(spark, sf_dir, "orders")
    rate = (
        F.when(F.col("o_orderstatus") == "O", F.lit(_SAMPLE_RATES["O"]))
        .when(F.col("o_orderstatus") == "F", F.lit(_SAMPLE_RATES["F"]))
        .otherwise(F.lit(_SAMPLE_RATES["P"]))
    )
    keep = (SIM.hash60(F.col("o_orderkey").cast("string")) % 1000) < rate
    return o.filter(keep).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        round_half_away(F.col("o_totalprice"), 2).alias("o_totalprice"),
    )


# ===========================================================================
# Priority sampling — deterministic weighted k-sample per stratum
# ===========================================================================

_PRIORITY_K = 32

_PRIORITY_ORACLE = f"""
WITH pr AS (
  SELECT o_orderkey, o_orderstatus,
         {_sql_round('o_totalprice', 2)} AS o_totalprice,
         o_totalprice / ((({_sql_hash60("CAST(o_orderkey AS VARCHAR)")}) + CAST(1 AS DOUBLE))
                         / CAST(1152921504606846976 AS DOUBLE)) AS q
  FROM orders
)
SELECT o_orderkey, o_orderstatus, o_totalprice,
       {_sql_round('q', 4)} AS priority
FROM pr
QUALIFY row_number() OVER (PARTITION BY o_orderstatus
                           ORDER BY q DESC, o_orderkey ASC) <= {_PRIORITY_K}
"""


@register("priority_sample_orders", _PRIORITY_ORACLE)
def priority_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIORITY SAMPLING (Duffield-Lund-Thorup, JACM 2007): the
    deterministic weighted k-sample — per order status, keep the 32
    rows with the largest priority q = totalprice/u, u derived from the
    md5 hash of the key. High-value orders are (near-)certainly
    sampled, small ones proportionally to value, and the whole sample
    is a pure function of the data: same rows on every run, engine, and
    cluster layout (q is a single IEEE division — correctly rounded,
    so DuckDB and the JVM agree bit-for-bit; pow/ln-based weighted
    sampling cannot make that guarantee). One projection + one
    per-stratum top-k window."""
    from apde_etl_spark.operators.sampling import priority_sample

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    out = priority_sample(
        o, key_col="o_orderkey", weight_col="o_totalprice",
        k=_PRIORITY_K, strata=["o_orderstatus"],
    )
    return out.select(
        "o_orderkey", "o_orderstatus",
        round_half_away(F.col("o_totalprice"), 2).alias("o_totalprice"),
        round_half_away(F.col("priority"), 4).alias("priority"),
    )


# ===========================================================================
# Forward fill — carry the last observation forward per key
# ===========================================================================

_FFILL_ORACLE = f"""
WITH e AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'purchase' THEN value END AS purchase_value
  FROM events
)
SELECT event_id, user_id, ts, event_type,
       {_sql_round('''last_value(purchase_value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''', 2)}
       AS last_purchase_value
FROM e
"""


@register("fill_forward_events", _FFILL_ORACLE)
def fill_forward_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD FILL (time-series gap carry): every event row carries the
    most recent purchase value of its user so far — ``last(x,
    ignorenulls)`` over the per-key unbounded-preceding frame, the
    same single-shuffle carry machinery as the as-of join applied to
    self-join-free within-stream filling (the reference's template
    completion fills CATEGORY grids, R2; this fills the TIME axis).
    Deterministic tie order (ts, event_id)."""
    ev = load_events(spark, sf_dir)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = ev.withColumn(
        "last_purchase_value",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        ).over(w),
    )
    return filled.select(
        "event_id", "user_id", "ts", "event_type",
        round_half_away(F.col("last_purchase_value"), 2)
        .alias("last_purchase_value"),
    )


# ===========================================================================
# Pivot — long-to-wide (the inverse of R1 melt)
# ===========================================================================

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_ORACLE = f"""
SELECT user_id,
       {", ".join(
           f"CAST(count(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT)"
           f" AS n_{t}" for t in _EVENT_TYPES)},
       {_sql_round("sum(CASE WHEN event_type = 'purchase' THEN value END)", 2)}
       AS purchase_total
FROM events
GROUP BY user_id
"""


@register("pivot_user_event_matrix", _PIVOT_ORACLE)
def pivot_user_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (long->wide): per-user event-type count matrix + purchase
    revenue — the inverse of R1 melt, completing the reshape pair
    (SURVEY §2.3). The value list is EXPLICIT, which is the only sane
    form at scale: an unlisted pivot forces an extra distinct pass over
    the fact table to discover columns, and nondeterministic column
    sets break downstream schemas. One shuffle, map-side partial aggs,
    no melt-style row explosion."""
    ev = load_events(spark, sf_dir)
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
        )
    )
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("long").alias(f"n_{t}")
          for t in _EVENT_TYPES],
        round_half_away(F.col("purchase_total"), 2).alias("purchase_total"),
    )


# ===========================================================================
# Count-min sketch — bounded-memory frequency estimates, deterministic
# ===========================================================================

_CMS_DEPTH = 3
_CMS_WIDTH = 64


def _sql_cms_bucket(d: int, key_expr: str) -> str:
    inner = f"concat('cms{d}:', {key_expr})"
    return f"{_sql_hash60(inner)} % {_CMS_WIDTH}"


_CMS_ORACLE = f"""
WITH rows_h AS (
  SELECT user_id, CAST(user_id AS VARCHAR) AS ks FROM events
),
{", ".join(f'''c{d} AS (
  SELECT {_sql_cms_bucket(d, "ks")} AS b, CAST(count(*) AS BIGINT) AS n
  FROM rows_h GROUP BY 1
)''' for d in range(_CMS_DEPTH))},
keys AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n,
         CAST(user_id AS VARCHAR) AS ks
  FROM events GROUP BY user_id
)
SELECT k.user_id, k.exact_n,
       LEAST({", ".join(
           f"(SELECT n FROM c{d} WHERE b = {_sql_cms_bucket(d, 'k.ks')})"
           for d in range(_CMS_DEPTH))}) AS cms_est
FROM keys k
"""


@register("cms_user_frequency", _CMS_ORACLE)
def cms_user_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH frequency estimates with DETERMINISTIC hash rows
    (md5-derived, so the sketch itself is oracle-checkable — stock CMS
    libraries seed randomly and can't be cross-engine-verified): depth 3
    x width 64 counters summarize the stream in O(depth*width) memory
    regardless of key cardinality; each key's estimate is the MIN of its
    depth buckets (never an underestimate — asserted in tests). The
    per-depth build is one groupBy over fixed-width bucket ids — the
    bounded-state path when exact per-key counts (billions of keys)
    would not fit; exact counts ride along here only to exhibit the
    overestimate structure. Completes the sketch family: HLL (distinct
    gate A6), GK (median mode), CMS (frequency)."""
    from apde_etl_spark.operators.similarity import hash60

    ev = load_events(spark, sf_dir).select(
        "user_id", F.col("user_id").cast("string").alias("ks"))

    def bucket(d: int, col):
        return hash60(F.concat(F.lit(f"cms{d}:"), col)) % _CMS_WIDTH

    # ALL depth rows in ONE scan: per input row emit (depth, bucket)
    # via a tiny inline array + explode (fan-out = depth, the sketch
    # update cost), then a single (d, b) groupBy — the streaming-ingest
    # shape (one pass, O(depth*width) final state), not depth scans
    sketch = (
        ev.select(F.explode(F.array(*[
            F.struct(F.lit(d).alias("d"), bucket(d, F.col("ks")).alias("b"))
            for d in range(_CMS_DEPTH)])).alias("db"))
        .groupBy(F.col("db.d").alias("d"), F.col("db.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    keys = ev.groupBy("user_id", "ks").agg(F.count(F.lit(1)).alias("exact_n"))
    # melt each key to its depth buckets, ONE broadcast join against the
    # whole sketch, min over depths = the CMS estimate — 2 scans total
    # (sketch pass + key pass), not one sketch scan per depth
    key_buckets = keys.select(
        "user_id", "exact_n",
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("d"), bucket(d, F.col("ks")).alias("b"))
            for d in range(_CMS_DEPTH)])).alias("db"),
    ).select("user_id", "exact_n", "db.d", "db.b")
    return (
        key_buckets.join(F.broadcast(sketch), ["d", "b"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("n").alias("cms_est"))
        .select("user_id",
                F.col("exact_n").cast("long").alias("exact_n"),
                F.col("cms_est").cast("long").alias("cms_est"))
    )


# ===========================================================================
# Incremental semantic dedup — batch vs corpus, corpus never self-pairs
# ===========================================================================

def _sql_semantic_dedup_incremental(num_planes: int, dim: int,
                                    threshold: float) -> str:
    planes = SIM.hyperplanes(num_planes, dim)
    return f"""
WITH raw AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), e AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, y -> y*y))) AS n FROM raw
), eb AS (
  SELECT vec_id, v, n, {_sql_hyperplane_bucket(planes)} AS b FROM e
), batch AS (
  SELECT * FROM eb WHERE vec_id % 5 = 0
), corpus AS (
  SELECT * FROM eb WHERE vec_id % 5 != 0
), build AS (
  SELECT vec_id AS id_b, v, n, b, TRUE AS isc FROM corpus
  UNION ALL
  SELECT vec_id, v, n, b, FALSE FROM batch
), pairs AS (
  SELECT a.vec_id AS id_a
  FROM batch a JOIN build bl
    ON a.b = bl.b AND (bl.isc OR bl.id_b < a.vec_id)
  WHERE list_sum(list_transform(list_zip(a.v, bl.v), p -> p[1]*p[2]))
        / (a.n * bl.n) >= {threshold}
)
SELECT vec_id, CAST(b AS INTEGER) AS bucket,
       vec_id NOT IN (SELECT id_a FROM pairs) AS kept
FROM batch
"""


@register("semantic_dedup_incremental",
          _sql_semantic_dedup_incremental(_SEMDEDUP_PLANES, 64,
                                          _SEMDEDUP_THRESHOLD))
def semantic_dedup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup: a 20% batch (vec_id % 5 == 0) arrives
    against the standing 80% corpus; admit only batch vectors with no
    cosine-neighbor (>= 0.35) in the corpus or among lower-id batch
    peers of the same semantic bucket. The CORPUS NEVER SELF-PAIRS —
    per-ingest cost is O(|batch| x bucket density), flat in corpus
    size, the property that keeps daily embedding ingest affordable at
    10^9+ corpus vectors (the embedding mirror of
    incremental_ingest_dedup's asymmetric band join)."""
    emb = load(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    return SIM.semantic_dedup_incremental(
        batch, corpus, "vec_id", "embedding",
        threshold=_SEMDEDUP_THRESHOLD, num_planes=_SEMDEDUP_PLANES, dim=64,
    )


# ===========================================================================
# Collapse consecutive duplicate states — change-point compression
# ===========================================================================

_COLLAPSE_ORACLE = f"""
WITH o AS (
  SELECT event_id, user_id, ts, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT event_id, user_id, ts, event_type
FROM o
WHERE prev_type IS NULL OR event_type != prev_type
"""


@register("collapse_consecutive_states", _COLLAPSE_ORACLE)
def collapse_consecutive_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE-POINT COMPRESSION: drop events that repeat the previous
    event_type for the same user (keep only state TRANSITIONS) — the
    compression half of the reference's lag change-flag machinery (W3
    flags changes; this materializes the compressed stream, the form
    state histories are stored in at scale). One window shuffle on the
    key; deterministic (ts, event_id) order. Output is the surviving
    original rows, so downstream joins keep working."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(),
                                              F.col("event_id").asc())
    return (
        ev.withColumn("__prev", F.lag("event_type").over(w))
        .filter(F.col("__prev").isNull()
                | (F.col("event_type") != F.col("__prev")))
        .select("event_id", "user_id", "ts", "event_type")
    )


# ===========================================================================
# Streaming as-of enrichment — stream probes vs static state table
# ===========================================================================

_STREAM_ASOF_ORACLE = f"""
WITH probe AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), build AS (
  SELECT user_id, ts AS err_ts, max(value) AS err_value
  FROM events WHERE event_type = 'error' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, p.ts,
       max(b.err_ts) AS err_ts,
       {_sql_round('arg_max(b.err_value, b.err_ts)', 2)} AS err_value
FROM probe p LEFT JOIN build b
  ON p.user_id = b.user_id AND b.err_ts <= p.ts
GROUP BY p.event_id, p.user_id, p.ts
"""


@register("stream_asof_enrich", _STREAM_ASOF_ORACLE)
def stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING AS-OF: the click stream enriched with each user's most
    recent prior error from a STATIC state table — executed as a real
    Structured Streaming query (file source -> stream-static left join
    on user + the inequality -> per-probe max_by aggregation ->
    availableNow -> memory sink). The static build side broadcasts, so
    per-micro-batch cost is O(batch x per-user error count) with no
    stream-side state beyond the aggregation. Complete output mode keeps
    the one-shot run exhaustive; a production deployment would use
    append + watermark (the tail inside the watermark lag emits next
    batch) and swap the static table under the query between days. The
    batch oracle states identical semantics — Spark's unified
    batch/stream model makes them hash-equal once the trigger drains."""
    from apde_etl_spark.plans.catalog import normalize_ts

    load_events(spark, sf_dir)  # sets nanosAsLong conf for the schema read
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    clicks = (
        normalize_ts(src)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
    )
    build = F.broadcast(_errors_unique(spark, sf_dir))
    j = clicks.join(
        build,
        (clicks["user_id"] == build["user_id"])
        & (build["err_ts"] <= clicks["ts"]),
        "left",
    ).select(clicks["event_id"], clicks["user_id"], clicks["ts"],
             build["err_ts"], build["err_value"])
    agg = j.groupBy("event_id", "user_id", "ts").agg(
        F.max("err_ts").alias("err_ts"),
        round_half_away(F.max_by("err_value", "err_ts"), 2).alias("err_value"),
    )
    name = "stream_asof_enrich_sink"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "event_id", "user_id", "ts", "err_ts", "err_value")


# ===========================================================================
# Temporal end-to-end — compress -> attribute -> aggregate, one lazy DAG
# ===========================================================================

_TEMPORAL_E2E_ORACLE = """
WITH o AS (
  SELECT event_id, user_id, ts, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), compressed AS (
  SELECT event_id, user_id, ts, event_type FROM o
  WHERE prev_type IS NULL OR event_type != prev_type
), probe AS (
  SELECT event_id, user_id, ts FROM compressed WHERE event_type = 'click'
), build AS (
  SELECT user_id, ts AS err_ts FROM compressed WHERE event_type = 'error'
), attributed AS (
  SELECT p.event_id, p.user_id, p.ts, max(b.err_ts) AS err_ts
  FROM probe p LEFT JOIN build b
    ON p.user_id = b.user_id AND b.err_ts <= p.ts
  GROUP BY p.event_id, p.user_id, p.ts
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_clicks,
       CAST(count(err_ts) AS BIGINT) AS n_attributed,
       CAST(max(epoch_us(ts) - epoch_us(err_ts)) AS BIGINT) AS max_gap_us
FROM attributed
GROUP BY user_id
"""


@register("temporal_pipeline_end2end", _TEMPORAL_E2E_ORACLE)
def temporal_pipeline_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal operators COMPOSED in one lazy DAG: change-point
    compression (transitions only) -> backward as-of attribution of the
    surviving clicks to the surviving errors -> per-user conversion
    aggregate (click count, attributed count, widest click-to-error
    gap). Everything stays on the user_id shuffle key — Catalyst reuses
    the partitioning across the window, the as-of union-window, and the
    final aggregate, the composition property that makes these
    operators pipeline-friendly at 100 TB. The oracle replays the exact
    composition relationally."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(),
                                              F.col("event_id").asc())
    compressed = (
        ev.withColumn("__prev", F.lag("event_type").over(w))
        .filter(F.col("__prev").isNull()
                | (F.col("event_type") != F.col("__prev")))
        .select("event_id", "user_id", "ts", "event_type")
    )
    probe = compressed.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    build = compressed.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts"))
    attributed = asof_join(
        probe, build, on=["user_id"], probe_ts="ts", build_ts="err_ts",
        build_cols=[],
    )
    return attributed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.count("err_ts").alias("n_attributed"),
        F.max(F.unix_micros("ts") - F.unix_micros("err_ts"))
        .alias("max_gap_us"),
    )


# ===========================================================================
# Near-dup method recall matrix — the tuning table for the dedup family
# ===========================================================================

def _sql_neardup_recall() -> str:
    from apde_etl_spark.plans.catalog_ext import (
        _JACCARD_ORACLE,
        _MINHASH_ORACLE,
        _sql_simhash_pairs,
    )

    def method_row(name: str, cte: str) -> str:
        return f"""
SELECT '{name}' AS method,
       (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
       (SELECT CAST(count(*) AS BIGINT) FROM {cte}) AS n_found,
       (SELECT CAST(count(*) AS BIGINT) FROM {cte} c
        JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b) AS n_hits"""

    return f"""
WITH truth AS (SELECT id_a, id_b FROM ({_JACCARD_ORACLE}) x),
mh AS (SELECT id_a, id_b FROM ({_MINHASH_ORACLE}) x),
sh AS (SELECT id_a, id_b FROM ({_sql_simhash_pairs(64, 4, 3)}) x)
{method_row('minhash_lsh_16x4', 'mh')}
UNION ALL
{method_row('simhash_64b_h3', 'sh')}
"""


@register("neardup_method_recall", _sql_neardup_recall())
def neardup_method_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP METHOD RECALL MATRIX: each approximate dedup family
    (MinHash+LSH, banded SimHash) scored against the EXACT 3-shingle
    Jaccard >= 0.2 truth set — the number you tune
    hashes/bands/hamming-radius by, the lexical twin of
    ann_recall_at_k. Truth is quadratic by design (evaluation
    harness, run on a sample at production scale); the methods under
    test are the banded production paths. n_hits/n_truth = recall,
    n_hits/n_found = precision vs the Jaccard notion (SimHash detects
    hamming-near bit-prints, a DIFFERENT similarity — its sub-1.0
    'precision' here quantifies the notion gap, not an error)."""
    from apde_etl_spark.plans.catalog_ext import (
        minhash_lsh_neardup,
        ngram_jaccard_pairs,
        simhash_neardup_pairs_q,
    )

    from apde_etl_spark.operators.cache import tracked_persist

    # the quadratic truth DAG feeds n_truth and one join per method —
    # persist so it executes once (release_scope("similarity") frees it)
    truth = tracked_persist(
        ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b"),
        scope="similarity")
    methods = [
        ("minhash_lsh_16x4",
         minhash_lsh_neardup(spark, sf_dir).select("id_a", "id_b")),
        ("simhash_64b_h3",
         simhash_neardup_pairs_q(spark, sf_dir).select("id_a", "id_b")),
    ]
    t_n = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    rows = []
    for name, found in methods:
        found = tracked_persist(found, scope="similarity")
        f_n = found.agg(F.count(F.lit(1)).alias("n_found"))
        h_n = (found.join(truth, ["id_a", "id_b"])
               .agg(F.count(F.lit(1)).alias("n_hits")))
        rows.append(
            t_n.crossJoin(f_n).crossJoin(h_n).select(
                F.lit(name).alias("method"),
                F.col("n_truth").cast("long").alias("n_truth"),
                F.col("n_found").cast("long").alias("n_found"),
                F.col("n_hits").cast("long").alias("n_hits"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ===========================================================================
# Multimodal ingest source — Spark binaryFile, byte-for-byte checked
# ===========================================================================

def _binary_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize a deterministic raw-media fixture once per
    ``documents`` fingerprint: one .bin file per sampled document,
    content = md5(text) digest bytes + a doc_id-dependent tail slice of
    md5('x'+text) — real NON-UTF8 bytes with varying lengths, derived
    purely from table data so the oracle can regenerate the expectation
    from the documents view. The driver loop is fixture materialization
    (~40 tiny files), not a data path."""
    import hashlib as _h

    def build(base: str) -> str:
        rows = (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 12 == 0)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            text = r["text"]
            payload = (_h.md5(text.encode()).digest()
                       + _h.md5(b"x" + text.encode()).digest()[: r["doc_id"] % 16])
            with open(os.path.join(base, f"doc_{r['doc_id']}.bin"), "wb") as fh:
                fh.write(payload)
        return base

    return artifact("blobs", sf_dir, ("documents",), build)


_BLOB_ORACLE = """
SELECT concat('doc_', doc_id, '.bin') AS file_name,
       CAST(16 + doc_id % 16 AS BIGINT) AS byte_len,
       upper(md5(text)) ||
       substr(upper(md5(concat('x', text))), 1,
              CAST(2 * (doc_id % 16) AS INTEGER)) AS content_hex
FROM documents WHERE doc_id % 12 = 0
"""


@register("mm_binaryfile_ingest", _BLOB_ORACLE)
def mm_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIMODAL INGEST SOURCE: raw media files read with Spark's
    built-in ``binaryFile`` source — (path, length, content) per file,
    distributed file listing and reads, the front door of every
    image/audio pipeline (the decode/resize/feature stages downstream
    are the mm_* entries). Output is byte-exact: name, length, and full
    content hex are hash-checked against the documents-derived
    expectation, proving the binary payload survives ingest untouched
    (non-UTF8 bytes included)."""
    d = _binary_fixture_dir(spark, sf_dir)
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(d)
    )
    return bf.select(
        F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("file_name"),
        F.col("length").cast("long").alias("byte_len"),
        F.hex(F.col("content")).alias("content_hex"),
    )


# ===========================================================================
# Time spine — complete hourly grid with zero-filled gaps
# ===========================================================================

_SPINE_ORACLE = f"""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
  FROM bounds
), actual AS (
  SELECT date_trunc('hour', ts) AS hour_start,
         CAST(count(*) AS BIGINT) AS n_purchases,
         {_sql_round('coalesce(sum(value), 0)', 2)} AS purchase_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
)
SELECT s.hour_start,
       CAST(coalesce(a.n_purchases, 0) AS BIGINT) AS n_purchases,
       {_sql_round('coalesce(a.purchase_value, 0)', 2)} AS purchase_value
FROM spine s LEFT JOIN actual a ON a.hour_start = s.hour_start
"""


@register("time_spine_hourly_purchases", _SPINE_ORACLE)
def time_spine_hourly_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME SPINE: the complete hourly grid between the stream's bounds,
    left-joined with actual purchase aggregates so quiet hours emit
    explicit zeros — the TIME-axis twin of R2's category-grid template
    completion (reports and anomaly detectors need the absent hours,
    not just the present ones). The spine is ONE ``sequence`` +
    ``explode`` from a two-value aggregate (no driver loop, no
    range-table literal); the hourly aggregate is map-side-combined
    before its single shuffle."""
    ev = load_events(spark, sf_dir)
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR")))
        .alias("hour_start")
    )
    actual = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .agg(F.count(F.lit(1)).alias("n_purchases"),
             F.sum("value").alias("purchase_value"))
    )
    return spine.join(actual, "hour_start", "left").select(
        "hour_start",
        F.coalesce(F.col("n_purchases"), F.lit(0)).cast("long")
        .alias("n_purchases"),
        round_half_away(F.coalesce(F.col("purchase_value"), F.lit(0.0)), 2)
        .alias("purchase_value"),
    )
