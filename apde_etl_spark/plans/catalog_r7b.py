"""Round-7 catalog, part 2: mergeable sketch stores and mining ops.

- Count-Min frequency sketch: per-day register store, heavy-hitter
  probes from merged storage, and the streaming fold (the HLL-store
  pattern of catalog_r7 applied to frequencies — SUM-merge instead of
  MAX-merge, replay-safe under the idempotent foreachBatch runner).
- Log-binned quantile histograms: per-day exact-integer bin counts,
  merged quantile ENCLOSURES (guaranteed bounds, no float estimates).
- Market-basket association rules (confidence/lift over the A-Priori
  pair pass of catalog_r6b).
- PMI collocations over the documents corpus — ranked by the exact
  integer ratio c_ab*N/(c1_a*c2_b) (log is monotone, so top-k by the
  ratio IS top-k by PMI with zero float logs in the ordering).
- Stratified sampling by largest-remainder allocation — pure integer
  arithmetic end to end.
- Incremental materialized-view maintenance: apply a CDC delta batch
  to an aggregate MV with signed decimal contributions and hash-prove
  it equals a full recompute of the final state.

Reference parity: the reference profiles frequencies/distributions
exactly per load (qa_load_file_snapshot.R:61-108) and maintains rollup
tables by full re-aggregation (stage->final swaps in
table_duplicate.R); these entries are the at-scale continuations —
sketch state that merges without rescans, and MVs maintained by
deltas instead of recomputes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apde_etl_spark.operators.sketch import (
    CMS_DEPTH,
    QHIST_TICKS,
    cms_estimate,
    cms_registers,
    qhist_quantile_bounds,
    qhist_registers,
    sql_cms_bucket,
)
from apde_etl_spark.plans.artifacts import artifact
from apde_etl_spark.plans.catalog import (
    load,
    load_events,
    register,
)


def _sql_h60(col: str) -> str:
    """DuckDB twin of similarity.hash60 over a column cast to text."""
    return (f"CAST(concat('0x', substr(md5(CAST({col} AS VARCHAR)),"
            f" 1, 15)) AS BIGINT)")


# ===========================================================================
# Count-Min sketch: per-day register store, merged heavy-hitter probes
# ===========================================================================

#: probe-set predicate: a deterministic ~1/7 hash sample of user ids.
#: A frequency sketch is probed with CANDIDATE keys (at 100 TB the
#: candidates come from a cheap pre-pass or the domain catalog); the
#: hash sample stands in for that candidate feed.
_CMS_PROBE_MOD = 7

_CMS_REG_CTES = f"""
ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events
       WHERE user_id IS NOT NULL),
x AS (SELECT day, user_id, CAST(t.row_id AS INTEGER) AS row_id
      FROM ev, range(0, {CMS_DEPTH}) t(row_id)),
bk AS (SELECT day, row_id,
              {sql_cms_bucket('user_id', 'row_id')} AS bucket
       FROM x),
regs AS (SELECT day, row_id, bucket, CAST(count(*) AS BIGINT) AS cnt
         FROM bk GROUP BY 1, 2, 3)"""


def _ensure_cms_store(spark: SparkSession, sf_dir: str) -> str:
    """Build per-day Count-Min register tables ONCE and persist them
    partitioned by day — the frequency-sketch store the merge entries
    read WITHOUT rescanning events."""

    def build(d: str) -> str:
        ev = load_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
        regs = cms_registers(ev, "user_id", ["day"])
        regs.write.mode("overwrite").partitionBy("day").parquet(d)
        return d

    return artifact("cms", sf_dir, ("events",), build)


_CMS_DAILY_SQL = f"""
WITH {_CMS_REG_CTES}
SELECT day, row_id, bucket, cnt FROM regs
"""


@register("cms_daily_user_registers", _CMS_DAILY_SQL)
def cms_daily_user_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE per-day Count-Min registers
    (operators/sketch.py:cms_registers): plain-integer (day, row_id,
    bucket, cnt) rows — depth x width exact BIGINT counters per day,
    built with one explode + groupBy SUM whose partial aggregation
    absorbs hot keys map-side. State size is fixed (<= depth*width
    rows/day) no matter how many distinct keys stream through — the
    100 TB frequency-tracking artifact. Read BACK from the partitioned
    store so the gate covers the write->read round trip."""
    d = _ensure_cms_store(spark, sf_dir)
    return spark.read.parquet(d).select(
        F.col("day").cast("date").alias("day"), "row_id", "bucket", "cnt")


def _cms_probe_frames(spark: SparkSession, sf_dir: str):
    """(merged registers from storage, probe keys, exact counts)."""
    from apde_etl_spark.operators.similarity import hash60

    d = _ensure_cms_store(spark, sf_dir)
    merged = (
        spark.read.parquet(d)
        .groupBy("row_id", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    ev = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    keys = (
        ev.select("user_id").distinct()
        .filter(hash60(F.col("user_id").cast("string"))
                % _CMS_PROBE_MOD == 0)
    )
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    return merged, keys, exact


_CMS_EST_CTES = f"""
{_CMS_REG_CTES},
m AS (SELECT row_id, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM regs GROUP BY 1, 2),
keys AS (SELECT DISTINCT user_id FROM ev
         WHERE ({_sql_h60('user_id')}) % {_CMS_PROBE_MOD} = 0),
p AS (SELECT user_id, CAST(t.row_id AS INTEGER) AS row_id
      FROM keys, range(0, {CMS_DEPTH}) t(row_id)),
pb AS (SELECT user_id, row_id,
              {sql_cms_bucket('user_id', 'row_id')} AS bucket
       FROM p),
est AS (SELECT user_id,
               CAST(min(coalesce(m.cnt, 0)) AS BIGINT) AS est_cnt
        FROM pb LEFT JOIN m USING (row_id, bucket) GROUP BY 1),
ex AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
       FROM ev GROUP BY 1)"""

_CMS_HH_SQL = f"""
WITH {_CMS_EST_CTES}
SELECT user_id, est_cnt, exact_cnt, est_cnt - exact_cnt AS overcount
FROM est JOIN ex USING (user_id)
"""


@register("cms_heavy_hitters_from_storage", _CMS_HH_SQL)
def cms_heavy_hitters_from_storage(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Point-frequency estimates from the MERGED sketch store: SUM the
    per-day registers (associative — any day window merges without
    rescanning events), probe a deterministic key sample, and emit the
    estimate BESIDE the exact count. The Count-Min one-sided guarantee
    (overcount >= 0, bounded by collisions) is IN the gate output, not
    a test-only assertion — same contract style as
    hll_union_from_storage's rel_err column."""
    merged, keys, exact = _cms_probe_frames(spark, sf_dir)
    est = cms_estimate(merged, keys, "user_id")
    return est.join(exact, "user_id").select(
        "user_id", "est_cnt", "exact_cnt",
        (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
    )


_CMS_STREAM_SQL = f"""
WITH {_CMS_EST_CTES}
SELECT CAST(count(*) AS BIGINT) AS n_probed,
       CAST(sum(est_cnt) AS BIGINT) AS total_est,
       CAST(sum(exact_cnt) AS BIGINT) AS total_exact,
       CAST(sum(CASE WHEN est_cnt > exact_cnt THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overcounted
FROM est JOIN ex USING (user_id)
"""


def _fold_cms_state(batch_df: DataFrame,
                    existing: DataFrame | None) -> DataFrame:
    """Fold one micro-batch into the global Count-Min state: sketch
    the batch, SUM-merge with the current registers. SUM is
    associative/commutative but NOT idempotent — replay safety comes
    from the runner's epoch guard, which skips already-applied batches
    (the same contract stream_cdc_apply relies on)."""
    regs = cms_registers(batch_df, "user_id")
    if existing is None:
        return regs
    return (
        existing.unionByName(regs)
        .groupBy("row_id", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


@register("stream_cms_user_counts", _CMS_STREAM_SQL)
def stream_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING frequency sketch: micro-batches fold their Count-Min
    registers into the persisted state (SUM-merge under the idempotent
    foreachBatch runner — the epoch guard supplies the exactly-once
    the non-idempotent SUM needs). The oracle sketches all events in
    one batch pass; stream-batch convergence is hash-proven. This is
    the real-time 'requests per key today' counter: ~depth*width
    BIGINTs of state, any probe answered in O(depth)."""
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
    workdir = tempfile.mkdtemp(prefix="stream_cms_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    target = run_idempotent_upsert(src, workdir, _fold_cms_state)
    state = spark.read.parquet(target)

    from apde_etl_spark.operators.similarity import hash60

    ev = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    keys = (
        ev.select("user_id").distinct()
        .filter(hash60(F.col("user_id").cast("string"))
                % _CMS_PROBE_MOD == 0)
    )
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    est = cms_estimate(state, keys, "user_id")
    j = est.join(exact, "user_id")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_probed"),
        F.sum("est_cnt").cast("long").alias("total_est"),
        F.sum("exact_cnt").cast("long").alias("total_exact"),
        F.sum(F.when(F.col("est_cnt") > F.col("exact_cnt"), 1)
              .otherwise(0)).cast("long").alias("n_overcounted"),
    )


# ===========================================================================
# Log-binned quantile histogram: per-day store, merged p99 enclosure
# ===========================================================================

_QH_REG_CTES = f"""
ev AS (SELECT CAST(ts AS DATE) AS day, value FROM events
       WHERE value IS NOT NULL AND value >= 0),
tk AS (SELECT day, CAST(floor(value * {QHIST_TICKS}) AS BIGINT) AS ticks
       FROM ev),
bn AS (SELECT day, CAST(CASE WHEN ticks <= 0 THEN 0
                             ELSE least(length(bin(ticks)), 62) END AS INTEGER) AS bin
       FROM tk),
regs AS (SELECT day, bin, CAST(count(*) AS BIGINT) AS cnt
         FROM bn GROUP BY 1, 2)"""


def _ensure_qhist_store(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> str:
        ev = load_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
        regs = qhist_registers(ev, "value", ["day"])
        regs.write.mode("overwrite").partitionBy("day").parquet(d)
        return d

    return artifact("qhist", sf_dir, ("events",), build)


_QH_DAILY_SQL = f"""
WITH {_QH_REG_CTES}
SELECT day, bin, cnt FROM regs
"""


@register("qhist_daily_value_registers", _QH_DAILY_SQL)
def qhist_daily_value_registers(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Per-day log-binned histogram registers
    (operators/sketch.py:qhist_registers): (day, bin, cnt) with bin =
    exact bit length of the value's integer tick count (power-of-two
    relative-error buckets, the HdrHistogram/DDSketch family reduced
    to its deterministic core) — the same binary-string-length trick
    as HLL's rho, so both engines agree bit-for-bit. <= 64 BIGINT rows
    per day regardless of traffic; any window of days merges with one
    SUM. Read back from the partitioned store."""
    d = _ensure_qhist_store(spark, sf_dir)
    return spark.read.parquet(d).select(
        F.col("day").cast("date").alias("day"), "bin", "cnt")


_QH_P99_SQL = f"""
WITH {_QH_REG_CTES},
m AS (SELECT bin, CAST(sum(cnt) AS BIGINT) AS cnt FROM regs GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM m),
rk AS (SELECT n, (n * 99 + 99) // 100 AS rank FROM tot),
cum AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum FROM m),
hit AS (SELECT bin FROM cum, rk WHERE cum >= rank ORDER BY bin LIMIT 1),
ex AS (
  SELECT ticks AS exact_ticks
  FROM (SELECT ticks, row_number() OVER (ORDER BY ticks DESC) AS rd
        FROM tk) z, rk
  WHERE z.rd = rk.n - rk.rank + 1
)
SELECT rk.n AS n, CAST(rk.rank AS BIGINT) AS rank, hit.bin AS bin,
       CAST(CASE WHEN hit.bin = 0 THEN 0
                 ELSE (CAST(1 AS BIGINT) << (hit.bin - 1)) END
            AS BIGINT) AS lo_ticks,
       CAST((CAST(1 AS BIGINT) << hit.bin) AS BIGINT) AS hi_ticks,
       ex.exact_ticks AS exact_ticks,
       (ex.exact_ticks >= CASE WHEN hit.bin = 0 THEN 0
                               ELSE (CAST(1 AS BIGINT) << (hit.bin - 1)) END
        AND ex.exact_ticks < (CAST(1 AS BIGINT) << hit.bin)) AS contained
FROM rk, hit, ex
"""


@register("qhist_p99_bounds_merged", _QH_P99_SQL)
def qhist_p99_bounds_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p99 ENCLOSURE from the merged histogram store: SUM the per-day
    bins (never rescanning events), locate the rank = ceil(0.99*n) bin
    by cumulative count (one window over <= 64 post-aggregation rows),
    and emit the bin's exact integer tick edges beside the TRUE p99
    tick value — the containment guarantee is a gated column. The
    exact quantile is fetched from the TOP side (orderBy desc +
    limit(n-rank+1) = TakeOrdered over ~1% of rows — never a global
    sort or full-table single-partition window); its two driver
    scalars (count, rank) are the same bounded-collect class as the
    distinct-gate counts."""
    d = _ensure_qhist_store(spark, sf_dir)
    merged = spark.read.parquet(d).groupBy("bin").agg(
        F.sum("cnt").cast("long").alias("cnt"))
    bounds = qhist_quantile_bounds(merged, 99, 100)

    ev = load_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & (F.col("value") >= 0))
    tk = ev.select(
        F.floor(F.col("value").cast("double") * QHIST_TICKS)
        .cast("long").alias("ticks"))
    n = tk.count()
    rank = (n * 99 + 99) // 100
    exact = (
        tk.orderBy(F.col("ticks").desc()).limit(n - rank + 1)
        .agg(F.min("ticks").alias("exact_ticks"))
    )
    return bounds.crossJoin(F.broadcast(exact)).select(
        "n", "rank", "bin", "lo_ticks", "hi_ticks", "exact_ticks",
        ((F.col("exact_ticks") >= F.col("lo_ticks"))
         & (F.col("exact_ticks") < F.col("hi_ticks"))).alias("contained"),
    )


# ===========================================================================
# Market-basket association rules (confidence / lift)
# ===========================================================================

_AR_MIN_SUP = 3

_AR_SQL = f"""
WITH bi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem),
nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM bi),
sup AS (SELECT item, CAST(count(*) AS BIGINT) AS sup FROM bi GROUP BY 1),
pair AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(count(*) AS BIGINT) AS sup_ab
  FROM bi a JOIN bi b ON a.ok = b.ok AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= {_AR_MIN_SUP}
)
SELECT item_a, item_b, sup_ab,
       sa.sup AS sup_a, sb.sup AS sup_b,
       CAST(sup_ab AS DOUBLE) / CAST(sa.sup AS DOUBLE) AS conf_a_b,
       CAST(sup_ab AS DOUBLE) / CAST(sb.sup AS DOUBLE) AS conf_b_a,
       CAST(sup_ab * n_baskets AS DOUBLE)
         / CAST(sa.sup * sb.sup AS DOUBLE) AS lift
FROM pair
JOIN sup sa ON sa.item = pair.item_a
JOIN sup sb ON sb.item = pair.item_b, nb
"""


@register("basket_association_rules", _AR_SQL)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-Priori second half: turn pair supports into RULES — confidence
    in both directions and lift — all from exact integer supports
    (distinct basket-item pairs, so duplicate lines in one order never
    inflate support). Each float column is ONE IEEE division of exact
    int64 values, identical in both engines — no float accumulation
    anywhere. The pair join is per-basket quadratic like
    basket_pair_support; the two support joins are item-keyed (catalog
    dimension scale, broadcast at 100 TB)."""
    bi = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"),
                F.col("l_partkey").alias("item"))
        .distinct()
    )
    nb = bi.agg(F.count_distinct("ok").cast("long").alias("n_baskets"))
    sup = bi.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("sup"))
    a = bi.select(F.col("ok"), F.col("item").alias("item_a"))
    b = bi.select(F.col("ok"), F.col("item").alias("item_b"))
    pair = (
        a.join(b, "ok")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("sup_ab"))
        .filter(F.col("sup_ab") >= _AR_MIN_SUP)
    )
    sa = sup.select(F.col("item").alias("item_a"),
                    F.col("sup").alias("sup_a"))
    sb = sup.select(F.col("item").alias("item_b"),
                    F.col("sup").alias("sup_b"))
    return (
        pair.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "item_a", "item_b", "sup_ab", "sup_a", "sup_b",
            (F.col("sup_ab").cast("double")
             / F.col("sup_a").cast("double")).alias("conf_a_b"),
            (F.col("sup_ab").cast("double")
             / F.col("sup_b").cast("double")).alias("conf_b_a"),
            ((F.col("sup_ab") * F.col("n_baskets")).cast("double")
             / (F.col("sup_a") * F.col("sup_b")).cast("double"))
            .alias("lift"),
        )
    )


# ===========================================================================
# PMI collocations over the documents corpus
# ===========================================================================

_PMI_MIN_COUNT = 5
_PMI_TOP_K = 50

_PMI_SQL = f"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
),
big AS (
  SELECT t[CAST(i AS INTEGER)] AS w1, t[CAST(i AS INTEGER) + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_big FROM big),
cab AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM big
        GROUP BY 1, 2 HAVING count(*) >= {_PMI_MIN_COUNT}),
c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_a FROM big GROUP BY 1),
c2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS c_b FROM big GROUP BY 1),
scored AS (
  SELECT cab.w1, cab.w2, c_ab,
         CAST(c_ab * n_big AS DOUBLE)
           / CAST(c_a * c_b AS DOUBLE) AS pmi_ratio
  FROM cab JOIN c1 USING (w1) JOIN c2 USING (w2), n
),
top AS (
  SELECT * FROM scored
  ORDER BY pmi_ratio DESC, w1, w2 LIMIT {_PMI_TOP_K}
)
SELECT CAST(row_number() OVER (ORDER BY pmi_ratio DESC, w1, w2)
            AS INTEGER) AS rank,
       w1, w2, c_ab, pmi_ratio
FROM top
"""


@register("pmi_collocations", _PMI_SQL)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k collocations by pointwise mutual information, with the
    ordering done on the EXACT ratio c_ab*N / (c1_a*c2_b) (positional
    unigram margins) — log is monotone, so ranking by the ratio is
    ranking by PMI while keeping every compared value a single IEEE
    division of exact int64 products. Bigrams come from one
    size-guarded transform+explode (no self-join); the two margin
    joins are vocabulary-keyed. TakeOrdered top-k, then the rank
    window runs over the k survivors only (the documented post-limit
    class)."""
    docs = load(spark, sf_dir, "documents", rebalance=True).filter(
        F.length(F.trim(F.col("text"))) > 0)
    toks = docs.select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t"))
    big = toks.select(
        F.explode(F.expr(
            "CASE WHEN size(t) >= 2 THEN "
            "transform(sequence(1, size(t) - 1),"
            " i -> struct(t[i-1] AS w1, t[i] AS w2)) "
            "ELSE array() END")).alias("bg")
    ).select("bg.w1", "bg.w2")
    n = big.agg(F.count(F.lit(1)).cast("long").alias("n_big"))
    cab = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_COUNT)
    )
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("c_a"))
    c2 = big.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("c_b"))
    scored = (
        cab.join(c1, "w1").join(c2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1", "w2", "c_ab",
            ((F.col("c_ab") * F.col("n_big")).cast("double")
             / (F.col("c_a") * F.col("c_b")).cast("double"))
            .alias("pmi_ratio"),
        )
    )
    top = scored.orderBy(
        F.col("pmi_ratio").desc(), "w1", "w2").limit(_PMI_TOP_K)
    w = Window.orderBy(F.col("pmi_ratio").desc(), "w1", "w2")
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "w1", "w2", "c_ab", "pmi_ratio",
    )


# ===========================================================================
# Stratified sampling: largest-remainder allocation, hash-ordered take
# ===========================================================================

_STRAT_N = 500

_STRAT_SQL = f"""
WITH c AS (SELECT c_custkey, c_mktsegment AS seg FROM customer),
s AS (SELECT seg, CAST(count(*) AS BIGINT) AS n_s FROM c GROUP BY 1),
t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM s),
a AS (SELECT seg, n_s, (n_s * {_STRAT_N}) // n AS fl,
             (n_s * {_STRAT_N}) % n AS rem
      FROM s, t),
lv AS (SELECT {_STRAT_N} - sum(fl) AS leftover FROM a),
r AS (SELECT seg, n_s, fl,
             row_number() OVER (ORDER BY rem DESC, seg) AS rk
      FROM a),
alloc AS (SELECT seg, n_s,
                 CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                      AS BIGINT) AS alloc
          FROM r, lv),
ranked AS (
  SELECT seg, c_custkey,
         row_number() OVER (
           PARTITION BY seg
           ORDER BY {_sql_h60('c_custkey')}, c_custkey) AS pos
  FROM c
)
SELECT ranked.seg AS seg, c_custkey, CAST(pos AS BIGINT) AS pos,
       alloc.alloc AS alloc
FROM ranked JOIN alloc ON alloc.seg = ranked.seg
WHERE pos <= alloc.alloc
"""


@register("stratified_alloc_sample", _STRAT_SQL)
def stratified_alloc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample of exactly N customers, allocated across
    market segments PROPORTIONALLY with largest-remainder rounding —
    pure integer arithmetic (n_s*N div n, remainders ranked, top
    leftover get +1), so the allocation hash-gates with no float
    weights. Selection within a stratum is the deterministic hash
    order (hash60 of the key — the repo's seeded-sampling convention),
    via a PARTITIONED row_number: per-stratum windows, never a global
    sort. At 100 TB the allocation aggregate is segment-cardinality
    rows and broadcasts back onto the data."""
    from apde_etl_spark.operators.similarity import hash60

    c = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg"))
    s = c.groupBy("seg").agg(F.count(F.lit(1)).cast("long").alias("n_s"))
    t = s.agg(F.sum("n_s").cast("long").alias("n"))
    a = s.crossJoin(F.broadcast(t)).select(
        "seg", "n_s",
        F.expr(f"(n_s * {_STRAT_N}) div n").alias("fl"),
        F.expr(f"(n_s * {_STRAT_N}) % n").alias("rem"),
    )
    lv = a.agg((F.lit(_STRAT_N) - F.sum("fl")).alias("leftover"))
    # the remainder ranking runs over segment-cardinality rows (a
    # handful) — the global window is on post-aggregation state
    rw = Window.orderBy(F.col("rem").desc(), "seg")
    alloc = (
        a.select("seg", "n_s", "fl", F.row_number().over(rw).alias("rk"))
        .crossJoin(F.broadcast(lv))
        .select(
            "seg",
            (F.col("fl") + F.when(F.col("rk") <= F.col("leftover"), 1)
             .otherwise(0)).cast("long").alias("alloc"),
        )
    )
    pw = Window.partitionBy("seg").orderBy(
        hash60(F.col("c_custkey").cast("string")), "c_custkey")
    ranked = c.select(
        "seg", "c_custkey", F.row_number().over(pw).cast("long").alias("pos"))
    return (
        ranked.join(F.broadcast(alloc), "seg")
        .filter(F.col("pos") <= F.col("alloc"))
        .select("seg", "c_custkey", "pos", "alloc")
    )


# ===========================================================================
# Incremental materialized-view maintenance (delta-apply == recompute)
# ===========================================================================

_MV_SQL = """
WITH fin AS (
  SELECT o_orderdate, o_orderstatus,
         CASE WHEN o_orderkey % 13 = 0 AND o_orderkey % 91 <> 0
              THEN o_totalprice + 50.0 ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 91 <> 0
  UNION ALL
  SELECT o_orderdate, 'N' AS o_orderstatus, o_totalprice AS price
  FROM orders WHERE o_orderkey % 400 = 0
)
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, o_orderstatus,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM fin GROUP BY 1, 2
"""


@register("mv_incremental_refresh", _MV_SQL)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance: an aggregate MV
    (count + decimal sum by year x status) is updated by applying a
    CDC delta batch as SIGNED contributions — deletes contribute
    (-1, -price), updates (-1, -old) + (+1, +new), inserts (+1,
    +price) — then one groupBy folds the deltas into the base MV and
    groups whose count reaches zero drop out. The oracle RECOMPUTES
    the view from the final state; hash equality proves
    delta-maintenance == recompute, which is what lets a 100 TB rollup
    absorb a CDC feed without rescanning the fact table. All sums are
    DECIMAL(18,4) until the final double cast, so the incremental and
    recomputed totals are bit-identical, not approximately equal.

    Reference parity: the reference refreshes rollups by full
    re-aggregation + stage/final swap (table_duplicate.R); this is the
    at-scale continuation."""
    dec = "DECIMAL(18,4)"
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("o_year"),
        "o_orderstatus",
        F.col("o_totalprice").alias("price"),
    )
    key = ["o_year", "o_orderstatus"]
    mv0 = o.groupBy(*key).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.col("price").cast(dec)).alias("total_dec"),
    )
    is_del = F.col("o_orderkey") % 91 == 0
    is_upd = (F.col("o_orderkey") % 13 == 0) & ~is_del
    is_ins = F.col("o_orderkey") % 400 == 0
    # signed delta rows; an update's old and new share the MV key here
    # (price-only change), but the two signed rows keep the shape fully
    # general — a status-changing update would move mass between keys
    d_del = o.filter(is_del).select(
        *key, F.lit(-1).cast("long").alias("cnt"),
        (-F.col("price").cast(dec)).alias("total_dec"))
    d_upd_old = o.filter(is_upd).select(
        *key, F.lit(-1).cast("long").alias("cnt"),
        (-F.col("price").cast(dec)).alias("total_dec"))
    d_upd_new = o.filter(is_upd).select(
        *key, F.lit(1).cast("long").alias("cnt"),
        (F.col("price") + F.lit(50.0)).cast(dec).alias("total_dec"))
    d_ins = o.filter(is_ins).select(
        F.col("o_year"), F.lit("N").alias("o_orderstatus"),
        F.lit(1).cast("long").alias("cnt"),
        F.col("price").cast(dec).alias("total_dec"))
    deltas = d_del.unionByName(d_upd_old).unionByName(d_upd_new) \
        .unionByName(d_ins)
    mv1 = (
        mv0.unionByName(deltas)
        .groupBy(*key)
        .agg(F.sum("cnt").cast("long").alias("cnt"),
             F.sum("total_dec").alias("total_dec"))
        .filter(F.col("cnt") > 0)
    )
    return mv1.select(
        *key, "cnt", F.col("total_dec").cast("double").alias("total"))


_QH_ROLLING_SQL = f"""
WITH {_QH_REG_CTES},
spine AS (SELECT DISTINCT day FROM regs),
win AS (SELECT s.day AS day, r.bin, r.cnt
        FROM spine s JOIN regs r
          ON r.day BETWEEN s.day - INTERVAL 6 DAY AND s.day),
m2 AS (SELECT day, bin, CAST(sum(cnt) AS BIGINT) AS cnt
       FROM win GROUP BY 1, 2),
tot2 AS (SELECT day, CAST(sum(cnt) AS BIGINT) AS n FROM m2 GROUP BY 1),
rk2 AS (SELECT day, n, (n * 99 + 99) // 100 AS rank FROM tot2),
cum2 AS (SELECT day, bin,
                sum(cnt) OVER (PARTITION BY day ORDER BY bin) AS cum
         FROM m2),
hit2 AS (SELECT c.day, min(c.bin) AS bin
         FROM cum2 c JOIN rk2 k ON c.day = k.day
         WHERE c.cum >= k.rank GROUP BY 1)
SELECT k.day, k.n, CAST(k.rank AS BIGINT) AS rank, h.bin,
       CAST(CASE WHEN h.bin = 0 THEN 0
                 ELSE (CAST(1 AS BIGINT) << (h.bin - 1)) END
            AS BIGINT) AS lo_ticks,
       CAST((CAST(1 AS BIGINT) << h.bin) AS BIGINT) AS hi_ticks
FROM rk2 k JOIN hit2 h ON k.day = h.day
ORDER BY k.day
"""


@register("qhist_rolling7_p99", _QH_ROLLING_SQL)
def qhist_rolling7_p99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day p99 ENCLOSURE per day, served entirely from the
    per-day histogram store — the quantile counterpart of
    kmv_rolling7_distinct, completing 'any window from the store'
    across all three sketch families (distinct, frequency, quantile).
    A range join of the day spine against <= days*64 stored bin rows,
    one SUM-merge per window, the integer rank rule, and the exact
    power-of-two tick bounds — no float interpolation, no rescan of
    events. The top bucket (bin 62) is open-ended: a p99 landing there
    has a valid lo bound but its hi bound no longer encloses (see
    qhist_registers' bin cap). At 100 TB this is the SLO dashboard
    query: a month of p99 curves from KBs of state."""
    from pyspark.sql import Window

    d = _ensure_qhist_store(spark, sf_dir)
    regs = spark.read.parquet(d).select(
        F.col("day").cast("date").alias("day"), "bin", "cnt")
    spine = regs.select("day").distinct()
    win = (
        spine.alias("s")
        .join(regs.alias("r"),
              F.col("r.day").between(F.date_sub(F.col("s.day"), 6),
                                     F.col("s.day")))
        .select(F.col("s.day").alias("day"), "bin", "cnt")
    )
    m = win.groupBy("day", "bin").agg(F.sum("cnt").cast("long").alias("cnt"))
    tot = m.groupBy("day").agg(F.sum("cnt").cast("long").alias("n"))
    rk = tot.select(
        "day", "n",
        F.expr("(n * 99 + 99) div 100").cast("long").alias("rank"))
    w = Window.partitionBy("day").orderBy("bin") \
        .rowsBetween(Window.unboundedPreceding, 0)
    cum = m.select("day", "bin", F.sum("cnt").over(w).alias("cum"))
    hit = (
        cum.join(rk.select("day", "rank"), "day")
        .filter(F.col("cum") >= F.col("rank"))
        .groupBy("day").agg(F.min("bin").cast("int").alias("bin"))
    )
    lo = F.when(F.col("bin") == 0, F.lit(0).cast("long")).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), bin - 1)"))
    return (
        rk.join(hit, "day")
        .select("day", "n", "rank", "bin",
                lo.alias("lo_ticks"),
                F.expr("shiftleft(CAST(1 AS BIGINT), bin)")
                .alias("hi_ticks"))
        .orderBy("day")
    )
