"""Corpus-analytics catalog extensions (round-1 continuation): the
standard large-corpus curation signals that were still missing from the
training-data surface — Gopher-style repetition filters, per-source
tf-idf salience, exact length deciles, z-score anomaly detection, and a
sliding-window Structured Streaming aggregate.

Registered into the same :data:`~apde_etl_spark.plans.catalog.QUERIES` /
:data:`~apde_etl_spark.plans.catalog.ORACLES` registry; imported for its
side effects by ``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apde_etl_spark.functions.core import round_half_away
from apde_etl_spark.operators import text as TX
from apde_etl_spark.plans.catalog import (_sql_round, load, load_events,
                                           normalize_ts, register)
from apde_etl_spark.sources.readers import local_frame

# ===========================================================================
# Gopher-style repetition metrics (dup-token + top-bigram fractions)
# ===========================================================================

_TOKS = "regexp_split_to_array(trim(text), '\\s+')"
_BIGRAMS = (
    "list_transform(range(1, len(toks)), "
    "i -> concat(toks[CAST(i AS INTEGER)], ' ', toks[CAST(i AS INTEGER) + 1]))"
)

_REPETITION_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
base AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_frac,
         {_BIGRAMS} AS bg
  FROM t
),
topbg AS (
  SELECT doc_id, max(c) AS top_cnt
  FROM (SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(bg) AS g FROM base)
        GROUP BY doc_id, g)
  GROUP BY doc_id
),
j AS (
  SELECT b.doc_id, b.n_tokens, b.dup_frac,
         CASE WHEN len(b.bg) = 0 THEN 0.0
              ELSE CAST(COALESCE(tb.top_cnt, 0) AS DOUBLE) / len(b.bg) END AS top_frac
  FROM base b LEFT JOIN topbg tb USING (doc_id)
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       {_sql_round('dup_frac', 6)} AS dup_token_frac,
       {_sql_round('top_frac', 6)} AS top_bigram_frac,
       (dup_frac > 0.7 OR top_frac > 0.18) AS repetitive
FROM j
"""


@register("repetition_gopher_metrics", _REPETITION_ORACLE)
def repetition_gopher_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (public heuristic, Rae et al. 2021
    arXiv:2112.11446 §A1.1): duplicate-token fraction and most-frequent-
    bigram fraction per document, plus the pass/fail flag. The Spark path
    is a pure projection (sorted-run max multiplicity, zero shuffles);
    the oracle recomputes the bigram mode relationally."""
    docs = load(spark, sf_dir, "documents")
    out = TX.repetition_metrics(docs)
    return out.select(
        "doc_id", "n_tokens",
        round_half_away(F.col("dup_token_frac"), 6).alias("dup_token_frac"),
        round_half_away(F.col("top_bigram_frac"), 6).alias("top_bigram_frac"),
        "repetitive",
    )


# ===========================================================================
# tf-idf top terms per source
# ===========================================================================

_TFIDF_ORACLE = f"""
WITH terms AS (
  SELECT source AS grp,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
tf AS (SELECT grp, term, count(*) AS tf FROM terms GROUP BY grp, term),
dfreq AS (SELECT term, count(DISTINCT grp) AS df_term FROM tf GROUP BY term),
ng AS (SELECT count(DISTINCT source) AS n_groups FROM documents),
scored AS (
  SELECT grp, term, tf,
         tf * ln(CAST(n_groups AS DOUBLE) / df_term) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN ng
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY grp ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT grp AS source, term, CAST(tf AS BIGINT) AS tf,
       {_sql_round('tfidf', 6)} AS tfidf, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


@register("tfidf_top_terms", _TFIDF_ORACLE)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 salient terms per source by tf-idf: explode -> two keyed
    aggregations sharing the ``term`` shuffle key, broadcast scalar for
    the group count, bounded per-group window for the top-k."""
    docs = load(spark, sf_dir, "documents")
    out = TX.tfidf_top_terms(docs, "source", "text", k=5)
    return out.select(
        "source", "term", "tf",
        round_half_away(F.col("tfidf"), 6).alias("tfidf"),
        "rank",
    )


# ===========================================================================
# Exact length deciles per source
# ===========================================================================

_DECILES = [i / 10.0 for i in range(1, 10)]

_DECILES_ORACLE = "\nUNION ALL\n".join(
    f"SELECT source, CAST({d} AS DOUBLE) AS decile, "
    f"{_sql_round(f'quantile_cont(n_chars, {d})', 6)} AS n_chars_q "
    f"FROM documents GROUP BY source"
    for d in _DECILES
)


@register("length_deciles_by_source", _DECILES_ORACLE)
def length_deciles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated deciles of document length per source —
    one grouped ``percentile`` pass computing all nine cutpoints, then a
    posexplode to long form. At 100 TB the same shape swaps
    ``percentile`` for ``approx_percentile`` (bounded-memory GK sketch)
    without touching the plan; the exact version stays as the oracle-
    checkable truth at test scale."""
    docs = load(spark, sf_dir, "documents")
    q = docs.groupBy("source").agg(
        F.percentile("n_chars", F.array(*[F.lit(d) for d in _DECILES])).alias("qs")
    )
    return q.select(
        "source", F.posexplode("qs").alias("pos", "q")
    ).select(
        "source",
        ((F.col("pos") + 1) / F.lit(10.0)).alias("decile"),
        round_half_away(F.col("q"), 6).alias("n_chars_q"),
    )


# ===========================================================================
# z-score anomaly detection over events.value
# ===========================================================================

_ZSCORE_ORACLE = f"""
WITH s AS (
  SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd
  FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT event_id, e.event_type, value,
       {_sql_round('(value - m) / sd', 6)} AS zscore
FROM events e JOIN s USING (event_type)
WHERE value IS NOT NULL AND abs((value - m) / sd) > 3
"""


@register("zscore_anomalies_events", _ZSCORE_ORACLE)
def zscore_anomalies_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (|z| > 3): one grouped aggregate over
    event_type (a handful of rows) broadcast back onto the fact scan —
    no window sort over the full table, so the plan is scan + map-side
    join at any scale."""
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("m"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("m")) / F.col("sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 3)
        .select("event_id", "event_type", "value",
                round_half_away(F.col("zscore"), 6).alias("zscore"))
    )


# ===========================================================================
# Sliding-window streaming counts (1 h window / 30 min slide)
# ===========================================================================

_SLIDING_ORACLE = """
WITH off AS (SELECT unnest([0, 1]) AS k)
SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS window_start,
       time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes'
         + INTERVAL '1 hour' AS window_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS count
FROM events CROSS JOIN off
GROUP BY 1, 2, 3
"""


@register("stream_sliding_event_counts", _SLIDING_ORACLE)
def stream_sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1 h / 30 min) per-type counts as a real Structured
    Streaming run (file source -> window -> availableNow -> memory sink);
    the oracle expands each event into its two covering windows
    relationally (epoch-aligned slide starts, same as Spark's window
    assignment)."""
    from apde_etl_spark.streaming.profile_stream import windowed_sliding_counts

    load_events(spark, sf_dir)  # sets nanosAsLong conf for the schema read
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    src = normalize_ts(src)
    counts = windowed_sliding_counts(
        src, "ts", "event_type", window="1 hour", slide="30 minutes",
        watermark="2 hours",
    )
    name = "stream_sliding_event_counts_sink"
    q = (
        counts.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "window_start", "window_end", "event_type", "count"
    )


# ===========================================================================
# Set-containment similarity join with prefix filtering (PPJoin-style)
# ===========================================================================

from apde_etl_spark.plans.catalog_ext import _SQL_SHINGLES, _SQL_TOKS  # noqa: E402

_CONTAINMENT_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM toks WHERE len({_SQL_SHINGLES}) > 0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       {_sql_round('CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)', 6)} AS containment
FROM sh a JOIN sh b ON a.doc_id != b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.6
"""


@register("containment_shingle_pairs", _CONTAINMENT_ORACLE)
def containment_shingle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment C(A,B) = |A∩B|/|A| >= 0.6 over 3-word
    shingles, computed with lossless PPJoin-style prefix filtering (join
    A's rarest-shingle prefix against the inverted index instead of the
    quadratic cross join the oracle runs). Catches quote/subset near-dups
    that symmetric Jaccard underweights."""
    from apde_etl_spark.operators.similarity import containment_prefix_pairs

    docs = load(spark, sf_dir, "documents")
    out = containment_prefix_pairs(docs, "doc_id", "text", k=3, threshold=0.6)
    return out.select(
        "id_a", "id_b",
        round_half_away(F.col("containment"), 6).alias("containment"),
    )


# ===========================================================================
# Robust (median/MAD) per-type stats with modified-z outlier counts
# ===========================================================================

_MAD_ORACLE = f"""
WITH s AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events WHERE value IS NOT NULL GROUP BY event_type
),
d AS (
  SELECT e.event_type, e.value, s.med, abs(e.value - s.med) AS adev
  FROM events e JOIN s USING (event_type) WHERE e.value IS NOT NULL
),
m AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM d GROUP BY event_type)
SELECT d.event_type,
       {_sql_round('min(d.med)', 6)} AS median_value,
       {_sql_round('min(m.mad)', 6)} AS mad,
       CAST(SUM(CASE WHEN m.mad > 0
                      AND abs(0.6745 * (d.value - d.med) / m.mad) > 3.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(COUNT(*) AS BIGINT) AS n
FROM d JOIN m USING (event_type)
GROUP BY d.event_type
"""


@register("robust_mad_stats", _MAD_ORACLE)
def robust_mad_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust stats + Iglewicz-Hoaglin modified-z outlier
    counts (|0.6745*(x-med)/MAD| > 3.5) per event_type — the robust
    sibling of zscore_anomalies_events, immune to the outliers it hunts.
    Three column-pruned scans of (event_type, value) with the tiny
    per-type medians broadcast between passes; at 100 TB each exact
    ``percentile`` swaps for ``approx_percentile`` without changing the
    plan shape."""
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull()).select(
        "event_type", "value"
    )
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    d = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = d.groupBy("event_type").agg(F.percentile("adev", 0.5).alias("mad"))
    mz = 0.6745 * (F.col("value") - F.col("med")) / F.col("mad")
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            round_half_away(F.min("med"), 6).alias("median_value"),
            round_half_away(F.min("mad"), 6).alias("mad"),
            F.sum(
                F.when((F.col("mad") > 0) & (F.abs(mz) > 3.5), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )


# ===========================================================================
# SCD2 dimension merge (type-2 history upgrade of the archive/stage swap)
# ===========================================================================

_SCD2_ORACLE = """
WITH cur AS (
  SELECT c_custkey, c_mktsegment, c_acctbal, DATE '1995-01-01' AS valid_from
  FROM customer WHERE c_custkey % 7 != 0
),
snap AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
  FROM customer
),
j AS (
  SELECT c.c_custkey,
         c.c_mktsegment AS cm, c.c_acctbal AS ca, c.valid_from,
         s.c_mktsegment AS sm, s.c_acctbal AS sa
  FROM cur c JOIN snap s USING (c_custkey)
)
SELECT c_custkey, cm AS c_mktsegment, ca AS c_acctbal, valid_from,
       CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
FROM j WHERE cm IS NOT DISTINCT FROM sm AND ca IS NOT DISTINCT FROM sa
UNION ALL
SELECT c_custkey, cm, ca, valid_from, DATE '1996-01-01', FALSE
FROM j WHERE cm IS DISTINCT FROM sm OR ca IS DISTINCT FROM sa
UNION ALL
SELECT c_custkey, sm, sa, DATE '1996-01-01', CAST(NULL AS DATE), TRUE
FROM j WHERE cm IS DISTINCT FROM sm OR ca IS DISTINCT FROM sa
UNION ALL
SELECT s.c_custkey, s.c_mktsegment, s.c_acctbal, DATE '1996-01-01',
       CAST(NULL AS DATE), TRUE
FROM snap s WHERE s.c_custkey NOT IN (SELECT c_custkey FROM cur)
"""


@register("scd2_customer_merge", _SCD2_ORACLE)
def scd2_customer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge of a simulated customer snapshot (every 5th key changes
    c_acctbal; every 7th key is new) onto the current dimension: one
    full-outer join, changed keys emit close+open rows via an exploded
    struct array in the same projection (no union-of-branches re-join).
    Upgrades the reference's wholesale archive/stage swap
    (load_table_from_sql.R:378-395) to history-keeping form."""
    from apde_etl_spark.sources.lifecycle import scd2_merge

    cust = load(spark, sf_dir, "customer")
    current = cust.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.lit("1995-01-01").cast("date").alias("valid_from"),
    )
    snapshot = cust.select(
        "c_custkey", "c_mktsegment",
        F.when(F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 100)
        .otherwise(F.col("c_acctbal")).alias("c_acctbal"),
    )
    return scd2_merge(current, snapshot, "c_custkey",
                      ["c_mktsegment", "c_acctbal"], "1996-01-01")


# ===========================================================================
# As-of join (purchase -> latest prior view per user)
# ===========================================================================

_ASOF_ORACLE = """
WITH u AS (
  SELECT user_id, ts, CAST(NULL AS BIGINT) AS vid, CAST(NULL AS TIMESTAMP) AS vts,
         event_id, 1 AS tag
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, event_id, ts, NULL, 0
  FROM events WHERE event_type = 'view'
),
w AS (
  SELECT *,
         last_value(vid IGNORE NULLS) OVER win AS view_event_id,
         last_value(vts IGNORE NULLS) OVER win AS view_ts
  FROM u
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, tag, vid
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id AS purchase_event_id, user_id, ts, view_event_id, view_ts,
       epoch_us(ts) - epoch_us(view_ts) AS gap_us
FROM w WHERE tag = 1
"""


@register("asof_join_purchase_view", _ASOF_ORACLE)
def asof_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (inclusive): every purchase picks the user's latest
    view at-or-before it, via the union + carry-forward-window algorithm
    (one shuffle on user_id, no per-row subquery, no range self-join);
    deterministic tie-breaks on (ts, stream tag, view event_id). The
    oracle replays the same carry-forward relationally."""
    from apde_etl_spark.operators.temporal import asof_join

    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.col("event_id").alias("view_event_id"),
        F.col("ts").alias("view_ts"),
    )
    out = asof_join(
        purchases, views, on="user_id",
        build_cols=["view_event_id", "view_ts"],
        tiebreak_cols=["view_event_id"],
    )
    return out.select(
        F.col("event_id").alias("purchase_event_id"), "user_id", "ts",
        "view_event_id", "view_ts",
        (F.unix_micros("ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


# ===========================================================================
# Point-in-interval range join (events.value -> tier table)
# ===========================================================================

_RANGE_ORACLE = """
WITH tiers(tier, lo, hi) AS (
  VALUES ('bronze', 0.0, 100.0), ('silver', 100.0, 250.0), ('gold', 250.0, 500.0)
)
SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
GROUP BY tier
"""


@register("range_join_value_tiers", _RANGE_ORACLE)
def range_join_value_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join rewritten as an equi-join: tiers explode into the
    50-unit bins they cover, facts compute their bin in the projection,
    and a residual filter trims bin-boundary spill. Stays a hash join at
    any interval-table size (the oracle's inequality join is the
    O(n x m) nested loop this replaces)."""
    from apde_etl_spark.operators.temporal import range_join_binned

    tiers = local_frame(
        spark,
        [("bronze", 0.0, 100.0), ("silver", 100.0, 250.0), ("gold", 250.0, 500.0)],
        "tier string, lo double, hi double",
    )
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull()).select("value")
    joined = range_join_binned(F.broadcast(tiers), ev, "lo", "hi", "value",
                               bin_width=50.0)
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


# ===========================================================================
# Ordered funnel: signup -> first later view -> first later purchase
# ===========================================================================

_FUNNEL_ORACLE = """
WITH t1 AS (
  SELECT user_id, min(ts) AS ts1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, min(e.ts) AS ts2 FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > t1.ts1 GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS ts3 FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.ts2 GROUP BY e.user_id
)
SELECT CAST(1 AS INTEGER) AS stage_idx, 'signup' AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_users FROM t1
UNION ALL
SELECT 2, 'view_after_signup', COUNT(*) FROM t2
UNION ALL
SELECT 3, 'purchase_after_view', COUNT(*) FROM t3
"""


@register("funnel_signup_view_purchase", _FUNNEL_ORACLE)
def funnel_signup_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel: users whose first view follows
    their first signup, then whose first purchase follows that view.
    Each stage is one keyed aggregate joined broadcast onto the next
    stage's filtered scan — per-stage cost is a pruned pass over
    (user_id, ts, event_type), never a cross join of event sequences."""
    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_type")
    t1 = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("ts1")
    )
    t2 = (
        ev.filter(F.col("event_type") == "view")
        .join(F.broadcast(t1), "user_id")
        .filter(F.col("ts") > F.col("ts1"))
        .groupBy("user_id").agg(F.min("ts").alias("ts2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(t2), "user_id")
        .filter(F.col("ts") > F.col("ts2"))
        .groupBy("user_id").agg(F.min("ts").alias("ts3"))
    )

    def stage(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(idx).cast("int").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )

    return (
        stage(1, "signup", t1)
        .unionByName(stage(2, "view_after_signup", t2))
        .unionByName(stage(3, "purchase_after_view", t3))
    )


# ===========================================================================
# Pivot — the inverse of the reference's signature melt (R1)
# ===========================================================================

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_ORACLE = (
    "SELECT CAST(ts AS DATE) AS day, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
        for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY 1"
)


@register("pivot_event_type_daily", _PIVOT_ORACLE)
def pivot_event_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long->wide pivot of daily event counts — the inverse of the
    reference's melt (SURVEY §2.3 R1). Pivot values are passed
    explicitly, so Spark skips the extra distinct-scan job it otherwise
    runs to discover them, and the plan is a single groupBy with one
    conditional count per column."""
    ev = load_events(spark, sf_dir)
    out = (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    # pivot leaves NULL for absent (day, type) combos; the oracle's
    # conditional SUM yields 0 — align on 0
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
                 for t in _EVENT_TYPES]
    )


# ===========================================================================
# Cumulative distinct users per day (first-touch aggregation, not
# per-day COUNT(DISTINCT) over growing windows)
# ===========================================================================

_CUMUSERS_ORACLE = """
WITH f AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
),
d AS (SELECT day, count(*) AS n_new_users FROM f GROUP BY day)
SELECT day, CAST(n_new_users AS BIGINT) AS n_new_users,
       CAST(SUM(n_new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM d
"""


@register("cumulative_distinct_users_daily", _CUMUSERS_ORACLE)
def cumulative_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count per day via FIRST-TOUCH aggregation:
    one groupBy(user) for the first-seen day, one tiny groupBy(day), and
    a prefix-sum window over the per-day rows. The naive per-day
    COUNT(DISTINCT) over an expanding window is O(days x users) state
    and re-shuffles the fact table once per day bucket; this shape is
    two keyed aggregations + a window over #days rows (the
    single-partition window is over days, not facts — bounded)."""
    ev = load_events(spark, sf_dir)
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    daily = first.groupBy("day").agg(F.count(F.lit(1)).alias("n_new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    return daily.select(
        "day",
        F.col("n_new_users").cast("long").alias("n_new_users"),
        F.sum("n_new_users").over(w).cast("long").alias("cum_users"),
    )


# ===========================================================================
# Stream-static join: streaming events enriched with a batch cohort dim
# ===========================================================================

_STREAM_STATIC_ORACLE = """
WITH c AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
)
SELECT time_bucket(INTERVAL '1 day', e.ts) AS window_start,
       c.cohort_day,
       CAST(COUNT(*) AS BIGINT) AS count
FROM events e JOIN c USING (user_id)
GROUP BY 1, 2
"""


@register("stream_static_cohort_counts", _STREAM_STATIC_ORACLE)
def stream_static_cohort_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming event feed joins a batch-derived
    per-user cohort dimension (first-touch day), then aggregates daily
    counts per cohort. The static side re-evaluates per micro-batch and
    broadcasts (it is user-sized, not event-sized); state is bounded by
    (watermarked windows x cohorts)."""
    ev_batch = load_events(spark, sf_dir)
    cohorts = ev_batch.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    src = normalize_ts(src)
    joined = src.withWatermark("ts", "2 hours").join(F.broadcast(cohorts), "user_id")
    counts = (
        joined.groupBy(F.window("ts", "1 day").alias("win"), "cohort_day")
        .agg(F.count(F.lit(1)).alias("count"))
        .select(F.col("win.start").alias("window_start"), "cohort_day", "count")
    )
    name = "stream_static_cohort_counts_sink"
    q = (
        counts.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name).select("window_start", "cohort_day", "count")
