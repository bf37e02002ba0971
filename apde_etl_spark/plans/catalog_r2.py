"""Round-2 extension entries: privacy-preserving anonymization,
C4-style boilerplate removal, a true stream-stream interval join, and
temperature-based source mixture weights.

The anonymization family is on-theme for the reference (a public-health
ETL toolkit: PHI never leaves the warehouse unmasked); the rest extend
the training-data pipeline surface (SURVEY.md §7.1 step 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apde_etl_spark.functions.core import round_half_away
from apde_etl_spark.plans.catalog import (_sql_round, load, load_events,
                                          normalize_ts, register)
from apde_etl_spark.sources.readers import local_frame

# ===========================================================================
# Anonymization — pseudonymize + generalize + k-anonymity suppression
# ===========================================================================

_KANON_ORACLE = """
WITH b AS (
  SELECT c_custkey, sha256(c_name) AS pseudonym, c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000) * 1000 AS INTEGER) AS bal_band
  FROM customer
), g AS (
  SELECT *, CAST(COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_band) AS BIGINT) AS group_n
  FROM b
)
SELECT c_custkey, pseudonym, c_nationkey, c_mktsegment, bal_band, group_n,
       group_n < 5 AS suppressed
FROM g
"""


@register("anonymize_kanon_customers", _KANON_ORACLE)
def anonymize_kanon_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy pipeline over a person-level dimension: deterministic
    pseudonym (SHA-256 of the identifying name — same releases join,
    nothing reverses), quasi-identifier generalization (account balance
    -> 1000-wide band), and a k-anonymity audit: every row carries its
    (nation, segment, band) equivalence-class size, and classes smaller
    than k=5 are flagged for suppression.

    Scale shape: one hash-window over the quasi-identifier tuple — the
    shuffle key IS the equivalence class, so class-size counting is one
    exchange; the hash and banding are scan-stage projections. Mirrors
    what the reference's PHI handling would need on Spark (its tables
    live behind SQL Server RLS; here masking is an operator)."""
    cust = load(spark, sf_dir, "customer")
    band = (F.floor(F.col("c_acctbal") / 1000) * 1000).cast("int")
    w = Window.partitionBy("c_nationkey", "c_mktsegment", "bal_band")
    return (
        cust.select(
            "c_custkey",
            F.sha2(F.col("c_name"), 256).alias("pseudonym"),
            "c_nationkey",
            "c_mktsegment",
            band.alias("bal_band"),
        )
        .withColumn("group_n", F.count(F.lit(1)).over(w))
        .withColumn("suppressed", F.col("group_n") < 5)
    )


# ===========================================================================
# C4-style boilerplate segment removal (cross-document repeated spans)
# ===========================================================================

_SEG_K = 4          # tokens per segment
_SEG_MIN_DOCS = 3   # a segment in >= this many docs is boilerplate

_BOILER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
), seg AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(unnest(list_transform(range(0, CAST(FLOOR(len(toks) / {_SEG_K}) AS BIGINT)),
                i -> array_to_string(toks[CAST(i * {_SEG_K} + 1 AS INTEGER):CAST(i * {_SEG_K} + {_SEG_K} AS INTEGER)], ' ')))), 1, 15)) AS BIGINT) AS seg_h
  FROM t
), boiler AS (
  SELECT seg_h FROM (SELECT seg_h, COUNT(DISTINCT doc_id) AS n_docs FROM seg GROUP BY seg_h)
  WHERE n_docs >= {_SEG_MIN_DOCS}
), perdoc AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS INTEGER) AS n_segments,
         CAST(SUM(CASE WHEN b.seg_h IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS n_boilerplate
  FROM seg s LEFT JOIN boiler b USING (seg_h) GROUP BY s.doc_id
)
SELECT t.doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       COALESCE(p.n_segments, 0) AS n_segments,
       COALESCE(p.n_boilerplate, 0) AS n_boilerplate,
       CAST(len(toks) - {_SEG_K} * COALESCE(p.n_boilerplate, 0) AS INTEGER) AS n_clean_tokens
FROM t LEFT JOIN perdoc p USING (doc_id)
"""


@register("boilerplate_segment_dedup", _BOILER_ORACLE)
def boilerplate_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal, the C4/CCNet move: chunk every
    document into fixed 4-token segments, count how many distinct
    documents each segment appears in, call a segment boilerplate when it
    recurs in >= 3 docs (headers, footers, license blocks, templated
    spans), and report per-doc how many tokens survive.

    Scale shape: the corpus-wide shuffle carries (segment, doc_id) pairs
    with map-side partial aggregation; the boilerplate set — tiny
    relative to the corpus by construction — broadcasts back for the
    per-doc count, and the final per-doc aggregation keys on doc_id.
    Document bodies never shuffle, and the corpus is scanned ONCE: the
    per-doc invariants (n_tokens, n_segments) ride through the explode
    as two ints per segment row and come back out of the final doc_id
    aggregation with first(), so no second scan + join is needed to
    re-attach them (measured ~20% of the entry's wall-clock)."""
    docs = load(spark, sf_dir, "documents")
    # bind the token array to a MATERIALIZED column before the segment
    # lambda uses it: Catalyst does not share subtrees across lambda
    # bodies, and CollapseProject re-inlines a mere projection alias, so
    # without a plan boundary the split() re-runs inside transform() —
    # once per segment
    tokd = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("__toks")
    )
    toks = F.col("__toks")
    nseg = F.floor(F.size(toks) / _SEG_K).cast("int")
    segs = F.when(
        nseg > 0,
        F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * _SEG_K + 1, _SEG_K)),
        ),
    ).otherwise(F.array().cast("array<string>"))

    from apde_etl_spark.operators.similarity import hash60

    base = tokd.select(
        "doc_id", F.size(toks).cast("int").alias("n_tokens"), segs.alias("segs")
    )
    # segments ride as fixed-width 60-bit hashes, and the exploded
    # relation is persisted: the global boilerplate set forces two
    # passes over it, and re-deriving segments means running
    # tokenize+slice+concat over every body twice — ~24 bytes/segment
    # of cache (MEMORY_AND_DISK) is the cheaper side of that trade at
    # any scale. Released below once the small per-doc result
    # materializes. explode_outer keeps segment-less docs (< _SEG_K
    # tokens) as a NULL-seg row so they still reach the output.
    # scope-tracked (round 11) instead of persist + eager final
    # checkpoint + unpersist: the old shape ran the WHOLE pipeline as a
    # construct-time action purely to release this cache before
    # returning (~1s of the entry's wall in driver job overhead). The
    # caller's own action now materializes the cache once and
    # release_scope frees it — the standard lifecycle for persisted
    # projections here.
    from apde_etl_spark.operators.cache import tracked_persist

    seg = tracked_persist(
        base.select(
            "doc_id", "n_tokens",
            F.size("segs").cast("int").alias("n_segments"),
            F.explode_outer("segs").alias("seg"),
        )
        .select(
            "doc_id", "n_tokens", "n_segments",
            F.when(F.col("seg").isNotNull(), hash60(F.col("seg"))).alias("seg_h"),
        ),
        scope="text",
    )
    boiler = (
        seg.filter(F.col("seg_h").isNotNull())
        .groupBy("seg_h")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= _SEG_MIN_DOCS)
        .select("seg_h")
    )
    # no broadcast HINT: the boilerplate set is usually tiny (AQE will
    # broadcast it), but its size is data-dependent — a templated corpus
    # can have a huge one, and a forced broadcast would pin it in every
    # executor; AQE downgrades to a shuffled join in that case
    result = (
        seg.join(boiler.withColumn("__b", F.lit(1)), "seg_h", "left")
        .groupBy("doc_id")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.first("n_segments").alias("n_segments"),
            F.sum(F.when(F.col("__b").isNotNull(), 1).otherwise(0))
            .cast("int").alias("n_boilerplate"),
        )
        .select(
            "doc_id", "n_tokens", "n_segments", "n_boilerplate",
            (F.col("n_tokens") - _SEG_K * F.col("n_boilerplate"))
            .cast("int")
            .alias("n_clean_tokens"),
        )
    )
    return result


# ===========================================================================
# Stream-stream interval join (view -> purchase attribution window)
# ===========================================================================

_SS_JOIN_ORACLE = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       p.ts AS purchase_ts
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


@register("stream_stream_interval_join", _SS_JOIN_ORACLE)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True stream-stream join — the attribution classic: every purchase
    joined to the views by the same user in the preceding hour. Both
    sides are watermarked streams; the event-time range condition bounds
    the join state (views older than watermark + 1h are evicted), so
    state is O(events per user-hour), not O(stream).

    Runs as a real two-source Structured Streaming query (file source x2
    -> interval inner join -> availableNow -> memory sink); the batch
    self-join is the oracle. Replay-exactness caveat: inner-join output
    matches the batch join only when each side lands in a single
    micro-batch (the availableNow single-file case here) or arrives
    within the watermark's disorder bound — with multiple micro-batches
    (maxFilesPerTrigger, many files) watermark-driven state eviction
    BETWEEN batches can drop matches for sufficiently out-of-order
    events, making results batching-dependent. At scale, widen the
    view-side watermark relative to the join range to cover the
    expected disorder."""
    # TIMESTAMP(NANOS) parquet needs the legacy conf before the schema read
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def stream():
        src = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return normalize_ts(src)

    views = (
        stream()
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        F.col("p_ts").alias("purchase_ts"),
    )
    name = "stream_stream_interval_join_sink"
    q = (
        joined.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name).select("user_id", "view_id", "purchase_id", "purchase_ts")


# ===========================================================================
# Streaming upsert sink — foreachBatch merge into a keyed state table
# ===========================================================================

_FB_UPSERT_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), cnt AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY user_id
)
SELECT r.user_id, r.event_type AS last_event_type, r.ts AS last_ts, c.n_events
FROM ranked r JOIN cnt c USING (user_id)
WHERE rn = 1
"""


def run_idempotent_upsert(src: DataFrame, workdir: str, fold_batch) -> str:
    """Generic idempotent foreachBatch upsert runner — the guard + swap
    contract extracted so every streaming upsert entry shares ONE
    implementation (per-user latest-event below; entity resolution in
    catalog_r6.stream_linkage_upsert).

    ``fold_batch(batch_df, existing_or_None) -> DataFrame`` produces the
    NEW full state from one micro-batch plus the current state table.
    foreachBatch is at-least-once, so the sink supplies the missing
    idempotence itself: every state version records the checkpoint run
    key and the epoch that produced it (an ``_applied_epoch`` marker —
    underscore files are invisible to the parquet reader), and a
    replayed epoch <= the marker FROM THE SAME CHECKPOINT LINEAGE is
    skipped instead of double-applied. The run key (a ``_run_key`` file
    created once per checkpoint directory) is what makes the guard safe
    to reuse: epoch ids restart at 0 in a fresh checkpoint, so without
    it a reused state dir would silently skip all new batches — with
    it, a key mismatch disables skipping and the new lineage's batches
    apply normally. The swap renames the live state aside before
    renaming the staged version in (two renames, no delete-then-rename
    window that could drop the table), then removes the old version. At
    scale the same shape is a Delta/Iceberg MERGE INTO, which supplies
    the versioned-swap + idempotence for free. Returns the state path.
    """
    import os
    import uuid

    target = f"{workdir}/state"
    ckpt = f"{workdir}/ckpt"

    os.makedirs(ckpt, exist_ok=True)
    try:
        with open(f"{ckpt}/_run_key") as fh:
            run_key = fh.read().strip()
    except OSError:
        run_key = uuid.uuid4().hex
        with open(f"{ckpt}/_run_key", "w") as fh:
            fh.write(run_key)

    def applied_epoch() -> int:
        """Epoch recorded by THIS checkpoint lineage; -1 when the state
        was produced by a different (or no) checkpoint."""
        try:
            with open(f"{target}/_applied_epoch") as fh:
                key, _, epoch = fh.read().strip().partition(":")
                return int(epoch) if key == run_key else -1
        except (OSError, ValueError):
            return -1

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id <= applied_epoch():
            return  # same-lineage replayed epoch: already folded in
        spk = batch_df.sparkSession
        existing = (
            spk.read.parquet(target) if os.path.exists(target) else None
        )
        part = fold_batch(batch_df, existing)
        staged = f"{workdir}/state_epoch{epoch_id}"
        part.write.mode("overwrite").parquet(staged)
        with open(f"{staged}/_applied_epoch", "w") as fh:
            fh.write(f"{run_key}:{epoch_id}")
        import shutil

        old = f"{workdir}/state_old_{epoch_id}"
        if os.path.exists(target):
            os.rename(target, old)
        os.rename(staged, target)
        shutil.rmtree(old, ignore_errors=True)

    q = (
        src.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return target


def run_foreachbatch_upsert(src: DataFrame, workdir: str) -> DataFrame:
    """Run the foreachBatch upsert over any streaming source: each
    micro-batch reduces to one row per user (count + max event struct)
    and merges with the existing state table by re-aggregating the union
    — an associative merge, so the result is identical however the
    stream is micro-batched. Idempotence/swap machinery:
    :func:`run_idempotent_upsert`."""

    def fold(batch_df: DataFrame, existing: DataFrame | None) -> DataFrame:
        part = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.struct("ts", "event_id", "event_type")).alias("latest"),
        )
        if existing is not None:
            part = (
                existing.unionByName(part)
                .groupBy("user_id")
                .agg(F.sum("n_events").alias("n_events"),
                     F.max("latest").alias("latest"))
            )
        return part

    target = run_idempotent_upsert(src, workdir, fold)
    return src.sparkSession.read.parquet(target).select(
        "user_id",
        F.col("latest.event_type").alias("last_event_type"),
        F.col("latest.ts").alias("last_ts"),
        "n_events",
    )


@register("stream_foreachbatch_upsert", _FB_UPSERT_ORACLE)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production streaming-sink pattern the built-in sinks don't
    cover: ``foreachBatch`` upserting a keyed state table (per-user
    latest event + lifetime event count) in a lake directory — see
    :func:`run_foreachbatch_upsert` for the merge contract. The batch
    latest-per-user + count query is the oracle;
    tests/test_r2_ops.py proves micro-batch invariance by replaying the
    same events one file per batch."""
    import atexit
    import shutil
    import tempfile

    # TIMESTAMP(NANOS) parquet needs the legacy conf before the schema read
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = normalize_ts(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    workdir = tempfile.mkdtemp(prefix="fb_upsert_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    return run_foreachbatch_upsert(src, workdir)


# ===========================================================================
# TPC-H Q12 analogue — fact-fact join + conditional-count pivot
# ===========================================================================

_Q12_ORACLE = """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE CAST(l.l_shipdate AS DATE) >= DATE '1995-01-01'
  AND CAST(l.l_shipdate AS DATE) < DATE '1996-01-01'
GROUP BY 1
"""


@register("q12_priority_shipment", _Q12_ORACLE)
def q12_priority_shipment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12's shape on this schema: the year's shipments joined to
    their orders, conditional-count pivot on priority class. The range
    predicate pushes into the lineitem scan BEFORE the join (Catalyst
    PushDownPredicates), so the fact-fact join only sees the filtered
    year; at warehouse scale both sides co-partition on the order key
    (or the orders side broadcasts when small enough — AQE's call)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    d = F.col("l_shipdate").cast("date")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (d >= F.lit("1995-01-01").cast("date"))
            & (d < F.lit("1996-01-01").cast("date"))
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# ===========================================================================
# Fuzzy string dedup — blocked Levenshtein pairs (typo-level near-dup)
# ===========================================================================

_FUZZY_ORACLE = """
WITH names AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
FROM names a JOIN names b
  ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
 AND abs(length(a.p_name) - length(b.p_name)) <= 2
 AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 4
"""


@register("fuzzy_name_pairs", _FUZZY_ORACLE)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level fuzzy matching — the string-dedup family member the
    hash/shingle methods can't express: distinct name pairs within
    Levenshtein distance 4 (the fixture's word-swap typo scale), with
    classic blocking so the quadratic
    comparison only happens inside small candidate groups (equal first
    character AND length within +-2 — both necessary-ish conditions for
    a small edit distance, each cheap to join on). At scale the block
    key is the shuffle key and the per-block candidate sets stay tiny;
    the O(n^2)-within-block verify is the standard record-linkage
    trade. The oracle runs the identical blocking + verify in SQL."""
    names = load(spark, sf_dir, "part").select("p_name").distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    cand = a.join(
        b,
        (F.substring("name_a", 1, 1) == F.substring("name_b", 1, 1))
        & (F.abs(F.length("name_a") - F.length("name_b")) <= 2)
        & (F.col("name_a") < F.col("name_b")),
    )
    return (
        cand.withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 4)
        .select("name_a", "name_b", F.col("edit_dist").cast("int").alias("edit_dist"))
    )


# ===========================================================================
# Observation-API load QA (A9 without the second scan)
# ===========================================================================

_OBSERVE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
       CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_dates,
       CAST(MIN(year(o_orderdate)) AS INTEGER) AS min_year,
       CAST(MAX(year(o_orderdate)) AS INTEGER) AS max_year
FROM orders
"""


@register("observe_load_qa_metrics", _OBSERVE_ORACLE)
def observe_load_qa_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's load-QA check re-done the Spark-native way: it
    runs ``COUNT(*)`` queries against archive and stage AFTER the load
    (load_table_from_sql.R:327-336 — a second full scan per check).
    Here the QA metrics ride the load action itself via the Observation
    API: the observed aggregates are computed in the same pass that
    materializes the data, so validation costs ZERO extra scans at any
    scale. The write is a real lake write; the observation result comes
    back as a one-row DataFrame the oracle recomputes independently."""
    import shutil
    import tempfile

    from pyspark.sql import Observation

    o = load(spark, sf_dir, "orders")
    obs = Observation("load_qa")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        # no DISTINCT in observed metrics (analyzer rule); a key
        # checksum is the classic substitute for cross-load comparison
        F.sum("o_orderkey").alias("key_checksum"),
        F.sum(F.col("o_orderdate").isNull().cast("long")).alias("n_null_dates"),
        F.min(F.year("o_orderdate")).cast("int").alias("min_year"),
        F.max(F.year("o_orderdate")).cast("int").alias("max_year"),
    )
    workdir = tempfile.mkdtemp(prefix="observe_qa_")
    try:
        observed.write.mode("overwrite").parquet(f"{workdir}/orders")  # the one action
        m = obs.get
    finally:
        # metrics are materialized on success; on a failed write the
        # partial output must not outlive the call either
        shutil.rmtree(workdir, ignore_errors=True)
    return local_frame(
        spark,
        [(m["n_rows"], m["key_checksum"], m["n_null_dates"], m["min_year"], m["max_year"])],
        "n_rows bigint, key_checksum bigint, n_null_dates bigint, min_year int, max_year int",
    )


# ===========================================================================
# Deterministic epoch plan — fractional source up-sampling without RNG
# ===========================================================================

_EPOCH_TARGET = {"alpha": 0.5, "budget_per_source": 40}

_EPOCH_PLAN_ORACLE = f"""
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
), w AS (
  SELECT source, n_docs,
         {_EPOCH_TARGET["budget_per_source"]}.0 * POW(n_docs, {_EPOCH_TARGET["alpha"]})
           / (SELECT AVG(POW(n_docs, {_EPOCH_TARGET["alpha"]})) FROM s) AS target_docs
  FROM s
), per AS (
  SELECT source, n_docs, target_docs, target_docs / n_docs AS repeat_factor FROM w
)
SELECT d.doc_id, d.source,
       CAST(FLOOR(p.repeat_factor) AS INTEGER)
         + CASE WHEN (CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || d.source), 1, 15)) AS BIGINT) % 1000000) / 1000000.0
                     < p.repeat_factor - FLOOR(p.repeat_factor)
                THEN 1 ELSE 0 END AS n_repeats
FROM documents d JOIN per p USING (source)
"""


@register("epoch_plan_repeats", _EPOCH_PLAN_ORACLE)
def epoch_plan_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampling-plan capstone over the temperature weights: turn a
    per-source target document count into a PER-DOC integer repeat count
    with no RNG — every doc repeats floor(factor) times, plus one more
    when its content hash falls under the fractional part, so the
    realized count concentrates tightly around the target and the plan
    is bit-reproducible on any engine (the anti-flakiness property
    RNG-based samplers lose). The per-source factor table is tiny ->
    broadcast joins onto the corpus; the plan is otherwise a pure
    projection."""
    from apde_etl_spark.operators.similarity import hash60

    alpha = _EPOCH_TARGET["alpha"]
    budget = _EPOCH_TARGET["budget_per_source"]
    docs = load(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy()
    pw = F.pow(F.col("n_docs"), F.lit(alpha))
    per = per.withColumn(
        "repeat_factor", budget * pw / F.avg(pw).over(w) / F.col("n_docs")
    )
    frac_hash = (
        hash60(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source")))
        % 1000000
    ) / 1000000.0
    return docs.select("doc_id", "source").join(
        F.broadcast(per.select("source", "repeat_factor")), "source"
    ).select(
        "doc_id",
        "source",
        (
            F.floor("repeat_factor")
            + F.when(frac_hash < F.col("repeat_factor") - F.floor("repeat_factor"), 1)
            .otherwise(0)
        ).cast("int").alias("n_repeats"),
    )


# ===========================================================================
# Streaming numeric profile (the A2 operator's streaming face)
# ===========================================================================

_STREAM_NUM_ORACLE = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       'value' AS varname,
       {_sql_round('AVG(value)', 6)} AS mean,
       MIN(value) AS min,
       MAX(value) AS max
FROM events
GROUP BY 1, 2
"""


@register("stream_hourly_numeric_stats", _STREAM_NUM_ORACLE)
def stream_hourly_numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming numeric profile: per-hour mean/min/max of the value
    column over the watermarked event stream (complete mode — every
    window in the batch oracle must appear). Completes the streaming
    profile family next to missingness and categorical frequency; exact
    medians stay batch-side by design (unbounded per-window state)."""
    from apde_etl_spark.streaming.profile_stream import windowed_numeric_stats

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = normalize_ts(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    stats = windowed_numeric_stats(src, "ts", ["value"], window="1 hour",
                                   watermark="2 hours")
    stats = stats.select(
        "window_start", "window_end", "varname",
        round_half_away(F.col("mean"), 6).alias("mean"), "min", "max",
    )
    name = "stream_hourly_numeric_stats_sink"
    q = (
        stats.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "window_start", "window_end", "varname", "mean", "min", "max"
    )


# ===========================================================================
# U5 (ext) — schema-evolving union with TYPE drift (beyond NULL-padding)
# ===========================================================================

_U5_ORACLE = """
WITH era1 AS (
  -- FLOOR before the int cast: Spark's cast truncates toward zero while
  -- DuckDB's rounds; floor aligns them for the positive prices here
  SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS INTEGER) AS o_totalprice,
         o_orderdate
  FROM orders WHERE year(o_orderdate) < 1998
), era2 AS (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE year(o_orderdate) >= 1998
), unioned AS (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
         o_orderdate, CAST(NULL AS VARCHAR) AS o_orderpriority
  FROM era1
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderdate, o_orderpriority FROM era2
)
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_priority
FROM unioned GROUP BY 1
"""


@register("u5_union_type_drift", _U5_ORACLE)
def u5_union_type_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 taken one step past the reference (SURVEY §7.2e): per-era
    tables where a column's TYPE drifted (int totalprice in old years,
    double in new) AND a column appeared later. union_evolving widens
    same-named columns to the common type (numeric chain -> widest) and
    NULL-pads the missing one — the reference's generated UNION ALL pads
    only for presence and would fail on the type change. The oracle
    replays the widening with explicit casts."""
    from apde_etl_spark.sources.readers import union_evolving

    o = load(spark, sf_dir, "orders")
    era1 = o.filter(F.year("o_orderdate") < 1998).select(
        "o_orderkey",
        F.col("o_totalprice").cast("int").alias("o_totalprice"),
        "o_orderdate",
    )
    era2 = o.filter(F.year("o_orderdate") >= 1998).select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    unioned = union_evolving([era1, era2])
    return unioned.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        F.sum(F.col("o_orderpriority").isNull().cast("long")).alias("n_null_priority"),
    )


# ===========================================================================
# W6 (ext) — the remaining rank-family window functions in one pass
# ===========================================================================

_RANK_FAMILY_ORACLE = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(rank() OVER wr AS BIGINT) AS priority_rank,
       percent_rank() OVER wr AS priority_percent_rank,
       cume_dist() OVER wr AS priority_cume_dist,
       CAST(ntile(4) OVER wn AS INTEGER) AS price_quartile
FROM orders
WINDOW wr AS (PARTITION BY year(o_orderdate) ORDER BY o_orderpriority),
       wn AS (PARTITION BY year(o_orderdate) ORDER BY o_totalprice, o_orderkey)
"""


@register("w6_rank_family", _RANK_FAMILY_ORACLE)
def w6_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-family window functions the reference never needed but an
    engine must have, with their tie semantics actually exercised: rank /
    percent_rank / cume_dist order by the 5-value order priority, so
    every peer group is large (gapped ranks, shared cume_dist — these
    functions are tie-invariant, no tiebreaker needed or wanted); ntile
    orders by (price, unique key) because ntile splits peers by row
    POSITION and would otherwise be nondeterministic. Both windows share
    the partition key, so one shuffle feeds both."""
    o = load(spark, sf_dir, "orders")
    wr = Window.partitionBy(F.year("o_orderdate")).orderBy("o_orderpriority")
    wn = (
        Window.partitionBy(F.year("o_orderdate"))
        .orderBy("o_totalprice", "o_orderkey")
    )
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.rank().over(wr).cast("bigint").alias("priority_rank"),
        F.percent_rank().over(wr).alias("priority_percent_rank"),
        F.cume_dist().over(wr).alias("priority_cume_dist"),
        F.ntile(4).over(wn).cast("int").alias("price_quartile"),
    )


# ===========================================================================
# Overlapping token-window chunker (RAG / context-window preparation)
# ===========================================================================

_CHUNK_W = 32   # tokens per chunk
_CHUNK_S = 24   # stride (8-token overlap)

_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
), spans AS (
  SELECT doc_id, len(toks) AS n_tokens,
         unnest(range(0, CASE WHEN len(toks) <= {_CHUNK_W} THEN 1
                              ELSE CAST(CEIL((len(toks) - {_CHUNK_W}) / {_CHUNK_S}.0) AS BIGINT) + 1 END)) AS chunk_idx,
         toks
  FROM t
)
SELECT doc_id,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(chunk_idx * {_CHUNK_S} AS INTEGER) AS start_token,
       CAST(least(chunk_idx * {_CHUNK_S} + {_CHUNK_W}, n_tokens) AS INTEGER) AS end_token,
       array_to_string(toks[CAST(chunk_idx * {_CHUNK_S} + 1 AS INTEGER):CAST(least(chunk_idx * {_CHUNK_S} + {_CHUNK_W}, n_tokens) AS INTEGER)], ' ') AS chunk_text
FROM spans
"""


@register("chunk_documents_overlap", _CHUNK_ORACLE)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunker — the RAG / context-window prep
    op: 32-token chunks at stride 24 (so consecutive chunks share 8
    tokens), every token covered, the final chunk truncated at the
    document end. Native sequence +
    transform + explode: the chunk count per doc is
    ceil((n - w) / s) + 1, computed in the scan stage — no shuffle at
    all until a downstream op groups the chunks."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    n_chunks = F.when(n <= _CHUNK_W, F.lit(1)).otherwise(
        F.ceil((n - _CHUNK_W) / F.lit(float(_CHUNK_S))).cast("int") + 1
    )
    chunks = docs.select(
        "doc_id",
        n.alias("n_tokens"),
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * _CHUNK_S
    end = F.least(start + _CHUNK_W, F.col("n_tokens"))
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        start.cast("int").alias("start_token"),
        end.cast("int").alias("end_token"),
        F.concat_ws(" ", F.slice("toks", start + 1, end - start)).alias("chunk_text"),
    )


# ===========================================================================
# Histogram-mode exact median (bounded-state A3 for huge groups)
# ===========================================================================

_HIST_MEDIAN_ORACLE = """
SELECT CAST(year(l_shipdate) AS INTEGER) AS time_period,
       'l_extendedprice' AS varname,
       median(CAST(l_extendedprice AS DOUBLE)) AS median
FROM lineitem GROUP BY 1
UNION ALL
SELECT CAST(year(l_shipdate) AS INTEGER),
       'l_quantity',
       median(CAST(l_quantity AS DOUBLE))
FROM lineitem GROUP BY 1
"""


@register("a3_median_histogram_mode", _HIST_MEDIAN_ORACLE)
def a3_median_histogram_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3's scale-out variant: exact interpolating medians computed as a
    distributed value histogram + cumulative-rank window instead of the
    in-aggregate ``percentile`` buffer. Same R median semantics, but
    aggregate state is bounded by distinct values per partition (the
    window spills), so it survives periods with billions of rows where
    the buffering percentile cannot. DuckDB ``median`` is the oracle."""
    from apde_etl_spark.operators.profile import exact_median_histogram

    li = load(spark, sf_dir, "lineitem")
    base = li.select(
        F.year("l_shipdate").cast("int").alias("__time"),
        "l_extendedprice",
        "l_quantity",
    )
    return exact_median_histogram(base, "__time", ["l_extendedprice", "l_quantity"])


# ===========================================================================
# Multimodal resize stage (Arrow-batched binary in -> binary out)
# ===========================================================================

_MM_RESIZE_ORACLE = """
SELECT doc_id,
       hex('64x64:'::BLOB || unhex(md5(text))) AS resized_hex,
       CAST(64 AS INTEGER) AS width,
       CAST(64 AS INTEGER) AS height
FROM documents
"""


@register("mm_image_resize", _MM_RESIZE_ORACLE)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize stage: an Arrow stage's binary->binary
    transform setting target dims (real codec stubbed per container
    constraints; the deterministic fake keeps md5 lineage). No shuffle —
    the stage pipelines directly after the scan at corpus scale. The
    oracle regenerates the fake's exact bytes in SQL, so the whole Arrow
    round-trip is value-hash-checked like the decode stages."""
    from apde_etl_spark.operators.multimodal import (
        deterministic_fake_resizer,
        resize_images,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("content")
    )
    resized = resize_images(docs, "content", target_w=64, target_h=64,
                            resizer=deterministic_fake_resizer)
    return resized.select(
        "doc_id", F.hex("content").alias("resized_hex"), "width", "height"
    )


# ===========================================================================
# Variant semi-structured extraction (Spark 4 VariantType)
# ===========================================================================

_VARIANT_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
"""


@register("variant_props_stats", _VARIANT_ORACLE)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads through VariantType (Spark 4): the JSON
    props column parses ONCE into the binary variant encoding, and typed
    path extraction (``try_variant_get``) runs on that — at scale this
    beats per-expression ``get_json_object`` re-parsing, and unlike a
    fixed struct schema it tolerates heterogeneous/evolving payloads.
    DuckDB's json_extract is the oracle."""
    ev = load_events(spark, sf_dir).filter(F.col("props").isNotNull())
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").cast("int").alias("max_k"),
        )
    )


# ===========================================================================
# LATERAL correlated subquery (top-1-per-group via decorrelation)
# ===========================================================================

_LATERAL_SQL = """
SELECT n.n_name, s.c_custkey AS top_custkey, s.c_acctbal AS top_acctbal
FROM nation n, LATERAL (
  SELECT c_custkey, c_acctbal
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey ASC
  LIMIT 1
) s
"""


@register("lateral_top_customer_per_nation", _LATERAL_SQL)
def lateral_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery — top customer per nation written as
    the SQL-standard per-row subquery; Catalyst decorrelates it into a
    join + windowed top-1 rather than executing per-nation loops (the
    same physical plan the DataFrame window recipe produces). The
    identical SQL text runs on DuckDB as the oracle — the cross-engine
    SQL-surface check."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_SQL)


# ===========================================================================
# CUBE grouping sets (all 2^k subtotal combinations)
# ===========================================================================

_CUBE_ORACLE = """
SELECT event_type,
       CAST(ts AS DATE) AS day,
       CAST(GROUPING(event_type) * 2 + GROUPING(CAST(ts AS DATE)) AS INTEGER) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY CUBE(event_type, CAST(ts AS DATE))
"""


@register("cube_event_day_counts", _CUBE_ORACLE)
def cube_event_day_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day): all four subtotal combinations in one
    pass (per-cell, per-type, per-day, grand total), with grouping_id
    disambiguating subtotal NULLs from data NULLs — the full grouping-set
    family next to the ROLLUP entry. One Expand + one hash aggregate;
    shuffle rows ~= cells x 4, not raw rows, thanks to map-side partial
    aggregation."""
    ev = load_events(spark, sf_dir)
    return (
        ev.withColumn("day", F.col("ts").cast("date"))
        .cube("event_type", "day")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("event_type", "day", "gid", "n")
    )


# ===========================================================================
# Custom Python Data Source (Spark 4) — registered function-sourced scan
# ===========================================================================

_PYDS_ROWS = 20000

_PYDS_ORACLE = f"""
WITH g AS (
  SELECT i, md5(CAST(i AS VARCHAR)) AS h FROM range(0, {_PYDS_ROWS}) t(i)
), e AS (
  SELECT i AS event_id,
         (['view', 'purchase', 'signup', 'error'])[(CAST(concat('0x', substr(h, 1, 2)) AS INTEGER) % 4) + 1] AS event_type,
         CAST(CAST(concat('0x', substr(h, 3, 8)) AS BIGINT) % 10000 AS BIGINT) AS value_cents
  FROM g
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(value_cents) AS BIGINT) AS total_cents,
       CAST(MIN(event_id) AS BIGINT) AS first_id
FROM e GROUP BY event_type
"""


@register("pyds_synthetic_events_agg", _PYDS_ORACLE)
def pyds_synthetic_events_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S8 modernized: the reference dispatches to a named R
    data-access function at plan time
    (getFromNamespace(...), R/etl_qa_run_pipeline.R:856-861); here the
    function source is a REGISTERED Spark data source (Python Data
    Source API) — ``spark.read.format("apde_synthetic_events")`` plans
    partitioned parallel reads on executors, with no driver-side
    materialization. Rows derive deterministically from md5(row index),
    so DuckDB reproduces the whole table from ``range()`` with the same
    arithmetic — proving the connector feeds the engine byte-identical
    data. Sums aggregate integral cents, so no float-order concerns."""
    from apde_etl_spark.sources.pydatasource import register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format("apde_synthetic_events")
        .option("rows", str(_PYDS_ROWS))
        .option("partitions", "8")
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
        F.min("event_id").alias("first_id"),
    )


# ===========================================================================
# Custom streaming source — offset-managed micro-batches with resume
# ===========================================================================

_PYDS_STREAM_ROWS = 2000

_PYDS_STREAM_ORACLE = f"""
WITH g AS (
  SELECT i, md5(CAST(i AS VARCHAR)) AS h FROM range(0, {_PYDS_STREAM_ROWS}) t(i)
), e AS (
  SELECT i AS event_id,
         (['view', 'purchase', 'signup', 'error'])[(CAST(concat('0x', substr(h, 1, 2)) AS INTEGER) % 4) + 1] AS event_type,
         CAST(CAST(concat('0x', substr(h, 3, 8)) AS BIGINT) % 10000 AS BIGINT) AS value_cents
  FROM g
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(value_cents) AS BIGINT) AS total_cents
FROM e GROUP BY event_type
"""


@register("pyds_stream_resume_agg", _PYDS_STREAM_ORACLE)
def pyds_stream_resume_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING source (Python Data Source API simple stream
    reader) driven to completion across restarts: offsets are row
    indices; each availableNow run processes one prefetched micro-batch
    into a durable parquet sink, then the next run resumes from the
    committed checkpoint offset. The loop IS the demonstration —
    exactly-once across query restarts, no row lost or doubled — and
    the oracle regenerates the full table from the same md5 formula, so
    the hash check proves it."""
    import glob
    import tempfile

    from apde_etl_spark.sources.pydatasource import register_synthetic_source

    register_synthetic_source(spark)
    workdir = tempfile.mkdtemp(prefix="pyds_stream_")
    import atexit
    import shutil

    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    out, ckpt = f"{workdir}/out", f"{workdir}/ckpt"
    src = (
        spark.readStream.format("apde_synthetic_events")
        .option("rows", str(_PYDS_STREAM_ROWS))
        .option("batchRows", "500")
        .load()
    )
    for _ in range(16):  # 2000 rows / 500 per batch -> 4 runs + slack
        q = (
            src.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if not glob.glob(f"{out}/part-*"):
            continue  # first run produced no files yet
        if spark.read.parquet(out).count() >= _PYDS_STREAM_ROWS:
            break
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_cents").alias("total_cents"),
        )
    )


# ===========================================================================
# Temperature-based source mixture weights (multilingual-style sampling)
# ===========================================================================

_TEMP_ALPHA = 0.5

_TEMP_MIX_ORACLE = f"""
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
)
SELECT source, n_docs,
       {_sql_round('n_docs / SUM(n_docs) OVER ()', 6)} AS raw_share,
       {_sql_round(f'POW(n_docs, {_TEMP_ALPHA}) / SUM(POW(n_docs, {_TEMP_ALPHA})) OVER ()', 6)} AS temp_weight
FROM s
"""


@register("temperature_source_mixture", _TEMP_MIX_ORACLE)
def temperature_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened sampling weights per source (alpha = 0.5):
    the standard move for rebalancing a multi-source corpus so
    low-resource sources are up-sampled without drowning the head.
    w_s = n_s^alpha / sum(n_s^alpha), next to the raw share for
    comparison. One count-by-source aggregate; the normalizing window is
    over the per-source aggregate (sources, not documents)."""
    docs = load(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy()
    pw = F.pow(F.col("n_docs"), F.lit(_TEMP_ALPHA))
    return per.select(
        "source",
        "n_docs",
        round_half_away(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("raw_share"),
        round_half_away(pw / F.sum(pw).over(w), 6).alias("temp_weight"),
    )
