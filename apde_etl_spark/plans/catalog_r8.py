"""Round-8 catalog: hierarchical (HNSW-class) graph-ANN serving.

The round-7 flat small-world graph serves with a FIXED hop budget, and
its recall is diameter-limited: 0.96 at 20k manifold vectors but 0.75
at 200k (BASELINE.md "Graph-ANN regime split") because the corpus
diameter grows ~log n past the fixed hops. The round-8 index adds
deterministic HNSW-style layers (Malkov & Yashunin 2018, public
method): geometrically-thinned upper-layer node sets (hash-based level
draw — ``hash60(id) % factor**l == 0``, no RNG state) each carrying
their own exact k-NN adjacency, persisted beside the flat artifacts
(operators/ann_index.py:build_knn_graph / ann_graph_search_layered).
Serving descends the layers with a fixed expand-score-cut beam —
O(log n) hops to the target's neighborhood — then runs the flat
layer-0 walk seeded by the descent beam plus the hash-stratified
entries.

Every stage (level assignment, per-layer k-NN, descent rounds, layer-0
hops) is deterministic and unrolled hop-for-hop in the DuckDB oracle,
so both entries hash-gate like the flat-graph ones.

Reference parity: the reference has no vector index; this is part of
the training-data extension surface (SURVEY.md "beyond the
reference"). Provenance for the serve/oracle shape: the flat-graph
entries at plans/catalog_r7.py:414,476.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apde_etl_spark.plans.catalog import (
    _sql_round,
    load,
    materialize_ctes,
    register,
)
from apde_etl_spark.plans.catalog_r7 import _cached_workdir, _sql_g_cos
from apde_etl_spark.sources.readers import local_frame

# gate parameters — layer 0 matches the flat-graph entry (M=8, 2 long
# links, 16 entries, beam 10 / 3 hops); the hierarchy is 2 layers of
# factor-8 thinning with 4 neighbors per upper-layer node and a
# width-8 descent beam, 2 rounds per layer
_H_M = 8
_H_LONG = 2
_H_ENTRIES = 16
_H_K = 5
_H_BEAM = 10
_H_HOPS = 3
_H_LAYERS = 2
_H_FACTOR = 8
_H_LM = 4
_H_DBEAM = 8
_H_HPL = 2
_H_QUERY_PRED = "vec_id % 97 = 0"

_HNSW_CACHE: dict = {}


def _ensure_hnsw_index(spark: SparkSession, sf_dir: str) -> str:
    from apde_etl_spark.operators.ann_index import build_knn_graph

    def build(d: str) -> None:
        emb = load(spark, sf_dir, "embeddings")
        build_knn_graph(
            emb, d, n_neighbors=_H_M, n_entries=_H_ENTRIES,
            n_long_links=_H_LONG, n_layers=_H_LAYERS,
            layer_factor=_H_FACTOR, layer_neighbors=_H_LM)

    return _cached_workdir(_HNSW_CACHE, sf_dir, "apde_hnsw_", build)


def _hop(i_prev: str, i_new: str, graph_cte: str, width: int) -> str:
    """One expand-score-cut round: candidates = previous beam ∪ its
    ``graph_cte`` neighbors, exact-cosine scored, top ``width`` kept
    (cosine desc, id asc) — the SQL twin of one loop iteration in
    ann_graph_search_layered."""
    return f"""
cand{i_new} AS (
  SELECT DISTINCT query_id, cid FROM (
    SELECT query_id, cid FROM beam{i_prev}
    UNION ALL
    SELECT b.query_id, g.dst AS cid
    FROM beam{i_prev} b JOIN {graph_cte} g ON g.src = b.cid) u
), beam{i_new} AS (
  SELECT query_id, cid, cos FROM (
    SELECT c.query_id, c.cid,
           {_sql_g_cos('ce.v', 'ce.n', 'q.qv', 'q.qn')} AS cos,
           row_number() OVER (PARTITION BY c.query_id
             ORDER BY {_sql_g_cos('ce.v', 'ce.n', 'q.qv', 'q.qn')} DESC,
                      c.cid ASC) AS rk
    FROM cand{i_new} c
    JOIN e ce ON ce.vec_id = c.cid
    JOIN q ON q.query_id = c.query_id) s
  WHERE rk <= {width}
)"""


def _sql_hnsw_search_ctes() -> str:
    """Rebuild the layered index from first principles (level CASE,
    per-layer exact k-NN, flat graph + long links + entries) and unroll
    the descent + layer-0 walk. Ends at ``beam{_H_HOPS}``."""
    # level expression: largest l with hash60 % factor^l == 0
    lvl_case = "CASE " + " ".join(
        f"WHEN h % {_H_FACTOR ** l} = 0 THEN {l}"
        for l in range(_H_LAYERS, 0, -1)) + " ELSE 0 END"
    # per-layer node sets + adjacencies
    layer_ctes = []
    for l in range(1, _H_LAYERS + 1):
        layer_ctes.append(f"""
e{l} AS (SELECT e.* FROM e JOIN lvl ON lvl.vec_id = e.vec_id
         WHERE lvl.lvl >= {l}),
g{l} AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY {_sql_g_cos('a.v', 'a.n', 'b.v', 'b.n')} DESC,
                      b.vec_id ASC) AS rn
    FROM e{l} a JOIN e{l} b ON a.vec_id != b.vec_id) s
  WHERE rn <= {_H_LM}
)""")
    # descent rounds: seed = every top-layer node, then HPL rounds per
    # layer from the top down; beam labels d0, d1, ... keep the unroll
    # readable
    rounds = []
    step = 0
    for l in range(_H_LAYERS, 0, -1):
        for _ in range(_H_HPL):
            rounds.append(_hop(f"d{step}", f"d{step + 1}", f"g{l}",
                               _H_DBEAM))
            step += 1
    last_d = f"d{step}"
    # layer-0 hops seeded by descent beam + stratified entries
    hops = [f"""
beam0 AS (
  SELECT query_id, cid, CAST(NULL AS DOUBLE) AS cos FROM (
    SELECT query_id, cid FROM beam{last_d}
    UNION
    SELECT query_id, eid AS cid FROM q, ent) u
)"""]
    for i in range(1, _H_HOPS + 1):
        hops.append(_hop(str(i - 1), str(i), "graph", _H_BEAM))
    return f"""
raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
e AS (SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, y -> y*y))) AS n FROM raw),
knn AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         row_number() OVER (PARTITION BY a.vec_id
           ORDER BY {_sql_g_cos('a.v', 'a.n', 'b.v', 'b.n')} DESC,
                    b.vec_id ASC) AS rn
  FROM e a JOIN e b ON a.vec_id != b.vec_id
),
rk AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS rn2
       FROM e),
nn AS (SELECT count(*) AS n FROM e),
longl AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM rk a CROSS JOIN nn CROSS JOIN range(1, {_H_LONG + 1}) t(r)
  INNER JOIN rk b
    ON b.rn2 = (a.rn2 * 2654435761 + r * 40503 + 12345) % nn.n
   AND b.vec_id != a.vec_id
),
graph AS (SELECT src, dst FROM knn WHERE rn <= {_H_M}
          UNION ALL SELECT src, dst FROM longl),
lvl AS (
  SELECT vec_id, {lvl_case} AS lvl FROM (
    SELECT vec_id,
           CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                AS BIGINT) AS h
    FROM e) z
),{",".join(layer_ctes)},
q AS (SELECT vec_id AS query_id, v AS qv,
             sqrt(list_sum(list_transform(v, y -> y*y))) AS qn
      FROM raw WHERE {_H_QUERY_PRED}),
ent AS (
  SELECT vec_id AS eid FROM (
    SELECT vec_id, row_number() OVER (ORDER BY
      CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
           AS BIGINT), vec_id) AS hrn
    FROM e) s WHERE hrn <= {_H_ENTRIES}
),
beamd0 AS (
  SELECT query_id, cid, cos FROM (
    SELECT q.query_id, s.vec_id AS cid,
           {_sql_g_cos('s.v', 's.n', 'q.qv', 'q.qn')} AS cos,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_sql_g_cos('s.v', 's.n', 'q.qv', 'q.qn')} DESC,
                      s.vec_id ASC) AS rk
    FROM q CROSS JOIN e{_H_LAYERS} s) t
  WHERE rk <= {_H_DBEAM}
),{",".join(rounds)},{",".join(hops)}"""


_HNSW_TOPK_SQL = f"""
WITH {_sql_hnsw_search_ctes()},
fin AS (
  SELECT query_id, cid, cos,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cos DESC, cid ASC) AS rnk
  FROM beam{_H_HOPS} WHERE cid != query_id
)
SELECT query_id, CAST(rnk AS INTEGER) AS rank, cid AS vec_id,
       {_sql_round('cos', 6)} AS cosine_sim
FROM fin WHERE rnk <= {_H_K}
"""
_HNSW_TOPK_SQL = materialize_ctes(
    _HNSW_TOPK_SQL, ("q", "e", "rk", "graph", "lvl")
    + tuple(f"g{l}" for l in range(1, _H_LAYERS + 1)))


@register("ann_hnsw_topk", _HNSW_TOPK_SQL)
def ann_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve a query batch (every 97th vector) from the PERSISTED
    layered graph index (operators/ann_index.py:
    ann_graph_search_layered): width-{dbeam} descent through the
    upper-layer adjacencies, then the flat layer-0 beam walk seeded by
    the descent result + stratified entries. The serve plan reads ONLY
    the frozen graph/graph_upper/graph_meta/layer_meta parquet + the
    two input frames — zero Python stages, zero construction scans
    (asserted in tests/test_plan_shapes.py). Oracle rebuilds levels and
    per-layer adjacencies from first principles and unrolls the
    identical descent + hops."""
    from apde_etl_spark.functions.core import round_half_away
    from apde_etl_spark.operators.ann_index import ann_graph_search_layered

    d = _ensure_hnsw_index(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr(_H_QUERY_PRED))
    out = ann_graph_search_layered(
        spark, d, queries, emb, k=_H_K, beam=_H_BEAM, hops=_H_HOPS,
        descend_beam=_H_DBEAM, hops_per_layer=_H_HPL)
    return out.select(
        "query_id", "rank", "vec_id",
        round_half_away(F.col("cosine_raw"), 6).alias("cosine_sim"),
    )


_HNSW_RECALL_SQL = f"""
WITH {_sql_hnsw_search_ctes()},
gtop AS (
  SELECT query_id, cid FROM (
    SELECT query_id, cid,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, cid ASC) AS rnk
    FROM beam{_H_HOPS} WHERE cid != query_id) z
  WHERE rnk <= {_H_K}
),
exact_q AS (
  SELECT vec_id AS query_id, bid AS cid FROM (
    SELECT a.vec_id, b.vec_id AS bid,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY {_sql_g_cos('a.v', 'a.n', 'b.v', 'b.n')} DESC,
                      b.vec_id ASC) AS rn
    FROM e a JOIN e b ON a.vec_id != b.vec_id
    WHERE a.{_H_QUERY_PRED}) t
  WHERE rn <= {_H_K}
)
SELECT 'hnsw_l{_H_LAYERS}f{_H_FACTOR}_m{_H_M}_b{_H_BEAM}_h{_H_HOPS}'
         AS method,
       CAST((SELECT count(*) FROM gtop JOIN exact_q
             ON gtop.query_id = exact_q.query_id
            AND gtop.cid = exact_q.cid) AS BIGINT) AS hits,
       CAST((SELECT count(*) FROM exact_q) AS BIGINT) AS n_exact,
       {_sql_round(
           'CAST((SELECT count(*) FROM gtop JOIN exact_q '
           'ON gtop.query_id = exact_q.query_id AND gtop.cid = exact_q.cid)'
           ' AS DOUBLE) / (SELECT count(*) FROM exact_q)', 6)}
       AS recall_at_k
"""
_HNSW_RECALL_SQL = materialize_ctes(
    _HNSW_RECALL_SQL, ("q", "exact_q", "e", "gtop", "rk", "graph", "lvl")
    + tuple(f"g{l}" for l in range(1, _H_LAYERS + 1)))


@register("ann_recall_hnsw", _HNSW_RECALL_SQL)
def ann_recall_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{k} of the layered-graph search against the exact
    top-{k} over the query sample — integer hit counts, hash-gated.
    The layered family exists for the 100 TB regime where the flat
    walk's fixed hop budget is diameter-starved: the 200k-vector
    stress point (tools/scale_stress_anngraph.py --mode hier) is the
    number this entry's knobs are tuned by."""
    from apde_etl_spark.functions.core import round_half_away
    from apde_etl_spark.operators.ann_index import ann_graph_search_layered
    from apde_etl_spark.operators.cache import tracked_persist
    from apde_etl_spark.operators.similarity import exact_topk_pairs

    d = _ensure_hnsw_index(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr(_H_QUERY_PRED))
    approx = ann_graph_search_layered(
        spark, d, queries, emb, k=_H_K, beam=_H_BEAM, hops=_H_HOPS,
        descend_beam=_H_DBEAM, hops_per_layer=_H_HPL,
    ).select(F.col("query_id").alias("id_a"), F.col("vec_id").alias("id_b"))
    truth = tracked_persist(exact_topk_pairs(
        emb, "vec_id", "embedding", k=_H_K,
        query_filter=F.expr(_H_QUERY_PRED),
    ), scope="r8")
    ex_n = truth.agg(F.count(F.lit(1)).alias("n_exact"))
    h = approx.join(truth, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("hits"))
    return h.crossJoin(ex_n).select(
        F.lit(f"hnsw_l{_H_LAYERS}f{_H_FACTOR}_m{_H_M}"
              f"_b{_H_BEAM}_h{_H_HOPS}").alias("method"),
        F.col("hits").cast("long").alias("hits"),
        F.col("n_exact").cast("long").alias("n_exact"),
        round_half_away(
            F.col("hits").cast("double") / F.col("n_exact"), 6
        ).alias("recall_at_k"),
    )


# ===========================================================================
# KMV set DIFFERENCE: rolling "new users this week" from the sketch store
# ===========================================================================
#
# The round-7 sketch algebra covers union (kmv_union_from_storage) and
# intersection (catalog_r7c.py:177) — but not difference, so the one
# cohort question a growth dashboard always asks ("how many of this
# week's actives are NEW?") still needed a raw rescan. KMV supports it
# from the same stored state: the merged union sketch is a uniform
# sample of the hashed key space, so the fraction of its members found
# ONLY in the week sketch estimates |week \ prior| / |week ∪ prior|,
# and est_new = matches_new * est_union div n_union in exact integer
# arithmetic (same estimator family as the intersection entry; the
# rank argument in _kmv_new_users_weekly's docstring shows membership
# against untruncated day/week states is equivalent).

from apde_etl_spark.operators.sketch import (  # noqa: E402
    KMV_K,
    kmv_estimate_expr,
    kmv_sketch,
    sql_kmv_estimate,
)
from apde_etl_spark.plans.catalog import load_events  # noqa: E402
from apde_etl_spark.plans.catalog_r7c import (  # noqa: E402
    _KMV_REG_CTES,
    _ensure_kmv_store,
)

_KMV_DIFF_SQL = f"""
WITH {_KMV_REG_CTES},
weeks AS (SELECT DISTINCT CAST(date_trunc('week', day) AS DATE) AS wk
          FROM sk),
tgt AS (SELECT wk FROM weeks WHERE wk > (SELECT min(wk) FROM weeks)),
uu AS (
  SELECT t.wk AS wk, k.hval AS hval,
         max(CASE WHEN CAST(date_trunc('week', k.day) AS DATE) = t.wk
                  THEN 1 ELSE 0 END) AS in_week,
         max(CASE WHEN k.day < t.wk THEN 1 ELSE 0 END) AS in_prior
  FROM tgt t JOIN sk k ON k.day < t.wk + INTERVAL 7 DAY
  GROUP BY 1, 2
),
m AS (SELECT wk, hval, in_week, in_prior,
             CAST(row_number() OVER (PARTITION BY wk ORDER BY hval)
                  AS INTEGER) AS rnk
      FROM uu QUALIFY rnk <= {KMV_K}),
a AS (SELECT wk, CAST(count(*) AS BIGINT) AS n_in_sketch,
             max(CASE WHEN rnk = {KMV_K} THEN hval END) AS kth_min,
             CAST(sum(CASE WHEN in_week = 1 AND in_prior = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS matches_new,
             CAST(sum(CASE WHEN in_week = 1 AND in_prior = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS matches_both
      FROM m GROUP BY wk),
e2 AS (SELECT wk, n_in_sketch, kth_min, matches_new, matches_both,
              {sql_kmv_estimate()} AS est_union
       FROM a),
fu AS (SELECT user_id, min(day) AS first_day FROM ev GROUP BY 1),
x AS (SELECT CAST(date_trunc('week', first_day) AS DATE) AS wk,
             CAST(count(*) AS BIGINT) AS exact_new_users
      FROM fu GROUP BY 1)
SELECT e2.wk AS wk, n_in_sketch AS union_n, matches_new, matches_both,
       est_union,
       CAST(matches_new * est_union // n_in_sketch AS BIGINT)
         AS est_new_users,
       COALESCE(x.exact_new_users, CAST(0 AS BIGINT)) AS exact_new_users
FROM e2 LEFT JOIN x ON x.wk = e2.wk
ORDER BY e2.wk
"""


def _kmv_new_users_weekly(spark: SparkSession, sk_weekly: DataFrame,
                          ev_day: DataFrame, k: int = KMV_K) -> DataFrame:
    """Shared serve body for the batch + streaming difference entries:
    ``sk_weekly`` is any (wk, hval) sketch state — the per-DAY store
    mapped to weeks, or the streaming fold's per-WEEK truncated
    sketches. Both give hash-identical output: an hval in the merged
    union sketch is among the k smallest of the whole key space, so
    within any sub-state (one day, one week) the values below it are a
    subset of the union sketch's own smaller members (< k of them) —
    its rank there is <= k too, i.e. membership flags computed against
    truncated or untruncated sub-states agree on every union-sketch
    member. ``ev_day`` supplies the exact first-activity-week count
    riding beside the estimate for the gate's accuracy contract."""
    from pyspark.sql import Window

    weeks = sk_weekly.select("wk").distinct()
    min_wk = weeks.agg(F.min("wk").alias("min_wk"))
    tgt = (
        weeks.crossJoin(F.broadcast(min_wk))
        .filter(F.col("wk") > F.col("min_wk"))
        .select("wk")
    )
    uu = (
        F.broadcast(tgt.alias("t"))
        .join(sk_weekly.alias("k"), F.col("k.wk") <= F.col("t.wk"))
        .groupBy(F.col("t.wk").alias("wk"), F.col("k.hval").alias("hval"))
        .agg(
            F.max(F.when(F.col("k.wk") == F.col("t.wk"), 1).otherwise(0))
            .alias("in_week"),
            F.max(F.when(F.col("k.wk") < F.col("t.wk"), 1).otherwise(0))
            .alias("in_prior"),
        )
    )
    w = Window.partitionBy("wk").orderBy("hval")
    m = (
        uu.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
    )
    a = m.groupBy("wk").agg(
        F.count(F.lit(1)).cast("long").alias("n_in_sketch"),
        F.max(F.when(F.col("rnk") == k, F.col("hval"))).alias("kth_min"),
        F.sum(F.when((F.col("in_week") == 1) & (F.col("in_prior") == 0), 1)
              .otherwise(0)).cast("long").alias("matches_new"),
        F.sum(F.when((F.col("in_week") == 1) & (F.col("in_prior") == 1), 1)
              .otherwise(0)).cast("long").alias("matches_both"),
    )
    e2 = a.withColumn("est_union", kmv_estimate_expr(k))
    fu = ev_day.groupBy("user_id").agg(F.min("day").alias("first_day"))
    x = (
        fu.groupBy(F.date_trunc("week", "first_day").cast("date").alias("wk"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_new_users"))
    )
    return (
        e2.join(F.broadcast(x), "wk", "left")
        .select(
            "wk",
            F.col("n_in_sketch").alias("union_n"),
            "matches_new", "matches_both", "est_union",
            F.expr("CAST((matches_new * est_union) div n_in_sketch"
                   " AS BIGINT)").alias("est_new_users"),
            F.coalesce("exact_new_users", F.lit(0).cast("long"))
            .alias("exact_new_users"),
        )
        .orderBy("wk")
    )


@register("kmv_cohort_difference", _KMV_DIFF_SQL)
def kmv_cohort_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling new-users-per-week served ENTIRELY from the persisted
    per-day KMV store (catalog_r7c._ensure_kmv_store) — the set
    DIFFERENCE the union/intersection algebra could not answer: for
    each week past the first, merge <= weeks*days*k stored integer
    rows into a (week ∪ all-prior) sketch, flag each member's cohort,
    and estimate |week \\ prior| = matches_new * est_union div n. At
    100 TB the prior cohort spans the full corpus history and a raw
    NOT-EXISTS anti join against it is the single most expensive query
    a growth report runs; this serves it from KBs of sketch state with
    the exact answer gated beside it."""
    d = _ensure_kmv_store(spark, sf_dir)
    sk_weekly = spark.read.parquet(d).select(
        F.date_trunc("week", F.col("day").cast("date")).cast("date")
        .alias("wk"),
        "hval",
    )
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
    )
    return _kmv_new_users_weekly(spark, sk_weekly, ev)


def _fold_kmv_week_state(batch_df: DataFrame,
                         existing: DataFrame | None) -> DataFrame:
    """Grouped min-merge fold: per-WEEK k-min sketches of the batch,
    unioned with the existing per-week state, re-ranked within each
    week. Associative + commutative + idempotent per group, so any
    micro-batch slicing and at-least-once replays converge on the
    identical per-week k-min sets."""
    from pyspark.sql import Window

    b = batch_df.withColumn(
        "wk", F.date_trunc("week", F.to_date("ts")).cast("date"))
    sk = kmv_sketch(b, "user_id", ["wk"]).select("wk", "hval")
    if existing is not None:
        sk = existing.select("wk", "hval").unionByName(sk)
    w = Window.partitionBy("wk").orderBy("hval")
    return (
        sk.distinct()
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= KMV_K)
    )


@register("stream_kmv_new_users", _KMV_DIFF_SQL)
def stream_kmv_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of kmv_cohort_difference: micro-batches fold
    into per-week k-min sketch state under the shared idempotent
    foreachBatch runner (catalog_r2.run_idempotent_upsert), and the
    week-over-prior difference is served from the FOLDED state alone.
    Stream-batch convergence is hash-proven against the same oracle:
    per-week k-min sets are invariant to stream slicing, and the
    helper's rank argument makes day-grain and week-grain state
    interchangeable for union-sketch membership."""
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
    workdir = tempfile.mkdtemp(prefix="stream_kmv_diff_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    target = run_idempotent_upsert(src, workdir, _fold_kmv_week_state)
    state = spark.read.parquet(target).select(
        F.col("wk").cast("date").alias("wk"), "hval")
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
    )
    return _kmv_new_users_weekly(spark, state, ev)


# ===========================================================================
# Trained quality classifier: fixed-point logistic regression (GD)
# ===========================================================================
#
# quality_logistic_score (plans/catalog_r3b.py:333) ships FIXED weights
# — the round-7 verdict's last training gap. These entries TRAIN the
# linear classifier in-gate: quantized-centered integer features over
# the real documents text, labels from a hidden integer teacher with a
# deterministic 10% hash-noise flip (so the ceiling is known and the
# teacher is NOT the production fixed-weight model — the shoot-out
# measures real learning), and full-batch gradient descent in
# scaled-integer arithmetic (operators/text.py:
# quality_lr_train_fixedpoint — the Winkler-EM/Lloyd fixed-point
# treatment). The oracle restates training as an UNROLLED CTE chain
# over HUGEINTs (one aggregate per GD step over the feature histogram,
# the EM-oracle shape without the lattice-as-columns trick), so
# weights, held-out scores, and the accuracy shoot-out all hash-gate.
#
# Scale shape: training reads ONE aggregated histogram (distinct
# quantized feature tuples, bounded by the quantization grid — ~1.8k
# rows at sf0.1 regardless of corpus size) collected to the driver;
# the 100 TB plan is identical because the histogram, not the corpus,
# is the training set. Scoring is a literal-weight projection.

from apde_etl_spark.operators.text import (  # noqa: E402
    QLR_F1,
    QLR_F2,
    QLR_F3,
    QLR_ITERS,
    QLR_LR_DEN,
    QLR_NOISE_MOD,
    QLR_SCALE,
    QLR_TEACHER,
    quality_lr_features,
    quality_lr_train_fixedpoint,
)


def _qlr_fdiv(num: str, den: str) -> str:
    """DuckDB floor division for a possibly-negative numerator and a
    positive denominator — matches Python ``//`` (the EM oracle only
    ever divides non-negatives; GD gradients are signed)."""
    return (f"CASE WHEN ({num}) >= 0 THEN ({num}) // ({den}) "
            f"ELSE -(((-({num})) + ({den}) - 1) // ({den})) END")


def _qlr_sql_ctes() -> str:
    """Feature/label CTEs + the unrolled GD chain; ends at
    ``qw(b, w1, w2, w3)`` with ``qtr``/``qte`` (train/test splits of
    ``qf``) in scope."""
    from apde_etl_spark.plans.catalog_r3b import _LOW_TOKS, _N_TOKS, _SW_LIST

    S = QLR_SCALE
    (q1, c1, o1), (q2, c2, o2), (q3, c3, o3) = QLR_F1, QLR_F2, QLR_F3
    t1, t2, t3, th = QLR_TEACHER
    n_stop = f"len(list_filter({_LOW_TOKS}, x -> x IN ({_SW_LIST})))"
    n_chars = "length(regexp_replace(trim(text), '\\s+', '', 'g'))"
    h60 = ("CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))"
           " AS BIGINT)")
    err = (f"((least(greatest(b + w1*x1 + w2*x2 + w3*x3, {-2 * S}),"
           f" {2 * S}) + {2 * S}) // 4 - y * {S})")
    its = []
    for k in range(1, QLR_ITERS + 1):
        # AS MATERIALIZED is load-bearing: without it DuckDB inlines
        # each single-row state CTE's scalar expressions into the next
        # step (b/w1/w2/w3 each referenced ~5x), exploding the plan
        # ~5^iters — measured: the 60-step chain plans in ms
        # materialized, never finishes inlined
        its.append(f"""
qit{k} AS MATERIALIZED (
  SELECT b - {_qlr_fdiv('gb', 'd')} AS b,
         w1 - {_qlr_fdiv('g1', 'd')} AS w1,
         w2 - {_qlr_fdiv('g2', 'd')} AS w2,
         w3 - {_qlr_fdiv('g3', 'd')} AS w3
  FROM (
    SELECT any_value(b) AS b, any_value(w1) AS w1, any_value(w2) AS w2,
           any_value(w3) AS w3, any_value(nt) * {QLR_LR_DEN} AS d,
           sum({err} * n) AS gb, sum({err} * x1 * n) AS g1,
           sum({err} * x2 * n) AS g2, sum({err} * x3 * n) AS g3
    FROM qit{k - 1}, qh, qn) s
)""")
    return f"""
qf AS (
  SELECT doc_id, x1, x2, x3,
         CASE WHEN (({t1})*x1 + ({t2})*x2 + ({t3})*x3 > {th})
                   != (h % {QLR_NOISE_MOD} = 0)
              THEN 1 ELSE 0 END AS y
  FROM (
    SELECT doc_id,
           CAST(least(((ns * {S}) // nt) // {q1}, {c1}) - {o1} AS INTEGER)
             AS x1,
           CAST(least(((nc * {S}) // nt) // {q2}, {c2}) - {o2} AS INTEGER)
             AS x2,
           CAST(least(nt // {q3}, {c3}) - {o3} AS INTEGER) AS x3, h
    FROM (SELECT doc_id, CAST({n_stop} AS BIGINT) AS ns,
                 CAST({_N_TOKS} AS BIGINT) AS nt,
                 CAST({n_chars} AS BIGINT) AS nc, {h60} AS h
          FROM documents) r) f
),
qtr AS (SELECT * FROM qf WHERE doc_id % 5 != 0),
qte AS (SELECT * FROM qf WHERE doc_id % 5 = 0),
qh AS (SELECT x1, x2, x3, y, CAST(count(*) AS HUGEINT) AS n
       FROM qtr GROUP BY 1, 2, 3, 4),
qn AS (SELECT CAST(sum(n) AS HUGEINT) AS nt FROM qh),
qit0 AS (SELECT CAST(0 AS HUGEINT) AS b, CAST(0 AS HUGEINT) AS w1,
                CAST(0 AS HUGEINT) AS w2, CAST(0 AS HUGEINT) AS w3),
{",".join(its)},
qw AS (SELECT b, w1, w2, w3 FROM qit{QLR_ITERS})"""


_QLR_WEIGHTS_SQL = materialize_ctes(f"""
WITH {_qlr_sql_ctes()}
SELECT * FROM (
  SELECT 'bias' AS feature, CAST(b AS BIGINT) AS weight_s FROM qw
  UNION ALL
  SELECT 'x1_stopword_ratio', CAST(w1 AS BIGINT) FROM qw
  UNION ALL
  SELECT 'x2_mean_token_len', CAST(w2 AS BIGINT) FROM qw
  UNION ALL
  SELECT 'x3_n_tokens', CAST(w3 AS BIGINT) FROM qw) z
ORDER BY feature
""", ("qf", "qh"))


_QLR_CACHE: dict = {}


def _qlr_fit(spark: SparkSession, sf_dir: str) -> dict:
    """Collect the train-split feature histogram (bounded by the
    quantization grid, NOT the corpus — the linkage gamma-histogram
    pattern) and run the fixed-point GD loop driver-side."""
    if sf_dir in _QLR_CACHE:
        return _QLR_CACHE[sf_dir]
    docs = load(spark, sf_dir, "documents")
    feats = quality_lr_features(docs)
    hist = (
        feats.filter(F.col("doc_id") % 5 != 0)
        .groupBy("x1", "x2", "x3", "y")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    fit = quality_lr_train_fixedpoint(
        [((r["x1"], r["x2"], r["x3"], r["y"]), r["n"]) for r in hist])
    _QLR_CACHE[sf_dir] = fit
    return fit


@register("quality_lr_weights", _QLR_WEIGHTS_SQL)
def quality_lr_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED weights themselves, hash-gated as scaled integers
    (the linkage_em_weights treatment): 60 full-batch GD steps over
    the quantized feature histogram land on the identical integers in
    both engines because every update is floor arithmetic on the same
    lattice."""
    fit = _qlr_fit(spark, sf_dir)
    return local_frame(
        spark,
        [("bias", fit["b"]), ("x1_stopword_ratio", fit["w1"]),
         ("x2_mean_token_len", fit["w2"]), ("x3_n_tokens", fit["w3"])],
        "feature string, weight_s long",
    ).orderBy("feature")


_QLR_SCORED_SQL = materialize_ctes(f"""
WITH {_qlr_sql_ctes()}
SELECT qte.doc_id AS doc_id, x1, x2, x3, y AS label,
       CAST(b + w1*x1 + w2*x2 + w3*x3 AS BIGINT) AS z_s,
       (b + w1*x1 + w2*x2 + w3*x3) > 0 AS keep
FROM qte, qw
ORDER BY doc_id
""", ("qf", "qh"))


@register("quality_lr_trained", _QLR_SCORED_SQL)
def quality_lr_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out documents scored by the TRAINED model: integer logit
    z_s (scaled 10^6) and the keep decision, label beside them. The
    serve plan is a literal-weight projection over the feature
    expressions — scan-speed at 100 TB, same shape as the fixed-weight
    production entry, now with weights the gate proves were learned."""
    fit = _qlr_fit(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    te = quality_lr_features(docs).filter(F.col("doc_id") % 5 == 0)
    z = (F.lit(fit["b"]) + F.lit(fit["w1"]) * F.col("x1")
         + F.lit(fit["w2"]) * F.col("x2")
         + F.lit(fit["w3"]) * F.col("x3")).cast("long")
    return te.select(
        "doc_id", "x1", "x2", "x3", F.col("y").alias("label"),
        z.alias("z_s"), (z > 0).alias("keep"),
    ).orderBy("doc_id")


def _qlr_fixed_z() -> str:
    from apde_etl_spark.plans.catalog_r3b import _Z

    return _Z


_QLR_ACC_SQL = materialize_ctes(f"""
WITH {_qlr_sql_ctes()},
arms AS (
  SELECT 'lr_trained' AS method,
         CAST(sum(CASE WHEN ((b + w1*x1 + w2*x2 + w3*x3) > 0) = (y = 1)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         CAST(count(*) AS BIGINT) AS n_total
  FROM qte, qw
  UNION ALL
  SELECT 'fixed_logistic',
         CAST(sum(CASE WHEN ({_qlr_fixed_z()} >= 0) = (f.y = 1)
                       THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM documents d JOIN qte f ON f.doc_id = d.doc_id
  UNION ALL
  SELECT 'majority_class',
         CAST(sum(CASE WHEN y = maj.l THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM qte, (SELECT y AS l FROM (SELECT y, count(*) AS c FROM qtr
                                 GROUP BY 1 ORDER BY c DESC, y ASC
                                 LIMIT 1) mm) maj
)
SELECT method, n_correct, n_total,
       {_sql_round('CAST(n_correct AS DOUBLE) / n_total', 6)} AS accuracy
FROM arms
ORDER BY method
""", ("qf", "qh"))


@register("quality_lr_accuracy", _QLR_ACC_SQL)
def quality_lr_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out accuracy shoot-out, INTEGER counts (the
    langid_method_accuracy pattern): the trained LR vs the fixed-weight
    production logistic vs the majority-class floor. Measured at
    sf0.01: trained 0.86, fixed 0.63 (threshold-miscalibrated for the
    teacher's notion but AUC 0.869 per quality_lr_auc — discrimination
    without calibration), majority 0.42 — the row a user reads to
    decide the training pass is worth running; the 10% label noise
    pins the ceiling at 0.9."""
    from apde_etl_spark.functions.core import round_half_away
    from apde_etl_spark.operators.text import quality_logit

    fit = _qlr_fit(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    feats = quality_lr_features(docs)
    te = feats.filter(F.col("doc_id") % 5 == 0)
    z = (F.lit(fit["b"]) + F.lit(fit["w1"]) * F.col("x1")
         + F.lit(fit["w2"]) * F.col("x2")
         + F.lit(fit["w3"]) * F.col("x3")).cast("long")
    lr_row = te.agg(
        F.lit("lr_trained").alias("method"),
        F.sum(F.when((z > 0) == (F.col("y") == 1), 1).otherwise(0))
        .cast("long").alias("n_correct"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    fixed = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .join(te.select("doc_id", "y"), "doc_id")
    )
    fx_row = fixed.agg(
        F.lit("fixed_logistic").alias("method"),
        # raw-logit cut z >= 0, the SAME expression the oracle tests —
        # sigmoid >= 0.5 is equivalent except at 1-ulp float boundaries
        F.sum(F.when(
            (quality_logit("text") >= 0) == (F.col("y") == 1), 1)
            .otherwise(0)).cast("long").alias("n_correct"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    maj = (
        feats.filter(F.col("doc_id") % 5 != 0)
        .groupBy("y").count()
        .orderBy(F.desc("count"), F.asc("y")).limit(1)
        .select(F.col("y").alias("__maj"))
    )
    mj_row = te.crossJoin(F.broadcast(maj)).agg(
        F.lit("majority_class").alias("method"),
        F.sum(F.when(F.col("y") == F.col("__maj"), 1).otherwise(0))
        .cast("long").alias("n_correct"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    return (
        lr_row.unionAll(fx_row).unionAll(mj_row)
        .select("method", "n_correct", "n_total",
                round_half_away(
                    F.col("n_correct").cast("double") / F.col("n_total"), 6
                ).alias("accuracy"))
        .orderBy("method")
    )


# ===========================================================================
# Real VIDEO decode: Y4M container, sampled frames via mm_frame_sample's plan
# ===========================================================================
#
# Closes the last stubbed decode stage in the multimodal map (round-7
# verdict "What's missing" #1): the frame-sampling plan operator
# (multimodal.frame_sample_plan, gated as mm_frame_sample at
# plans/catalog_more.py) now feeds a REAL container decode — YUV4MPEG2,
# parsed with nothing but the stdlib like the WAV/BMP/PNG entries
# (plans/catalog_r5.py:123,170), fixtures from a matching stdlib
# encoder so the oracle states every decoded byte in closed form.

_VIDEO_FIXTURE: dict[str, str] = {}


def _video_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """One .y4m per sampled document (doc_id % 12 == 0), parameters
    closed over doc_id so the oracle can restate them: W 4+id%6,
    H 3+id%5, frames 12+id%20 (>= 12: every file has a sampled frame
    past index 10), fps 24/25/30 by id%3, pixels
    frame_pixel_value(x, y, c, f, doc_id)."""
    import os

    from apde_etl_spark.plans.catalog_r4 import fixture_complete, fixture_dir

    key = os.path.abspath(sf_dir)
    if key in _VIDEO_FIXTURE:
        return _VIDEO_FIXTURE[key]
    base, done = fixture_dir("apde_etl_video", sf_dir, "documents.parquet")
    if not done:
        from apde_etl_spark.operators.multimodal import encode_y4m

        os.makedirs(base, exist_ok=True)

        ids = [
            r["doc_id"]
            for r in load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 12 == 0)
            .select("doc_id").collect()
        ]
        for i in ids:
            blob = encode_y4m(
                4 + i % 6, 3 + i % 5, 12 + i % 20, seed=i,
                fps=([24, 25, 30][i % 3], 1),
            )
            with open(os.path.join(base, f"doc_{i}.y4m"), "wb") as fh:
                fh.write(blob)
        fixture_complete(base)
    _VIDEO_FIXTURE[key] = base
    return base


_VIDEO_ORACLE = """
WITH v AS (SELECT doc_id, 4 + doc_id % 6 AS w, 3 + doc_id % 5 AS h,
                  12 + doc_id % 20 AS nf
           FROM documents WHERE doc_id % 12 = 0),
fr AS (SELECT doc_id, w, h, nf, unnest(range(0, nf, 10)) AS f FROM v)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 25 ELSE 30 END
            AS INTEGER) AS fps_num,
       CAST(f AS INTEGER) AS frame_index,
       CAST((doc_id + 13 * f) % 256 AS INTEGER) AS px_first,
       (SELECT CAST(sum((3 * x.g + 7 * y.g + 11 * c.g + 13 * f + doc_id)
                        % 256) AS BIGINT)
        FROM generate_series(0, 15) x(g), generate_series(0, 15) y(g),
             generate_series(0, 2) c(g)
        WHERE x.g < w AND y.g < h) AS px_sum
FROM fr
"""


@register("mm_video_decode_real", _VIDEO_ORACLE)
def mm_video_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL VIDEO DECODE, end-to-end, consuming the frame-sampling
    plan: Y4M (YUV4MPEG2 C444) fixtures read with the distributed
    ``binaryFile`` source; an Arrow header stage
    (multimodal.extract_video_meta) yields n_frames; the EXISTING
    frame_sample_plan explodes every-10th frame indices; the planned
    frames join back to the binaries (id-to-id, broadcastable plan)
    and multimodal.extract_frame_stats slices each fixed-size frame at
    its computed offset — seek, not scan-all. px_first/px_sum are over
    the DECODED plane bytes of exactly the planned frames, stated in
    closed form by the oracle from the generator params: a hash match
    proves the container walk, the offset math, and the sampling all
    happened. Zero stubbed decode stages remain in the multimodal
    family."""
    from apde_etl_spark.operators.multimodal import (
        extract_frame_stats,
        extract_video_meta,
        frame_sample_plan,
    )

    d = _video_fixture_dir(spark, sf_dir)
    vids = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.y4m").load(d)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.y4m$", 1)
            .cast("long").alias("doc_id"),
            "content",
        )
    )
    from apde_etl_spark.operators.cache import tracked_persist

    meta = tracked_persist(extract_video_meta(vids, id_col="doc_id"),
                           scope="r8")
    plan = frame_sample_plan(
        meta.select("doc_id", F.col("n_frames").alias("frame_count")),
        every_n=10, id_col="doc_id",
    )
    stats = extract_frame_stats(
        vids.join(F.broadcast(plan), "doc_id"), id_col="doc_id")
    return stats.join(F.broadcast(meta), "doc_id").select(
        "doc_id", "width", "height", "n_frames", "fps_num",
        "frame_index", "px_first", "px_sum",
    )


_QLR_AUC_SQL = materialize_ctes(f"""
WITH {_qlr_sql_ctes()},
sc AS (
  SELECT f.doc_id, f.y,
         CAST(b + w1*x1 + w2*x2 + w3*x3 AS BIGINT) AS s_lr,
         {_sql_round(_qlr_fixed_z(), 9)} AS s_fixed
  FROM qte f JOIN documents d ON d.doc_id = f.doc_id, qw
),
g_lr AS (
  SELECT s_lr AS s, CAST(sum(y) AS BIGINT) AS np_s,
         CAST(count(*) AS BIGINT) AS nt_s
  FROM sc GROUP BY 1
),
g_fx AS (
  SELECT s_fixed AS s, CAST(sum(y) AS BIGINT) AS np_s,
         CAST(count(*) AS BIGINT) AS nt_s
  FROM sc GROUP BY 1
),
c_lr AS (
  SELECT np_s, nt_s,
         COALESCE(sum(nt_s) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM g_lr
),
c_fx AS (
  SELECT np_s, nt_s,
         COALESCE(sum(nt_s) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM g_fx
),
np AS (SELECT CAST(sum(y) AS BIGINT) AS n_pos,
              CAST(count(*) - sum(y) AS BIGINT) AS n_neg FROM sc),
arms AS (
  SELECT 'lr_trained' AS method,
         CAST(sum(np_s * (2 * cb + nt_s + 1))
              - n_pos * (n_pos + 1) AS BIGINT) AS u2
  FROM c_lr, np GROUP BY n_pos
  UNION ALL
  SELECT 'fixed_logistic',
         CAST(sum(np_s * (2 * cb + nt_s + 1))
              - n_pos * (n_pos + 1) AS BIGINT)
  FROM c_fx, np GROUP BY n_pos
)
SELECT method, n_pos, n_neg, u2,
       CAST((u2 * 1000000) // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
FROM arms, np
ORDER BY method
""", ("qf", "qh"))


@register("quality_lr_auc", _QLR_AUC_SQL)
def quality_lr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-free model comparison: held-out AUC for the trained LR
    vs the fixed-weight production logistic, in EXACT INTEGER
    arithmetic — AUC is the Mann-Whitney statistic, and with average
    tie ranks doubled (2*avg_rank = 2*min_rank + tie_count - 1, an
    integer) the whole computation stays on the lattice:
    u2 = sum_pos(2*avg_rank) - n_pos(n_pos+1), auc = u2/(2*n_pos*n_neg)
    emitted as ppm by integral division. The fixed model's continuous
    logit is rounded to 9 dp first (the perplexity convention) so rank
    order is engine-identical. One window + one aggregate per arm —
    the ranks come from a distinct-score histogram plus a cumulative
    window over that aggregated (vocab-sized) frame, so the plan is
    one keyed aggregation + a tiny window at any corpus size."""
    from pyspark.sql import Window

    from apde_etl_spark.operators.text import QUALITY_WEIGHTS, tokens, _WS
    from apde_etl_spark.functions.core import round_half_away

    fit = _qlr_fit(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    te = quality_lr_features(docs).filter(F.col("doc_id") % 5 == 0)
    # fixed-model raw logit (no sigmoid — AUC is rank-invariant to it)
    w = QUALITY_WEIGHTS
    from apde_etl_spark.operators.text import stopword_ratio, token_count

    n_tok = token_count("text").cast("double")
    mtl = (F.length(F.regexp_replace(F.trim(F.col("text")), _WS, ""))
           / n_tok)
    z_fixed = (F.lit(w["bias"])
               + F.lit(w["stopword_ratio"]) * stopword_ratio("text")
               + F.lit(w["mean_token_len"]) * mtl
               + F.lit(w["n_tokens"]) * n_tok)
    sc = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", round_half_away(z_fixed, 9).alias("s_fixed"))
        .join(te, "doc_id")
        .select(
            "y",
            (F.lit(fit["b"]) + F.lit(fit["w1"]) * F.col("x1")
             + F.lit(fit["w2"]) * F.col("x2")
             + F.lit(fit["w3"]) * F.col("x3")).cast("long").alias("s_lr"),
            "s_fixed",
        )
    )
    from apde_etl_spark.operators.cache import tracked_persist

    sc = tracked_persist(sc, scope="r8")
    np_ = sc.agg(
        F.sum("y").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg"),
    )

    def arm(score_col: str, label: str) -> DataFrame:
        # distinct-score histogram first, then the cumulative window
        # over the AGGREGATED frame (vocab-sized, the documented
        # tiny-window class) — never a global rank over raw rows. For a
        # tie group occupying ranks cb+1..cb+nt, 2*avg_rank =
        # 2*cb + nt + 1, so sum_pos(2*avg_rank) folds per group.
        g = sc.groupBy(F.col(score_col).alias("s")).agg(
            F.sum("y").cast("long").alias("np_s"),
            F.count(F.lit(1)).cast("long").alias("nt_s"),
        )
        wcum = (Window.orderBy("s")
                .rowsBetween(Window.unboundedPreceding, -1))
        c = g.withColumn(
            "cb", F.coalesce(F.sum("nt_s").over(wcum), F.lit(0)))
        return (
            c.crossJoin(F.broadcast(np_))
            .groupBy("n_pos", "n_neg")
            .agg((F.sum(F.col("np_s")
                        * (2 * F.col("cb") + F.col("nt_s") + 1))
                  - F.first("n_pos") * (F.first("n_pos") + 1))
                 .cast("long").alias("u2"))
            .select(F.lit(label).alias("method"), "n_pos", "n_neg", "u2",
                    F.expr("CAST((u2 * 1000000) div (2 * n_pos * n_neg)"
                           " AS BIGINT)").alias("auc_ppm"))
        )

    return arm("s_lr", "lr_trained").unionAll(
        arm("s_fixed", "fixed_logistic")).orderBy("method")
