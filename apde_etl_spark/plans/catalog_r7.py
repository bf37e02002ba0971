"""Round-7 extension catalog: the final TPC-H-class shapes (Q2, Q6,
Q15, Q16 analogues) — round-6 verdict item #2.

With these four, every classic TPC-H query class has a registered,
hash-gated analogue. The testdata has no partsupp table, so the
part-supplier relation derives from lineitem (``supply`` = DISTINCT
(l_partkey, l_suppkey), with MIN(l_extendedprice) as the supply-cost
proxy) — the JOIN/aggregation structure Catalyst plans is the faithful
part, as with the other adapted shapes (catalog_r6g.py's preamble).

Reference anchor: the apde.etl reference ships ad-hoc analytic SQL
through its generic loaders (load_table_from_sql_server.R,
copy_into.R:31-66); these entries are the decision-support query
family a reference user runs on top of such loads.

All revenue aggregation follows the q5 convention: the per-row product
is one IEEE op, CAST to DECIMAL(18,4) and summed exactly —
order-independent, hash-gateable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apde_etl_spark.operators.cache import tracked_persist
from apde_etl_spark.plans.artifacts import artifact
from apde_etl_spark.plans.catalog import (
    _sql_round,
    load,
    materialize_ctes,
    register,
)

_REV_DEC = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"


def _rev_col() -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,4)")


# ===========================================================================
# Q2 — minimum-cost supplier per part over a two-level dimension chain
# ===========================================================================

_Q2_REGION = "EUROPE"
_Q2_TYPE = "ECONOMY"
_Q2_MAX_SIZE = 10

_Q2_SQL = f"""
WITH supply AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(l_extendedprice) AS ps_supplycost
  FROM lineitem GROUP BY 1, 2
), eligible AS (
  SELECT ps_partkey, ps_supplycost, s_name, s_acctbal, n_name,
         p_brand, p_size
  FROM supply
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  JOIN part     ON p_partkey = ps_partkey
  WHERE r_name = '{_Q2_REGION}'
    AND p_type = '{_Q2_TYPE}' AND p_size <= {_Q2_MAX_SIZE}
), mins AS (
  SELECT ps_partkey, MIN(ps_supplycost) AS min_cost
  FROM eligible GROUP BY 1
)
SELECT e.ps_partkey AS p_partkey, e.p_brand, e.p_size,
       e.s_name, e.n_name,
       CAST(e.s_acctbal AS DOUBLE) AS s_acctbal,
       CAST(e.ps_supplycost AS DOUBLE) AS supplycost
FROM eligible e JOIN mins m
  ON e.ps_partkey = m.ps_partkey AND e.ps_supplycost = m.min_cost
"""


@register("q2_min_cost_supplier", _Q2_SQL)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier(s) in a
    region offering the MINIMUM supply cost — the classic correlated
    min-cost subquery, executed DECORRELATED as aggregate + self-join
    (the plan Catalyst rewrites the subquery form into, and the only
    shape that scales: one groupBy-min over the eligible supply rows,
    one equi-join back, never a per-part re-scan).

    Scale posture: the supply relation derives from lineitem with one
    map-side-combinable groupBy; part/supplier/nation/region dims all
    broadcast (the part filter prunes BEFORE the min aggregate, so the
    aggregate's input is already the small eligible set); ties on the
    minimum are kept, as in TPC-H."""
    supply = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("ps_partkey"),
                 F.col("l_suppkey").alias("ps_suppkey"))
        .agg(F.min("l_extendedprice").alias("ps_supplycost"))
    )
    su = load(spark, sf_dir, "supplier")
    na = load(spark, sf_dir, "nation")
    re = load(spark, sf_dir, "region").filter(F.col("r_name") == _Q2_REGION)
    pa = load(spark, sf_dir, "part").filter(
        (F.col("p_type") == _Q2_TYPE) & (F.col("p_size") <= _Q2_MAX_SIZE))
    eligible = (
        supply
        .join(F.broadcast(su), supply.ps_suppkey == su.s_suppkey)
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(pa), F.col("ps_partkey") == F.col("p_partkey"))
        .select("ps_partkey", "ps_supplycost", "s_name", "s_acctbal",
                "n_name", "p_brand", "p_size")
    )
    # the eligible set feeds BOTH the min aggregate and the final join —
    # persist so lineitem scans once (it is tiny by construction: the
    # part/region filters prune before it materializes)
    eligible = tracked_persist(eligible, scope="r7")
    mins = eligible.groupBy(
        F.col("ps_partkey").alias("m_partkey")
    ).agg(F.min("ps_supplycost").alias("min_cost"))
    return (
        eligible.join(
            mins,
            (F.col("ps_partkey") == F.col("m_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")))
        .select(
            F.col("ps_partkey").alias("p_partkey"), "p_brand", "p_size",
            "s_name", "n_name",
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            F.col("ps_supplycost").cast("double").alias("supplycost"),
        )
    )


# ===========================================================================
# Q6 — pure-predicate single-scan forecast-revenue aggregate
# ===========================================================================

_Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", _Q6_SQL)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: one filtered scan, one global aggregate, zero
    joins — the query that exists to prove predicate pushdown and
    map-side partial aggregation. The plan must be: parquet scan with
    all four predicates in PushedFilters -> partial agg -> single-row
    exchange -> final agg (asserted in tests/test_plan_shapes.py). At
    100 TB this is a pure scan-bandwidth query; anything else in the
    plan is a bug."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24))
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount"))
                  .cast("decimal(18,4)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


# ===========================================================================
# Q15 — top supplier vs the max of a derived revenue view
# ===========================================================================

_Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, SUM({_REV_DEC}) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name,
       CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@register("q15_top_supplier", _Q15_SQL)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: a derived revenue view compared against its own
    MAX — the view-vs-scalar-subquery machinery (the second use of the
    q11 pattern). Exact DECIMAL revenue sums make the equality
    comparison safe: ties on the maximum are kept deterministically,
    never float-straddled. Plan: one lineitem scan feeds the groupBy;
    the 1-row max rides a broadcast back onto the view (no second
    lineitem scan — the view is reused, asserted in
    tests/test_plan_shapes.py)."""
    rev = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev_col()).alias("total_revenue"))
    )
    # materialize the view once: both the max aggregate and the final
    # join read it (same single-scan discipline as corr_matrix)
    rev = tracked_persist(rev, scope="r7")
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    su = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx),
                 F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(su), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name",
                F.col("total_revenue").cast("double").alias("total_revenue"))
    )


# ===========================================================================
# Q16 — supplier counts by part attribute, NOT IN as anti join
# ===========================================================================

_Q16_SIZES = (1, 5, 9, 15, 23, 31, 42, 49)

_Q16_SQL = f"""
WITH supply AS (
  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
  FROM lineitem
)
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM supply JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#17'
  AND p_type <> 'MEDIUM'
  AND p_size IN {_Q16_SIZES}
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


@register("q16_supplier_cnt", _Q16_SQL)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    group with a NOT IN exclusion list. The NOT IN executes as a
    BROADCAST ANTI JOIN (the exclusion list — suppliers with negative
    balances, the complaint proxy — is a dimension subquery with a
    non-null key, so no null-aware fallback), and the count(DISTINCT)
    rides the standard two-phase distinct-aggregate expansion. The
    part filters broadcast-prune the supply rows BEFORE the distinct
    aggregation."""
    supply = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("ps_partkey"),
                F.col("l_suppkey").alias("ps_suppkey"))
        .distinct()
    )
    pa = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#17") & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(*_Q16_SIZES))
    bad = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        supply
        .join(F.broadcast(pa), supply.ps_partkey == pa.p_partkey)
        .join(F.broadcast(bad), supply.ps_suppkey == bad.s_suppkey,
              "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").cast("long")
             .alias("supplier_cnt"))
    )


# ===========================================================================
# Graph-based ANN (NSW-class) on the persistent index — verdict item #3
# ===========================================================================

_G_M = 8        # stored neighbors per node
_G_BEAM = 10    # beam width
_G_HOPS = 3     # fixed hop count (unrolled in the oracle)
_G_K = 5
_G_ENTRIES = 16  # hash-stratified entry points (see build_knn_graph)
_G_LONG = 2      # deterministic small-world long links per node
_G_QUERY_PRED = "vec_id % 97 = 0"


def _ensure_graph_index(spark: SparkSession, sf_dir: str) -> str:
    from apde_etl_spark.operators.ann_index import build_knn_graph

    def build(d: str) -> str:
        emb = load(spark, sf_dir, "embeddings")
        build_knn_graph(emb, d, n_neighbors=_G_M, n_entries=_G_ENTRIES,
                        n_long_links=_G_LONG)
        return d

    return artifact("anngraph", sf_dir, ("embeddings",), build)


def _sql_g_cos(av: str, an: str, bv: str, bn: str) -> str:
    return (f"list_sum(list_transform(list_zip({av}, {bv}), "
            f"p -> p[1]*p[2])) / ({an} * {bn})")


def _hop(i_prev: str, i_new: str, graph_cte: str, width: int) -> str:
    """One expand-score-cut round: candidates = previous beam ∪ its
    ``graph_cte`` neighbors, exact-cosine scored, top ``width`` kept
    (cosine desc, id asc) — the SQL twin of one round of the serve walk
    (ann_index._serve_walk), flat or layered."""
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


def _sql_graph_ctes(m: int, n_long: int) -> str:
    """``knn``/``rk``/``nn``/``longl``/``graph``: the small-world graph
    rebuilt over CTE ``e`` as build_knn_graph writes it — exact k-NN
    top-``m`` plus ``n_long`` hash-derived long links per node."""
    return f"""
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
  FROM rk a CROSS JOIN nn CROSS JOIN range(1, {n_long + 1}) t(r)
  INNER JOIN rk b
    ON b.rn2 = (a.rn2 * 2654435761 + r * 40503 + 12345) % nn.n
   AND b.vec_id != a.vec_id
),
graph AS (SELECT src, dst FROM knn WHERE rn <= {m}
          UNION ALL SELECT src, dst FROM longl)"""


def _sql_query_ctes(query_pred: str, n_entries: int) -> str:
    """``q`` (the ``query_pred`` rows of ``raw`` with their norms) and
    ``ent`` (the ``n_entries`` hash-stratified entry points of ``e``)."""
    return f"""
q AS (SELECT vec_id AS query_id, v AS qv,
             sqrt(list_sum(list_transform(v, y -> y*y))) AS qn
      FROM raw WHERE {query_pred}),
ent AS (
  SELECT vec_id AS eid FROM (
    SELECT vec_id, row_number() OVER (ORDER BY
      CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
           AS BIGINT), vec_id) AS hrn
    FROM e) s WHERE hrn <= {n_entries}
)"""


def _sql_graph_search_ctes(corpus_where: str = "TRUE",
                           query_pred: str | None = None) -> str:
    """Shared oracle CTEs: rebuild the small-world graph (exact k-NN +
    hash-derived long links) from first principles over the
    ``corpus_where``-filtered corpus, then unroll the fixed-hop beam
    search for queries matching ``query_pred`` (drawn from the FULL
    raw table, so incremental-add batches outside the corpus can
    query it). Ends at ``beam{H}(query_id, cid, cos)``."""
    query_pred = query_pred or _G_QUERY_PRED
    graph = _sql_graph_ctes(_G_M, _G_LONG)
    q_ent = _sql_query_ctes(query_pred, _G_ENTRIES)
    hops = [_hop(str(i - 1), str(i), "graph", _G_BEAM)
            for i in range(1, _G_HOPS + 1)]
    return f"""
raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
e AS (SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, y -> y*y))) AS n FROM raw
      WHERE {corpus_where}),{graph},{q_ent},
beam0 AS (SELECT query_id, eid AS cid, CAST(NULL AS DOUBLE) AS cos
          FROM q, ent),{",".join(hops)}"""


_GRAPH_TOPK_SQL = f"""
WITH {_sql_graph_search_ctes()},
fin AS (
  SELECT query_id, cid, cos,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cos DESC, cid ASC) AS rnk
  FROM beam{_G_HOPS} WHERE cid != query_id
)
SELECT query_id, CAST(rnk AS INTEGER) AS rank, cid AS vec_id,
       {_sql_round('cos', 6)} AS cosine_sim
FROM fin WHERE rnk <= {_G_K}
"""
_GRAPH_TOPK_SQL = materialize_ctes(
    _GRAPH_TOPK_SQL, ("q", "e", "rk", "graph"))



@register("ann_graph_topk", _GRAPH_TOPK_SQL)
def ann_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve a query batch (every 97th vector) from the PERSISTED
    k-NN-graph index by fixed-hop beam search
    (operators/ann_index.py:ann_graph_search): entry point -> expand
    graph neighbors -> exact-cosine top-{beam} per hop, 3 hops, final
    top-{k}. The query plan reads ONLY the frozen graph/graph_meta
    parquet + the corpus vectors — no k-NN construction scan (asserted
    in tests/test_plan_shapes.py: zero Python stages in the serve
    plan). Oracle rebuilds the graph from first principles and unrolls
    the identical three hops."""
    from apde_etl_spark.operators.ann_index import ann_graph_search

    d = _ensure_graph_index(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr(_G_QUERY_PRED))
    out = ann_graph_search(
        spark, d, queries, emb, k=_G_K, beam=_G_BEAM, hops=_G_HOPS)
    from apde_etl_spark.functions.core import round_half_away

    return out.select(
        "query_id", "rank", "vec_id",
        round_half_away(F.col("cosine_raw"), 6).alias("cosine_sim"),
    )


_GRAPH_RECALL_SQL = f"""
WITH {_sql_graph_search_ctes()},
gtop AS (
  SELECT query_id, cid FROM (
    SELECT query_id, cid,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, cid ASC) AS rnk
    FROM beam{_G_HOPS} WHERE cid != query_id) z
  WHERE rnk <= {_G_K}
),
exact_q AS (
  SELECT vec_id AS query_id, bid AS cid FROM (
    SELECT a.vec_id, b.vec_id AS bid,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY {_sql_g_cos('a.v', 'a.n', 'b.v', 'b.n')} DESC,
                      b.vec_id ASC) AS rn
    FROM e a JOIN e b ON a.vec_id != b.vec_id
    WHERE a.{_G_QUERY_PRED}) t
  WHERE rn <= {_G_K}
)
SELECT 'graph_m{_G_M}_b{_G_BEAM}_h{_G_HOPS}' AS method,
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
_GRAPH_RECALL_SQL = materialize_ctes(
    _GRAPH_RECALL_SQL, ("q", "exact_q", "e", "gtop", "rk", "graph"))



@register("ann_recall_graph", _GRAPH_RECALL_SQL)
def ann_recall_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{k} of the persisted-graph beam search against the exact
    top-{k} over the query sample — integer hit counts, hash-gated
    like every other recall entry after round 7. The graph family is
    the high-recall serving index (navigable small world); this row is
    the number you tune beam/hops by before a 100 TB deployment."""
    from apde_etl_spark.operators.ann_index import ann_graph_search
    from apde_etl_spark.operators.similarity import exact_topk_pairs

    d = _ensure_graph_index(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr(_G_QUERY_PRED))
    approx = ann_graph_search(
        spark, d, queries, emb, k=_G_K, beam=_G_BEAM, hops=_G_HOPS
    ).select(F.col("query_id").alias("id_a"), F.col("vec_id").alias("id_b"))
    # ground-truth ONLY the query sample against the full corpus —
    # computing truth for every vector and discarding 96/97 of it
    # would be ~97x the matmul work at the harness cap
    truth = tracked_persist(exact_topk_pairs(
        emb, "vec_id", "embedding", k=_G_K,
        query_filter=F.expr(_G_QUERY_PRED),
    ), scope="r7")
    ex_n = truth.agg(F.count(F.lit(1)).alias("n_exact"))
    h = approx.join(truth, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("hits"))
    from apde_etl_spark.functions.core import round_half_away

    return h.crossJoin(ex_n).select(
        F.lit(f"graph_m{_G_M}_b{_G_BEAM}_h{_G_HOPS}").alias("method"),
        F.col("hits").cast("long").alias("hits"),
        F.col("n_exact").cast("long").alias("n_exact"),
        round_half_away(
            F.col("hits").cast("double") / F.col("n_exact"), 6
        ).alias("recall_at_k"),
    )


# ===========================================================================
# Lakehouse table maintenance: MERGE -> version, compaction, time travel
# (round-6 verdict item #4; sources/lifecycle.py versioned-table layout)
# ===========================================================================

_COMPACT_FRAGMENTS = 64
_COMPACT_TARGET = 4


def _ensure_versioned(spark: SparkSession, sf_dir: str) -> tuple:
    """Build (once per source fingerprint) a real versioned customers
    table — v=1 the base snapshot, v=2 the MERGE result (updates +
    inserts + deletes) — and a fragmented orders table compacted into
    v=2.
    Everything derives deterministically from the base tables, so the
    SQL oracles can restate the final states from the views alone."""
    from apde_etl_spark.sources.lifecycle import (
        compact_table,
        merge_into_versioned,
        read_version,
        versioned_write,
    )

    def build(root: str) -> tuple:
        cust_dir, ord_dir = f"{root}/customers", f"{root}/orders"
        cust = load(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal", "c_mktsegment")
        versioned_write(cust, cust_dir)
        updates = cust.filter(F.col("c_custkey") % 10 == 0).select(
            "c_custkey",
            (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
            "c_mktsegment",
        ).unionByName(
            cust.filter(F.col("c_custkey") % 500 == 0).select(
                # insert keys live at +10^12 — far above any real key AND above
                # the replicated-SF key stride (10^7 * factor; the sf1 gate
                # caught the old +10^7 offset colliding with gen_sf copies)
                (F.col("c_custkey") + F.lit(1_000_000_000_000))
                .alias("c_custkey"),
                F.lit(0.0).alias("c_acctbal"),
                F.lit("NEW").alias("c_mktsegment"),
            )
        )
        deletes = cust.filter(F.col("c_custkey") % 97 == 0) \
            .select("c_custkey")
        merge_into_versioned(
            spark, cust_dir, updates, "c_custkey",
            ["c_acctbal", "c_mktsegment"], deletes=deletes)
        # v=3: SCHEMA EVOLUTION — the loyalty-tier column arrives;
        # earlier versions read it as NULL through the mergeSchema union
        v2 = read_version(spark, cust_dir, 2)
        versioned_write(
            v2.withColumn(
                "loyalty_tier",
                F.when(F.col("c_acctbal") > 5000, "gold").otherwise("std")),
            cust_dir)
        orders = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice")
        versioned_write(orders, ord_dir, n_files=_COMPACT_FRAGMENTS)
        _, before, after = compact_table(spark, ord_dir, _COMPACT_TARGET)
        return cust_dir, ord_dir, (before, after)

    return artifact("versioned", sf_dir, ("customer", "orders"), build)


_MERGE_V2_SQL = """
WITH tgt AS (
  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
), upd AS (
  SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey + 1000000000000, 0.0, 'NEW'
  FROM customer WHERE c_custkey % 500 = 0
), merged AS (
  SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey,
         CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal
              ELSE t.c_acctbal END AS c_acctbal,
         CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment
              ELSE t.c_mktsegment END AS c_mktsegment
  FROM tgt t FULL OUTER JOIN upd u ON t.c_custkey = u.c_custkey
)
SELECT c_custkey, c_acctbal, c_mktsegment FROM merged
WHERE c_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0)
"""


@register("merge_versioned_customers", _MERGE_V2_SQL)
def merge_versioned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO against a VERSIONED table (lifecycle.py:
    merge_into_versioned): WHEN MATCHED UPDATE (acctbal bump on every
    10th key), WHEN NOT MATCHED INSERT (new 10M+ keys), WHEN MATCHED
    DELETE (every 97th key) — applied via the SCD1 full-outer merge +
    broadcast anti join, WRITTEN AS v=2, with v=1 untouched. The entry
    returns the v=2 snapshot READ BACK FROM DISK, so the gate proves
    the whole write->read round trip equals the oracle's restatement
    of the merge. At 100 TB: immutable snapshots + atomic version flip
    = readers never see a half-merged table."""
    from apde_etl_spark.sources.lifecycle import read_version

    cust_dir, _, _ = _ensure_versioned(spark, sf_dir)
    return read_version(spark, cust_dir, 2).select(
        "c_custkey", "c_acctbal", "c_mktsegment")


_COMPACT_SQL = f"""
SELECT CAST({_COMPACT_FRAGMENTS} AS BIGINT) AS files_before,
       CAST({_COMPACT_TARGET} AS BIGINT) AS files_after,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS totalprice_sum
FROM orders
"""


@register("compact_small_files_orders", _COMPACT_SQL)
def compact_small_files_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction as a NEW VERSION: v=1 is deliberately
    fragmented ({n} files — the streaming-ingest aftermath), v=2 is
    the compacted rewrite ({m} files). The row carries the EXECUTED
    file counts (read from the filesystem, not a plan estimate) and a
    content digest (exact DECIMAL sum + rowcount) computed FROM THE
    COMPACTED FILES — the oracle pins the expected counts as literals
    and recomputes the digest from the base table, so a compaction
    that lost or duplicated rows, or wrote the wrong layout, fails the
    hash. The previous fragmented version stays readable (time
    travel), exactly how lake formats run OPTIMIZE."""
    from apde_etl_spark.sources.lifecycle import read_version

    _, ord_dir, (before, after) = _ensure_versioned(spark, sf_dir)
    v2 = read_version(spark, ord_dir, 2)
    return v2.agg(
        F.lit(before).cast("long").alias("files_before"),
        F.lit(after).cast("long").alias("files_after"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
        .alias("totalprice_sum"),
    )


_TT_DIFF_SQL = """
WITH arms AS (
  SELECT 'only_in_a' AS status, CAST(count(*) AS BIGINT) AS n_rows
  FROM customer WHERE c_custkey % 97 = 0
  UNION ALL
  SELECT 'only_in_b', CAST(count(*) AS BIGINT)
  FROM customer WHERE c_custkey % 500 = 0
  UNION ALL
  SELECT 'changed', CAST(count(*) AS BIGINT)
  FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 97 != 0
  UNION ALL
  SELECT 'identical', CAST(count(*) AS BIGINT)
  FROM customer WHERE c_custkey % 10 != 0 AND c_custkey % 97 != 0
)
SELECT status, n_rows FROM arms WHERE n_rows > 0
"""


@register("snapshot_time_travel_customers", _TT_DIFF_SQL)
def snapshot_time_travel_customers(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Time-travel read + snapshot diff: v=1 AS OF the pre-merge state
    and v=2 read from the SAME table directory, diffed with
    lifecycle.py:table_diff (full-outer on the key, null-safe attr
    compare, per-status counts). The oracle derives the expected
    status census analytically from the merge's key arithmetic —
    deletes are only_in_a, inserts only_in_b, acctbal bumps changed,
    the rest identical — so the gate proves version isolation: the
    merge wrote v=2 without perturbing v=1."""
    from apde_etl_spark.sources.lifecycle import read_version, table_diff

    cust_dir, _, _ = _ensure_versioned(spark, sf_dir)
    v1 = read_version(spark, cust_dir, 1)
    v2 = read_version(spark, cust_dir, 2)
    return table_diff(v1, v2, "c_custkey", ["c_acctbal", "c_mktsegment"])


# ===========================================================================
# Trained language ID: multinomial NB over char trigrams on a seeded
# labeled fixture (round-6 verdict item #6)
# ===========================================================================

#: per-language letter pools (12 chars each): overlapping cores with
#: distinct tails, so trigram NB separates well but not trivially
_LID_POOLS = ("etaoinshrdlu", "enisratdukgm", "aeosrnltcdpb", "iaonesrmtvzq")
_LID_WORDS = 40
_LID_A, _LID_B, _LID_M = 2654435761, 40503, 1000003
_LID_C = 2246822519


def _lid_text_expr(dialect: str) -> str:
    """The seeded labeled corpus's text expression over row index ``i``
    — pure positive-integer modular mixes + substr into the per-lang
    pool literal, the same IEEE-free construction in both engines
    (the clustered_embeddings trick applied to text)."""
    if dialect == "spark":
        lt, aj, rng = "transform", "array_join", None
    else:
        lt, aj, rng = "list_transform", "array_to_string", None
    pool = ("CASE i % 4 "
            + " ".join(f"WHEN {k} THEN '{p}'"
                       for k, p in enumerate(_LID_POOLS))
            + " END")
    base = f"(i * {_LID_A} + j * {_LID_B}) % {_LID_M}"
    wl = f"3 + ({base}) % 4"
    idx = f"(({base}) * (k + 7) + k * {_LID_C}) % 12"
    letter = f"substr({pool}, CAST({idx} AS INTEGER) + 1, 1)"
    if dialect == "spark":
        letters = f"transform(sequence(0, {wl} - 1), k -> {letter})"
        words = (f"transform(sequence(0, {_LID_WORDS - 1}), "
                 f"j -> array_join({letters}, ''))")
    else:
        letters = f"list_transform(range(0, {wl}), k -> {letter})"
        words = (f"list_transform(range(0, {_LID_WORDS}), "
                 f"j -> array_to_string({letters}, ''))")
    return f"{aj}({words}, ' ')"


def _lid_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, text): deterministic labeled corpus sized by the
    documents table, 4 synthetic languages with distinct char
    distributions (i % 4)."""
    n = load(spark, sf_dir, "documents").count()
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("lang"), (F.col("id") % 4).cast("string"))
        .alias("lang"),
        F.expr(_lid_text_expr("spark").replace("i %", "id %")
               .replace("(i ", "(id ")).alias("text"),
    )


def _lid_fixture_sql() -> str:
    return f"""
  SELECT i AS doc_id, 'lang' || CAST(i % 4 AS VARCHAR) AS lang,
         {_lid_text_expr('duckdb')} AS text
  FROM (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS i
        FROM documents) b"""


def _lid_nb_sql_ctes() -> str:
    """DuckDB restatement of operators/text.py:langid_nb_score over the
    fixture's 80/20 split — ends at ``nbp(doc_id, lang_true,
    predicted_lang, nb_score)``."""
    grams = ("CASE WHEN length(text) >= 3 THEN "
             "list_transform(range(1, length(text) - 1), "
             "x -> substr(text, CAST(x AS INTEGER), 3)) "
             "ELSE [] END")
    lp = ("ln((COALESCE(c.c, 0) + 1) * 1.0 / (l.tot + l.v))")
    return f"""
fx AS ({_lid_fixture_sql()}),
tr AS (SELECT * FROM fx WHERE doc_id % 5 != 0),
te AS (SELECT * FROM fx WHERE doc_id % 5 = 0),
trg AS (SELECT lang AS l, unnest({grams}) AS gram FROM tr),
cnt AS (SELECT l, gram, count(*) AS c FROM trg GROUP BY 1, 2),
tot AS (SELECT l, sum(c) AS tot FROM cnt GROUP BY 1),
vsz AS (SELECT count(DISTINCT gram) AS v FROM trg),
pri AS (SELECT lang AS l, count(*) AS docs FROM tr GROUP BY 1),
tdocs AS (SELECT count(*) AS t FROM tr),
labels AS (
  SELECT pri.l, tot.tot, vsz.v,
         CAST({_sql_round('ln(pri.docs * 1.0 / tdocs.t)', 9)}
              AS DECIMAL(20,9)) AS lprior
  FROM pri JOIN tot USING (l), vsz, tdocs
),
teg AS (SELECT doc_id, lang AS lang_true, unnest({grams}) AS gram FROM te),
sc AS (
  SELECT g.doc_id, g.lang_true, l.l, l.lprior,
         CAST({_sql_round(lp, 9)} AS DECIMAL(20,9)) AS lp9
  FROM teg g CROSS JOIN labels l
  LEFT JOIN cnt c ON c.l = l.l AND c.gram = g.gram
),
per_l AS (
  SELECT doc_id, lang_true, l, sum(lp9) + any_value(lprior) AS s
  FROM sc GROUP BY 1, 2, 3
),
nbp AS (
  SELECT doc_id, lang_true, l AS predicted_lang,
         {_sql_round('CAST(s AS DOUBLE)', 6)} AS nb_score
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY s DESC, l ASC) AS rk FROM per_l) z
  WHERE rk = 1
)"""


_LID_NB_SQL = f"""
WITH {_lid_nb_sql_ctes()}
SELECT doc_id, lang_true, predicted_lang, nb_score FROM nbp
"""


@register("langid_nb_trained", _LID_NB_SQL)
def langid_nb_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language ID: multinomial naive Bayes over char trigrams
    (operators/text.py:langid_nb_score), trained on the 80% split of a
    seeded labeled fixture and scoring the held-out 20% — the
    neardup_method_recall pattern applied to langid (the real
    documents table's lang labels are RANDOM w.r.t. the text, so a
    fixture with genuine per-language character distributions is the
    honest evaluation bed; it generates from integer modular mixes,
    bit-identical in both engines). Scores are decimal-exact sums of
    9-dp-rounded gram log-probs (the perplexity convention), so the
    whole trained model hash-gates."""
    from apde_etl_spark.operators.text import langid_nb_score

    fx = tracked_persist(_lid_fixture(spark, sf_dir), scope="r7")
    train = fx.filter(F.col("doc_id") % 5 != 0)
    test = fx.filter(F.col("doc_id") % 5 == 0)
    return langid_nb_score(train, test)


_LID_ACC_SQL = f"""
WITH {_lid_nb_sql_ctes()},
hx AS (
  SELECT doc_id, lang_true, predicted_lang FROM (
    SELECT t.doc_id, t.lang_true, p.l AS predicted_lang,
           row_number() OVER (PARTITION BY t.doc_id
             ORDER BY p.hits DESC, p.l ASC) AS rk
    FROM (
      SELECT g.doc_id, any_value(g.lang_true) AS lang_true FROM teg g
      GROUP BY g.doc_id) t
    JOIN (
      SELECT g.doc_id, pr.l,
             sum(CASE WHEN pr.tri = g.gram THEN 1 ELSE 0 END) AS hits
      FROM teg g CROSS JOIN (
        SELECT l, unnest(tris) AS tri FROM profiles) pr
      GROUP BY 1, 2) p
      ON p.doc_id = t.doc_id) z
  WHERE rk = 1
),
profiles AS (
  SELECT 'lang' || CAST(k AS VARCHAR) AS l,
         list_transform(range(1, 11),
           x -> substr(CASE k {" ".join(
               f"WHEN {i} THEN '{p}'" for i, p in enumerate(_LID_POOLS))}
                END, CAST(x AS INTEGER), 3)) AS tris
  FROM range(0, 4) t(k)
),
maj AS (
  SELECT l FROM (SELECT lang AS l, count(*) AS c FROM tr GROUP BY 1
                 ORDER BY c DESC, l ASC LIMIT 1) m
),
arms AS (
  SELECT 'nb_trained' AS method,
         CAST(sum(CASE WHEN predicted_lang = lang_true THEN 1 ELSE 0 END)
              AS BIGINT) AS n_correct,
         CAST(count(*) AS BIGINT) AS n_total
  FROM nbp
  UNION ALL
  SELECT 'ngram_profile_heuristic',
         CAST(sum(CASE WHEN predicted_lang = lang_true THEN 1 ELSE 0 END)
              AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM hx
  UNION ALL
  SELECT 'majority_class',
         CAST(sum(CASE WHEN te.lang = maj.l THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(*) AS BIGINT)
  FROM te, maj
)
SELECT method, n_correct, n_total,
       {_sql_round('CAST(n_correct AS DOUBLE) / n_total', 6)} AS accuracy
FROM arms
"""


@register("langid_method_accuracy", _LID_ACC_SQL)
def langid_method_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy shoot-out on the held-out fixture split — INTEGER
    correct/total counts per method (hash-gated): the trained NB, the
    untrained char-trigram profile heuristic (profiles = each
    language's first 10 pool trigrams — the hand-built analogue of
    langid_ngram_scores), and the majority-class floor. The row a user
    reads to decide whether training the classifier is worth it
    (measured: NB near-perfect, heuristic far below — the same
    evaluation shape as neardup_method_recall)."""
    from apde_etl_spark.functions.core import round_half_away
    from apde_etl_spark.operators.text import (
        langid_ngram_scores,
        langid_nb_score,
    )

    fx = tracked_persist(_lid_fixture(spark, sf_dir), scope="r7")
    train = fx.filter(F.col("doc_id") % 5 != 0)
    test = fx.filter(F.col("doc_id") % 5 == 0)

    nb = langid_nb_score(train, test)
    nb_row = nb.agg(
        F.lit("nb_trained").alias("method"),
        F.sum(F.when(F.col("predicted_lang") == F.col("lang_true"), 1)
              .otherwise(0)).cast("long").alias("n_correct"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )

    profiles = {
        f"lang{k}": [p[i:i + 3] for i in range(10)]
        for k, p in enumerate(_LID_POOLS)
    }
    # multiplicity-counting heuristic (mirrors the oracle's hx arm):
    # hits = occurrences of profile trigrams, first-max-wins
    from apde_etl_spark.operators.text import (
        langid_ngram_scores_multiplicity,
    )

    hx = langid_ngram_scores_multiplicity(test, profiles)
    hx_row = hx.agg(
        F.lit("ngram_profile_heuristic").alias("method"),
        F.sum(F.when(F.col("predicted_lang") == F.col("lang"), 1)
              .otherwise(0)).cast("long").alias("n_correct"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )

    maj = (train.groupBy("lang").count()
           .orderBy(F.desc("count"), F.asc("lang")).limit(1)
           .select(F.col("lang").alias("__maj")))
    maj_row = test.crossJoin(F.broadcast(maj)).agg(
        F.lit("majority_class").alias("method"),
        F.sum(F.when(F.col("lang") == F.col("__maj"), 1).otherwise(0))
        .cast("long").alias("n_correct"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    out = nb_row.unionAll(hx_row).unionAll(maj_row)
    return out.select(
        "method", "n_correct", "n_total",
        round_half_away(
            F.col("n_correct").cast("double") / F.col("n_total"), 6
        ).alias("accuracy"),
    )




_SCHEMA_EVO_SQL = f"""
WITH merged AS ({_MERGE_V2_SQL})
SELECT CAST(1 AS INTEGER) AS version,
       CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS n_tiered,
       CAST(0 AS BIGINT) AS n_gold
UNION ALL
SELECT 2, (SELECT count(*) FROM merged), 0, 0
UNION ALL
SELECT 3, (SELECT count(*) FROM merged),
       (SELECT count(*) FROM merged),
       (SELECT count(*) FROM merged WHERE c_acctbal > 5000)
"""


@register("versioned_schema_evolution", _SCHEMA_EVO_SQL)
def versioned_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across versions: v=3 adds the loyalty_tier
    column; ONE mergeSchema read of the table directory (the v=N
    layout IS a hive partition scheme, so the version arrives as a
    column) unifies all snapshots, with pre-evolution versions reading
    the new column as NULL — the lake-format contract. Output is the
    per-version (rows, non-null-tier) census, gated against the
    analytically derived expectation, which proves BOTH the evolved
    write and the legacy-version NULL semantics in one row set."""
    from apde_etl_spark.sources.lifecycle import read_all_versions

    cust_dir, _, _ = _ensure_versioned(spark, sf_dir)
    allv = read_all_versions(spark, cust_dir)
    return (
        allv.groupBy(F.col("v").cast("int").alias("version"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
             F.count("loyalty_tier").cast("long").alias("n_tiered"),
             F.sum(F.when(F.col("loyalty_tier") == "gold", 1)
                   .otherwise(0)).cast("long").alias("n_gold"))
    )


_G_SUB_WHERE = "vec_id % 20 != 0"
_G_BATCH_PRED = "vec_id % 20 = 0"

_GRAPH_ADD_SQL = f"""
WITH {_sql_graph_search_ctes(corpus_where=_G_SUB_WHERE,
                             query_pred=_G_BATCH_PRED)},
nbrs AS (
  SELECT query_id, cid FROM (
    SELECT query_id, cid,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, cid ASC) AS rnk
    FROM beam{_G_HOPS} WHERE cid != query_id) z
  WHERE rnk <= {_G_M}
)
SELECT query_id AS vec_id,
       CAST(count(*) AS BIGINT) AS n_nbrs,
       CAST(sum(cid) AS BIGINT) AS nbr_id_sum
FROM nbrs GROUP BY query_id
"""
_GRAPH_ADD_SQL = materialize_ctes(
    _GRAPH_ADD_SQL, ("rk", "e", "q", "graph"))



@register("ann_graph_add_incremental", _GRAPH_ADD_SQL)
def ann_graph_add_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental insert into a FROZEN graph index (the NSW insert
    step): the graph is built on 95% of the corpus (vec_id % 20 != 0);
    the arriving 5% batch gets its neighbor lists from beam search
    against the existing graph — no rebuild, no exact k-NN job — and
    the new out-edges append to the persisted adjacency
    (operators/ann_index.py:ann_graph_add). Output is each new
    vector's neighbor count and integer neighbor-id sum, so the whole
    insert-time search is hash-gated (the ann_index_add_incremental
    pattern applied to the graph family). At 100 TB this is the
    nightly vector-ingest job: batch x frozen-graph walk, bounded per
    vector by beam * degree * hops."""
    from apde_etl_spark.operators.ann_index import build_knn_graph

    def build(d: str) -> str:
        emb95 = load(spark, sf_dir, "embeddings").filter(
            F.expr(_G_SUB_WHERE))
        build_knn_graph(emb95, d, n_neighbors=_G_M, n_entries=_G_ENTRIES,
                        n_long_links=_G_LONG)
        return d

    d = artifact("anngraph_sub", sf_dir, ("embeddings",), build)
    emb = load(spark, sf_dir, "embeddings")
    corpus95 = emb.filter(F.expr(_G_SUB_WHERE))
    batch = emb.filter(F.expr(_G_BATCH_PRED))
    # search WITHOUT writing (the append side effect is ann_graph_add's
    # job and is pytest-covered; the gate entry must be re-runnable
    # without mutating the cached index)
    from apde_etl_spark.operators.ann_index import ann_graph_search

    nbrs = ann_graph_search(
        spark, d, batch, corpus95, k=_G_M, beam=_G_BEAM, hops=_G_HOPS)
    # aggregate the NEIGHBOR ids per query, then surface the query id
    # under the output name (renaming inside groupBy would shadow the
    # summed column)
    return (
        nbrs.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nbrs"),
             F.sum("vec_id").cast("long").alias("nbr_id_sum"))
        .select(F.col("query_id").alias("vec_id"), "n_nbrs", "nbr_id_sum")
    )


# ===========================================================================
# Portable HLL registers: persisted per-day sketches, merged from storage
# ===========================================================================

from apde_etl_spark.operators.profile import HLL_ALPHA, HLL_M  # noqa: E402

_SQL_H60_USER = ("CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),"
                 " 1, 15)) AS BIGINT)")

_HLL_REG_CTES = f"""
ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events
       WHERE user_id IS NOT NULL),
hh AS (SELECT day, {_SQL_H60_USER} AS h FROM ev),
r AS (
  SELECT day, CAST(h % {HLL_M} AS INTEGER) AS reg,
         CAST(CASE WHEN h // {HLL_M} = 0 THEN 53
                   ELSE 53 - length(bin(h // {HLL_M})) END AS INTEGER) AS rho
  FROM hh
),
regs AS (
  SELECT day, reg, CAST(max(rho) AS INTEGER) AS max_rho
  FROM r GROUP BY 1, 2
)"""


def _ensure_hll_store(spark: SparkSession, sf_dir: str) -> str:
    """Build per-day register tables ONCE and persist them — the
    sketch store the union entry merges FROM STORAGE."""
    from apde_etl_spark.operators.profile import hll_registers
    from apde_etl_spark.plans.catalog import load_events

    def build(d: str) -> str:
        ev = load_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
        regs = hll_registers(ev, "user_id", ["day"])
        regs.write.mode("overwrite").partitionBy("day").parquet(d)
        return d

    return artifact("hll", sf_dir, ("events",), build)


_HLL_DAILY_SQL = f"""
WITH {_HLL_REG_CTES}
SELECT day, reg, max_rho FROM regs
"""


@register("hll_daily_user_registers", _HLL_DAILY_SQL)
def hll_daily_user_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE per-day HLL register tables
    (operators/profile.py:hll_registers): plain-integer (day, reg,
    max_rho) rows — unlike the engine-native DataSketches binary,
    these persist as parquet, merge with one groupBy-MAX, and
    hash-gate exactly (register = low 8 bits of the cross-engine
    hash60, rho via exact binary-string length, never float log2).
    The entry reads the sketches BACK FROM THE PARTITIONED STORE, so
    the gate covers the write->read round trip. At 100 TB: ~m rows of
    state per day regardless of traffic — the incremental-distinct
    ingest artifact."""
    d = _ensure_hll_store(spark, sf_dir)
    return spark.read.parquet(d).select(
        F.col("day").cast("date").alias("day"), "reg", "max_rho")


def _sql_hll_est_ctes(reg_src: str) -> str:
    """The estimator CTE chain over a register relation
    ``{reg_src}(reg, max_rho)`` — ONE restatement of
    profile.hll_estimate shared by the union-from-storage and
    streaming oracles: integer-numerator harmonic sum (2^(53-rho)
    over the 2^53 denominator), then the alpha*m^2 formula with
    low-range linear counting. Ends at ``est(e)``."""
    e_raw = (f"CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M} * {HLL_M}"
             f" * 9007199254740992.0"
             f" / CAST(({HLL_M} - nz) * 9007199254740992 + sum_inv"
             f" AS DOUBLE)")
    return f"""
m AS (SELECT reg, max(max_rho) AS max_rho FROM {reg_src} GROUP BY 1),
agg AS (
  SELECT count(*) AS nz,
         sum(CAST(1 AS BIGINT) << (53 - max_rho)) AS sum_inv
  FROM m
),
est AS (
  SELECT CASE WHEN ({e_raw}) <= {2.5 * HLL_M}
                AND ({HLL_M} - nz) > 0
              THEN CAST({float(HLL_M)!r} AS DOUBLE)
                   * ln(CAST({float(HLL_M)!r} AS DOUBLE)
                        / CAST({HLL_M} - nz AS DOUBLE))
              ELSE {e_raw} END AS e
  FROM agg
)"""


_HLL_UNION_SQL = f"""
WITH {_HLL_REG_CTES},{_sql_hll_est_ctes('regs')}
SELECT CAST((SELECT count(DISTINCT day) FROM regs) AS BIGINT) AS n_days,
       {_sql_round('e', 6)} AS est_distinct,
       CAST((SELECT count(DISTINCT user_id) FROM ev) AS BIGINT)
         AS exact_distinct,
       {_sql_round(
           'abs(e - (SELECT count(DISTINCT user_id) FROM ev))'
           ' / (SELECT count(DISTINCT user_id) FROM ev)', 6)} AS rel_err
FROM est
"""


@register("hll_union_from_storage", _HLL_UNION_SQL)
def hll_union_from_storage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge the PERSISTED per-day sketches into one month-wide
    distinct estimate WITHOUT rescanning events: groupBy(reg).MAX over
    ~days*m integer rows, then the HLL estimator with the harmonic sum
    accumulated as integer numerators over 2^53 (order-independent —
    bit-identical across engines; only the final division and the
    low-range ln are float, on identical integers). Emits the estimate
    beside the exact distinct and the relative error, all hash-gated —
    the sketch-accuracy contract is IN the gate, not a test-only
    assertion."""
    from apde_etl_spark.functions.core import round_half_away
    from apde_etl_spark.operators.profile import hll_estimate
    from apde_etl_spark.plans.catalog import load_events

    d = _ensure_hll_store(spark, sf_dir)
    regs = spark.read.parquet(d)
    merged = regs.groupBy("reg").agg(F.max("max_rho").alias("max_rho"))
    est = hll_estimate(merged)
    ev = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    exact = ev.agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct"))
    days = regs.agg(
        F.count_distinct("day").cast("long").alias("n_days"))
    return (
        est.crossJoin(F.broadcast(exact)).crossJoin(F.broadcast(days))
        .select(
            "n_days",
            round_half_away(F.col("est_distinct"), 6).alias("est_distinct"),
            "exact_distinct",
            round_half_away(
                F.abs(F.col("est_distinct")
                      - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double"), 6,
            ).alias("rel_err"),
        )
    )


_HLL_STREAM_SQL = f"""
WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
hh AS (SELECT {_SQL_H60_USER} AS h FROM ev),
r2 AS (
  SELECT CAST(h % {HLL_M} AS INTEGER) AS reg,
         CAST(CASE WHEN h // {HLL_M} = 0 THEN 53
                   ELSE 53 - length(bin(h // {HLL_M})) END
              AS INTEGER) AS max_rho
  FROM hh
),{_sql_hll_est_ctes('r2')}
SELECT {_sql_round('e', 6)} AS est_distinct,
       CAST((SELECT count(DISTINCT user_id) FROM ev) AS BIGINT)
         AS exact_distinct,
       {_sql_round(
           'abs(e - (SELECT count(DISTINCT user_id) FROM ev))'
           ' / (SELECT count(DISTINCT user_id) FROM ev)', 6)} AS rel_err
FROM est
"""


def _fold_hll_state(batch_df: DataFrame,
                    existing: DataFrame | None) -> DataFrame:
    """Fold one micro-batch into the global register state: sketch the
    batch, MAX-merge with the current registers. Associative and
    replay-safe by construction (max is idempotent), so micro-batch
    boundaries cannot change the state."""
    from apde_etl_spark.operators.profile import hll_registers

    regs = hll_registers(batch_df, "user_id")
    if existing is None:
        return regs
    return (
        existing.unionByName(regs)
        .groupBy("reg").agg(F.max("max_rho").alias("max_rho"))
    )


@register("stream_hll_distinct", _HLL_STREAM_SQL)
def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING distinct-count sketch: events arrive in micro-batches,
    each folds its portable HLL registers into the persisted state
    under the shared idempotent foreachBatch runner (max-merge — the
    one fold that is associative, commutative AND idempotent, so
    at-least-once replays and any micro-batch slicing land on the
    identical register table). The oracle computes the same estimator
    over all events in one pass — stream-batch convergence is
    hash-proven, like stream_cdc_apply. This is the production
    real-time 'distinct users today' counter: ~m integer rows of
    state, merged into the daily store without rescans."""
    import atexit
    import shutil
    import tempfile

    from apde_etl_spark.functions.core import round_half_away
    from apde_etl_spark.operators.profile import hll_estimate
    from apde_etl_spark.plans.catalog import load_events, normalize_ts
    from apde_etl_spark.plans.catalog_r2 import run_idempotent_upsert

    load_events(spark, sf_dir)  # sets the nanos conf if needed
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    src = normalize_ts(src)
    workdir = tempfile.mkdtemp(prefix="stream_hll_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    target = run_idempotent_upsert(src, workdir, _fold_hll_state)
    state = spark.read.parquet(target)
    est = hll_estimate(state)
    ev = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    exact = ev.agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact)).select(
        round_half_away(F.col("est_distinct"), 6).alias("est_distinct"),
        "exact_distinct",
        round_half_away(
            F.abs(F.col("est_distinct")
                  - F.col("exact_distinct").cast("double"))
            / F.col("exact_distinct").cast("double"), 6,
        ).alias("rel_err"),
    )
