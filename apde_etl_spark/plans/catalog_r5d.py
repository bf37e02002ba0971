"""Round-5 extension catalog: graph analytics (integer PageRank,
degree profile).

Centrality as a curation signal (Common Crawl weights training corpora
by domain centrality) — extension surface; the reference (apde.etl
v2.2.0) has no graph operators. The key design move is FIXED-POINT
INTEGER arithmetic (operators/graph.py): float PageRank can never be
hash-gated across engines because summation order changes the low bits,
but integer shares + integer sums are order-independent, so the oracle
is a FULL hash match — the iterative-algorithm family graduates from
rows-only to hash-gated. The DuckDB twin unrolls the same five
iterations as chained CTEs; Spark iterates the same update as five
join+groupBy rounds. Identical floor divisions, identical BIGINTs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apde_etl_spark.operators.cache import tracked_persist
from apde_etl_spark.operators.graph import pagerank_integer
from apde_etl_spark.plans.catalog import load, materialize_ctes, register

_PR_ITERS = 5
_PR_SCALE = 10**12

# shared graph CTEs: undirected bipartite customer–supplier co-purchase
# graph; node id space = custkey*2 (even) / suppkey*2+1 (odd).
_GRAPH_CTES = """
e0 AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) * 2 AS c,
                  CAST(l_suppkey AS BIGINT) * 2 + 1 AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT c AS src, s AS dst FROM e0 UNION ALL SELECT s, c FROM e0
), deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
  FROM edges GROUP BY src
)"""


def _pr_mat(sql: str) -> str:
    """Pin ONE evaluation per iteration CTE: un-materialized, DuckDB
    re-inlines ``edges`` (a lineitem-scale join + DISTINCT) at every
    reference and the convergence query doubles the whole pr-chain by
    reading both pr{n} and pr{n-1} — the sf1 oracle spilled >70 GB and
    died on disk (round-8 gate); materialized it runs in seconds."""
    names = ("e0", "edges", "deg", "tp") + tuple(
        f"pr{i}" for i in range(_PR_ITERS + 1)) + tuple(
        f"s{i}" for i in range(_PR_ITERS))
    return materialize_ctes(sql, tuple(n for n in names
                                       if f"{n} AS (" in sql))


def _pagerank_sql() -> str:
    parts = [
        f"""
WITH {_GRAPH_CTES}, tp AS (
  SELECT CAST(15 * CAST({_PR_SCALE} AS BIGINT) AS BIGINT)
           // (100 * count(*)) AS t,
         CAST(count(*) AS BIGINT) AS n
  FROM deg
), pr0 AS (
  SELECT node, CAST({_PR_SCALE} AS BIGINT) // n AS pr_rank FROM deg, tp
)"""
    ]
    for i in range(_PR_ITERS):
        parts.append(f""", s{i} AS (
  SELECT e.dst AS node, sum(p.pr_rank // d.deg) AS m
  FROM pr{i} p
  JOIN deg d ON d.node = p.node
  JOIN edges e ON e.src = p.node
  GROUP BY e.dst
), pr{i + 1} AS (
  SELECT d.node,
         CAST(tp.t + (85 * COALESCE(s{i}.m, 0)) // 100 AS BIGINT) AS pr_rank
  FROM deg d LEFT JOIN s{i} ON s{i}.node = d.node, tp
)""")
    parts.append(f"\nSELECT node, pr_rank FROM pr{_PR_ITERS}")
    return _pr_mat("".join(parts))


def _edges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    e0 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("c"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    return e0.selectExpr("c AS src", "s AS dst").unionAll(
        e0.selectExpr("s AS src", "c AS dst")
    )


@register("graph_pagerank_copurchase", _pagerank_sql())
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-iteration fixed-point PageRank over the undirected
    customer–supplier co-purchase graph. Hash-gated DESPITE being
    iterative: integer fixed-point makes the result independent of
    execution and summation order (graph.py module docstring). Plan:
    edge list persisted once, then per iteration one join + one groupBy
    both keyed on the node id — the textbook distributed-PageRank shape
    (co-partition edges by src at 100 TB and the join is shuffle-free)."""
    edges = tracked_persist(_edges_df(spark, sf_dir), scope="graph")
    pr = pagerank_integer(edges, iters=_PR_ITERS, scale=_PR_SCALE,
                           cache_scope="graph")
    return pr.select("node", F.col("rank").alias("pr_rank"))


# personalized PageRank: teleport only to the seed set (low-key
# customers — node even and < 20), ranks = proximity to the seeds.
def _ppr_seed(col: str) -> str:
    return f"({col} % 2 = 0 AND {col} < 20)"


def _ppr_sql() -> str:
    parts = [
        f"""
WITH {_GRAPH_CTES}, tp AS (
  SELECT CAST(15 * CAST({_PR_SCALE} AS BIGINT) AS BIGINT)
           // (100 * sum(CASE WHEN {_ppr_seed('node')} THEN 1 ELSE 0 END)) AS t,
         CAST(sum(CASE WHEN {_ppr_seed('node')} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_seed
  FROM deg
), pr0 AS (
  SELECT node,
         CASE WHEN {_ppr_seed('node')}
              THEN CAST({_PR_SCALE} AS BIGINT) // n_seed
              ELSE CAST(0 AS BIGINT) END AS pr_rank
  FROM deg, tp
)"""
    ]
    for i in range(_PR_ITERS):
        parts.append(f""", s{i} AS (
  SELECT e.dst AS node, sum(p.pr_rank // d.deg) AS m
  FROM pr{i} p
  JOIN deg d ON d.node = p.node
  JOIN edges e ON e.src = p.node
  GROUP BY e.dst
), pr{i + 1} AS (
  SELECT d.node,
         CAST(CASE WHEN {_ppr_seed('d.node')} THEN tp.t ELSE 0 END
              + (85 * COALESCE(s{i}.m, 0)) // 100 AS BIGINT) AS pr_rank
  FROM deg d LEFT JOIN s{i} ON s{i}.node = d.node, tp
)""")
    parts.append(
        f"\nSELECT node, pr_rank FROM pr{_PR_ITERS} WHERE pr_rank > 0")
    return _pr_mat("".join(parts))


@register("graph_ppr_seeded", _ppr_sql())
def graph_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a seed set of customers — ranks are
    proximity to the seeds (the similar-entity-discovery primitive:
    'suppliers and customers most associated with THESE accounts').
    Same integer fixed-point trick as the global entry, so iterative +
    hash-gated; zero-rank nodes (unreached within 5 hops) are filtered
    in both engines."""
    edges = tracked_persist(_edges_df(spark, sf_dir), scope="graph")
    seed = (F.col("node") % 2 == 0) & (F.col("node") < 20)
    pr = pagerank_integer(
        edges, iters=_PR_ITERS, scale=_PR_SCALE, seed_pred=seed,
        cache_scope="graph")
    return pr.filter(F.col("rank") > 0).select(
        "node", F.col("rank").alias("pr_rank"))


# convergence monitor: pr4 and pr5 are both CTEs of the unrolled chain,
# so the oracle reads the delta straight off them.
_PR_CONVERGENCE_SQL = (
    _pagerank_sql().replace(
        f"\nSELECT node, pr_rank FROM pr{_PR_ITERS}",
        f"""
SELECT CAST(sum(abs(a.pr_rank - b.pr_rank)) AS BIGINT) AS l1_delta,
       CAST(sum(a.pr_rank) AS BIGINT) AS total_mass,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM pr{_PR_ITERS} a JOIN pr{_PR_ITERS - 1} b ON a.node = b.node""",
    )
)


@register("graph_pagerank_convergence", _PR_CONVERGENCE_SQL)
def graph_pagerank_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence monitor for the iterative family: the L1 distance
    between iterations {n-1} and {n} in EXACT fixed-point units, plus
    the surviving total mass — the numbers an operator watches to pick
    the iteration budget (delta shrinking ~ damping^k) and to see the
    truncation loss. One extra iteration's cost over the ranks entry;
    all integers, so the convergence measurement itself is hash-gated —
    monitoring you can trust across engines and retries."""
    edges = tracked_persist(_edges_df(spark, sf_dir), scope="graph")
    r_prev = pagerank_integer(edges, iters=_PR_ITERS - 1, scale=_PR_SCALE,
                              cache_scope="graph")
    r_last = pagerank_integer(edges, iters=_PR_ITERS, scale=_PR_SCALE,
                              cache_scope="graph")
    j = r_last.select("node", F.col("rank").alias("ra")).join(
        r_prev.select("node", F.col("rank").alias("rb")), "node")
    return j.agg(
        F.sum(F.abs(F.col("ra") - F.col("rb"))).cast("long").alias("l1_delta"),
        F.sum("ra").cast("long").alias("total_mass"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
    )


_DEGREE_SQL = _pr_mat(f"""
WITH {_GRAPH_CTES}
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       deg, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1, 2
""")


@register("graph_degree_histogram", _DEGREE_SQL)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution by node type — the sanity profile you read
    before trusting any centrality number (skew here predicts the hot
    keys the PageRank join will see). One groupBy cascade."""
    edges = _edges_df(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    return deg.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        "deg",
    ).groupBy("node_type", "deg").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
