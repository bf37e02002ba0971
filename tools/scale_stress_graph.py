"""Scale stress for the integer-PageRank family: synthesize a graph
orders of magnitude past the testdata and time the 5-iteration ranks,
checking the claimed posture — per iteration ONE join + ONE groupBy on
the node id, cost linear in |E|.

Graph model: power-law-ish bipartite co-purchase (hot suppliers exist,
as in the real graph): each customer buys from a run of consecutive
suppliers that starts at a squared-uniform hash (mass concentrates on
low ids). Every (customer, supplier) pair is distinct by construction,
so a requested size of ``n_edges`` gives exactly ``2 * (n_edges // 2)``
directed edges and says which side of ``graph.PR_LOCAL_MAX_EDGES`` the
graph lands on. Generated in place with Spark expressions — no driver
loops.

Usage: python tools/scale_stress_graph.py [n_edges ...]
       python tools/scale_stress_graph.py iterscale [n_edges]
Prints one JSON line per size, with the directed edge count PageRank
ran on; paste into BASELINE.md.

``iterscale`` is the round-6 lineage-truncation proof: on one fixed
graph it times iters=5 vs iters=25, both with checkpoint_every=5 —
the 25-iteration wall must be ~5x the 5-iteration wall (linear in
iterations, not superlinear in plan depth), and the redistribute
variant is timed alongside.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _gen_edges(spark, n_edges: int):
    """``n_edges // 2`` distinct (c, s) pairs: customer ``c`` is the
    pair index modulo the customer count, and its ``r``-th pair goes to
    supplier ``(start(c) + r) % n_supp`` with ``r`` below ``n_supp``, so
    no pair repeats and no ``distinct`` is needed."""
    from pyspark.sql import functions as F

    pairs = n_edges // 2
    n_cust = max(1000, pairs // 20)
    n_supp = max(100, pairs // 2000)
    u = (F.abs(F.xxhash64(F.col("c"), F.lit(3))) % (1 << 20)) / float(1 << 20)
    return (
        spark.range(pairs)
        .select((F.col("id") % n_cust).alias("c"),
                (F.col("id") / n_cust).cast("long").alias("r"))
        .select(
            (F.col("c") * 2).alias("c"),
            (((F.floor(u * u * n_supp) + F.col("r")) % n_supp) * 2
             + 1).alias("s"),
        )
    )


def iterscale(n_edges: int = 2_000_000) -> None:
    """Time iters=5 vs iters=25 (checkpoint_every=5) on one graph: wall
    must scale ~linearly in the iteration count, proving the lineage
    truncation keeps long runs out of superlinear planning territory."""
    from pyspark.sql import functions as F

    from apde_etl_spark.operators.graph import pagerank_integer
    from apde_etl_spark.session import get_spark

    spark = get_spark("scale-stress-graph-iters")
    e0 = _gen_edges(spark, n_edges)
    edges = (
        e0.selectExpr("c AS src", "s AS dst")
        .unionAll(e0.selectExpr("s AS src", "c AS dst"))
        .persist()
    )
    m = edges.count()
    directed = e0.selectExpr("c AS src", "s AS dst").persist()
    directed.count()
    out = {"tool": "scale_stress_graph_iterscale", "n_directed_edges": m}
    for iters in (5, 25):
        t0 = time.time()
        pr = pagerank_integer(edges, iters=iters, checkpoint_every=5)
        rows = pr.agg(F.sum("rank"), F.count(F.lit(1))).collect()
        out[f"undirected_{iters}iter_sec"] = round(time.time() - t0, 1)
        out[f"undirected_{iters}iter_mass"] = int(rows[0][0])
    out["iter_ratio_25_over_5"] = round(
        out["undirected_25iter_sec"] / max(out["undirected_5iter_sec"], 1e-9),
        2,
    )
    t0 = time.time()
    prd = pagerank_integer(directed, iters=25, dangling="redistribute",
                           checkpoint_every=5)
    rows = prd.agg(F.sum("rank"), F.count(F.lit(1))).collect()
    out["directed_redistribute_25iter_sec"] = round(time.time() - t0, 1)
    out["directed_mass_retained_ppm"] = int(
        rows[0][0] * 1_000_000 // 10**12)
    out["loadavg"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))


def main() -> None:
    from pyspark.sql import functions as F

    from apde_etl_spark.operators.graph import pagerank_integer
    from apde_etl_spark.session import get_spark

    if sys.argv[1:] and sys.argv[1] == "iterscale":
        iterscale(*(int(a) for a in sys.argv[2:3]))
        return
    sizes = [int(a) for a in sys.argv[1:]] or [2_000_000, 20_000_000]
    spark = get_spark("scale-stress-graph")

    for n_edges in sizes:
        e0 = _gen_edges(spark, n_edges)
        edges = (
            e0.selectExpr("c AS src", "s AS dst")
            .unionAll(e0.selectExpr("s AS src", "c AS dst"))
            .persist()
        )
        m = edges.count()  # materialize outside the timed window
        t0 = time.time()
        pr = pagerank_integer(edges, iters=5)
        top = pr.orderBy(F.col("rank").desc(), F.col("node").asc()).limit(5)
        rows = top.collect()
        wall = time.time() - t0
        # determinism probe: a second run must reproduce bit-identical ranks
        again = (
            pagerank_integer(edges.repartition(64), iters=5)
            .orderBy(F.col("rank").desc(), F.col("node").asc()).limit(5)
            .collect()
        )
        assert [(r["node"], r["rank"]) for r in rows] == [
            (r["node"], r["rank"]) for r in again
        ], "integer PageRank must be partitioning-invariant"
        print(json.dumps({
            "tool": "scale_stress_graph",
            "n_edges_requested": n_edges,
            "n_directed_edges": m,
            "pagerank_5iter_sec": round(wall, 1),
            "top_node": rows[0]["node"],
            "top_rank": rows[0]["rank"],
            "loadavg": round(os.getloadavg()[0], 2),
        }))
        edges.unpersist()


if __name__ == "__main__":
    main()
