"""Round-9 catalog: INSERTION-BUILT HNSW (the scale-complete build).

The round-8 layered index reached recall 0.9812 at 200k vectors, but
its CONSTRUCTION still ran the exact-kNN kernel behind the 200k
``EXACT_TOPK_MAX_ROWS`` gate — the one remaining scale seam in the
operator map (round-8 verdict, "What's missing" #2). This round builds
the graph the way real HNSW does (Malkov & Yashunin 2018, public
method): every node finds its neighbors BY SEARCHING the graph built
so far, so construction is ~O(n log n) joins with no quadratic kernel
and no size gate (operators/ann_index.py:build_knn_graph_insert).

Determinism contract (what lets DuckDB restate the whole build):

- nodes insert in id-rank order; the first ``boot`` form an exact-kNN
  bootstrap (bounded self-join); batch t covers id-ranks
  [boot*2^(t-1), boot*2^t) — DOUBLING batches, so the oracle unroll is
  logarithmic in corpus size (5 batches cover 4096 nodes);
- nodes within a batch insert independently (no intra-batch edges) —
  batch-parallel construction, deterministic by design;
- each insert runs the fixed-hop layered descent + layer-0 walk
  against the previous batch's frozen adjacency; out-edges are the
  beam's top-M (cosine desc, id asc); REVERSE edges are added and each
  touched node re-pruned to top-M — incremental pruning is exact (an
  edge outside a top-M can never re-enter it on a superset);
- the corpus is capped at ``vec_id < 4000`` so the fixed 5-batch
  unroll below covers every gate SF (embeddings is 500/2000 rows at
  sf0.01/sf0.1; sf1 keeps the source-scale table).

Serving is the UNCHANGED :func:`ann_graph_search_layered` — the
insert-built artifacts land in the same graph/graph_upper/graph_meta/
layer_meta layout, which is the point: 'train once, serve many' with a
build that survives 100 TB. Recall vs the exact-built graph and the
1M-vector build wall are measured by tools/scale_stress_anngraph.py
--mode insert (BASELINE.md).

Reference parity: the reference has no vector index; this extends the
training-data surface (SURVEY.md "beyond the reference"). Provenance
for the serve/oracle shape: plans/catalog_r8.py:212,276.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apde_etl_spark.plans.artifacts import artifact
from apde_etl_spark.plans.catalog import (
    _sql_round,
    load,
    materialize_ctes,
    register,
)
from apde_etl_spark.plans.catalog_r7 import _sql_g_cos
from apde_etl_spark.plans.catalog_r8 import (
    _H_BEAM,
    _H_DBEAM,
    _H_ENTRIES,
    _H_FACTOR,
    _H_HOPS,
    _H_HPL,
    _H_K,
    _H_LAYERS,
    _H_LM,
    _H_LONG,
    _H_M,
    _H_QUERY_PRED,
)

# build-time knobs (serve knobs are shared with the r8 entries above)
_I_CAP = 4000      # corpus cap: BOOT * 2^TMAX = 4096 covers every gate SF
_I_BOOT = 128      # bootstrap rows (exact-kNN seeded, bounded self-join)
_I_TMAX = 5        # unrolled doubling batches: 128 -> 4096
_I_M0 = 16         # stored layer-0 degree (HNSW maxM0 = 2M convention —
                   # degree 8 caps serve recall at 0.71 here, 16 reaches
                   # 0.914 vs the exact build's 0.886 at the sf0.1 gate)
_I_DBEAM = 8       # insert-time descent beam width
_I_HPL = 1         # insert-time hops per upper layer
_I_BEAM0 = 16      # insert-time layer-0 beam width
_I_HOPS0 = 3       # insert-time layer-0 hop rounds
_I_RHOPS = 3       # refresh-pass hop rounds (NN-descent repair)
_I_RBEAM = 16      # refresh-pass beam width

def _capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _I_CAP)


def _ensure_insert_index(spark: SparkSession, sf_dir: str) -> str:
    from apde_etl_spark.operators.ann_index import build_knn_graph_insert

    def build(d: str) -> str:
        build_knn_graph_insert(
            _capped(spark, sf_dir), d,
            n_neighbors=_I_M0, n_entries=_H_ENTRIES, n_long_links=_H_LONG,
            n_layers=_H_LAYERS, layer_factor=_H_FACTOR,
            layer_neighbors=_H_LM, boot_rows=_I_BOOT,
            descend_beam=_I_DBEAM, hops_per_layer=_I_HPL,
            insert_beam=_I_BEAM0, insert_hops=_I_HOPS0,
            refresh_passes=1, refresh_hops=_I_RHOPS,
            refresh_beam=_I_RBEAM)
        return d

    return artifact("hnsw_insert", sf_dir, ("embeddings",), build)


# ---------------------------------------------------------------------------
# Oracle SQL generation: the batched insertion, unrolled batch-for-batch
# ---------------------------------------------------------------------------

#: every generated CTE name — ALL of them get AS MATERIALIZED: each hop
#: references its predecessor twice (carry + expand), so un-pinned CTEs
#: inline exponentially along the chain (measured: 37s -> ~2s at sf0.01)
_MAT_NAMES: list[str] = []


def _ihop(prev: str, new: str, graph: str, width: int, q: str) -> str:
    """One expand-score-cut round: candidates = previous beam ∪ its
    ``graph`` neighbors (DISTINCT), exact-cosine scored against ``q``,
    top ``width`` kept (cosine desc, id asc) — the SQL twin of one
    loop iteration in both the insert walk and the serve walk."""
    cos = _sql_g_cos("s.v", "s.n", "q.qv", "q.qn")
    _MAT_NAMES.extend([f"{new}_c", new])
    return f"""
{new}_c AS (
  SELECT DISTINCT query_id, cid FROM (
    SELECT query_id, cid FROM {prev}
    UNION ALL
    SELECT b.query_id, g.dst AS cid
    FROM {prev} b JOIN {graph} g ON g.src = b.cid) u
), {new} AS (
  SELECT query_id, cid, cos FROM (
    SELECT c.query_id, c.cid, {cos} AS cos,
           row_number() OVER (PARTITION BY c.query_id
             ORDER BY {cos} DESC, c.cid ASC) AS rk
    FROM {new}_c c JOIN nodes s ON s.cid = c.cid
    JOIN {q} q ON q.query_id = c.query_id) z
  WHERE rk <= {width})"""


def _iknn(name: str, pred: str, k: int) -> str:
    """Exact cosine k-NN among the bootstrap subset — (src, dst, cos)."""
    cos = _sql_g_cos("a.v", "a.n", "b.v", "b.n")
    _MAT_NAMES.append(name)
    return f"""
{name} AS (
  SELECT src, dst, cos FROM (
    SELECT a.cid AS src, b.cid AS dst, {cos} AS cos,
           row_number() OVER (PARTITION BY a.cid
             ORDER BY {cos} DESC, b.cid ASC) AS rk
    FROM nodes a JOIN nodes b ON a.cid != b.cid
    WHERE a.rn < {_I_BOOT} AND b.rn < {_I_BOOT}
      AND a.lvl >= {pred} AND b.lvl >= {pred}) z
  WHERE rk <= {k})"""


def _imerge(name: str, prev: str, out: str, k: int) -> str:
    """adjacency_t = per-src top-k of (adjacency_{t-1} ∪ out ∪
    reverse(out)) — the exact incremental prune."""
    _MAT_NAMES.append(name)
    return f"""
{name} AS (
  SELECT src, dst, cos FROM (
    SELECT src, dst, cos,
           row_number() OVER (PARTITION BY src
             ORDER BY cos DESC, dst ASC) AS rk
    FROM (SELECT src, dst, max(cos) AS cos FROM (
            SELECT src, dst, cos FROM {prev}
            UNION ALL SELECT src, dst, cos FROM {out}
            UNION ALL SELECT dst AS src, src AS dst, cos FROM {out}) u
          GROUP BY src, dst) d) z
  WHERE rk <= {k})"""


def _sql_insert_build_ctes() -> str:
    """Base frames + bootstrap adjacency + the 5 unrolled insertion
    batches; ends with adjacency CTEs ``a0_{_I_TMAX}`` /
    ``u{{l}}_{_I_TMAX}``. Batches past the corpus size are empty and
    leave the adjacency unchanged (re-pruning is idempotent)."""
    lvl_case = "CASE " + " ".join(
        f"WHEN h % {_H_FACTOR ** l} = 0 THEN {l}"
        for l in range(_H_LAYERS, 0, -1)) + " ELSE 0 END"
    cos = _sql_g_cos("s.v", "s.n", "q.qv", "q.qn")
    parts = [f"""
raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id < {_I_CAP}),
e AS (SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, y -> y*y))) AS n FROM raw),
hsh AS (SELECT vec_id,
               CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1,
                    15)) AS BIGINT) AS h
        FROM e),
nodes AS (
  SELECT e.vec_id AS cid, e.v, e.n,
         row_number() OVER (ORDER BY e.vec_id) - 1 AS rn,
         {lvl_case} AS lvl
  FROM e JOIN hsh ON hsh.vec_id = e.vec_id),
ent0 AS (
  SELECT cid FROM (
    SELECT n.cid, row_number() OVER (ORDER BY h.h, n.cid) AS hrn
    FROM nodes n JOIN hsh h ON h.vec_id = n.cid WHERE n.rn < {_I_BOOT}) z
  WHERE hrn <= {_H_ENTRIES})"""]
    parts.append(_iknn("a0_0", "0", _I_M0))
    for l in range(1, _H_LAYERS + 1):
        parts.append(_iknn(f"u{l}_0", str(l), _H_LM))
    for t in range(1, _I_TMAX + 1):
        start = _I_BOOT * 2 ** (t - 1)
        end = 2 * start
        _MAT_NAMES.extend([f"qb{t}", f"sd{t}", f"b{t}s"])
        parts.append(f"""
qb{t} AS (SELECT cid AS query_id, v AS qv, n AS qn, lvl AS qlvl
          FROM nodes WHERE rn >= {start} AND rn < {end}),
sd{t} AS (SELECT cid FROM nodes WHERE rn < {start} AND lvl >= {_H_LAYERS}
          UNION SELECT cid FROM ent0),
b{t}s AS (
  SELECT query_id, cid, cos FROM (
    SELECT q.query_id, s.cid, {cos} AS cos,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {cos} DESC, s.cid ASC) AS rk
    FROM qb{t} q CROSS JOIN sd{t} d JOIN nodes s ON s.cid = d.cid) z
  WHERE rk <= {_I_DBEAM})""")
        prev = f"b{t}s"
        layer_beam: dict[int, str] = {}
        for l in range(_H_LAYERS, 0, -1):
            for h in range(_I_HPL):
                new = f"b{t}l{l}h{h}"
                parts.append(_ihop(prev, new, f"u{l}_{t - 1}", _I_DBEAM,
                                   f"qb{t}"))
                prev = new
            layer_beam[l] = prev
        # layer-0 expansion graph = adjacency ∪ long links over the
        # current state (modulus = state size = start) — the insert
        # walk's diameter shortcuts; see build_knn_graph_insert
        _MAT_NAMES.extend([f"ll{t}", f"ga{t}"])
        parts.append(f"""
ll{t} AS (
  SELECT a.cid AS src, b.cid AS dst
  FROM nodes a CROSS JOIN range(1, {_H_LONG + 1}) t(r)
  JOIN nodes b
    ON b.rn = (a.rn * 2654435761 + r * 40503 + 12345) % {start}
   AND b.cid != a.cid
  WHERE a.rn < {start} AND b.rn < {start}),
ga{t} AS (SELECT src, dst FROM a0_{t - 1}
          UNION ALL SELECT src, dst FROM ll{t})""")
        for h in range(_I_HOPS0):
            new = f"b{t}f{h}"
            parts.append(_ihop(prev, new, f"ga{t}", _I_BEAM0,
                               f"qb{t}"))
            prev = new
        _MAT_NAMES.append(f"o0_{t}")
        parts.append(f"""
o0_{t} AS (
  SELECT query_id AS src, cid AS dst, cos FROM (
    SELECT query_id, cid, cos,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, cid ASC) AS rk
    FROM {prev}) z
  WHERE rk <= {_I_M0})""")
        for l in range(1, _H_LAYERS + 1):
            _MAT_NAMES.append(f"o{l}_{t}")
            parts.append(f"""
o{l}_{t} AS (
  SELECT src, dst, cos FROM (
    SELECT b.query_id AS src, b.cid AS dst, b.cos,
           row_number() OVER (PARTITION BY b.query_id
             ORDER BY b.cos DESC, b.cid ASC) AS rk
    FROM {layer_beam[l]} b
    JOIN qb{t} q ON q.query_id = b.query_id AND q.qlvl >= {l}
    JOIN nodes s ON s.cid = b.cid AND s.lvl >= {l}) z
  WHERE rk <= {_H_LM})""")
        parts.append(_imerge(f"a0_{t}", f"a0_{t - 1}", f"o0_{t}", _I_M0))
        for l in range(1, _H_LAYERS + 1):
            parts.append(_imerge(f"u{l}_{t}", f"u{l}_{t - 1}", f"o{l}_{t}",
                                 _H_LM))
    # ---- NN-descent refresh pass over the completed graph: every node
    # re-searches seeded from its own neighbor list; top-M0 re-merge
    # with reverse edges into the final adjacency a0_f. nn/longl (the
    # full-corpus long links) are shared with the serve walk below.
    T = _I_TMAX
    cosr = _sql_g_cos("s.v", "s.n", "q.qv", "q.qn")
    _MAT_NAMES.extend(["nn", "longl", "rq", "rga", "rbs", "ro"])
    parts.append(f"""
nn AS (SELECT count(*) AS n FROM nodes),
longl AS (
  SELECT a.cid AS src, b.cid AS dst
  FROM nodes a CROSS JOIN nn CROSS JOIN range(1, {_H_LONG + 1}) t(r)
  INNER JOIN nodes b
    ON b.rn = (a.rn * 2654435761 + r * 40503 + 12345) % nn.n
   AND b.cid != a.cid),
rq AS (SELECT cid AS query_id, v AS qv, n AS qn FROM nodes),
rga AS (SELECT src, dst FROM a0_{T} UNION ALL SELECT src, dst FROM longl),
rbs AS (
  SELECT query_id, cid, cos FROM (
    SELECT g.src AS query_id, g.dst AS cid, {cosr} AS cos,
           row_number() OVER (PARTITION BY g.src
             ORDER BY {cosr} DESC, g.dst ASC) AS rk
    FROM a0_{T} g JOIN nodes s ON s.cid = g.dst
    JOIN rq q ON q.query_id = g.src) z
  WHERE rk <= {_I_RBEAM})""")
    prev = "rbs"
    for h in range(_I_RHOPS):
        new = f"rbh{h}"
        parts.append(_ihop(prev, new, "rga", _I_RBEAM, "rq"))
        prev = new
    parts.append(f"""
ro AS (
  SELECT query_id AS src, cid AS dst, cos FROM (
    SELECT query_id, cid, cos,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, cid ASC) AS rk
    FROM {prev} WHERE cid != query_id) z
  WHERE rk <= {_I_M0})""")
    parts.append(_imerge("a0_f", f"a0_{T}", "ro", _I_M0))
    return ",".join(parts)


def _sql_insert_serve_ctes() -> str:
    """The layered serve walk (same knobs as the r8 entries) against
    the refreshed insert-built adjacency ``a0_f``; ends at
    ``sv{_H_HOPS}``. nn/longl come from the build CTEs."""
    T = _I_TMAX
    cos = _sql_g_cos("s.v", "s.n", "q.qv", "q.qn")
    _MAT_NAMES.extend(["qs", "ents", "g0", "svd0", "sv0"])
    parts = [f"""
qs AS (SELECT cid AS query_id, v AS qv, n AS qn FROM nodes
       WHERE cid % 97 = 0),
ents AS (
  SELECT cid AS eid FROM (
    SELECT n.cid, row_number() OVER (ORDER BY h.h, n.cid) AS hrn
    FROM nodes n JOIN hsh h ON h.vec_id = n.cid) z
  WHERE hrn <= {_H_ENTRIES}),
g0 AS (SELECT src, dst FROM a0_f UNION ALL SELECT src, dst FROM longl),
svd0 AS (
  SELECT query_id, cid, cos FROM (
    SELECT q.query_id, s.cid, {cos} AS cos,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {cos} DESC, s.cid ASC) AS rk
    FROM qs q
    CROSS JOIN (SELECT cid FROM nodes WHERE lvl >= {_H_LAYERS}) d
    JOIN nodes s ON s.cid = d.cid) z
  WHERE rk <= {_H_DBEAM})"""]
    prev = "svd0"
    for l in range(_H_LAYERS, 0, -1):
        for h in range(_H_HPL):
            new = f"svl{l}h{h}"
            parts.append(_ihop(prev, new, f"u{l}_{T}", _H_DBEAM, "qs"))
            prev = new
    parts.append(f"""
sv0 AS (
  SELECT query_id, cid, CAST(NULL AS DOUBLE) AS cos FROM (
    SELECT query_id, cid FROM {prev}
    UNION
    SELECT query_id, eid AS cid FROM qs CROSS JOIN ents) u)""")
    prev = "sv0"
    for h in range(1, _H_HOPS + 1):
        new = f"sv{h}"
        parts.append(_ihop(prev, new, "g0", _H_BEAM, "qs"))
        prev = new
    return ",".join(parts)


_INS_BUILD_CTES = _sql_insert_build_ctes()
_INS_SERVE_CTES = _sql_insert_serve_ctes()
_INS_MAT = tuple(dict.fromkeys(["e", "nodes", "ent0"] + _MAT_NAMES))

_INS_TOPK_SQL = materialize_ctes(f"""
WITH {_INS_BUILD_CTES},{_INS_SERVE_CTES},
fin AS (
  SELECT query_id, cid, cos,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cos DESC, cid ASC) AS rnk
  FROM sv{_H_HOPS} WHERE cid != query_id
)
SELECT query_id, CAST(rnk AS INTEGER) AS rank, cid AS vec_id,
       {_sql_round('cos', 6)} AS cosine_sim
FROM fin WHERE rnk <= {_H_K}
""", _INS_MAT)


@register("ann_hnsw_insert_topk", _INS_TOPK_SQL)
def ann_hnsw_insert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve a query batch (every 97th vector) from the INSERTION-BUILT
    layered index — same serve plan as ann_hnsw_topk (frozen parquet
    artifacts only, zero Python stages), different construction: the
    graph was built by batched layered-search insertion with reverse-
    edge pruning (operators/ann_index.py:build_knn_graph_insert), no
    exact-kNN kernel past the 128-row bootstrap. Oracle restates the
    full build batch-for-batch (doubling unroll) and the serve walk
    hop-for-hop."""
    from apde_etl_spark.functions.core import round_half_away
    from apde_etl_spark.operators.ann_index import ann_graph_search_layered

    d = _ensure_insert_index(spark, sf_dir)
    emb = _capped(spark, sf_dir)
    queries = emb.filter(F.expr(_H_QUERY_PRED))
    out = ann_graph_search_layered(
        spark, d, queries, emb, k=_H_K, beam=_H_BEAM, hops=_H_HOPS,
        descend_beam=_H_DBEAM, hops_per_layer=_H_HPL)
    return out.select(
        "query_id", "rank", "vec_id",
        round_half_away(F.col("cosine_raw"), 6).alias("cosine_sim"),
    )


_INS_RECALL_SQL = materialize_ctes(f"""
WITH {_INS_BUILD_CTES},{_INS_SERVE_CTES},
gtop AS (
  SELECT query_id, cid FROM (
    SELECT query_id, cid,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, cid ASC) AS rnk
    FROM sv{_H_HOPS} WHERE cid != query_id) z
  WHERE rnk <= {_H_K}
),
exact_q AS (
  SELECT t.cid AS query_id, t.bid AS cid FROM (
    SELECT a.cid, b.cid AS bid,
           row_number() OVER (PARTITION BY a.cid
             ORDER BY {_sql_g_cos('a.v', 'a.n', 'b.v', 'b.n')} DESC,
                      b.cid ASC) AS rn
    FROM nodes a JOIN nodes b ON a.cid != b.cid
    WHERE a.cid % 97 = 0) t
  WHERE rn <= {_H_K}
)
SELECT 'hnsw_insertbuilt_boot{_I_BOOT}_m{_I_M0}' AS method,
       CAST((SELECT count(*) FROM gtop JOIN exact_q
             ON gtop.query_id = exact_q.query_id
            AND gtop.cid = exact_q.cid) AS BIGINT) AS hits,
       CAST((SELECT count(*) FROM exact_q) AS BIGINT) AS n_exact,
       {_sql_round(
           'CAST((SELECT count(*) FROM gtop JOIN exact_q '
           'ON gtop.query_id = exact_q.query_id AND gtop.cid = exact_q.cid)'
           ' AS DOUBLE) / (SELECT count(*) FROM exact_q)', 6)}
       AS recall_at_k
""", _INS_MAT + ("gtop", "exact_q"))


@register("ann_recall_hnsw_insertbuilt", _INS_RECALL_SQL)
def ann_recall_hnsw_insertbuilt(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """recall@{k} of the layered serve over the INSERT-BUILT graph
    against the exact top-{k} — integer hit counts, hash-gated. The
    number that proves the gate-free construction didn't cost the
    recall the exact build paid for: compared against ann_recall_hnsw
    (exact-built) at the same serve knobs, and at the 200k stress point
    by tools/scale_stress_anngraph.py --mode insert (recall floor
    >= 0.95 of the exact build's, tests/test_ann_insert_build.py)."""
    from apde_etl_spark.functions.core import round_half_away
    from apde_etl_spark.operators.ann_index import ann_graph_search_layered
    from apde_etl_spark.operators.cache import tracked_persist
    from apde_etl_spark.operators.similarity import exact_topk_pairs

    d = _ensure_insert_index(spark, sf_dir)
    emb = _capped(spark, sf_dir)
    queries = emb.filter(F.expr(_H_QUERY_PRED))
    approx = ann_graph_search_layered(
        spark, d, queries, emb, k=_H_K, beam=_H_BEAM, hops=_H_HOPS,
        descend_beam=_H_DBEAM, hops_per_layer=_H_HPL,
    ).select(F.col("query_id").alias("id_a"), F.col("vec_id").alias("id_b"))
    truth = tracked_persist(exact_topk_pairs(
        emb, "vec_id", "embedding", k=_H_K,
        query_filter=F.expr(_H_QUERY_PRED),
    ), scope="r9")
    ex_n = truth.agg(F.count(F.lit(1)).alias("n_exact"))
    h = approx.join(truth, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("hits"))
    return h.crossJoin(ex_n).select(
        F.lit(f"hnsw_insertbuilt_boot{_I_BOOT}_m{_I_M0}").alias("method"),
        F.col("hits").cast("long").alias("hits"),
        F.col("n_exact").cast("long").alias("n_exact"),
        round_half_away(
            F.col("hits").cast("double") / F.col("n_exact"), 6
        ).alias("recall_at_k"),
    )
