"""Persistent ANN index lifecycle: train once, serve many query batches.

Every round-5 ANN entry retrained its centroids / bounds / codebooks
inside the query plan — right for a self-contained oracle, wrong for
production: a 100 TB corpus trains ONE index and then serves query
batches (and incremental vector adds) against the FROZEN artifacts for
months. This module persists the trained artifacts as parquet tables
via :func:`write_analytic_table` (the repo's layout-aware writer) and
gives the query path plans that contain ZERO training scans:

- ``centroids``  (cell_id BIGINT, centroid array<double>) — IVF coarse
  quantizer (deterministic stride seeds by default, so an external
  oracle can rebuild it; Lloyd-trained variants plug in the same table).
- ``bounds``     (pos INT, lo DOUBLE, hi DOUBLE) — SQ8 per-dimension
  affine code parameters (one codegen'd min/max scan).
- ``codebooks``  (subspace INT, code INT, centroid array<double>) — PQ
  codebooks (Lloyd over hash-capped sample), persisted for the
  PQ-encode path.
- ``codes``      (id, cell_id, sq8_code array<int>) — the corpus
  inverted lists, hive-PARTITIONED BY cell_id so a probe of n_probe
  cells is a partition-pruned scan, and 4x smaller than float32 —
  the bytes a 100 TB vector serve actually reads.

The query path (:func:`ann_query_prebuilt`) reads centroids + codes
from the index directory (the centroid frame enters the plan as a
parquet scan, not a literal), scores the DEQUANTIZED codes against the
exact query vectors (asymmetric SQ8 — the FAISS default), takes a
per-query shortlist and reranks it against exact vectors. Incremental
adds (:func:`encode_against_index` / :func:`ann_index_add`) encode new
vectors against the frozen artifacts and append to the partitioned
codes table — the ``semantic_dedup_incremental`` admission pattern.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apde_etl_spark.operators.arrow_stage import arrow_stage, vectors
from apde_etl_spark.operators.similarity import (
    as_double_array,
    assign_topn_cells,
    dot,
    l2_norm,
    sq8_quantize,
    sq8_train_bounds,
    train_pq_codebooks,
)
from apde_etl_spark.sources.lifecycle import write_analytic_table
from apde_etl_spark.sources.readers import collect_bounded, local_frame

__all__ = [
    "build_ann_index",
    "load_centroids",
    "load_bounds",
    "load_codebooks",
    "encode_against_index",
    "ann_index_add",
    "ann_query_prebuilt",
    "build_knn_graph",
    "build_knn_graph_insert",
    "ann_graph_search",
    "ann_graph_search_layered",
    "ann_graph_add",
    "node_levels",
]


def build_ann_index(
    df: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 16,
    pq_m: int = 8,
    pq_k: int = 16,
    pq_iters: int = 1,
) -> dict:
    """Train and persist the full index. Centroids are the
    DETERMINISTIC first-``n_cells`` vectors by id (cell_id = the seed
    vector's id — the convention every existing IVF oracle restates);
    swap in :func:`train_ivf_centroids` output for a Lloyd-trained
    variant, the storage schema is identical. Returns a small metadata
    dict (never persisted — everything needed to serve is in parquet).

    Build cost: one pass for bounds (2*dim scalar aggregates), one
    broadcast assignment pass for the inverted lists, one capped-sample
    Lloyd job for PQ codebooks — each a bounded job, none repeated at
    query time."""
    spark = df.sparkSession
    e = df.select(F.col(id_col), as_double_array(vec_col).alias("__v"))
    cent_src = (
        e.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).cast("long").alias("cell_id"),
            F.col("__v").alias("centroid"),
        )
    )
    write_analytic_table(cent_src, f"{index_dir}/centroids")
    mins, maxs = sq8_train_bounds(df, vec_col=vec_col, dim=dim)
    bounds = local_frame(
        spark,
        [(i, mins[i], maxs[i]) for i in range(dim)],
        "pos int, lo double, hi double",
    )
    write_analytic_table(bounds, f"{index_dir}/bounds")
    books = train_pq_codebooks(e, id_col, dim, m=pq_m, k_codes=pq_k,
                               iters=pq_iters)
    books_df = local_frame(
        spark,
        [(s, c, books[s][c]) for s in range(len(books))
         for c in range(len(books[s]))],
        "subspace int, code int, centroid array<double>",
    )
    write_analytic_table(books_df, f"{index_dir}/codebooks")
    cent_df = load_centroids(spark, index_dir)
    assigned = assign_topn_cells(
        e, id_col, cent_df, n_cells, 1, strategy="auto"
    ).drop("__rk")
    codes = df.select(
        F.col(id_col), sq8_quantize(vec_col, mins, maxs).alias("sq8_code")
    ).join(assigned, id_col)
    write_analytic_table(codes, f"{index_dir}/codes", partition_by="cell_id")
    return {"n_cells": n_cells, "dim": dim, "pq_m": pq_m, "pq_k": pq_k}


def load_centroids(spark: SparkSession, index_dir: str) -> DataFrame:
    """(cell_id, __c) — the shape :func:`assign_topn_cells` consumes;
    the centroid frame stays a PARQUET SCAN in consuming plans."""
    return spark.read.parquet(f"{index_dir}/centroids").select(
        "cell_id", F.col("centroid").alias("__c"))


def _read_artifact(spark: SparkSession, path: str,
                   cols: list[str]) -> pa.Table:
    """Columns ``cols`` of one index artifact as a pyarrow Table.

    The artifacts read here (centroid ids, bounds, codebooks, graph
    tables) are small and bounded by the build. A local directory is
    read with pyarrow directly: a KB-scale table read through
    ``spark.read`` costs a full driver job (~150-250 ms of scheduling).
    Any other store goes through the Spark reader. A corrupt or
    unreadable artifact raises on both paths."""
    import os

    if os.path.isdir(path):
        import pyarrow.parquet as pq

        return pq.read_table(path, columns=cols)
    return spark.read.parquet(path).select(*cols).toArrow()


def load_bounds(spark: SparkSession, index_dir: str) -> tuple[list, list]:
    """SQ8 (mins, maxs) as Python lists — 2*dim scalars of metadata
    collected at plan-build time (the quantize expression needs them as
    literals; this is an index-metadata read, not a training scan)."""
    t = _read_artifact(spark, f"{index_dir}/bounds",
                       ["pos", "lo", "hi"]).sort_by("pos")
    return t.column("lo").to_pylist(), t.column("hi").to_pylist()


def load_codebooks(spark: SparkSession, index_dir: str) -> list:
    """``codebooks[subspace][code] = centroid`` — the structure
    :func:`pq_encode_col` consumes, rebuilt from the parquet table."""
    rows = _read_artifact(spark, f"{index_dir}/codebooks",
                          ["subspace", "code", "centroid"]).to_pylist()
    by: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        by.setdefault(r["subspace"], {})[r["code"]] = r["centroid"]
    return [
        [by[s][c] for c in sorted(by[s])] for s in sorted(by)
    ]


def encode_against_index(
    spark: SparkSession,
    index_dir: str,
    new_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode NEW vectors against the frozen index: top-1 cell from the
    stored centroids, SQ8 code from the stored bounds. No training job
    anywhere in the plan — the incremental-add primitive. Returns
    (id, sq8_code, cell_id)."""
    cent_df = load_centroids(spark, index_dir)
    n_cells = _read_artifact(
        spark, f"{index_dir}/centroids", ["cell_id"]).num_rows
    mins, maxs = load_bounds(spark, index_dir)
    e = new_df.select(F.col(id_col), as_double_array(vec_col).alias("__v"))
    assigned = assign_topn_cells(
        e, id_col, cent_df, n_cells, 1, strategy="auto"
    ).drop("__rk")
    return new_df.select(
        F.col(id_col), sq8_quantize(vec_col, mins, maxs).alias("sq8_code")
    ).join(assigned, id_col)


def ann_index_add(
    spark: SparkSession,
    index_dir: str,
    new_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append newly-encoded vectors to the partitioned codes table —
    partition overwrite semantics are append here, so existing cells
    gain files without rewriting the corpus."""
    enc = encode_against_index(spark, index_dir, new_df, id_col, vec_col)
    write_analytic_table(enc, f"{index_dir}/codes", partition_by="cell_id",
                         mode="append")


def ann_query_prebuilt(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve a query batch from the STORED index: probe ``n_probe``
    cells per query (centroid parquet scan -> broadcast assignment),
    score dequantized SQ8 codes against the exact query vector
    (asymmetric), shortlist ``rerank`` per query, rerank on exact
    vectors from ``corpus_df``, return the top ``k``
    (query_id, rank, vec_id, cosine_raw) — ``cosine_raw`` is the
    unrounded exact cosine; catalog entries round/alias it to their
    presentation name (e.g. cosine_sim). Self-matches are excluded.

    The plan reads: centroids parquet, codes parquet (cell-pruned by
    the probe join — the partition layout makes n_probe/n_cells of the
    corpus bytes the actual scan), the query frame, and the exact
    vectors of shortlisted ids. ZERO training aggregates — asserted by
    tests/test_plan_shapes.py."""
    from apde_etl_spark.operators.similarity import sq8_dequantize

    cent_df = load_centroids(spark, index_dir)
    n_cells = _read_artifact(
        spark, f"{index_dir}/centroids", ["cell_id"]).num_rows
    mins, maxs = load_bounds(spark, index_dir)
    qe = queries_df.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("__qv"),
    )
    qassign = assign_topn_cells(
        qe.select(F.col("query_id"), F.col("__qv").alias("__v")),
        "query_id", cent_df, n_cells, n_probe, strategy="hof",
    ).drop("__rk")
    codes = spark.read.parquet(f"{index_dir}/codes").select(
        F.col(id_col),
        sq8_dequantize(F.col("sq8_code"), mins, maxs).alias("__dv"),
        "cell_id",
    )
    qn = qe.withColumn("__qn", l2_norm(F.col("__qv")))
    cand = (
        qassign.join(codes, "cell_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .join(qn, "query_id")
        .select(
            "query_id", id_col,
            (dot(F.col("__dv"), F.col("__qv"))
             / (l2_norm(F.col("__dv")) * F.col("__qn"))).alias("__s1"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("__s1"), F.asc(id_col))
    shortlist = (
        cand.withColumn("__rk", F.row_number().over(w1))
        .filter(F.col("__rk") <= rerank)
        .select("query_id", id_col)
    )
    exact = corpus_df.select(
        F.col(id_col), as_double_array(vec_col).alias("__cv")
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("__cos"), F.asc(id_col))
    return (
        shortlist.join(exact, id_col)
        .join(qn, "query_id")
        .select(
            "query_id", id_col,
            (dot(F.col("__cv"), F.col("__qv"))
             / (F.col("__cn") * F.col("__qn"))).alias("__cos"),
        )
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            F.col(id_col),
            F.col("__cos").alias("cosine_raw"),
        )
    )


# ===========================================================================
# Graph-based ANN (NSW-class): persisted exact k-NN graph + beam search
# ===========================================================================

def node_levels(df: DataFrame, id_col: str, n_layers: int,
                layer_factor: int) -> DataFrame:
    """(id, lvl) — deterministic HNSW-style layer assignment: a node
    sits on every layer up to ``lvl``, where lvl is the largest l in
    1..n_layers with ``hash60(id) % layer_factor**l == 0`` (0
    otherwise). hash60 is uniform, so P(lvl >= l) = layer_factor**-l —
    the geometric level distribution of Malkov & Yashunin 2018 (public
    method), made hash-deterministic so an external oracle can restate
    the assignment as one CASE expression (no RNG state)."""
    from apde_etl_spark.operators.similarity import hash60

    h = hash60(F.col(id_col).cast("string"))
    lvl = F.lit(0)
    for l in range(1, n_layers + 1):
        lvl = F.when(h % F.lit(layer_factor ** l) == 0, F.lit(l)) \
            .otherwise(lvl)
    return df.select(F.col(id_col), lvl.cast("int").alias("lvl"))


def _ranked_knn_edges(df: DataFrame, id_col: str, vec_col: str,
                      k: int) -> DataFrame:
    """(src, dst, rank) — exact cosine k-NN edges over ``df`` with the
    rank re-derived from the cosine ordering (desc, id asc) so the
    stored adjacency is self-describing and bit-reproducible."""
    from apde_etl_spark.operators.similarity import exact_topk_pairs

    knn = exact_topk_pairs(df, id_col, vec_col, k=k)
    e = df.select(F.col(id_col), as_double_array(vec_col).alias("__v")) \
        .withColumn("__n", l2_norm(F.col("__v")))
    a = e.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"),
                 F.col("__n").alias("__na"))
    b = e.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"),
                 F.col("__n").alias("__nb"))
    w = Window.partitionBy("id_a").orderBy(F.desc("__cos"), F.asc("id_b"))
    return (
        knn.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a", "id_b",
            (dot(F.col("__va"), F.col("__vb"))
             / (F.col("__na") * F.col("__nb"))).alias("__cos"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"),
                "rank")
    )


def _long_link_edges(df: DataFrame, id_col: str, n_neighbors: int,
                     n_long_links: int) -> DataFrame | None:
    """(src, dst, rank) — ``n_long_links`` deterministic long-range
    links per node: rank nodes by id (0-based), target rank = hash mix
    % n. NSW's small-world shortcuts, made RNG-free so an external
    oracle restates them as one modular expression."""
    if n_long_links <= 0:
        return None
    rk = df.select(F.col(id_col).cast("long").alias("__id")) \
        .withColumn(
            "__rn",
            F.row_number().over(Window.orderBy("__id")) - 1)
    n_nodes = rk.count()
    links = None
    for r in range(1, n_long_links + 1):
        tgt = (F.col("__rn") * F.lit(2654435761)
               + F.lit(r) * F.lit(40503) + F.lit(12345)) % F.lit(n_nodes)
        arm = rk.select(
            F.col("__id").alias("src"), tgt.alias("__trn"),
            F.lit(n_neighbors + r).cast("int").alias("rank"))
        links = arm if links is None else links.unionAll(arm)
    return (
        links.join(
            rk.select(F.col("__id").alias("dst"),
                      F.col("__rn").alias("__trn")), "__trn")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", "rank")
    )


def _entry_frame(df: DataFrame, id_col: str, n_entries: int,
                 n_neighbors: int) -> DataFrame:
    """(entry_id, n_neighbors) — the hash-stratified entry points
    (first ids in md5 order — uniform over any cluster structure)."""
    from apde_etl_spark.operators.similarity import hash60

    return (
        df.select(F.col(id_col).cast("long").alias("entry_id"))
        .orderBy(hash60(F.col(id_col).cast("string")), "entry_id")
        .limit(n_entries)
        .select("entry_id",
                F.lit(n_neighbors).cast("int").alias("n_neighbors"))
    )


def build_knn_graph(
    df: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_neighbors: int = 8,
    n_entries: int = 16,
    n_long_links: int = 2,
    n_layers: int = 0,
    layer_factor: int = 8,
    layer_neighbors: int | None = None,
) -> dict:
    """Build and persist a DETERMINISTIC small-world graph ANN index —
    the navigable-graph family (NSW/HNSW class; Malkov & Yashunin
    2018, public method) the cluster-routing indices (IVF/PQ/SQ8)
    don't cover. The adjacency is the union of:

    - the exact k-NN graph of the corpus
      (similarity.exact_topk_pairs — bounded by EXACT_TOPK_MAX_ROWS,
      the documented build-on-a-sample posture at scale), with
      integer-ordered neighbor selection (cosine desc, id asc) so the
      graph is bit-reproducible and an external oracle can rebuild it;
    - ``n_long_links`` LONG-RANGE links per node, targets derived by a
      hash mix of the node's id-rank modulo the corpus size (mapped
      back to ids through the rank order). These are NSW's small-world
      shortcuts, made deterministic: a short-link-only k-NN graph has
      diameter ~ n^(1/intrinsic_dim), so fixed-hop walks stall on
      large corpora (measured: recall 0.31 at 20k manifold vectors
      with beam=32/hops=8 before long links); the shortcuts collapse
      the diameter to ~log n.

    Persists two artifacts under ``index_dir``:

    - ``graph``      (src BIGINT, dst BIGINT, rank INT) — k-NN rows
      carry rank 1..n_neighbors; long links carry rank
      n_neighbors+1.. (self-describing provenance);
    - ``graph_meta`` (entry_id BIGINT, n_neighbors INT) — the
      ``n_entries`` HASH-STRATIFIED entry points (first ids in md5
      order — uniform over any cluster structure) every search seeds
      its beam from. Multiple entries matter on clustered corpora:
      without them (and before long links) a single-entry walk could
      never leave the entry's k-NN component — measured recall@5 of
      0.001 at a 200k 32-cluster corpus.

    At 100 TB the construction runs per-shard (graph over a routing
    sample) while serving stays a bounded frontier walk — the 'train
    once, serve many' split the IVF lifecycle established."""
    spark = df.sparkSession

    # exact_topk_pairs emits per-query neighbors in rank order within
    # each query's block; _ranked_knn_edges re-derives the explicit rank
    # deterministically so the stored table is self-describing
    graph = _ranked_knn_edges(df, id_col, vec_col, n_neighbors)
    long_edges = _long_link_edges(df, id_col, n_neighbors, n_long_links)
    if long_edges is not None:
        graph = graph.unionByName(long_edges)
    write_analytic_table(graph, f"{index_dir}/graph")
    write_analytic_table(
        _entry_frame(df, id_col, n_entries, n_neighbors),
        f"{index_dir}/graph_meta")

    if n_layers > 0:
        # HNSW-class hierarchy (round-8): the flat small-world graph's
        # diameter grows ~log n past any fixed hop budget (measured:
        # recall 0.96 at 20k manifold vectors but 0.75 at 200k with
        # hops=12). Upper layers hold geometrically-thinned node
        # subsets (node_levels — P(lvl>=l) = layer_factor**-l) with
        # their own exact k-NN adjacency, so one hop at layer l covers
        # distances at that layer's density scale and a fixed-beam
        # descent reaches the target's neighborhood in O(log n) hops
        # total. Persisted beside the flat artifacts:
        #   graph_upper (layer INT, src, dst, rank)
        #   layer_meta  (n_layers, layer_factor, layer_neighbors)
        lm = layer_neighbors if layer_neighbors is not None else n_neighbors
        lv = node_levels(df, id_col, n_layers, layer_factor)
        upper = None
        for l in range(1, n_layers + 1):
            sub = df.join(
                lv.filter(F.col("lvl") >= l).select(id_col), id_col)
            # a layer with < 2 nodes has no edges — skip (the descent
            # seeds from the top NON-EMPTY layer's node set anyway)
            if sub.limit(2).count() < 2:
                break
            arm = _ranked_knn_edges(sub, id_col, vec_col, lm) \
                .select(F.lit(l).cast("int").alias("layer"),
                        "src", "dst", "rank")
            upper = arm if upper is None else upper.unionByName(arm)
        if upper is not None:
            write_analytic_table(upper, f"{index_dir}/graph_upper")
        meta = local_frame(
            spark,
            [(n_layers, layer_factor, lm)],
            "n_layers int, layer_factor int, layer_neighbors int")
        write_analytic_table(meta, f"{index_dir}/layer_meta")

    return {"n_neighbors": n_neighbors, "n_entries": n_entries,
            "n_long_links": n_long_links, "n_layers": n_layers}


# ---------------------------------------------------------------------------
# Size-gated local serve: the replicated-index pattern
# ---------------------------------------------------------------------------
# Production graph-ANN serving never shuffles the corpus per hop: the
# frozen index (adjacency + vectors) is replicated to every serving
# node and each query walks it locally. Below the row gate the serve
# functions collect the bounded artifacts once, broadcast them, and run
# the ENTIRE multi-round walk in ONE Arrow stage over the query batch —
# the identical expand/score/cut recurrence, bit-for-bit (same IEEE-754
# op order via per-dimension accumulation, same (cos DESC, id ASC)
# cuts, same distinct/union semantics; parity is test-pinned against
# the iterative walk and the gate entries' oracle hashes). Past the
# gate both serve functions run ONE iterative join-per-hop walk,
# :func:`_serve_walk`; that is the path a corpus too large to
# replicate must take, and the two produce identical rows. Force the
# walk with ``ann_graph_search_layered(local_serve_max_rows=0)``, or
# for either function by monkeypatching ``_try_local_serve`` to
# return None.

#: row gate of the local serve: a corpus with more rows takes the
#: iterative walk (``ann_graph_search_layered(local_serve_max_rows=)``
#: overrides it per call).
LOCAL_SERVE_MAX_ROWS = 200_000

#: byte budget for the replicated-index payload (round-10 verdict #3):
#: the row gate alone admits a ~1.6 GB broadcast at 200k rows x 1024
#: dims — guide §3.1's driver/executor-OOM failure mode under an
#: innocent-looking gate. The estimate is rows x (dim x 8 + slack) for
#: the vector matrix; the CSR adjacency is bounded by the build's
#: n_neighbors x rows int64s and rides inside the same slack. Read at
#: call time.
LOCAL_SERVE_MAX_BYTES = 256 * 1024 * 1024


#: superseded per-index broadcasts, unpersisted (executor blocks freed)
#: when a newer serve for the same index_dir replaces them — a
#: long-lived session otherwise accumulates up-to-gate-sized broadcast
#: blocks per serve call. unpersist (NOT destroy) keeps an old lazy
#: result re-executable: the driver re-ships the value on demand.
_SERVE_BCAST_PREV: dict = {}


def _try_local_serve(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int,
    beam: int,
    hops: int,
    descend_beam: int,
    hops_per_layer: int,
    id_col: str,
    vec_col: str,
    layered: bool,
    max_rows: int,
) -> DataFrame | None:
    """Broadcast-index serve, or None when a gate or the corpus's shape
    rules it out (``max_rows`` <= 0 turns it off).

    Construction runs two jobs. The first is the gate's probe: a
    :func:`~apde_etl_spark.sources.readers.collect_bounded` of the corpus
    vectors' lengths alone (at most ``max_rows + 1`` ints), which decides
    the row gate, the corpus shape and the byte gate before any vector
    leaves the executors. The second collects the corpus. Each decline is
    an explicit check, so an error past them (a corrupt artifact) raises,
    as the join path would.

    Fidelity to the iterative walk, piece by piece:

    - cosine: ``dot(a,b)/(na*nb)`` where dot is the sequential HOF fold
      ``((0+a0*b0)+a1*b1)+...``. The scorer accumulates per DIMENSION
      across the candidate batch (``acc = acc + C[:,i]*qv[i]``), the
      same trick :func:`similarity.arrow_pair_cosine` proved bit-exact;
      norms use the same fold (``acc + x*x`` then sqrt).
    - cut: top-``width`` by (cos DESC, id ASC). Spark orders NaN as the
      LARGEST double, so the sort key maps NaN to -inf on the negated
      axis; ties (including -0.0 vs 0.0, equal under IEEE compare)
      break by id exactly as ``row_number`` does.
    - malformed query (a null vector, a null element, or a length other
      than the corpus dim, as :func:`vectors` marks it): ``dot``'s
      ``zip_with`` is NULL for every candidate, so every cut orders by
      id ascending and ``cosine_raw`` is NULL. The stage gives such a
      row one constant key and a NULL cosine, not NaN, which would rank
      as the largest value and print as NaN.
    - expand: ``distinct(beam ∪ neighbors(beam))`` == ``np.unique`` of
      the concatenated index arrays.
    - levels (layered descent seeds): hash60(cast(id AS STRING)) %
      factor**top == 0 — recomputed here via hashlib.md5 over str(id),
      the same bytes Spark's string-cast feeds md5 (parity test-pinned
      against :func:`node_levels`).
    """
    if max_rows <= 0:
        return None
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    # LongType only (round-10 ADVICE, medium): the fast path's output
    # schema declares the id column LongType, while the iterative path
    # preserves the corpus id's original type — an Integer/Short corpus
    # must take the join path so the same call returns the same schema
    # regardless of corpus size or the ``local_serve_max_rows`` gate
    # (the PageRank fast path declines non-long ids for the same reason).
    if not isinstance(corpus_df.schema[id_col].dataType, LongType):
        return None
    # the probe: row count, vector lengths and null vectors of at most
    # max_rows+1 corpus rows, so the byte gate sizes the would-be
    # broadcast BEFORE any vector is collected. Null and ragged corpus
    # vectors decline (the join path defines their semantics).
    sizes = collect_bounded(corpus_df.select(F.size(vec_col).alias("d")),
                            max_rows)
    if sizes is None or sizes.num_rows == 0 or sizes.column("d").null_count:
        return None
    import numpy as np

    lens = sizes.column("d").to_numpy()
    dim_c = int(lens.max())
    if dim_c <= 0 or int(lens.min()) != dim_c:
        return None
    if len(lens) * (dim_c * 8 + 24) > LOCAL_SERVE_MAX_BYTES:
        return None

    # the frozen artifacts are bounded by the gate
    graph_pdf = _read_artifact(
        spark, f"{index_dir}/graph", ["src", "dst"]).to_pandas()
    meta_pdf = _read_artifact(
        spark, f"{index_dir}/graph_meta", ["entry_id"]).to_pandas()
    upper_pdf = None
    top = 0
    layer_factor = 0
    if layered:
        lm_pdf = _read_artifact(spark, f"{index_dir}/layer_meta",
                                ["n_layers", "layer_factor"]).to_pandas()
        n_layers = int(lm_pdf["n_layers"].iloc[0])
        layer_factor = int(lm_pdf["layer_factor"].iloc[0])
        if not _upper_absent(spark, index_dir):
            upper_pdf = _read_artifact(
                spark, f"{index_dir}/graph_upper",
                ["layer", "src", "dst"]).to_pandas()
        top = n_layers if upper_pdf is not None else 0

    cor = corpus_df.select(
        F.col(id_col).cast("long").alias("cid"),
        as_double_array(vec_col).alias("v"),
    ).toArrow()
    if cor.num_rows == 0:
        return None
    V, v_ok = vectors(cor.column("v").combine_chunks(), dim_c)
    if not v_ok.all():
        return None  # a null element: the join path defines it
    cids = cor.column("cid").to_numpy()
    order = np.argsort(cids, kind="stable")
    cids = cids[order]
    if len(cids) > 1 and (np.diff(cids) == 0).any():
        return None  # duplicate ids: let the join path define it
    V = V[order]
    n, dim = V.shape
    # corpus norms: the l2_norm fold, per-dimension-vectorized
    accn = np.zeros(n, dtype="float64")
    for i in range(dim):
        c = V[:, i]
        accn = accn + c * c
    norms = np.sqrt(accn)

    def to_idx(a: "np.ndarray"):
        ix = np.searchsorted(cids, a)
        ok = (ix < n) & (cids[np.minimum(ix, n - 1)] == a)
        return ix, bool(ok.all())

    def build_csr(src_ids, dst_ids):
        si, s_ok = to_idx(src_ids)
        di, d_ok = to_idx(dst_ids)
        if not (s_ok and d_ok):
            return None
        o2 = np.argsort(si, kind="stable")
        si, di = si[o2], di[o2]
        indptr = np.zeros(n + 1, dtype=np.int64)
        if len(si):
            indptr[1:] = np.bincount(si, minlength=n).cumsum()
        return indptr, di

    # an edge or entry id outside the corpus: the join path defines it
    g_csr = build_csr(
        graph_pdf["src"].to_numpy(dtype="int64"),
        graph_pdf["dst"].to_numpy(dtype="int64"))
    if g_csr is None:
        return None
    uppers = {}
    for lyr in range(1, top + 1):
        sub = upper_pdf[upper_pdf["layer"] == lyr]
        u_csr = build_csr(sub["src"].to_numpy(dtype="int64"),
                          sub["dst"].to_numpy(dtype="int64"))
        if u_csr is None:
            return None
        uppers[lyr] = u_csr
    e_idx, e_ok = to_idx(meta_pdf["entry_id"].to_numpy(dtype="int64"))
    if not e_ok:
        return None
    if top > 0:
        import hashlib

        fpow = layer_factor ** top
        seed_mask = np.fromiter(
            (int(hashlib.md5(str(int(c)).encode())
                 .hexdigest()[:15], 16) % fpow == 0 for c in cids),
            count=n, dtype=bool)
        seeds_idx = np.nonzero(seed_mask)[0]
    else:
        seeds_idx = np.zeros(0, dtype=np.int64)

    bc = spark.sparkContext.broadcast(
        (cids, V, norms, g_csr, uppers, e_idx, seeds_idx, int(top),
         int(hops_per_layer), int(descend_beam), int(beam), int(hops),
         int(k)))
    prev = _SERVE_BCAST_PREV.get(index_dir)
    if prev is not None:
        try:
            prev.unpersist(False)
        except Exception:
            pass
    _SERVE_BCAST_PREV[index_dir] = bc

    out_schema = StructType([
        StructField("query_id", queries_df.schema[id_col].dataType, True),
        StructField("rank", IntegerType(), True),
        StructField(id_col, LongType(), True),
        StructField("cosine_raw", DoubleType(), True),
    ])
    q_src = queries_df.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("__qv"),
    )

    def serve(batch):
        import numpy as np

        (cids, V, norms, g_csr, uppers, e_idx, seeds_idx, top, hpl,
         dbeam, beam_w, hops_n, kk) = bc.value
        dim = V.shape[1]

        def score(cand, qv, qn):
            if qv is None:  # a malformed query: NULL for every candidate
                return np.zeros(len(cand), dtype="float64")
            C = V[cand]
            acc = np.zeros(len(cand), dtype="float64")
            for i in range(dim):
                acc = acc + C[:, i] * qv[i]
            return acc / (norms[cand] * qn)

        def cut(cand, cos, width):
            key = np.where(np.isnan(cos), -np.inf, -cos)
            o = np.lexsort((cids[cand], key))[:width]
            return cand[o], cos[o]

        def neigh(cand, csr):
            indptr, dst = csr
            if len(cand) == 0:
                return cand
            return np.concatenate(
                [dst[indptr[c]:indptr[c + 1]] for c in cand])

        def hop(bidx, csr, width, qv, qn):
            cand = np.unique(np.concatenate([bidx, neigh(bidx, csr)]))
            return cut(cand, score(cand, qv, qn), width)

        Q, q_ok = vectors(batch.column("__qv"), dim)
        accq = np.zeros(len(Q), dtype="float64")
        for i in range(dim):
            qc = Q[:, i]
            accq = accq + qc * qc
        qns = np.sqrt(accq)
        qids = batch.column("query_id")
        out_row, out_vid, out_cos = [], [], []
        for r in range(len(Q)):
            qv, qn = (Q[r], qns[r]) if q_ok[r] else (None, None)
            qid = qids[r].as_py()
            if top > 0:
                bidx, bcos = cut(
                    seeds_idx, score(seeds_idx, qv, qn), dbeam)
                for lyr in range(top, 0, -1):
                    for _ in range(hpl):
                        bidx, bcos = hop(bidx, uppers[lyr], dbeam,
                                         qv, qn)
                bidx = np.concatenate([bidx, e_idx])
            else:
                bidx = e_idx
            for _ in range(hops_n):
                bidx, bcos = hop(bidx, g_csr, beam_w, qv, qn)
            mask = cids[bidx] != qid
            fi, fc = cut(bidx[mask], bcos[mask], kk)
            out_row.append(np.full(len(fi), r))
            out_vid.append(cids[fi])
            out_cos.append(fc)
        rows = np.concatenate(out_row)
        return {
            "query_id": qids.take(rows),
            "rank": np.concatenate(
                [np.arange(1, len(f) + 1, dtype=np.int32) for f in out_row]),
            out_schema[2].name: np.concatenate(out_vid),
            "cosine_raw": pa.array(np.concatenate(out_cos),
                                   mask=~q_ok[rows]),
        }

    return arrow_stage(q_src, out_schema, serve)


def _upper_absent(spark: SparkSession, index_dir: str) -> bool:
    """True when the build wrote no ``graph_upper`` (every upper layer
    had < 2 nodes: a tiny corpus). Decided by absence alone — no
    directory on a local index, the Spark reader's PATH_NOT_FOUND on
    any other store — so a corrupt or unreadable upper layer raises
    instead of serving the flat walk's different rows."""
    import os

    from pyspark.errors import AnalysisException

    if os.path.isdir(index_dir):
        return not os.path.isdir(f"{index_dir}/graph_upper")
    try:
        spark.read.parquet(f"{index_dir}/graph_upper")
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return True
        raise
    return False


def _beam_cut(scored: DataFrame, width: int) -> DataFrame:
    """Per-query top-``width`` of (query_id, __cid, __cos) by (cosine
    desc, id asc) — the cut of every expand-score-cut round, in the
    serve walk and in the insertion build."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__cos"), F.asc("__cid"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= width)
        .select("query_id", "__cid", "__cos")
    )


def _serve_walk(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int,
    beam: int,
    hops: int,
    descend_beam: int,
    hops_per_layer: int,
    id_col: str,
    vec_col: str,
    layered: bool,
) -> DataFrame:
    """The iterative join-per-hop serve behind :func:`ann_graph_search`
    (``layered=False``) and :func:`ann_graph_search_layered`: the
    layered descent when asked for and the index has upper layers, then
    the flat layer-0 walk. Every round is one equi-join against the
    persisted adjacency + an exact-cosine window cut."""
    graph = spark.read.parquet(f"{index_dir}/graph").select("src", "dst")
    meta = spark.read.parquet(f"{index_dir}/graph_meta")
    top = 0
    if layered:
        lmeta = spark.read.parquet(f"{index_dir}/layer_meta").first()
        n_layers = int(lmeta["n_layers"])
        layer_factor = int(lmeta["layer_factor"])
        upper = None
        if not _upper_absent(spark, index_dir):
            upper = spark.read.parquet(f"{index_dir}/graph_upper")
        # descend from layer_meta's n_layers whenever upper artifacts
        # exist: seeds come from the LEVEL assignment (corpus nodes
        # with lvl >= top), not from the edge table, so an edge-sparse
        # top layer just no-ops its hop rounds. Identical to probing
        # max(layer) PROVIDED the top layer's lvl>= set is populated
        # (true at every gate/stress corpus here); on a hash-unlucky
        # corpus whose top layer is empty the descent degrades to the
        # layer below seeded through empty rounds plus the entry points
        # — recall-safe but not result-identical to a max(layer) probe
        # (round-9 ADVICE #1). The branch-free form is what the
        # unrolled SQL oracles (and the insert-built index, whose top
        # layer bootstraps gradually) restate
        top = n_layers if upper is not None else 0

    q = queries_df.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("__qv"),
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    corpus = corpus_df.select(
        F.col(id_col).alias("__cid"), as_double_array(vec_col).alias("__cv")
    ).withColumn("__cn", l2_norm(F.col("__cv")))

    def score(cand: DataFrame) -> DataFrame:
        return (
            cand.join(corpus, "__cid")
            .join(q, "query_id")
            .select(
                "query_id", "__cid",
                (dot(F.col("__cv"), F.col("__qv"))
                 / (F.col("__cn") * F.col("__qn"))).alias("__cos"),
            )
        )

    def hop(beam_df: DataFrame, edges: DataFrame, width: int) -> DataFrame:
        expanded = beam_df.select("query_id", "__cid").unionAll(
            beam_df.join(
                edges, beam_df["__cid"] == edges["src"]
            ).select("query_id", F.col("dst").alias("__cid"))
        ).distinct()
        # bound lineage growth across hops (the PageRank/BFS discipline)
        return _beam_cut(score(expanded), width).localCheckpoint(eager=False)

    # layer 0 seeds with every stored entry point (n_entries rows
    # broadcast), plus the descent beam on a layered index
    beam_df = q.select("query_id").crossJoin(
        F.broadcast(meta.select(F.col("entry_id").alias("__cid"))))
    if top > 0:
        lv = node_levels(corpus_df, id_col, n_layers, layer_factor)
        seeds = lv.filter(F.col("lvl") >= top).select(
            F.col(id_col).alias("__cid"))
        down = _beam_cut(score(
            q.select("query_id").crossJoin(F.broadcast(seeds))),
            descend_beam).localCheckpoint(eager=False)
        for l in range(top, 0, -1):
            edges_l = upper.filter(F.col("layer") == l).select("src", "dst")
            for _ in range(hops_per_layer):
                down = hop(down, edges_l, descend_beam)
        beam_df = down.select("query_id", "__cid").unionAll(beam_df)
    for _ in range(hops):
        beam_df = hop(beam_df, graph, beam)
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("__cos"), F.asc("__cid"))
    return (
        beam_df.filter(F.col("__cid") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("__cid").alias(id_col),
                F.col("__cos").alias("cosine_raw"))
    )


def ann_graph_search(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 5,
    beam: int = 10,
    hops: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve queries from the FROZEN k-NN graph: fixed-hop beam search.

    Every query seeds its beam with ALL stored entry points (the
    hash-stratified set in graph_meta — see build_knn_graph for why
    multiple entries are required on clustered corpora); each hop
    expands the current beam with its graph neighbors (one equi-join
    against the persisted adjacency), scores candidates by exact
    cosine against the query vector, and keeps the top ``beam``
    (cosine desc, id asc — fully deterministic). After ``hops`` rounds
    the final beam re-ranks to the top ``k``, self-matches excluded
    (the query may ride in its own beam as a navigator).

    The FIXED hop count (not a convergence loop) is what makes this
    restatable in SQL hop-for-hop — the unrolled-iteration discipline
    of the exact-mean Lloyd oracles — and it bounds worst-case serving
    cost: per query per hop the frontier is <= beam * n_neighbors
    candidate rows, each costing one dot fold. The plan reads ONLY the
    graph/graph_meta parquet and the two input frames — no
    construction scan (test-asserted).

    A corpus of at most :data:`LOCAL_SERVE_MAX_ROWS` rows serves from
    the broadcast index in one Arrow stage (see :func:`_try_local_serve`);
    anything else runs the iterative walk :func:`_serve_walk`, which
    :func:`ann_graph_search_layered` shares. The two give identical
    rows; force the walk by monkeypatching ``_try_local_serve`` to
    return None.

    Returns (query_id, rank, vec_id, cosine_raw) — ``cosine_raw``
    unrounded, as in :func:`ann_query_prebuilt`."""
    fast = _try_local_serve(
        spark, index_dir, queries_df, corpus_df, k=k, beam=beam,
        hops=hops, descend_beam=0, hops_per_layer=0, id_col=id_col,
        vec_col=vec_col, layered=False, max_rows=LOCAL_SERVE_MAX_ROWS)
    if fast is not None:
        return fast
    return _serve_walk(spark, index_dir, queries_df, corpus_df, k, beam,
                       hops, 0, 0, id_col, vec_col, layered=False)


def ann_graph_search_layered(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 5,
    beam: int = 10,
    hops: int = 3,
    descend_beam: int = 8,
    hops_per_layer: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    local_serve_max_rows: int = LOCAL_SERVE_MAX_ROWS,
) -> DataFrame:
    """Serve queries from the LAYERED small-world index (HNSW-class;
    Malkov & Yashunin 2018, public method): a fixed-hop beam DESCENT
    through the persisted upper-layer adjacencies, then the flat
    layer-0 walk of :func:`ann_graph_search` seeded by the descent
    beam (plus the hash-stratified entries, which keep the clustered-
    corpus robustness of the flat path).

    Descent: the beam seeds from every TOP-layer node (geometrically
    thinned — layer_factor**-n_layers of the corpus), then per layer
    l = top..1 runs ``hops_per_layer`` expand-score-cut rounds over
    layer l's edges with width ``descend_beam``. Every round is one
    equi-join + exact-cosine window — the same deterministic, SQL-
    restatable shape as the flat walk, so the whole search unrolls
    hop-for-hop in the oracle. Fixed hop counts (not convergence
    loops) bound serve cost: per query per round the frontier is
    <= descend_beam * layer_neighbors candidate rows.

    Why this lifts large-corpus recall: the flat graph needs O(
    n**(1/d)) hops to cross the corpus (measured recall 0.75 at 200k
    with hops=12); the descent reaches the target's layer-0
    neighborhood in O(log n) hops, so the fixed layer-0 budget is
    spent refining, not traveling.

    A corpus of at most ``local_serve_max_rows`` rows serves from the
    broadcast index as in :func:`ann_graph_search`; 0 (or a
    monkeypatched ``_try_local_serve`` returning None) forces the
    shared iterative walk :func:`_serve_walk`, with identical rows.

    Returns (query_id, rank, vec_id, cosine_raw) — ``cosine_raw``
    unrounded, as in :func:`ann_graph_search`."""
    fast = _try_local_serve(
        spark, index_dir, queries_df, corpus_df, k=k, beam=beam,
        hops=hops, descend_beam=descend_beam,
        hops_per_layer=hops_per_layer, id_col=id_col, vec_col=vec_col,
        layered=True, max_rows=local_serve_max_rows)
    if fast is not None:
        return fast
    return _serve_walk(spark, index_dir, queries_df, corpus_df, k, beam,
                       hops, descend_beam, hops_per_layer, id_col, vec_col,
                       layered=True)


def _knn_edges_cos(sub: DataFrame, k: int) -> DataFrame:
    """(src, dst, __cos) — exact cosine k-NN edges over a BOUNDED
    subset (the insertion build's bootstrap: <= boot_rows rows) as a
    plain self-join + window, cosine kept for downstream re-pruning.
    Distributed shape (no driver collect) because the caller bounds the
    input, not this function. The cosine runs through the bit-identical
    Arrow scorer (boot_rows² pair rows — at the stress tool's boot=1024
    that is ~1M folds, minutes interpreted, seconds batched)."""
    from apde_etl_spark.operators.similarity import arrow_pair_cosine

    a = sub.select(F.col("__id").alias("src"), F.col("__v").alias("__va"),
                   F.col("__n").alias("__na"))
    b = sub.select(F.col("__id").alias("dst"), F.col("__v").alias("__vb"),
                   F.col("__n").alias("__nb"))
    scored = arrow_pair_cosine(
        a.join(b, F.col("src") != F.col("dst")), keys=("src", "dst"),
        a_col="__va", b_col="__vb", na_col="__na", nb_col="__nb")
    w = Window.partitionBy("src").orderBy(F.desc("__cos"), F.asc("dst"))
    return (
        scored
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("src", "dst", "__cos")
    )


def _prune_adj(edges: DataFrame, k: int,
               extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """Per-src top-``k`` (cosine desc, dst asc) of a candidate edge
    frame, deduplicated on (src, dst). Incremental pruning is EXACT:
    an edge outside its src's top-k of a candidate set can never enter
    the top-k of a superset, so merging `pruned ∪ new` per batch equals
    pruning the full accumulated set."""
    keys = list(extra_keys) + ["src"]
    d = edges.groupBy(*keys, "dst").agg(F.max("__cos").alias("__cos"))
    w = Window.partitionBy(*keys).orderBy(F.desc("__cos"), F.asc("dst"))
    return (
        d.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(*keys, "dst", "__cos")
    )


def _ckpt(frame: DataFrame) -> DataFrame:
    """Eager localCheckpoint + ORIGIN-STATS STRIP — the round-10 fix for
    the ≥100k insertion-build wall. `Dataset.localCheckpoint` preserves
    the source plan's size estimate on the resulting LogicalRDD; inside
    the build's batch loop that estimate is itself a product of
    per-round join estimates, so each batch's adjacency carries a size
    ~(previous batch's size)^(rounds) — the DIGIT COUNT of the
    BigInteger grows geometrically per batch, and by ~100k vectors
    Catalyst stats evaluation (one Toom-Cook multiply per visited plan
    node, single-threaded on the driver) dominates the whole build
    (thread-dump evidence in BASELINE.md round 10). Rebinding the
    checkpointed RDD through internalCreateDataFrame drops originStats
    — the frame reads the same checkpoint blocks and returns the
    identical rows; only the ESTIMATE resets (to defaultSizeInBytes),
    and AQE re-picks join strategies from true runtime sizes."""
    spark = frame.sparkSession
    ck = frame.localCheckpoint(eager=True)
    try:
        # PRIVATE JVM APIs (Spark 4.x signatures): guarded so a
        # Spark build/Connect session without them degrades to the
        # plain eager checkpoint — correct rows, only slower past
        # ~100k rows where the stats-growth wall returns
        # (round-10 ADVICE, low).
        jdf = ck._jdf
        jnew = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False)
        return DataFrame(jnew, spark)
    except Exception:
        return ck


def _walk_round(beam: DataFrame, visited: DataFrame, edges: DataFrame,
                width: int, score) -> tuple[DataFrame, DataFrame]:
    """One expand-score-cut round of the insertion build (batch inserts
    and refresh passes) with a per-query VISITED set (the HNSW visited
    list): only never-scored candidates pay the cosine via ``score``
    ((query_id, __cid) -> (query_id, __cid, __cos)), the carried beam
    keeps its known scores. RESULT-IDENTICAL to rescore-everything
    within a fixed-width phase — a candidate dropped from a
    top-``width`` beam lost to ``width`` still-present better ones and
    can never re-enter the top-``width`` of a superset — and the
    scoring volume drops by the revisit factor (most expansions near
    convergence are revisits). ``visited`` must reset at width-change
    boundaries (a width-8 reject may be a width-16 keeper)."""
    new = (
        beam.join(edges, beam["__cid"] == edges["src"])
        .select("query_id", F.col("dst").alias("__cid"))
        .distinct()
        .join(visited, ["query_id", "__cid"], "left_anti")
    )
    beam2 = _ckpt(_beam_cut(beam.unionAll(score(new)), width))
    visited2 = _ckpt(visited.unionAll(new.select("query_id", "__cid")))
    return beam2, visited2


def build_knn_graph_insert(
    df: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_neighbors: int = 8,
    n_entries: int = 16,
    n_long_links: int = 2,
    n_layers: int = 2,
    layer_factor: int = 8,
    layer_neighbors: int = 4,
    boot_rows: int = 128,
    descend_beam: int = 8,
    hops_per_layer: int = 1,
    insert_beam: int = 16,
    insert_hops: int = 3,
    refresh_passes: int = 1,
    refresh_hops: int = 3,
    refresh_beam: int = 16,
) -> dict:
    """Construct the layered small-world index BY INSERTION (the true
    HNSW build of Malkov & Yashunin 2018, public method): each batch of
    new nodes finds its neighbors by running the layered beam search
    against the graph built so far, so construction never touches the
    quadratic exact-kNN kernel past the bootstrap — ~O(n log n) with NO
    size gate, closing the 200k ``EXACT_TOPK_MAX_ROWS`` seam of
    :func:`build_knn_graph` (the round-8 verdict's remaining scale
    caveat).

    Deterministic batched insertion, every step SQL-restatable:

    - nodes ordered by id; the first ``boot_rows`` form a bootstrap
      whose layer-0 / upper-layer adjacencies are exact k-NN (bounded:
      one small self-join);
    - batch t inserts id-rank range [boot*2^(t-1), boot*2^t) — DOUBLING
      batches, so the unroll depth is logarithmic in corpus size and
      every batch searches a state at least as large as itself. Nodes
      within a batch insert INDEPENDENTLY (they cannot link to each
      other — batch-parallel construction, deterministic by design);
    - per batch: descend the upper layers (seeds = bootstrap's
      hash-stratified entries ∪ all current top-level nodes;
      ``hops_per_layer`` expand-score-cut rounds per layer at width
      ``descend_beam``), then ``insert_hops`` layer-0 rounds at width
      ``insert_beam``. Out-edges: top-``n_neighbors`` of the final
      layer-0 beam; at each layer l <= lvl(node), top-
      ``layer_neighbors`` of that layer's descent beam restricted to
      lvl>=l targets;
    - REVERSE edges are added and each touched node's list re-pruned to
      its top-k by cosine (desc, id asc) — unlike :func:`ann_graph_add`
      this keeps new nodes findable immediately, and the incremental
      prune is exactly the prune of the accumulated candidate set (see
      :func:`_prune_adj`);
    - after the last batch, ``refresh_passes`` NN-DESCENT-style rounds
      (Dong et al. 2011, public method): every node re-searches the
      completed graph seeded from its own neighbor list and re-prunes.
      This repairs insertion staleness — early nodes' lists predate
      most of the corpus, and reverse edges alone refresh only the
      symmetric half of kNN (measured at the 2000-vector gate: exact
      per-insert edges cap serve recall at 0.714 without refresh; one
      refresh pass lifts the built graph past the exact-built one).

    Degree convention: pass ``n_neighbors`` = the stored layer-0
    degree. Use ~2x the exact build's M (HNSW's standard maxM0 = 2M) —
    a navigable graph built by search needs the extra degree the exact
    kNN graph gets for free (measured: degree 8 caps at 0.71, degree
    16 + refresh reaches 0.914 vs the exact build's 0.886).

    Long links + entry points are derived over the full corpus with the
    same formulas as the exact build; artifacts land in the identical
    graph/graph_meta/graph_upper/layer_meta layout, so
    :func:`ann_graph_search_layered` serves either build unchanged.

    At 100 TB: every batch is a bounded join-score-cut pipeline over
    the persisted-so-far adjacency (per query per round <= beam *
    n_neighbors candidate rows); state is localCheckpoint-ed per batch
    (the PageRank lineage discipline). Measured: recall vs the
    exact-built graph at the 200k stress point and a 1M-vector build
    wall in BASELINE.md (tools/scale_stress_anngraph.py --mode insert).

    Every pair-cosine runs through
    :func:`similarity.arrow_pair_cosine` — BIT-IDENTICAL to the HOF
    fold (same IEEE operation order; the gate-entry hashes are the
    standing regression), ~2 orders faster on the million-row
    candidate frames of large batches. The round-9 200k build died at
    >2h on the interpreted fold; this is the declared fix (round-9
    verdict #1).
    """
    import gc as _gc

    from apde_etl_spark.operators.similarity import arrow_pair_cosine

    spark = df.sparkSession
    e = df.select(
        F.col(id_col).cast("long").alias("__id"),
        as_double_array(vec_col).alias("__v"),
    ).withColumn("__n", l2_norm(F.col("__v")))
    lv = node_levels(
        df.select(F.col(id_col).cast("long").alias("__id")),
        "__id", n_layers, layer_factor)
    nodes = _ckpt(
        e.join(lv, "__id")
        .withColumn("__rn", F.row_number().over(Window.orderBy("__id")) - 1)
    )
    n_nodes = nodes.count()

    boot = nodes.filter(F.col("__rn") < boot_rows)
    adj0 = _ckpt(_knn_edges_cos(boot, n_neighbors))
    adjU = None
    for l in range(1, n_layers + 1):
        sub = boot.filter(F.col("lvl") >= l)
        arm = _knn_edges_cos(sub, layer_neighbors).select(
            F.lit(l).cast("int").alias("layer"), "src", "dst", "__cos")
        adjU = arm if adjU is None else adjU.unionByName(arm)
    adjU = _ckpt(adjU)
    ent0 = _ckpt(_entry_frame(boot, "__id", n_entries, n_neighbors)
                 .select(F.col("entry_id").alias("__cid")))

    start = boot_rows
    n_batches = 0
    while start < n_nodes:
        n_batches += 1
        state = nodes.filter(F.col("__rn") < start)
        batch = nodes.filter(
            (F.col("__rn") >= start) & (F.col("__rn") < 2 * start))
        q = batch.select(
            F.col("__id").alias("query_id"),
            F.col("__v").alias("__qv"), F.col("__n").alias("__qn"),
            F.col("lvl").alias("__qlvl"))
        corpus = state.select(
            F.col("__id").alias("__cid"),
            F.col("__v").alias("__cv"), F.col("__n").alias("__cn"),
            F.col("lvl").alias("__clvl"))

        def score(cand: DataFrame) -> DataFrame:
            return arrow_pair_cosine(
                cand.join(corpus, "__cid")
                .join(q.select("query_id", "__qv", "__qn"), "query_id"))

        # seeds: bootstrap entries ∪ every current top-level node
        seeds = (
            ent0.unionAll(
                corpus.filter(F.col("__clvl") >= n_layers)
                .select("__cid"))
            .distinct()
        )
        beam = _ckpt(_beam_cut(
            score(q.select("query_id").crossJoin(seeds)), descend_beam))
        # descent phase: constant width, so ONE visited set spans layers
        visited = _ckpt(q.select("query_id").crossJoin(seeds)
                        .select("query_id", "__cid"))

        layer_beams: dict[int, DataFrame] = {}
        for l in range(n_layers, 0, -1):
            edges_l = adjU.filter(F.col("layer") == l).select("src", "dst")
            for _ in range(hops_per_layer):
                beam, visited = _walk_round(beam, visited, edges_l,
                                            descend_beam, score)
            layer_beams[l] = beam
        # layer-0 expansion graph = current adjacency ∪ LONG LINKS over
        # the current state (same hash-mix formula as the final index,
        # modulus = state size, which is exactly ``start`` rows). The
        # k-NN edges alone are diameter-starved — measured edge-recall
        # collapse 0.61 -> 0.17 across batches without this; the
        # shortcuts are what let an insert walk actually reach its
        # target's neighborhood, the same reason the serve graph has
        # them.
        edges0 = adj0.select("src", "dst")
        ll = None
        for r in range(1, n_long_links + 1):
            tgt = (F.col("__rn") * F.lit(2654435761)
                   + F.lit(r) * F.lit(40503) + F.lit(12345)) % F.lit(start)
            arm = state.select(
                F.col("__id").alias("src"), tgt.alias("__trn"))
            ll = arm if ll is None else ll.unionAll(arm)
        if ll is not None:
            edges0 = edges0.unionAll(
                ll.join(
                    state.select(F.col("__id").alias("dst"),
                                 F.col("__rn").alias("__trn")), "__trn")
                .filter(F.col("src") != F.col("dst"))
                .select("src", "dst")
            )
        # layer-0 phase: width changes (descend_beam -> insert_beam), so
        # the visited set RESETS to the incoming beam's ids
        visited = _ckpt(beam.select("query_id", "__cid"))
        for _ in range(insert_hops):
            beam, visited = _walk_round(beam, visited, edges0, insert_beam,
                                        score)

        out0 = _beam_cut(beam, n_neighbors).select(
            F.col("query_id").alias("src"), F.col("__cid").alias("dst"),
            "__cos")
        rev0 = out0.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "__cos")
        adj0 = _ckpt(_prune_adj(
            adj0.unionAll(out0).unionAll(rev0), n_neighbors))

        newU = None
        for l in range(1, n_layers + 1):
            bl = (
                layer_beams[l]
                .join(q.select("query_id", "__qlvl"), "query_id")
                .filter(F.col("__qlvl") >= l)
                .join(corpus.select("__cid", "__clvl"), "__cid")
                .filter(F.col("__clvl") >= l)
                .select("query_id", "__cid", "__cos")
            )
            oU = _beam_cut(bl, layer_neighbors).select(
                F.lit(l).cast("int").alias("layer"),
                F.col("query_id").alias("src"),
                F.col("__cid").alias("dst"), "__cos")
            rU = oU.select(
                "layer", F.col("dst").alias("src"),
                F.col("src").alias("dst"), "__cos")
            arm = oU.unionByName(rU)
            newU = arm if newU is None else newU.unionByName(arm)
        adjU = _ckpt(_prune_adj(
            adjU.unionByName(newU), layer_neighbors, extra_keys=("layer",)
        ).select("layer", "src", "dst", "__cos"))
        start *= 2
        # drop Python references to the batch's superseded checkpoint
        # frames NOW: the JVM ContextCleaner can only free their blocks
        # once the py4j handles are collected, and a long build
        # otherwise accumulates every round's beam blocks in the heap
        beam = visited = layer_beams = out0 = rev0 = newU = None
        _gc.collect()

    # ---- refresh pass(es): NN-descent-style re-search of the final
    # graph — each node's beam seeds from its OWN current neighbor list
    # (the best possible starting point), walks the full graph + long
    # links, and its top-n_neighbors re-merge with reverse edges
    if refresh_passes > 0 and n_nodes > 1:
        corpus_all = nodes.select(
            F.col("__id").alias("__cid"),
            F.col("__v").alias("__cv"), F.col("__n").alias("__cn"))
        q_all = nodes.select(
            F.col("__id").alias("query_id"),
            F.col("__v").alias("__qv"), F.col("__n").alias("__qn"))
        ll_full = _long_link_edges(df, id_col, 0, n_long_links)

        def score_all(cand: DataFrame) -> DataFrame:
            return arrow_pair_cosine(
                cand.join(corpus_all, "__cid").join(q_all, "query_id"))

        for _ in range(refresh_passes):
            edges = adj0.select("src", "dst")
            if ll_full is not None:
                edges = edges.unionAll(ll_full.select("src", "dst"))
            beam = _ckpt(_beam_cut(
                adj0.select(
                    F.col("src").alias("query_id"),
                    F.col("dst").alias("__cid"), "__cos"),
                refresh_beam))
            # visited set resets per pass (fixed width within the pass)
            visited = _ckpt(beam.select("query_id", "__cid"))
            for _ in range(refresh_hops):
                beam, visited = _walk_round(beam, visited, edges,
                                            refresh_beam, score_all)
            ro = _beam_cut(
                beam.filter(F.col("__cid") != F.col("query_id")),
                n_neighbors,
            ).select(F.col("query_id").alias("src"),
                     F.col("__cid").alias("dst"), "__cos")
            rvo = ro.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                "__cos")
            adj0 = _ckpt(_prune_adj(
                adj0.unionAll(ro).unionAll(rvo), n_neighbors))

    # ---- persist in the exact-build artifact layout
    wr = Window.partitionBy("src").orderBy(F.desc("__cos"), F.asc("dst"))
    graph = adj0.withColumn("rank", F.row_number().over(wr).cast("int")) \
        .select("src", "dst", "rank")
    long_edges = _long_link_edges(df, id_col, n_neighbors, n_long_links)
    if long_edges is not None:
        graph = graph.unionByName(long_edges)
    write_analytic_table(graph, f"{index_dir}/graph")
    write_analytic_table(
        _entry_frame(df, id_col, n_entries, n_neighbors),
        f"{index_dir}/graph_meta")
    wrl = Window.partitionBy("layer", "src").orderBy(
        F.desc("__cos"), F.asc("dst"))
    upper = adjU.withColumn("rank", F.row_number().over(wrl).cast("int")) \
        .select("layer", "src", "dst", "rank")
    write_analytic_table(upper, f"{index_dir}/graph_upper")
    meta = local_frame(
        spark,
        [(n_layers, layer_factor, layer_neighbors)],
        "n_layers int, layer_factor int, layer_neighbors int")
    write_analytic_table(meta, f"{index_dir}/layer_meta")
    return {"n_neighbors": n_neighbors, "n_entries": n_entries,
            "n_long_links": n_long_links, "n_layers": n_layers,
            "n_batches": n_batches, "boot_rows": boot_rows}


def ann_graph_add(
    spark: SparkSession,
    index_dir: str,
    new_df: DataFrame,
    corpus_df: DataFrame,
    beam: int = 10,
    hops: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental insert into the FROZEN graph index — the NSW insert
    step: each new vector's neighbor list is the beam-search result
    against the existing graph (no rebuild, no exact k-NN job), and the
    new out-edges APPEND to the persisted adjacency. One-directional
    approximation (classic NSW also adds the reverse edges; appending
    src-side only keeps the stored lists immutable — the same
    append-only posture as ann_index_add's cell partitions, at the
    cost of new nodes being findable only via future inserts until the
    next rebuild — documented trade). Returns the appended edge frame
    (src = new id, dst = neighbor, rank)."""
    n_nbrs = int(spark.read.parquet(f"{index_dir}/graph_meta")
                 .first()["n_neighbors"])
    nbrs = ann_graph_search(
        spark, index_dir, new_df, corpus_df, k=n_nbrs,
        beam=beam, hops=hops, id_col=id_col, vec_col=vec_col)
    edges = nbrs.select(
        F.col("query_id").alias("src"),
        F.col(id_col).alias("dst"),
        F.col("rank").cast("int").alias("rank"),
    )
    # MATERIALIZE before the append: the lazy plan reads
    # {index_dir}/graph, which the write below mutates — an
    # unmaterialized return would re-run the whole beam search against
    # the already-mutated adjacency on the caller's first action
    edges = edges.localCheckpoint(eager=True)
    edges.write.mode("append").parquet(f"{index_dir}/graph")
    return edges
