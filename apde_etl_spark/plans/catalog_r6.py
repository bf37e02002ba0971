"""Round-6 extension catalog: correlated-subquery query family and
directed PageRank with dangling-mass redistribution.

Correlated subqueries (TPC-H Q4/Q21/Q22 shapes) are the one Catalyst
rewrite family the gate never exercised: EXISTS / NOT EXISTS / scalar
subqueries are what analytic users write daily, and the scalable
execution is DECORRELATION into semi/anti/broadcast joins — never a
per-row subquery. Two entries decorrelate explicitly with the DataFrame
API (left_semi / left_anti with compound conditions); the third is
written as literal SQL with EXISTS + scalar subqueries and handed to
Catalyst, whose RewriteSubquery/RewritePredicateSubquery batches must
turn it into the same join shapes (asserted in
tests/test_plan_shapes.py — the physical plan contains LeftSemi/LeftAnti
joins and one-shot subquery stages, nothing per-row).

The reference has no subquery surface of its own (its QA queries are
data.table pipelines — R/etl_qa_run_pipeline.R builds joins by hand),
so this is extension surface in SURVEY §2.13's sense: query breadth a
reference user gains for free.

``graph_pagerank_directed_sinks`` closes the round-5 verdict's top item:
the standard dangling-mass redistribution term on a DIRECTED graph whose
sinks are real (customer -> supplier purchase edges; suppliers never
link out), in the same fixed-point integer arithmetic — still a full
cross-engine hash gate, with mass conservation asserted in
tests/test_graph.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apde_etl_spark.functions.core import round_half_away
from apde_etl_spark.operators.cache import tracked_persist
from apde_etl_spark.operators.graph import pagerank_integer
from apde_etl_spark.plans.artifacts import artifact
from apde_etl_spark.plans.catalog import _sql_round, load, materialize_ctes, register
from apde_etl_spark.plans.catalog_r5b import _SQ8_QUANT_SQL

# ===========================================================================
# Q4 shape: EXISTS -> left semi join
# ===========================================================================

_Q4_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


@register("q4_exists_late_orders", _Q4_SQL)
def q4_exists_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (schema-adapted: the testdata lineitem has no
    commit/receipt dates, so 'late' = shipped > 60 days after the order
    date): count one-quarter orders per priority where EXISTS a late
    line item. Decorrelated by hand into a LEFT SEMI join whose
    condition carries the correlated date predicate — the EXISTS
    never runs per row, and the semi join shuffles once on the order
    key (or broadcasts the filtered order quarter, which AQE picks at
    this SF). The quarter filter is pushed to the orders scan."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


# ===========================================================================
# Q21 shape: EXISTS + multi-condition NOT EXISTS -> semi + anti joins
# ===========================================================================

_Q21_SQL = """
WITH lo AS (
  SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM lo l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 30 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lo l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l3.o_orderdate + INTERVAL 30 DAY
  )
GROUP BY s.s_name
"""


@register("q21_anti_sole_late_supplier", _Q21_SQL)
def q21_anti_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier finished order. The Q21 twist is the multi-condition
    correlated subqueries (same order key, DIFFERENT supplier — an
    equi + non-equi pair): decorrelated into one LEFT SEMI ('someone
    else shipped on this order') and one LEFT ANTI ('nobody else was
    late on it'), both keyed on the order id with the supplier
    inequality as the residual condition — the textbook distributed
    Q21 plan (three shuffles on l_orderkey, no per-row subqueries; the
    supplier-name join broadcasts the dim)."""
    o_f = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    lo = li.join(o_f, li["l_orderkey"] == o_f["o_orderkey"]).select(
        "l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 30 DAYS")
    # lo feeds l1 and the anti side — persist so the orders join runs once
    lo = tracked_persist(lo, scope="default")
    l1 = lo.filter(late)
    l2 = li.select(F.col("l_orderkey").alias("__ok"),
                   F.col("l_suppkey").alias("__sk"))
    semi = l1.join(
        l2,
        (F.col("__ok") == F.col("l_orderkey"))
        & (F.col("__sk") != F.col("l_suppkey")),
        "left_semi",
    )
    l3 = lo.filter(late).select(F.col("l_orderkey").alias("__ok3"),
                                F.col("l_suppkey").alias("__sk3"))
    sole = semi.join(
        l3,
        (F.col("__ok3") == F.col("l_orderkey"))
        & (F.col("__sk3") != F.col("l_suppkey")),
        "left_anti",
    )
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.join(F.broadcast(sup), sole["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


# ===========================================================================
# Q22 shape: scalar subquery + NOT EXISTS, handed to Catalyst as SQL
# ===========================================================================

_Q22_COHORT = "(1, 3, 5, 7, 9, 11, 13)"

# Decimal-exact above-average test: comparing against a FLOAT average is
# engine-order-dependent at the boundary, so compare
# c_acctbal * n > sum instead — DECIMAL multiplication and the exact
# decimal sum make the comparison bit-deterministic in both engines.
_Q22_SQL = f"""
SELECT CAST(c_nationkey AS INTEGER) AS cntrycode,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c.c_nationkey IN {_Q22_COHORT}
  AND CAST(c.c_acctbal AS DECIMAL(18,2))
      * (SELECT CAST(count(*) AS BIGINT) FROM customer
         WHERE c_nationkey IN {_Q22_COHORT} AND c_acctbal > 0.0)
      > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer
         WHERE c_nationkey IN {_Q22_COHORT} AND c_acctbal > 0.0)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY c_nationkey
"""


@register("q22_scalar_subquery_idle_rich", _Q22_SQL)
def q22_scalar_subquery_idle_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (cohort = a fixed nation-key set standing in for
    phone prefixes): customers above the cohort's positive-balance
    average with no RECENT orders (none since 2000 — every sf0.01
    customer has some order, so the raw no-orders set is empty). Unlike the hand-decorrelated q4/q21
    twins, this entry feeds Catalyst the LITERAL subquery SQL — two
    uncorrelated scalar subqueries plus a correlated NOT EXISTS — and
    relies on the optimizer's subquery rewrites: scalar subqueries
    execute ONCE as separate one-row stages, the NOT EXISTS becomes a
    LEFT ANTI join on c_custkey (plan-asserted in
    tests/test_plan_shapes.py). The above-average test multiplies by
    the cohort count instead of dividing (decimal-exact, no float
    average at the boundary)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q22_SQL)


# ===========================================================================
# Directed PageRank with sinks: dangling-mass redistribution
# ===========================================================================

_PR_ITERS = 5
_PR_SCALE = 10**12

_DIRECTED_CTES = """
e0 AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) * 2 AS src,
                  CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), nodes AS (
  SELECT src AS node FROM e0 UNION SELECT dst FROM e0
), deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY src
)"""


def _pagerank_directed_sql() -> str:
    parts = [
        f"""
WITH {_DIRECTED_CTES}, tp AS (
  SELECT CAST(15 * CAST({_PR_SCALE} AS BIGINT) AS BIGINT)
           // (100 * count(*)) AS t,
         CAST(count(*) AS BIGINT) AS n
  FROM nodes
), pr0 AS (
  SELECT node, CAST({_PR_SCALE} AS BIGINT) // n AS pr_rank FROM nodes, tp
)"""
    ]
    for i in range(_PR_ITERS):
        parts.append(f""", d{i} AS (
  SELECT COALESCE(sum(p.pr_rank), 0) AS dm
  FROM pr{i} p LEFT JOIN deg d ON d.node = p.node
  WHERE d.deg IS NULL
), s{i} AS (
  SELECT e.dst AS node, sum(p.pr_rank // d.deg) AS m
  FROM pr{i} p
  JOIN deg d ON d.node = p.node
  JOIN e0 e ON e.src = p.node
  GROUP BY e.dst
), pr{i + 1} AS (
  SELECT nd.node,
         CAST(tp.t + (85 * (COALESCE(s{i}.m, 0) + (d{i}.dm // tp.n)))
              // 100 AS BIGINT) AS pr_rank
  FROM nodes nd LEFT JOIN s{i} ON s{i}.node = nd.node, tp, d{i}
)""")
    parts.append(f"\nSELECT node, pr_rank FROM pr{_PR_ITERS}")
    # pr{i} is referenced TWICE per iteration (dangling-mass d{i} and
    # share s{i}) — un-materialized the inlined plan doubles per level
    # (2^5 at 5 iterations; the sf1 oracle spilled >70 GB). Pin every
    # iteration CTE to one evaluation.
    names = ("e0", "nodes", "deg", "tp") + tuple(
        f"pr{i}" for i in range(_PR_ITERS + 1)) + tuple(
        f"s{i}" for i in range(_PR_ITERS)) + tuple(
        f"d{i}" for i in range(_PR_ITERS))
    return materialize_ctes("".join(parts), names)


def _edges_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .distinct()
    )


@register("graph_pagerank_directed_sinks", _pagerank_directed_sql())
def graph_pagerank_directed_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank over the DIRECTED customer->supplier
    purchase graph — every supplier is a genuine sink (no out-edges),
    the case the round-5 'drop' rule got wrong for web/citation-style
    centrality. ``dangling="redistribute"`` ranks the FULL node
    universe and folds the summed sink mass back in uniformly each
    iteration (D // N, pure integer floor division), so the result
    stays hash-gateable AND conserves total mass up to truncation
    (asserted in tests/test_graph.py). Per iteration the extra cost is
    one |V_sink|-row aggregate broadcast as a 1-row literal; everything
    else is the same join + groupBy on the node id."""
    return _pagerank_directed_sinks(spark, sf_dir)


def _pagerank_directed_sinks(spark: SparkSession, sf_dir: str,
                             **pr_kw) -> DataFrame:
    """Body of :func:`graph_pagerank_directed_sinks`; ``pr_kw`` reaches
    :func:`pagerank_integer` (``local_max_edges=0`` forces the
    distributed loop)."""
    edges = tracked_persist(_edges_directed(spark, sf_dir), scope="graph")
    pr = pagerank_integer(
        edges, iters=_PR_ITERS, scale=_PR_SCALE,
        dangling="redistribute", cache_scope="graph", **pr_kw)
    return pr.select("node", F.col("rank").alias("pr_rank"))


# ===========================================================================
# Exact substring dedup at >= k-token granularity (Lee et al. 2021 class)
# ===========================================================================

_SSD_K = 8
_SSD_MIN_COUNT = 2

#: shared oracle CTE chain: k-gram anchors -> repeated digests ->
#: marked positions -> gap<=k islands (covered regions)
_SSD_CTES = f"""
toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
         FROM documents),
g AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         md5(array_to_string(t[i:i+{_SSD_K}-1], ' ')) AS gh
  FROM toks, UNNEST(generate_series(1, len(t) - {_SSD_K} + 1)) AS gs(i)
),
rep AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= {_SSD_MIN_COUNT}),
m AS (SELECT g.doc_id, g.pos FROM g JOIN rep USING (gh)),
b AS (SELECT doc_id, pos,
        CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > {_SSD_K}
             THEN 1 ELSE 0 END AS brk
      FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
c AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM b),
islands AS (
  SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
         CAST(max(pos) + {_SSD_K} - 1 AS INTEGER) AS span_end,
         CAST(max(pos) - min(pos) + {_SSD_K} AS INTEGER) AS span_tokens
  FROM c GROUP BY doc_id, isl)"""

_SSD_SPANS_SQL = f"""
WITH {_SSD_CTES}
SELECT doc_id, span_start, span_end, span_tokens FROM islands
"""


@register("exact_substring_spans", _SSD_SPANS_SQL)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated substrings >= {k} tokens (Lee et al. 2021's
    suffix-array query, re-expressed as distributed k-gram anchors +
    interval union — operators/text.py:duplicated_substring_spans):
    every k-token substring occurring >= 2 times in the corpus
    COUNTING MULTIPLICITY marks its positions; per-doc marked positions
    merge (gap <= k) into contiguous covered regions. Differs from
    repeated_maxspan_docs on three axes: within-doc repeats count, the
    threshold is occurrences not distinct docs, and NEARBY distinct
    duplicated substrings merge into one removable region. Output is
    pure integers — hash-gated despite the pipeline walking every
    corpus token."""
    from apde_etl_spark.operators.text import duplicated_substring_spans

    docs = load(spark, sf_dir, "documents", rebalance=True)
    return duplicated_substring_spans(
        docs, k=_SSD_K, min_count=_SSD_MIN_COUNT)


_SSD_DEDUP_SQL = f"""
WITH {_SSD_CTES},
removed AS (SELECT doc_id, CAST(sum(span_tokens) AS INTEGER) AS n_removed
            FROM islands GROUP BY doc_id),
cov AS (SELECT doc_id,
               CAST(unnest(generate_series(span_start, span_end)) AS BIGINT)
                 AS pos
        FROM islands),
tokpos AS (SELECT doc_id, t[i] AS tok, CAST(i - 1 AS BIGINT) AS pos
           FROM toks, UNNEST(generate_series(1, len(t))) AS gs(i)),
kept AS (SELECT tp.doc_id, tp.tok, tp.pos
         FROM tokpos tp
         LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.pos = tp.pos
         WHERE cov.pos IS NULL),
cleaned AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS ctext
            FROM kept GROUP BY doc_id)
SELECT toks.doc_id,
       CAST(len(toks.t) AS INTEGER) AS n_tokens,
       CAST(COALESCE(removed.n_removed, 0) AS INTEGER) AS n_removed,
       md5(COALESCE(cleaned.ctext, '')) AS cleaned_md5
FROM toks LEFT JOIN removed ON removed.doc_id = toks.doc_id
          LEFT JOIN cleaned ON cleaned.doc_id = toks.doc_id
"""


@register("exact_substring_dedup_docs", _SSD_DEDUP_SQL)
def exact_substring_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring DEDUP — remove the covered spans (not whole
    docs) and emit per-doc (n_tokens, n_removed, md5 of the cleaned
    token stream). The remove-all-occurrences variant: deterministic
    and engine-order-free, so even the CLEANED TEXT is hash-gated via
    its md5. Shape on top of the spans pass: covered-position explode
    (bounded by k x marked positions), one LEFT ANTI join on
    (doc, position), one per-doc ordered re-assembly — no corpus-wide
    window, no Python (operators/text.py:remove_duplicated_substrings).
    At 100 TB this is the pipeline the paper runs: the anchor groupBy
    shuffles fixed-width digests, the anti join shuffles (id, pos)
    pairs, and per-doc re-assembly is bounded by document length."""
    from apde_etl_spark.operators.text import remove_duplicated_substrings

    docs = load(spark, sf_dir, "documents", rebalance=True)
    out = remove_duplicated_substrings(
        docs, k=_SSD_K, min_count=_SSD_MIN_COUNT)
    return out.select(
        "doc_id", "n_tokens", "n_removed",
        F.md5(F.col("cleaned_text").cast("binary")).alias("cleaned_md5"),
    )


# ===========================================================================
# Persistent ANN index lifecycle: build once, query/extend the artifacts
# ===========================================================================

_ANN_CELLS = 16
_ANN_DIM = 64
_ANN_NPROBE = 2
_ANN_RERANK = 20
_ANN_K = 5


def _ensure_index(spark: SparkSession, sf_dir: str, variant: str = "full") -> str:
    """The IVF index the lifecycle entries share (the gate may run them
    in any order or subset, so each one ensures the build); ``sub``
    leaves out every 20th vector for the append entry."""
    from apde_etl_spark.operators.ann_index import build_ann_index

    def build(d: str) -> str:
        emb = load(spark, sf_dir, "embeddings")
        if variant == "sub":
            emb = emb.filter(F.col("vec_id") % 20 != 0)
        build_ann_index(emb, d, dim=_ANN_DIM, n_cells=_ANN_CELLS)
        return d

    return artifact(f"annidx_{variant}", sf_dir, ("embeddings",), build)


_SQL_NORM = "sqrt(list_sum(list_transform({v}, x -> x * x)))"
_SQL_DOT = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"


def _sql_cos(a: str, b: str) -> str:
    return (f"{_SQL_DOT.format(a=a, b=b)} / "
            f"({_SQL_NORM.format(v=a)} * {_SQL_NORM.format(v=b)})")


def _sql_index_ctes(src: str = "embeddings", where: str = "TRUE") -> str:
    """Shared oracle CTEs rebuilding the stored index from first
    principles: seed centroids (first n_cells ids), SQ8 bounds
    (per-dim min/max), top-1 cell assignment."""
    return f"""
raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {src}
        WHERE {where}),
cent AS (SELECT vec_id AS cell_id, v AS c FROM raw
         ORDER BY vec_id LIMIT {_ANN_CELLS}),
dims AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
         FROM raw, range(1, {_ANN_DIM + 1}) t(i) GROUP BY i),
b AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
      FROM dims),
ass_r AS (
  SELECT raw.vec_id, cent.cell_id,
         row_number() OVER (PARTITION BY raw.vec_id
           ORDER BY {_sql_cos('raw.v', 'cent.c')} DESC,
                    cent.cell_id ASC) AS rk
  FROM raw CROSS JOIN cent
),
ass AS (SELECT vec_id, cell_id FROM ass_r WHERE rk = 1)"""


_ANN_CENSUS_SQL = f"""
WITH {_sql_index_ctes()}
SELECT CAST(cell_id AS BIGINT) AS cell_id,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM ass GROUP BY cell_id
"""


@register("ann_index_build_census", _ANN_CENSUS_SQL)
def ann_index_build_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (once per process) and persist the full ANN index —
    centroids, SQ8 bounds, PQ codebooks, cell-partitioned SQ8 codes —
    then report the inverted-list census FROM THE STORED TABLE. The
    census is pure integers, so the build's assignment math is
    hash-gated end to end (the oracle rebuilds the same seeds, bounds
    and top-1 assignment from the raw vectors). Skewed cells here are
    the capacity-planning signal an operator reads before choosing
    n_probe/rerank (operators/ann_index.py)."""
    d = _ensure_index(spark, sf_dir)
    codes = spark.read.parquet(f"{d}/codes")
    return codes.groupBy(F.col("cell_id").cast("long").alias("cell_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"))


_ANN_BOUNDS_SQL = f"""
WITH raw AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT CAST(i - 1 AS INTEGER) AS pos,
       {_sql_round('min(v[i])', 6)} AS lo,
       {_sql_round('max(v[i])', 6)} AS hi
FROM raw, range(1, {_ANN_DIM + 1}) t(i) GROUP BY i
"""


@register("ann_index_bounds", _ANN_BOUNDS_SQL)
def ann_index_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted SQ8 affine-code parameters, read back from the
    index's bounds table — the artifact every quantize/dequantize on
    this index shares. One 2*dim-aggregate scan at BUILD time; this
    entry's plan only scans the 64-row parquet table."""
    d = _ensure_index(spark, sf_dir)
    return spark.read.parquet(f"{d}/bounds").select(
        "pos",
        round_half_away(F.col("lo"), 6).alias("lo"),
        round_half_away(F.col("hi"), 6).alias("hi"),
    )


_QUERY_PRED = "vec_id % 97 = 0"

_ANN_QUERY_SQL = f"""
WITH {_sql_index_ctes()},
codes AS (
  SELECT vec_id,
         list_transform(list_zip(v, mns, mxs), p -> {_SQ8_QUANT_SQL}) AS dv
  FROM raw, b
),
corpus AS (SELECT c.vec_id, c.dv, a.cell_id
           FROM codes c JOIN ass a USING (vec_id)),
q AS (SELECT vec_id AS query_id, v AS qv FROM raw WHERE {_QUERY_PRED}),
qass_r AS (
  SELECT q.query_id, cent.cell_id,
         row_number() OVER (PARTITION BY q.query_id
           ORDER BY {_sql_cos('q.qv', 'cent.c')} DESC,
                    cent.cell_id ASC) AS rk
  FROM q CROSS JOIN cent
),
qass AS (SELECT query_id, cell_id FROM qass_r WHERE rk <= {_ANN_NPROBE}),
cand AS (
  SELECT qa.query_id, co.vec_id,
         {_sql_cos('co.dv', 'q.qv')} AS s1
  FROM qass qa
  JOIN corpus co USING (cell_id)
  JOIN q ON q.query_id = qa.query_id
  WHERE co.vec_id != qa.query_id
),
sl AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY s1 DESC, vec_id ASC) AS rk
    FROM cand) WHERE rk <= {_ANN_RERANK}
),
rer AS (
  SELECT sl.query_id, sl.vec_id, {_sql_cos('raw.v', 'q.qv')} AS cosx
  FROM sl JOIN raw ON raw.vec_id = sl.vec_id
          JOIN q ON q.query_id = sl.query_id
),
fin AS (
  SELECT query_id, vec_id, cosx,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cosx DESC, vec_id ASC) AS rnk
  FROM rer
)
SELECT query_id, CAST(rnk AS INTEGER) AS rank, vec_id,
       {_sql_round('cosx', 6)} AS cosine_sim
FROM fin WHERE rnk <= {_ANN_K}
"""


@register("ann_query_prebuilt", _ANN_QUERY_SQL)
def ann_query_prebuilt_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve a query batch (every 97th vector) from the PREBUILT index:
    probe {n_probe} cells via the stored centroids (a parquet scan in
    the plan, not a literal), score dequantized cell-partitioned SQ8
    codes asymmetrically against the exact query vector, shortlist
    {rerank}, exact-rerank, top-{k}. The plan contains ZERO training
    jobs — no bounds aggregate, no centroid selection, no Lloyd —
    asserted in tests/test_plan_shapes.py; at 100 TB the probe join is
    a partition-pruned read of n_probe/n_cells of a 4x-compressed
    corpus. Oracle rebuilds index + query pipeline from raw vectors."""
    from apde_etl_spark.operators.ann_index import ann_query_prebuilt

    d = _ensure_index(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr(_QUERY_PRED))
    out = ann_query_prebuilt(
        spark, d, queries, emb, k=_ANN_K, n_probe=_ANN_NPROBE,
        rerank=_ANN_RERANK)
    return out.select(
        "query_id", "rank", "vec_id",
        round_half_away(F.col("cosine_raw"), 6).alias("cosine_sim"),
    )


_SQL_QUANT_INT = (
    "CASE WHEN p[3] - p[2] = 0 THEN 0 "
    "ELSE CAST(least(255, greatest(0, "
    "floor((p[1] - p[2]) / (p[3] - p[2]) * 255.0 + 0.5))) AS BIGINT) END"
)

_ANN_ADD_SQL = f"""
WITH {_sql_index_ctes(where="vec_id % 20 != 0")},
batch AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE vec_id % 20 = 0),
bass_r AS (
  SELECT batch.vec_id, cent.cell_id,
         row_number() OVER (PARTITION BY batch.vec_id
           ORDER BY {_sql_cos('batch.v', 'cent.c')} DESC,
                    cent.cell_id ASC) AS rk
  FROM batch CROSS JOIN cent
),
quant AS (
  SELECT vec_id,
         list_transform(list_zip(v, mns, mxs), p -> {_SQL_QUANT_INT}) AS qc
  FROM batch, b
)
SELECT q.vec_id, CAST(a.cell_id AS BIGINT) AS cell_id,
       CAST(list_sum(q.qc) AS BIGINT) AS code_sum
FROM quant q JOIN (SELECT vec_id, cell_id FROM bass_r WHERE rk = 1) a
  USING (vec_id)
"""


@register("ann_index_add_incremental", _ANN_ADD_SQL)
def ann_index_add_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental add against a FROZEN index: the index is built on
    95% of the corpus (vec_id % 20 != 0); the arriving 5% batch is
    encoded against the STORED centroids and bounds — no retraining,
    the semantic_dedup_incremental admission pattern. Output is each
    new vector's assigned cell plus the integer sum of its 8-bit code
    (pure integers: the encode math itself is hash-gated). At 100 TB
    this is the nightly job: bounded batch x 16-centroid broadcast
    assignment + a projection, appended into the cell-partitioned
    codes table (the write path is ann_index_add, pytest-covered)."""
    from apde_etl_spark.operators.ann_index import encode_against_index

    d = _ensure_index(spark, sf_dir, variant="sub")
    batch = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 20 == 0)
    enc = encode_against_index(spark, d, batch)
    return enc.select(
        "vec_id",
        F.col("cell_id").cast("long").alias("cell_id"),
        F.aggregate(
            "sq8_code", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("code_sum"),
    )


# ===========================================================================
# Streaming entity resolution: foreachBatch golden-record upsert
# ===========================================================================


def run_stream_linkage(spark: SparkSession, sf_dir: str, src: DataFrame,
                       workdir: str) -> DataFrame:
    """Maintain the golden-record resolution table across micro-batches:
    each arriving batch of documents resolves against the FROZEN corpus
    (doc_id % 5 != 0) with the exact same core the batch entry uses
    (catalog_r5c.resolve_batch_against_corpus), and the keyed results
    upsert into a lake state table via the shared idempotent
    foreachBatch runner (catalog_r2.run_idempotent_upsert — run-key +
    epoch guard, staged-rename swap). Records resolve independently
    against the frozen corpus, so the final table is micro-batch
    INVARIANT by construction — and the pytest proves the machinery
    anyway (1-file vs 3-file replay, identical tables)."""
    from apde_etl_spark.plans.catalog_r2 import run_idempotent_upsert
    from apde_etl_spark.plans.catalog_r5c import resolve_batch_against_corpus

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)

    def fold(batch_df: DataFrame, existing: DataFrame | None) -> DataFrame:
        resolved = resolve_batch_against_corpus(batch_df, corpus, docs)
        if existing is not None:
            resolved = existing.unionByName(resolved)
        return resolved

    target = run_idempotent_upsert(src, workdir, fold)
    return spark.read.parquet(target)


def _inc_linkage_oracle() -> str:
    from apde_etl_spark.plans.catalog_r5c import _INC_LINKAGE_SQL

    return _INC_LINKAGE_SQL


@register("stream_linkage_upsert", _inc_linkage_oracle())
def stream_linkage_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING entity resolution — the natural composition of two
    green families the round-5 verdict called for: the incremental
    linkage core run under foreachBatch, upserting the golden-record
    table as batches arrive. The oracle is the SAME SQL as the batch
    ``linkage_incremental`` entry, so the gate proves the streaming
    path converges to the batch answer under the identical fixture
    split (batch = doc_id % 5 == 0 arriving as a stream; corpus =
    the rest, frozen)."""
    import atexit
    import shutil
    import tempfile

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 5 == 0)
    )
    workdir = tempfile.mkdtemp(prefix="stream_linkage_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    return run_stream_linkage(spark, sf_dir, src, workdir)


# ===========================================================================
# Real baseline-JPEG decode in-gate (closes the last codec seam)
# ===========================================================================

def _jpeg_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """One baseline JPEG per sampled document (doc_id % 12 == 0, the
    same id set as the round-5 media fixtures): 8-aligned dimensions
    width = 8*(1 + doc_id % 4), height = 8*(1 + doc_id % 3), flat 8x8
    blocks valued (17*bx + 29*by + doc_id) % 256 with the all-8 quant
    table — decoded pixels are CLOSED-FORM in doc_id (jpegcodec module
    docstring: flat-block DC quantizes exactly), so the oracle restates
    px_sum/px_first like the BMP/PNG entries. The AC/IDCT path is
    pinned separately in tests/test_stdlib_codecs.py against an
    independent numpy IDCT."""
    import os

    from apde_etl_spark.operators.jpegcodec import encode_jpeg_flat_blocks

    def build(base: str) -> str:
        ids = [
            r["doc_id"]
            for r in load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 12 == 0)
            .select("doc_id").collect()
        ]
        for i in ids:
            blob = encode_jpeg_flat_blocks(
                8 * (1 + i % 4), 8 * (1 + i % 3), seed=i)
            with open(os.path.join(base, f"doc_{i}.jpg"), "wb") as fh:
                fh.write(blob)
        return base

    return artifact("media_jpeg", sf_dir, ("documents",), build)


_JPEG_ORACLE = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(8 * (1 + doc_id % 4) AS INTEGER) AS width,
       CAST(8 * (1 + doc_id % 3) AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS channels,
       'jpeg' AS format,
       (SELECT CAST(sum(64 * ((17 * x.g + 29 * y.g + doc_id) % 256)) AS BIGINT)
        FROM generate_series(0, 3) x(g), generate_series(0, 2) y(g)
        WHERE x.g < 1 + doc_id % 4 AND y.g < 1 + doc_id % 3) AS px_sum,
       CAST(doc_id % 256 AS INTEGER) AS px_first
FROM documents WHERE doc_id % 12 = 0
"""


@register("mm_image_decode_real_jpeg", _JPEG_ORACLE)
def mm_image_decode_real_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG DECODE, end-to-end, zero dependencies: baseline
    sequential JPEGs (SOI/DQT/SOF0/DHT/SOS markers, canonical Huffman
    tables read from DHT, entropy-coded with byte stuffing) decoded by
    the pure-stdlib operators/jpegcodec.py inside the same
    Arrow-batched decode_image_stats stage as the BMP/PNG entries. The
    fixtures' flat-block construction makes the decode bit-exact
    (quantized DC divides exactly under Q[0][0]=8), so px_sum/px_first
    over the DECODED pixels are closed form in doc_id — a hash match
    proves Huffman decode, dequantize, IDCT and level shift, not a
    header read. This closes the last NotImplementedError seam from
    rounds 1-5: Pillow is now purely a fast-path."""
    import os

    from apde_etl_spark.operators.multimodal import (
        decode_image_stats,
        stdlib_jpeg_decoder,
    )

    d = _jpeg_fixture_dir(spark, sf_dir)
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(d)
    )
    imgs = bf.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.jpg$", 1)
        .cast("long").alias("doc_id"),
        F.col("content"),
    )
    return decode_image_stats(imgs, id_col="doc_id",
                              decoder=stdlib_jpeg_decoder)
