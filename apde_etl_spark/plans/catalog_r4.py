"""Round-4 catalog: executed partition-pruning proofs.

The reference puts a clustered index on analytic tables so date-range
scans touch only the relevant extents (add_index.R:235-240). The lake
analogue is a hive-partitioned layout written by
:func:`~apde_etl_spark.sources.lifecycle.write_analytic_table` — and the
claim "partition pruning engages" deserves an EXECUTED proof, not a
writer unit test. These entries materialize a year-partitioned orders
table once per process and ``orders`` fingerprint (in a temp workspace —
never under the read-only testdata dir), then run headline shapes
against it:

- ``qa_profile_partition_pruned`` — static pruning: a literal year
  predicate must surface as ``PartitionFilters`` (directory-level skip),
  not as a data filter evaluated over every row.
- ``orders_partitioned_dpp`` — dynamic partition pruning: the year
  predicate arrives through a JOIN against a tiny dimension, and Spark
  injects a runtime ``dynamicpruning`` subquery into the scan.

Both oracles run on the FLAT table (DuckDB never sees the layout), so a
hash match proves the partitioned read is value-identical to the
unpartitioned one while the plan assertions (tests/test_plan_shapes.py,
PLANS.md) prove the scan skipped directories.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apde_etl_spark.plans.artifacts import artifact, source_fingerprints
from apde_etl_spark.plans.catalog import _sql_round, load, register
from apde_etl_spark.functions.core import round_half_away

def partitioned_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize orders partitioned by ``o_year`` (hive layout, sorted
    within files by o_custkey — the write_analytic_table headline shape)
    in a process temp dir, rebuilt when ``orders`` changes."""
    from apde_etl_spark.sources.lifecycle import write_analytic_table

    def build(d: str) -> str:
        base = os.path.join(d, "orders_by_year")
        orders = load(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate").cast("int")
        )
        write_analytic_table(
            orders, base, partition_by="o_year", cluster_by="o_custkey",
            target_file_rows=500_000,
        )
        return base

    return artifact("partitioned_orders", sf_dir, ("orders",), build)


def read_partitioned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(partitioned_orders_path(spark, sf_dir))


_QA_PRUNED_ORACLE = f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
       CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_price,
       {_sql_round('AVG(o_totalprice)', 4)} AS avg_price
FROM orders
WHERE year(o_orderdate) = 1995
GROUP BY o_orderpriority
"""


@register("qa_profile_partition_pruned", _QA_PRUNED_ORACLE)
def qa_profile_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static partition pruning, executed: the QA-style per-priority
    profile of ONE year read from the year-partitioned layout. The
    ``o_year = 1995`` predicate is a PartitionFilter — at 100 TB the
    scan lists one directory instead of reading a decade (the
    clustered-index range scan of add_index.R:235-240). The oracle runs
    the same profile on the flat table, proving layout == values."""
    po = read_partitioned_orders(spark, sf_dir).filter(F.col("o_year") == 1995)
    return po.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_custs"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missing_price"),
        round_half_away(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


_DPP_ORACLE = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
WHERE year(o_orderdate) IN (1996, 1997)
GROUP BY 1, 2
"""


@register("orders_partitioned_dpp", _DPP_ORACLE)
def orders_partitioned_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning, executed: the year predicate reaches
    the fact scan THROUGH A JOIN — a tiny in-plan dimension keeps only
    1996/1997, and Catalyst injects a runtime ``dynamicpruning``
    subquery into the partitioned scan (visible in the formatted plan),
    so only the matching year directories are read even though no
    literal year filter exists on the fact side. This is the shape of
    every calendar-dimension star join at 100 TB."""
    po = read_partitioned_orders(spark, sf_dir)
    years = spark.range(1992, 1999).select(
        F.col("id").cast("int").alias("dim_year"),
        (F.col("id").isin(1996, 1997)).alias("is_focus"),
    )
    j = po.join(
        years.filter(F.col("is_focus")),
        po["o_year"] == years["dim_year"],
    )
    return j.groupBy("o_year", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


# ===========================================================================
# Bucketed co-located join — the exchange-free layout, executed
# ===========================================================================

def _clear_stale_managed(spark: SparkSession, name: str, prefix: str) -> None:
    """Clear derived managed-table debris before (re)writing ``name``:
    the same-name directory a crashed previous process left behind
    (saveAsTable refuses with LOCATION_ALREADY_EXISTS), AND any
    sibling directories with the same prefix but an older fingerprint
    tag — every testdata regeneration mints a new tag, so without the
    sweep each regeneration strands three table copies in the
    warehouse forever. These are derived caches, never sources."""
    import shutil

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    if os.path.isdir(wh):
        for d in os.listdir(wh):
            if d == name or (d.startswith(prefix) and d != name):
                shutil.rmtree(os.path.join(wh, d), ignore_errors=True)


def _warehouse_tag(sf_dir: str, tables: tuple[str, ...]) -> tuple[str, str]:
    """(sfseg, tag) naming the warehouse copies of ``tables``: ``sfseg``
    digests ``sf_dir`` and ``tag`` adds a digest of the tables'
    fingerprints, so a regenerated source gets fresh table names in this
    process and in every later one."""
    key = os.path.abspath(sf_dir)
    sfseg = hashlib.md5(key.encode()).hexdigest()[:6]
    fp = repr(source_fingerprints(key, tables)).encode()
    return sfseg, f"{sfseg}_{hashlib.md5(fp).hexdigest()[:6]}"


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize orders + customer as BUCKETED catalog tables (8
    buckets on the custkey join key, sorted within buckets) once per
    source fingerprint — the write-time layout that makes every later
    custkey equi-join/aggregation exchange-free
    (write_bucketed_table; the lake counterpart of the reference's
    clustered index on the join key, add_index.R:235-240)."""
    from apde_etl_spark.sources.lifecycle import write_bucketed_table

    sources = ("orders", "customer")

    def build(_: str) -> tuple[str, str]:
        sfseg, tag = _warehouse_tag(sf_dir, sources)
        names = []
        for table, bucket_col in zip(sources, ("o_custkey", "c_custkey")):
            name = f"{table}_bkt_{tag}"
            if not spark.catalog.tableExists(name):
                # sweep only THIS source's stale fingerprints — other
                # scale factors' tables keep their sfseg prefix and survive
                _clear_stale_managed(spark, name,
                                     prefix=f"{table}_bkt_{sfseg}_")
                write_bucketed_table(
                    load(spark, sf_dir, table), name,
                    bucket_by=bucket_col, num_buckets=8,
                )
            names.append(name)
        return tuple(names)

    return artifact("bucketed_tables", sf_dir, sources, build)


_BUCKETED_JOIN_ORACLE = f"""
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {_sql_round('SUM(CAST(o.o_totalprice AS DECIMAL(28,6)))', 4)} AS total_revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


@register("bucketed_join_revenue", _BUCKETED_JOIN_ORACLE)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment through the BUCKETED layout: both
    sides bucketed on the custkey join key, so the join runs with no
    exchange on either side (asserted in tests/test_plan_shapes.py with
    auto-broadcast disabled) — at 100 TB this converts the repeated
    fact⋈dim shuffle into a local stitch, paid once at write time. The
    oracle joins the flat tables: layout == values."""
    t_orders, t_cust = bucketed_tables(spark, sf_dir)
    o = spark.table(t_orders)
    c = spark.table(t_cust)
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        round_half_away(
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double"), 4
        ).alias("total_revenue"),
    )


# ===========================================================================
# Cost-based optimization — ANALYZE stats flip the join order, executed
# ===========================================================================

def cbo_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Materialize lineitem/part/supplier as catalog tables with FULL
    column statistics (ANALYZE TABLE ... FOR ALL COLUMNS) once per
    source fingerprint — the stats layer Spark's cost-based optimizer
    reads. The lake analogue of SQL Server's auto-created statistics the
    reference's query plans silently rely on (its T-SQL generation,
    etl_qa_run_pipeline.R:1208+, leaves plan choice entirely to the
    engine); on Spark the stats must be MATERIALIZED for CBO to see
    them, so the engine ships the step as a first-class layout tool."""
    sources = ("lineitem", "part", "supplier")

    def build(_: str) -> tuple[str, str, str]:
        sfseg, tag = _warehouse_tag(sf_dir, sources)
        names = tuple(f"cbo_{t}_{tag}" for t in sources)
        for t, name in zip(sources, names):
            if not spark.catalog.tableExists(name):
                _clear_stale_managed(spark, name, prefix=f"cbo_{t}_{sfseg}_")
                df = load(spark, sf_dir, t)
                df.write.mode("overwrite").saveAsTable(name)
                spark.sql(
                    f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS")
        return names

    return artifact("cbo_tables", sf_dir, sources, build)


_CBO_ORACLE = f"""
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_items,
       {_sql_round('sum(l.l_extendedprice)', 2)} AS revenue
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE s.s_acctbal > 9900
GROUP BY p.p_brand
"""


@register("cbo_reordered_join", _CBO_ORACLE)
def cbo_reordered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COST-BASED JOIN REORDER, executed: the query is WRITTEN
    part->lineitem->supplier, but with column stats + CBO the optimizer
    joins the selective supplier filter into lineitem FIRST
    (tests/test_plan_shapes.py asserts the reorder happens and that it
    needs the stats) — at 100 TB this is the difference between carrying
    the full fact x part join to a 99%-discarding filter and pruning
    the fact first. Values are order-independent; the oracle states the
    same query over the flat tables. The optimized plan is materialized
    INSIDE the CBO-enabled window (QueryExecution caches it), so the
    returned lazy DataFrame keeps the reordered plan after the session
    confs are restored."""
    t_li, t_p, t_s = cbo_tables(spark, sf_dir)
    prev = spark.conf.get("spark.sql.cbo.enabled")
    prev_r = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try:
        p = spark.table(t_p)
        li = spark.table(t_li)
        su = spark.table(t_s).filter(F.col("s_acctbal") > 9900)
        df = (
            p.join(li, li["l_partkey"] == p["p_partkey"])
            .join(su, li["l_suppkey"] == su["s_suppkey"])
            .groupBy("p_brand")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                round_half_away(F.sum("l_extendedprice"), 2).alias("revenue"),
            )
        )
        df._jdf.queryExecution().optimizedPlan()  # bake the CBO plan in
        return df
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", prev_r)
