"""Catalog part 3: the remaining SURVEY.md §2 operator IDs as
oracle-checked (Spark, DuckDB-SQL) pairs — sources/lifecycle (S1-S5,
S7-S9, S12), simple predicates/projections (P1-P5), the metadata join
chain (J1/J7), scalar-function families (F4/F6/F7), row_number median
machinery (W1), stack/distinct set-ops (U3/U4), A12 cutpoint, plus the
extension surfaces: a real Structured Streaming run (availableNow ->
memory sink) with a batch oracle, and the multimodal binary-column
plumbing.

Registered on import by ``__spark_entry__`` alongside ``catalog`` and
``catalog_ext``.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apde_etl_spark.functions.core import round_half_away
from apde_etl_spark.plans.catalog import (_sql_round, load, load_events,
                                           normalize_ts, register)
from apde_etl_spark.sources.readers import local_frame

# ===========================================================================
# S1/S2 — full scan and schema-only peek
# ===========================================================================


@register("s1_table_scan", "SELECT * FROM region")
def s1_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S1: `SELECT * FROM schema.table` (table_duplicate.R:230-232).
    The one case where reading every column is the point."""
    return load(spark, sf_dir, "region")


@register("s2_schema_peek", "SELECT p_partkey, p_name, p_retailprice FROM part LIMIT 0")
def s2_schema_peek(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S2: `SELECT TOP(0) *` schema probe
    (etl_qa_run_pipeline.R:887) — limit(0) ships no rows but the full
    schema; the driver's schema compare is the actual assertion here."""
    return load(spark, sf_dir, "part").select("p_partkey", "p_name", "p_retailprice").limit(0)


# ===========================================================================
# S3 — table-existence probe
# ===========================================================================

_S3_ORACLE = """
SELECT 'region' AS table_name, CAST(1 AS INTEGER) AS exists_flag
UNION ALL SELECT 'no_such_table_xyz', CAST(0 AS INTEGER)
"""


@register("s3_table_existence", _S3_ORACLE)
def s3_table_existence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S3: dbExistsTable probe (etl_qa_run_pipeline.R:879-884,
    load_table_from_sql.R:296-309) via spark.catalog.tableExists over a
    registered view."""
    from apde_etl_spark.sources.lifecycle import table_exists

    load(spark, sf_dir, "region").createOrReplaceTempView("region")
    rows = [(n, int(table_exists(spark, n))) for n in ["region", "no_such_table_xyz"]]
    return local_frame(spark, rows, "table_name string, exists_flag int")


# ===========================================================================
# S4 — column-metadata scan + 3-way type classification
# ===========================================================================

_S4_ORACLE = """
SELECT column_name AS varname,
       CASE WHEN lower(data_type) IN ('tinyint','smallint','integer','bigint',
                                      'double','float','real','boolean')
                 OR lower(data_type) LIKE 'decimal%'
            THEN 'numeric'
            WHEN lower(data_type) IN ('varchar','text','blob') THEN 'character'
            WHEN lower(data_type) IN ('date','timestamp','timestamp_ns',
                                      'timestamp with time zone') THEN 'datetime'
            ELSE 'other' END AS category
FROM information_schema.columns WHERE table_name = 'lineitem'
"""


@register("s4_column_classification", _S4_ORACLE)
def s4_column_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S4 + §1.2: the sys.columns x sys.types catalog scan
    (etl_qa_run_pipeline.R:1085-1142) becomes df.schema introspection;
    both engines independently classify every lineitem column into
    {character, numeric, datetime, other} and must agree."""
    from apde_etl_spark.operators.profile import classify_columns

    li = load(spark, sf_dir, "lineitem")
    cls = classify_columns(li)
    rows = (
        [(c, "numeric") for c in cls.numeric]
        + [(c, "character") for c in cls.character]
        + [(c, "datetime") for c in cls.datetime]
        + [(c, "other") for c in cls.other]
    )
    return local_frame(spark, rows, "varname string, category string")


# ===========================================================================
# S5 — DDL synthesis from schema metadata
# ===========================================================================

_S5_ORACLE = """
SELECT 'CREATE TABLE supplier_copy (' ||
       string_agg(column_name || ' ' ||
         CASE data_type WHEN 'BIGINT' THEN 'BIGINT' WHEN 'INTEGER' THEN 'INT'
                        WHEN 'DOUBLE' THEN 'DOUBLE' WHEN 'VARCHAR' THEN 'STRING'
                        WHEN 'TIMESTAMP' THEN 'TIMESTAMP' ELSE data_type END,
         ',' ORDER BY ordinal_position) ||
       ') USING parquet' AS ddl
FROM information_schema.columns WHERE table_name = 'supplier'
"""


@register("s5_ddl_synthesis", _S5_ORACLE)
def s5_ddl_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S5: INFORMATION_SCHEMA -> CREATE TABLE text
    (table_duplicate.R:281-309, external_table_check.R:48-72). Spark's
    schema.toDDL carries the same info; the oracle rebuilds the identical
    string from DuckDB's information_schema through the type map — a
    cross-engine check of the whole type mapping."""
    from apde_etl_spark.sources.lifecycle import synthesize_ddl

    sup = load(spark, sf_dir, "supplier")
    ddl = synthesize_ddl(sup, "supplier_copy").replace("`", "")
    return local_frame(spark, [(ddl,)], "ddl string")


# ===========================================================================
# S7 — lake-file load (COPY INTO analogue) via ORC round-trip
# ===========================================================================

_S7_ORACLE = "SELECT p_partkey, p_name, p_retailprice FROM part"


@register("s7_orc_roundtrip", _S7_ORACLE)
def s7_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S7: COPY INTO from lake files (copy_into.R:101-148) with
    file_type orc + zlib compression — write out, read back through the
    lake-reader path, values must survive."""
    from apde_etl_spark.sources.readers import read_lake_file

    part = load(spark, sf_dir, "part").select("p_partkey", "p_name", "p_retailprice")
    path = tempfile.mkdtemp(prefix="apde_s7_") + "/part_orc"
    part.write.mode("overwrite").option("compression", "zlib").orc(path)
    return read_lake_file(spark, path, file_type="orc")


# ===========================================================================
# S13 (ext) — JSON-lines lake round-trip (beyond the reference's formats)
# ===========================================================================

_S13_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


@register("s13_json_roundtrip", _S13_ORACLE)
def s13_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine extension past the reference's csv/parquet/orc COPY INTO
    (copy_into.R:61): JSON-lines with gzip compression through the same
    lake-reader path — declared schema, PERMISSIVE corrupt-record
    quarantine, MAXERRORS budget. Values must survive the round-trip
    byte-exactly (the oracle reads the original table)."""
    from apde_etl_spark.sources.readers import read_lake_file

    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    path = tempfile.mkdtemp(prefix="apde_s13_") + "/nation_json"
    nation.write.mode("overwrite").option("compression", "gzip").json(path)
    out = read_lake_file(spark, path, file_type="json",
                         schema=nation.schema, max_errors=10)
    return out.select("n_nationkey", "n_name", "n_regionkey")


# ===========================================================================
# S8 — function-sourced dataset registry
# ===========================================================================

from apde_etl_spark.sources.readers import registry as _registry  # noqa: E402


@_registry.register("tpch_customer")
def _customer_source(spark: SparkSession, sf_dir: str, cols=None, min_acctbal=None):
    df = load(spark, sf_dir, "customer")
    if min_acctbal is not None:
        df = df.filter(F.col("c_acctbal") >= min_acctbal)
    if cols:
        df = df.select(*cols)
    return df


_S8_ORACLE = """
SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal >= 5000
"""


@register("s8_function_source", _S8_ORACLE)
def s8_function_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S8: dynamic dispatch to a named data-access function with
    (cols, filter) params (getFromNamespace(...)(year, cols, ...),
    etl_qa_run_pipeline.R:856-861) — a registry of callables returning
    DataFrames."""
    return _registry.load(
        "tpch_customer", spark, sf_dir=sf_dir,
        cols=["c_custkey", "c_name", "c_acctbal"], min_acctbal=5000,
    )


# ===========================================================================
# S9 — chunked append write
# ===========================================================================

_S9_ORACLE = "SELECT s_suppkey, s_name, s_acctbal FROM supplier"


@register("s9_chunked_append_write", _S9_ORACLE)
def s9_chunked_append_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S9: the reference writes 50k-row chunks, first overwrite
    then append (deduplicate_addresses.R:41-65). Distributed writers make
    chunking unnecessary, but overwrite-then-append mode semantics are
    preserved; the reread must equal the source."""
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    path = tempfile.mkdtemp(prefix="apde_s9_") + "/supplier_chunks"
    sup.filter(F.col("s_suppkey") % 2 == 0).write.mode("overwrite").parquet(path)
    sup.filter(F.col("s_suppkey") % 2 == 1).write.mode("append").parquet(path)
    return spark.read.parquet(path)


# ===========================================================================
# S12 — config hierarchy resolution driving the plan
# ===========================================================================

_S12_ORACLE = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS time_period,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1997 GROUP BY 1
"""


@register("s12_config_hierarchy", _S12_ORACLE)
def s12_config_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S12: YAML-config precedence (argument > server-scoped >
    year-scoped > global; load_table_from_file.R:495-541). The resolved
    time_range drives the filter: global says 1992-1998, the 'prod'
    server scope narrows to 1995-1997 and must win."""
    from apde_etl_spark.sources.config import resolve_config

    config = {
        "time_range": [1992, 1998],
        "prod": {"time_range": [1995, 1997]},
        "dev": {"time_range": [1992, 1993]},
    }
    lo, hi = resolve_config(config, ["time_range"], server="prod")["time_range"]
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(F.year("o_orderdate").between(lo, hi))
        .groupBy(F.year("o_orderdate").cast("int").alias("time_period"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ===========================================================================
# P1-P5 — projections & predicates
# ===========================================================================


@register("p1_projection", "SELECT p_partkey, p_retailprice FROM part")
def p1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY P1: keep unique(time_var, cols)
    (etl_qa_run_pipeline.R:693-695). Column pruning must reach the scan
    (ReadSchema shows only 2 of 6 columns)."""
    return load(spark, sf_dir, "part").select("p_partkey", "p_retailprice")


_P2_ORACLE = """
SELECT l_orderkey, CAST(l_shipdate AS DATE) AS l_shipdate
FROM lineitem
WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
"""


@register("p2_time_window", _P2_ORACLE)
def p2_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY P2: time_var BETWEEN lo AND hi
    (etl_qa_run_pipeline.R:661-662, 1188)."""
    li = load(spark, sf_dir, "lineitem")
    d = F.col("l_shipdate").cast("date")
    return li.filter(
        d.between(F.lit("1995-01-01").cast("date"), F.lit("1996-12-31").cast("date"))
    ).select("l_orderkey", d.alias("l_shipdate"))


_P3_ORACLE = """
WITH o AS (SELECT CASE WHEN o_totalprice < 1000 THEN NULL ELSE o_orderstatus END AS st
           FROM orders)
SELECT st AS o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
FROM o WHERE st IS NOT NULL GROUP BY 1
"""


@register("p3_null_filter", _P3_ORACLE)
def p3_null_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY P3: WHERE col IS NOT NULL before stats
    (etl_qa_run_pipeline.R:1250,1355; na.rm=TRUE :714-717) over a
    conditionally-nulled column."""
    o = load(spark, sf_dir, "orders").withColumn(
        "st", F.when(F.col("o_totalprice") < 1000, F.lit(None)).otherwise(F.col("o_orderstatus"))
    )
    return (
        o.filter(F.col("st").isNotNull())
        .groupBy(F.col("st").alias("o_orderstatus"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


_P4_ORACLE = "SELECT o_orderkey, o_orderstatus, o_orderdate, o_orderpriority FROM orders"


@register("p4_regex_column_select", _P4_ORACLE)
def p4_regex_column_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY P4: regex column selection (chi vars = grep('^chi_', cols),
    etl_qa_run_pipeline.R:675) — planning-side: the column *list* comes
    from the pattern, then an ordinary projection."""
    import re

    o = load(spark, sf_dir, "orders")
    cols = [c for c in o.columns if re.match(r"^o_order", c)]
    return o.select(*cols)


_P5_ORACLE = """
SELECT o_orderkey, o_orderpriority FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderstatus LIKE '%F%'
"""


@register("p5_set_membership", _P5_ORACLE)
def p5_set_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY P5: `%in%` set membership + LIKE pattern filter
    (etl_qa_run_pipeline.R:1107; table_duplicate.R:466-470)."""
    o = load(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_orderstatus").like("%F%")
    ).select("o_orderkey", "o_orderpriority")


# ===========================================================================
# J7 — recipient-list resolution (normalized 3-table inner-join chain)
# ===========================================================================

_J7_ORACLE = """
SELECT c.c_name, n.n_name AS nation, r.r_name AS region
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE c.c_acctbal >= 9000
"""


@register("j7_recipient_resolution", _J7_ORACLE)
def j7_recipient_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY J7: notify_list ⋈ notify_addresses resolution
    (notify.R:596-602,646) — the same normalized join chain over
    customer ⋈ nation ⋈ region, with both dimension sides broadcast."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") >= 9000)
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_name", F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
    )


# ===========================================================================
# A12 — MAX() auto cutpoint
# ===========================================================================

_A12_ORACLE = "SELECT CAST(MAX(o_orderdate) AS DATE) AS cutpoint FROM orders"


@register("a12_max_date_cutpoint", _A12_ORACLE)
def a12_max_date_cutpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY A12: `SELECT MAX(date_var)` to pick the archive/stage split
    date (load_table_from_sql.R:274-276)."""
    o = load(spark, sf_dir, "orders")
    return o.agg(F.max(F.col("o_orderdate").cast("date")).alias("cutpoint"))


# ===========================================================================
# W1 — ROW_NUMBER median machinery (the reference's T-SQL branch, verbatim)
# ===========================================================================

_W1_ORACLE = """
WITH ranked AS (
  SELECT CAST(year(l_shipdate) AS INTEGER) AS time_period,
         CAST(l_quantity AS DOUBLE) AS value,
         ROW_NUMBER() OVER (PARTITION BY year(l_shipdate) ORDER BY l_quantity) AS rn,
         COUNT(*) OVER (PARTITION BY year(l_shipdate)) AS cnt
  FROM lineitem
)
SELECT time_period, AVG(value) AS tsql_median
FROM ranked
WHERE rn IN (cnt // 2, cnt // 2 + 1)
GROUP BY time_period
"""


@register("w1_rownumber_median_tsql", _W1_ORACLE)
def w1_rownumber_median_tsql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY W1 + §2.10.1: the reference's T-SQL median machinery —
    ROW_NUMBER per group ordered by value, average rows (N/2, N/2+1)
    (etl_qa_run_pipeline.R:1277-1295). Reproduced exactly (including its
    off-by-one vs stats::median for odd N, which the engine's primary
    median consciously fixes per SURVEY §2.10.1); ties make row_number
    order-ambiguous but the middle *values* are permutation-invariant."""
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("time_period").orderBy("value")
    ranked = (
        li.select(
            F.year("l_shipdate").cast("int").alias("time_period"),
            F.col("l_quantity").cast("double").alias("value"),
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("time_period")))
    )
    # integer division: DuckDB cnt/2 on BIGINT truncates; make Spark match
    half = (F.col("cnt") / 2).cast("long")
    return (
        ranked.filter((F.col("rn") == half) | (F.col("rn") == half + 1))
        .groupBy("time_period")
        .agg(F.avg("value").alias("tsql_median"))
    )


# ===========================================================================
# U3 — stack heterogeneous profile tables with NULL fill + vartype tags
# ===========================================================================

_U3_ORACLE = """
WITH cont AS (
  SELECT CAST(year(l_shipdate) AS INTEGER) AS time_period, 'l_quantity' AS varname,
         AVG(CAST(l_quantity AS DOUBLE)) AS mean FROM lineitem GROUP BY 1
), cat AS (
  SELECT CAST(year(l_shipdate) AS INTEGER) AS time_period, 'l_returnflag' AS varname,
         CAST(COUNT(*) AS BIGINT) AS count FROM lineitem GROUP BY 1
), dat AS (
  SELECT CAST(year(l_shipdate) AS INTEGER) AS time_period, 'l_shipdate' AS varname,
         CAST(MAX(l_shipdate) AS DATE) AS max_date FROM lineitem GROUP BY 1
)
SELECT time_period, varname, mean, CAST(NULL AS BIGINT) AS count,
       CAST(NULL AS DATE) AS max_date, 'Continuous' AS vartype FROM cont
UNION ALL
SELECT time_period, varname, CAST(NULL AS DOUBLE), count, CAST(NULL AS DATE),
       'Categorical' FROM cat
UNION ALL
SELECT time_period, varname, CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), max_date,
       'Date' FROM dat
"""


@register("u3_stack_profiles", _U3_ORACLE)
def u3_stack_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY U3: rbind-with-fill of the three per-type profile tables
    into one `values` relation, vartype tag added, absent columns NULL
    (etl_qa_run_pipeline.R:1625-1636) = unionByName
    allowMissingColumns."""
    li = load(spark, sf_dir, "lineitem")
    t = F.year("l_shipdate").cast("int").alias("time_period")
    cont = li.groupBy(t).agg(F.avg(F.col("l_quantity").cast("double")).alias("mean")) \
        .select("time_period", F.lit("l_quantity").alias("varname"), "mean",
                F.lit("Continuous").alias("vartype"))
    cat = li.groupBy(t).agg(F.count(F.lit(1)).alias("count")) \
        .select("time_period", F.lit("l_returnflag").alias("varname"), "count",
                F.lit("Categorical").alias("vartype"))
    dat = li.groupBy(t).agg(F.max(F.col("l_shipdate").cast("date")).alias("max_date")) \
        .select("time_period", F.lit("l_shipdate").alias("varname"), "max_date",
                F.lit("Date").alias("vartype"))
    out = cont.unionByName(cat, allowMissingColumns=True).unionByName(
        dat, allowMissingColumns=True
    )
    return out.select("time_period", "varname", "mean", "count", "max_date", "vartype")


# ===========================================================================
# U4 — long-format distinct (time, varname, group) extraction
# ===========================================================================

_U4_ORACLE = """
SELECT DISTINCT time_period, varname, grp FROM (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS time_period,
         'o_orderstatus' AS varname, o_orderstatus AS grp FROM orders
  UNION ALL
  SELECT CAST(year(o_orderdate) AS INTEGER), 'o_orderpriority', o_orderpriority
  FROM orders
)
"""


@register("u4_long_distinct_groups", _U4_ORACLE)
def u4_long_distinct_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY U4: rbindlist over per-column extracts building the
    (time, varname, group) long relation for the CHI comparison
    (etl_qa_run_pipeline.R:776-784) — melt + distinct."""
    from apde_etl_spark.operators.reshape import melt_long

    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("time_period"),
        "o_orderstatus", "o_orderpriority",
    )
    long = melt_long(o, ["time_period"], ["o_orderstatus", "o_orderpriority"],
                     value_name="grp")
    return long.distinct()


# ===========================================================================
# F4 — round-half-away-from-zero on signed values
# ===========================================================================

_F4_ORACLE = f"""
SELECT DISTINCT CAST(l_discount AS DOUBLE) AS l_discount,
       {_sql_round('(l_discount - 0.05) * 123.456', 0)} AS r0,
       {_sql_round('(l_discount - 0.05) * 123.456', 1)} AS r1,
       {_sql_round('(l_discount - 0.05) * 123.456', 3)} AS r3
FROM lineitem
"""


@register("f4_round_half_away", _F4_ORACLE)
def f4_round_half_away(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY F4 + §2.10.2: rads::round2 = round-half-AWAY-from-zero (not
    banker's, not HALF_UP-on-positives-only) applied to signed values —
    the signum/floor formula, identical on both engines
    (etl_qa_run_pipeline.R:1541,1569,1597-1600)."""
    li = load(spark, sf_dir, "lineitem")
    x = (F.col("l_discount") - 0.05) * 123.456
    return li.select(
        F.col("l_discount").cast("double").alias("l_discount"),
        round_half_away(x, 0).alias("r0"),
        round_half_away(x, 1).alias("r1"),
        round_half_away(x, 3).alias("r3"),
    ).distinct()


# ===========================================================================
# F6/F7 — date + string scalar families
# ===========================================================================

_F67_ORACLE = """
SELECT DISTINCT
  o_orderpriority,
  upper(o_orderstatus) AS status_u,
  regexp_replace(o_orderpriority, '^[0-9]-', '') AS prio_name,
  string_split(o_orderpriority, '-')[1] AS prio_code,
  CAST(o_orderdate AS DATE)
    + CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') // 2
           AS INTEGER) AS midpoint,
  o_orderstatus || '/' || o_orderpriority AS combined
FROM orders
"""


@register("f67_scalar_functions", _F67_ORACLE)
def f67_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY F6/F7: DATEADD(day, DATEDIFF(day,a,b)/2, a) midpoint
    (etl_qa_run_pipeline.R:1405-1410), upper/regexp_replace/split/concat
    (table_duplicate.R:291-303, etl_qa_run_pipeline.R:1726-1727)."""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderpriority",
        F.upper("o_orderstatus").alias("status_u"),
        F.regexp_replace("o_orderpriority", r"^[0-9]-", "").alias("prio_name"),
        F.split("o_orderpriority", "-").getItem(0).alias("prio_code"),
        F.date_add(d, (F.datediff(F.lit("1998-12-31").cast("date"), d) / 2).cast("int"))
         .alias("midpoint"),
        F.concat_ws("/", "o_orderstatus", "o_orderpriority").alias("combined"),
    ).distinct()


# ===========================================================================
# Streaming extension — a REAL Structured Streaming run with a batch oracle
# ===========================================================================

_STREAM_ORACLE = """
WITH b AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
         CASE WHEN value < 10 THEN NULL ELSE value END AS v
  FROM events
)
SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
       'value_gated' AS varname,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nrow,
       SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) / COUNT(*) AS proportion
FROM b GROUP BY 1
"""


@register("stream_hourly_missingness", _STREAM_ORACLE)
def stream_hourly_missingness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (SURVEY §2.12): tumbling-window missingness over the
    events stream, executed as an actual Structured Streaming query
    (file source -> watermark -> windowed agg -> availableNow trigger ->
    memory sink, complete output so trailing windows inside the watermark
    lag also emit). The DuckDB oracle computes the same windows in batch —
    Spark's unified batch/stream semantics make them identical once the
    one-shot trigger drains the source."""
    from apde_etl_spark.streaming.profile_stream import windowed_missingness

    load_events(spark, sf_dir)  # sets nanosAsLong conf for the schema read
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file stream source wants a directory: stream the sf dir with a
    # glob pinned to the events file
    src = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    src = normalize_ts(src)
    src = src.withColumn(
        "value_gated", F.when(F.col("value") < 10, F.lit(None)).otherwise(F.col("value"))
    )
    prof = windowed_missingness(src, "ts", ["value_gated"], window="1 hour",
                                watermark="2 hours")
    name = "stream_hourly_missingness_sink"
    q = (
        prof.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "window_start", "window_end", "varname", "nrow", "proportion"
    )


# ===========================================================================
# Multimodal extension — binary columns with typed metadata
# ===========================================================================

_MM_META_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
       md5(text) AS content_digest
FROM documents
"""


@register("mm_binary_metadata", _MM_META_ORACLE)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, JVM-side half: media ride as opaque binary
    columns with typed metadata beside them. Byte length + content digest
    computed on the binary payload, cross-checked against DuckDB's blob
    functions."""
    docs = load(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).alias("byte_len"),
        F.md5(payload).alias("content_digest"),
    )


#: the fake decoder derives every field from md5(payload) bytes, so DuckDB
#: reproduces it exactly -> the Python Arrow stage is FULLY
#: hash-verified against SQL, not just rows-counted.
_MM_DECODE_ORACLE = f"""
WITH b AS (SELECT doc_id, md5(text) AS m FROM documents)
SELECT doc_id,
       CAST(64 + CAST(concat('0x', substr(m, 1, 2)) AS INTEGER) % 192 AS INTEGER) AS width,
       CAST(64 + CAST(concat('0x', substr(m, 3, 2)) AS INTEGER) % 192 AS INTEGER) AS height,
       ['jpeg', 'png', 'webp'][CAST(concat('0x', substr(m, 5, 2)) AS INTEGER) % 3 + 1] AS format,
       {_sql_round("(CAST(concat('0x', substr(m, 1, 2)) AS INTEGER) / 255.0) * 2.0 - 1.0", 6)} AS feature_0
FROM b
"""


@register("mm_image_decode_features", _MM_DECODE_ORACLE)
def mm_image_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, Python half: the Arrow decode
    stage over the binary column using the deterministic fake decoder
    (real codecs are stubbed per container constraints — the schema,
    batching and partition behavior are the real thing being tested).
    The fake is md5-derived, so the oracle regenerates it in SQL and the
    whole Arrow round-trip is value-hash-checked."""
    from apde_etl_spark.operators.multimodal import (
        decode_images,
        deterministic_fake_decoder,
        extract_features,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    meta = decode_images(docs, "payload", decoder=deterministic_fake_decoder)
    feats = extract_features(docs, "doc_id", "payload",
                             decoder=deterministic_fake_decoder)
    return meta.join(feats, "doc_id").select(
        "doc_id", "width", "height", "format",
        round_half_away(F.element_at("features", 1), 6).alias("feature_0"),
    )


_MM_FRAME_ORACLE = """
SELECT doc_id AS media_id,
       CAST(unnest(range(0, length(text) % 290 + 10, 10)) AS INTEGER) AS frame_index
FROM documents
"""


@register("mm_frame_sample", _MM_FRAME_ORACLE)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video plumbing: frame-sampling plan (media_id,
    frame_index) for every 10th frame from a frame_count metadata column
    — native sequence+explode, no Python in the row path. The real
    decode stage consuming this plan is gated end-to-end in
    mm_video_decode_real (plans/catalog_r8.py: Y4M container, stdlib
    codec). Here frame_count is derived deterministically from the text
    length so the oracle can regenerate it without fixtures."""
    from apde_etl_spark.operators.multimodal import frame_sample_plan

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        (F.length("text") % 290 + 10).alias("frame_count"),
    )
    return frame_sample_plan(docs, every_n=10, id_col="media_id")


_MM_AUDIO_CHUNK_ORACLE = """
WITH a AS (
  SELECT doc_id AS media_id,
         CAST(length(text) * 37 % 48000 + 8000 AS BIGINT) AS n_samples
  FROM documents
)
SELECT media_id,
       CAST(s / 16000 AS INTEGER) AS chunk_index,
       CAST(s AS BIGINT) AS start_sample,
       CAST(least(s + 16000, n_samples) AS BIGINT) AS end_sample
FROM (SELECT media_id, n_samples, unnest(range(0, n_samples, 16000)) AS s FROM a)
"""


@register("mm_audio_chunks", _MM_AUDIO_CHUNK_ORACLE)
def mm_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio plumbing, JVM-side half: fixed 16000-sample
    window chunk plan (media_id, chunk_index, start/end offsets) from an
    n_samples metadata column — native sequence+explode in the scan
    stage, no Python in the row path; the waveform decode consuming the
    plan is a later Arrow stage (stubbed per container
    constraints). n_samples derives deterministically from text length
    so the oracle regenerates it."""
    from apde_etl_spark.operators.multimodal import audio_chunk_plan

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        (F.length("text") * 37 % 48000 + 8000).cast("long").alias("n_samples"),
    )
    return audio_chunk_plan(docs, chunk_samples=16000, id_col="media_id")


_MM_AUDIO_DECODE_ORACLE = """
WITH b AS (SELECT doc_id, md5(text) AS m FROM documents)
SELECT doc_id,
       CAST([8000, 16000, 44100][CAST(concat('0x', substr(m, 1, 2)) AS INTEGER) % 3 + 1] AS INTEGER) AS sample_rate,
       CAST(8000 + CAST(concat('0x', substr(m, 3, 6)) AS BIGINT) % 48000 AS BIGINT) AS n_samples,
       round(CAST(concat('0x', substr(m, 9, 2)) AS INTEGER) / 255.0, 6) AS rms
FROM b
"""


@register("mm_audio_decode_features", _MM_AUDIO_DECODE_ORACLE)
def mm_audio_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio plumbing, Python half: the Arrow
    feature stage (sample_rate / n_samples / RMS) over the binary column
    with the deterministic fake codec — schema, batch shape and
    partition behavior are the real thing under test. The fake is
    md5-derived, so the oracle regenerates it in SQL and the Arrow
    round-trip is value-hash-checked."""
    from apde_etl_spark.operators.multimodal import (
        deterministic_fake_audio_decoder,
        extract_audio_features,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return extract_audio_features(
        docs, "doc_id", "payload", decoder=deterministic_fake_audio_decoder
    )


# ===========================================================================
# Sessionization extension — batch window recipe (streaming twin in
# streaming/sessionize.py, checked against this in tests)
# ===========================================================================

_SESSION_ORACLE = """
WITH o AS (
  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
), f AS (
  SELECT user_id, ts,
         CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 86400.0
              THEN 1 ELSE 0 END AS flag
  FROM o
), s AS (
  SELECT user_id, ts,
         CAST(SUM(flag) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) - 1 AS INTEGER) AS session_seq
  FROM f
)
SELECT user_id, session_seq,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY 1, 2
"""


@register("sessionize_events", _SESSION_ORACLE)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (24h idle gap) collapsed to per-session
    stats — lag -> flag -> running-sum window recipe, one shuffle on the
    user key. The applyInPandasWithState streaming twin must produce the
    identical session set (tests/test_streaming.py)."""
    from apde_etl_spark.streaming.sessionize import batch_sessionize, session_stats

    ev = load_events(spark, sf_dir)
    return session_stats(batch_sessionize(ev, "user_id", "ts", gap_minutes=1440.0))


# ===========================================================================
# QA pipeline chi_standards — the third exported table (J8/U4 through the
# pipeline; etl_qa_run_pipeline.R:1620-1622)
# ===========================================================================

_QA_CHI_ORACLE = """
WITH observed AS (
  SELECT DISTINCT varname, grp FROM (
    SELECT 'o_orderstatus' AS varname, o_orderstatus AS grp FROM orders
    UNION ALL
    SELECT 'o_orderpriority', o_orderpriority FROM orders
  )
), standard AS (
  SELECT * FROM (VALUES
    ('o_orderstatus','O'), ('o_orderstatus','F'), ('o_orderstatus','P'),
    ('o_orderstatus','X'),
    ('o_orderpriority','1-URGENT'), ('o_orderpriority','2-HIGH'),
    ('o_orderpriority','3-MEDIUM'), ('o_orderpriority','4-NOT SPECIFIED'),
    ('o_orderpriority','5-LOW'), ('o_orderpriority','6-NEVER')
  ) s(varname, grp)
)
SELECT COALESCE(o.varname, s.varname) AS varname,
       COALESCE(o.grp, s.grp) AS "group",
       CAST(CASE WHEN o.varname IS NULL THEN 0 ELSE 1 END AS INTEGER) AS your_data,
       CAST(CASE WHEN s.varname IS NULL THEN 0 ELSE 1 END AS INTEGER) AS chi,
       CASE WHEN o.varname IS NULL OR s.varname IS NULL THEN '*' END AS problem
FROM observed o FULL OUTER JOIN standard s
  ON o.varname = s.varname AND o.grp = s.grp
"""


@register("qa_chi_standards", _QA_CHI_ORACLE)
def qa_chi_standards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's third exported table: domain conformance of the
    configured columns against a (varname, group) standard — full-outer
    indicator join with '*' problem flags (J8 + U4 observed-domain build,
    through run_qa_pipeline's standards config)."""
    from apde_etl_spark.plans.qa_pipeline import QaConfig, run_qa_pipeline

    o = load(spark, sf_dir, "orders")
    standard = local_frame(
        spark,
        [("o_orderstatus", v) for v in ["O", "F", "P", "X"]]
        + [("o_orderpriority", v) for v in
           ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW", "6-NEVER"]],
        "varname string, `group` string",
    )
    cfg = QaConfig(
        time_var="o_orderdate",
        time_expr=F.year("o_orderdate").cast("int"),
        cols=["o_orderstatus", "o_orderpriority", "o_totalprice"],
        standards=standard,
    )
    res = run_qa_pipeline(o, cfg)
    return res.chi_standards


# ===========================================================================
# Streaming categorical frequency — second Structured Streaming entry
# ===========================================================================

_STREAM_CAT_ORACLE = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       'event_type' AS varname,
       CAST(event_type AS VARCHAR) AS value,
       CAST(COUNT(*) AS BIGINT) AS count
FROM events GROUP BY 1, 4
"""


@register("stream_hourly_event_freq", _STREAM_CAT_ORACLE)
def stream_hourly_event_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (SURVEY §2.12): per-window value frequencies of
    event_type as a real Structured Streaming run (file source ->
    windowed count -> availableNow -> memory sink, complete mode), with
    the batch time_bucket aggregation as the oracle."""
    from apde_etl_spark.streaming.profile_stream import windowed_categorical_freq

    load_events(spark, sf_dir)  # sets nanosAsLong conf
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    src = normalize_ts(src)
    freq = windowed_categorical_freq(src, "ts", "event_type", window="1 hour",
                                     watermark="2 hours")
    name = "stream_hourly_event_freq_sink"
    q = (
        freq.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "window_start", "window_end", "varname", "value", "count"
    )


# ===========================================================================
# Streaming exact dedup — first-seen keys with bounded state
# ===========================================================================

_STREAM_DEDUP_ORACLE = """
SELECT DISTINCT user_id, CAST(event_type AS VARCHAR) AS event_type
FROM events
"""


@register("stream_dedup_exact", _STREAM_DEDUP_ORACLE)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (SURVEY §2.12): streaming exact dedup — emit each
    (user_id, event_type) the first time it is seen, the streaming
    analog of content-hash dedup in a continuous training-data ingest.
    Runs as a real Structured Streaming query (file source ->
    dropDuplicatesWithinWatermark -> availableNow -> memory sink); the
    batch DISTINCT is the oracle."""
    from apde_etl_spark.streaming.profile_stream import stream_exact_dedup

    load_events(spark, sf_dir)  # sets nanosAsLong conf for the schema read
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    src = normalize_ts(src)
    src = src.withColumn("event_type", F.col("event_type").cast("string"))
    deduped = stream_exact_dedup(src, "ts", ["user_id", "event_type"],
                                 watermark="2 hours")
    name = "stream_dedup_exact_sink"
    q = (
        deduped.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name).select("user_id", "event_type")


# ===========================================================================
# SQL-text interface — the same ANSI SQL string runs on both engines
# ===========================================================================

_PORTABLE_SQL = """
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS customers,
       CAST(SUM(CASE WHEN c.c_acctbal > 5000 THEN 1 ELSE 0 END) AS BIGINT)
         AS high_balance
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


def register_views(spark: SparkSession, sf_dir: str, tables=None) -> None:
    """Register the testdata tables as temp views so users can address the
    engine through plain ``spark.sql`` — the reference's users write SQL,
    and the SQL surface is first-class here too."""
    for t in tables or ["region", "nation", "customer", "supplier", "part",
                        "orders", "lineitem", "documents", "embeddings"]:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


@register("sql_text_interface", _PORTABLE_SQL)
def sql_text_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API surface check: one ANSI-portable SQL string executed verbatim
    by Spark SQL AND by the DuckDB oracle — demonstrating that the engine
    is addressable through SQL text, not only the DataFrame API, and that
    Catalyst plans it like the equivalent DataFrame program (broadcast
    the nation dim, partial-agg the counts)."""
    register_views(spark, sf_dir, ["customer", "nation"])
    return spark.sql(_PORTABLE_SQL)


# ===========================================================================
# Retention cohorts — event-pipeline analytics over the events table
# ===========================================================================

_RETENTION_ORACLE = """
WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), cohort AS (
  SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
)
SELECT c.cohort_day,
       CAST(a.day - c.cohort_day AS INTEGER) AS day_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users
FROM activity a JOIN cohort c ON a.user_id = c.user_id
GROUP BY 1, 2
"""


@register("retention_cohorts", _RETENTION_ORACLE)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: users grouped by first-seen day, distinct
    active users per (cohort, day offset). Both aggregations and the join
    key on user_id, so the cohort join reuses the activity shuffle's
    partitioning (no extra exchange at scale)."""
    ev = load_events(spark, sf_dir)
    activity = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# ===========================================================================
# Skew tooling as a driver-checked query — salted two-phase aggregation
# ===========================================================================

_SALTED_AGG_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events GROUP BY event_type
"""


@register("skew_salted_agg", _SALTED_AGG_ORACLE)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over the skewed event_type key:
    stage 1 groups by (key, salt) so a hot key spreads across
    salt_buckets reducers, stage 2 recombines the algebraic partials.
    The oracle is the PLAIN group-by — the hash check proves salting is
    semantics-preserving, which is the whole point of the rewrite. The
    sum runs in DECIMAL on both sides: decimal addition is exact and
    order-independent, so the two-phase recombination is bit-identical
    to the single-phase truth (double sums would differ in the last ulp
    with addition order)."""
    from apde_etl_spark.operators.skew import salted_agg

    ev = load_events(spark, sf_dir).withColumn(
        "value_dec", F.col("value").cast("decimal(18,2)")
    )
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": ("count", "event_id"),
            "sum_value": ("sum", "value_dec"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
        salt_buckets=32,
        salt_source="event_id",
    )
    return out.withColumn("sum_value", F.col("sum_value").cast("double"))


_REPL_JOIN_ORACLE = """
WITH dim AS (
  SELECT event_type, CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS type_weight
  FROM (SELECT DISTINCT event_type FROM events)
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(d.type_weight) AS BIGINT) AS sum_weight
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type
"""


@register("skew_replicated_join", _REPL_JOIN_ORACLE)
def skew_replicated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicated salted join for a skew-keyed fact against a
    non-broadcastable dimension: the fact side salts on a deterministic
    id hash, the dim replicates once per salt value, and the join key
    becomes (key, salt) so the hot key spreads over 8 reducers. The
    oracle is the PLAIN join — the hash check proves the salt/replicate
    rewrite preserves join semantics exactly."""
    from apde_etl_spark.operators.skew import replicated_salted_join

    ev = load_events(spark, sf_dir)
    w = Window.orderBy("event_type")
    dim = (
        ev.select("event_type").distinct()
        .withColumn("type_weight", F.row_number().over(w).cast("long"))
    )
    joined = replicated_salted_join(
        ev, dim, "event_type", salt_buckets=8, fact_salt_source="event_id"
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("type_weight").cast("long").alias("sum_weight"),
    )


# ===========================================================================
# Classic analytic shapes — multi-join + decimal-exact agg + top-k (TPC-H
# Q3/Q18 analogues on the synthetic star schema)
# ===========================================================================

_Q3_ORACLE = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1998-03-15'
  AND l_shipdate > DATE '1998-03-15'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
"""


@register("q3_shipping_priority", _Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter -> two fact joins ->
    decimal-exact revenue agg -> top-10. The filtered customer side
    broadcasts; lineitem (the big side) shuffles once on the join key and
    the ordered limit is TakeOrdered (per-partition top-k + k-row driver
    merge), never a full sort."""
    cutoff = "1998-03-15"
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q18_ORACLE = """
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE), o_totalprice
HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 150
"""


@register("q18_large_orders", _Q18_ORACLE)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): fact-fact join grouped on
    the order grain with a decimal-exact HAVING gate. The lineitem
    pre-aggregation happens map-side (partial sums per order key before
    the shuffle); customer joins in AFTER the gate shrinks the order set
    -> broadcast."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,4)")
    big = (
        li.groupBy("l_orderkey").agg(F.sum(qty).alias("__q"))
        .filter(F.col("__q") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            F.col("__q").cast("double").alias("total_qty"),
        )
    )


# ===========================================================================
# Event analytics breadth — window frames and grouping sets (beyond the
# reference's whole-partition/lag-1 windows and plain GROUP BY)
# ===========================================================================

_ROLLING_ORACLE = """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
)
SELECT day, day_value, n_events,
       CAST(AVG(day_value) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS ma7
FROM d
"""


@register("rolling_daily_value", _ROLLING_ORACLE)
def rolling_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily totals with a 7-day trailing moving average — a bounded
    ROWS frame (the reference only ever needs whole-partition or lag-1
    frames, SURVEY §2.6). Day sums are decimal-exact so the frame
    average is deterministic. The day-grain aggregate is tiny; the
    unpartitioned frame window over it is driver-safe at any raw scale."""
    ev = load_events(spark, sf_dir)
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("__dv"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return d.select(
        "day",
        F.col("__dv").cast("double").alias("day_value"),
        "n_events",
        F.avg(F.col("__dv").cast("double")).over(w).cast("double").alias("ma7"),
    )


_ROLLUP_ORACLE = """
SELECT event_type,
       CAST(year(ts) AS INTEGER) AS yr,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(grouping(event_type) AS INTEGER) AS g_type,
       CAST(grouping(year(ts)) AS INTEGER) AS g_yr
FROM events
GROUP BY ROLLUP(event_type, year(ts))
"""


@register("rollup_event_counts", _ROLLUP_ORACLE)
def rollup_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP (type, year) with grouping flags —
    grouping-set machinery the reference lacks entirely (SURVEY §2.5
    'no grouping sets / cube / rollup'). One pass: Spark expands the
    grouping sets before the shuffle and partial-aggregates each."""
    ev = load_events(spark, sf_dir).withColumn("yr", F.year("ts").cast("int"))
    return (
        ev.rollup("event_type", "yr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("yr").cast("int").alias("g_yr"),
        )
        .select("event_type", "yr", "n", "g_type", "g_yr")
    )


# ===========================================================================
# Semi-structured column support — JSON property extraction (extension;
# the reference has no JSON functions anywhere, SURVEY §2.9)
# ===========================================================================

_JSON_ORACLE = """
SELECT event_type,
       CAST(COUNT(k) AS BIGINT) AS n_with_k,
       CAST(MIN(k) AS INTEGER) AS min_k,
       CAST(MAX(k) AS INTEGER) AS max_k,
       CAST(SUM(CAST(k AS BIGINT)) AS BIGINT) AS sum_k
FROM (
  SELECT event_type, CAST(json_extract(props, '$.k') AS INTEGER) AS k
  FROM events
)
GROUP BY event_type
"""


@register("json_props_extract", _JSON_ORACLE)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads: extract a typed field from the JSON
    ``props`` column (get_json_object — JVM-native JSON path, evaluated
    in the scan stage) and aggregate per event type. Schema-on-read for
    ragged payloads: a missing key is a NULL, not an error."""
    ev = load_events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.col("k").cast("long")).alias("sum_k"),
        )
    )
