"""The benchmark's workloads and the correctness checks of their outputs.

Each workload is a closed loop with one client: it runs passes over a
fixed list of steps, one step after the other, and the seed sets the
order within each pass. A step is one call into the engine's public
functions; its result is checked against DuckDB outside the timed region.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

#: TPC-H scale factor of the generated core tables (60,000 lineitem
#: rows). A run is kept near a minute, so that the two dozen runs per
#: workload a regression comparison needs fit within an hour. On a
#: 4-vCPU host a run at this scale already takes 50-75 s: 8-12 s of
#: set-up (mostly JVM start), 20-35 s for the cold pass (JIT warm-up and
#: the HNSW index build, mostly independent of scale) and three steady
#: passes of 6-9 s.
SF = 0.01

#: row counts of the extension tables (several of their oracles are
#: quadratic in rows)
N_DOCS = 500
N_VECS = 500


@dataclass(frozen=True)
class Workload:
    name: str
    entries: tuple[str, ...]
    writes: bool = False


WORKLOADS = {w.name: w for w in (
    # Read side: scan plus wide aggregation (q1, qa_missingness_final),
    # shuffle joins and windows (q18, q21, range_windows, pii_redact),
    # and entries whose wall is mostly plan construction with driver-side
    # jobs (PageRank, ann_hnsw_topk). ann_hnsw_topk is also the one entry
    # here whose plan has a Python (Arrow) node, its local serve; its
    # index build costs 10-13 s of the cold pass. qa_values_full is left
    # out: it would add 7 s to the cold pass and 2 s to each steady one.
    Workload(
        "query",
        ("q1_pricing_summary", "qa_missingness_final", "q18_large_orders",
         "q21_anti_sole_late_supplier", "range_windows_click_impact",
         "graph_pagerank_directed_sinks", "pii_redact_contacts",
         "ann_hnsw_topk")),
    # Load side: the sources.lifecycle calls (WritePass) plus the
    # write-per-call entries, so a read-side gain that costs the load
    # path shows.
    Workload(
        "etl_write",
        ("s6_csv_roundtrip", "s7_orc_roundtrip", "s9_chunked_append_write",
         "observe_load_qa_metrics"),
        writes=True),
)}

#: steps that write, with the input table whose rows each one writes
#: (``sources.write_amp`` is bytes written per byte of these files)
WRITE_SOURCES = {
    "versioned_write": "orders", "merge_into_versioned": "orders",
    "compact_table": "orders", "write_analytic_table": "lineitem",
    "s6_csv_roundtrip": "supplier", "s7_orc_roundtrip": "part",
    "s9_chunked_append_write": "supplier", "observe_load_qa_metrics": "orders",
}

_ORDER_ATTRS = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
                "o_orderpriority"]
_INSERT_OFFSET = 1_000_000_000
_PROFILE_COLS = ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]


def frame_digest(cols: list[str], rows: list[tuple]) -> tuple:
    """(sorted column names, row count, canonical value hash) — the
    oracle gate's comparison, from ``tools/verify_local.py``."""
    from tools.verify_local import frame_hash

    return sorted(cols), len(rows), frame_hash(cols, rows)[0]


def duck_digest(con, sql: str) -> tuple:
    res = con.execute(sql)
    return frame_digest([d[0] for d in res.description], res.fetchall())


def open_oracle(data_dir: str):
    import duckdb

    from tools.verify_local import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


@dataclass(frozen=True)
class ChangeBatch:
    """The MERGE batch a seed picks: every 50th key (offset by the seed)
    is updated, the first ``n_insert`` orders are re-inserted under new
    keys, and every 97th key (another seed offset) is deleted."""
    update_mod: int
    n_insert: int
    delete_mod: int

    @classmethod
    def from_seed(cls, seed: int) -> "ChangeBatch":
        return cls(seed % 50, 100 + seed % 100, (7 * seed) % 97)

    def spark_frames(self, orders):
        from pyspark.sql import functions as F

        k = F.col("o_orderkey")
        upd = orders.filter(k % 50 == self.update_mod).select(
            "o_orderkey", "o_custkey", F.lit("F").alias("o_orderstatus"),
            (F.col("o_totalprice") + 1.25).alias("o_totalprice"),
            "o_orderdate", "o_orderpriority")
        ins = orders.filter(k < self.n_insert).withColumn(
            "o_orderkey", k + _INSERT_OFFSET)
        deletes = orders.filter(k % 97 == self.delete_mod).select("o_orderkey")
        return upd.unionByName(ins.select(*upd.columns)), deletes

    def expected_sql(self) -> str:
        return f"""
WITH upd AS (
  SELECT o_orderkey, o_custkey, 'F' AS o_orderstatus,
         o_totalprice + 1.25 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 50 = {self.update_mod}
), ins AS (
  SELECT o_orderkey + {_INSERT_OFFSET} AS o_orderkey, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey < {self.n_insert}
), batch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
merged AS (
  SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
  UNION ALL SELECT * FROM batch
)
SELECT {_checksum_cols('o_orderkey', 'o_totalprice')} FROM merged
WHERE o_orderkey NOT IN (
  SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = {self.delete_mod})"""


def _checksum_cols(key: str, value: str) -> str:
    """Row count, key checksum and a value checksum, as one row."""
    return (f"CAST(count(*) AS BIGINT), CAST(sum({key}) AS BIGINT), "
            f"CAST(sum(CAST(round({value} * 100) AS BIGINT)) AS BIGINT)")


def _written(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _profile_sql(source: str) -> str:
    """DuckDB twin of ``missingness_profile`` by ship year."""
    return " UNION ALL ".join(
        f"SELECT CAST(year(l_shipdate) AS INTEGER) AS time_period, "
        f"'{c}' AS varname, "
        f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nrow, "
        f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) / count(*) AS proportion "
        f"FROM {source} GROUP BY 1" for c in _PROFILE_COLS)


class WritePass:
    """One pass of the load path into a fresh directory ``root``.

    Steps are ``(name, run, check)``: ``run()`` calls the engine and
    returns a DataFrame to collect or None; ``check(rows, cols)`` compares
    with DuckDB and returns True when the output is right. Dependent
    steps are grouped into chains; the seed orders the chains."""

    def __init__(self, spark, data_dir: str, root: str, con, batch: ChangeBatch):
        self.spark, self.data_dir, self.root = spark, data_dir, root
        self.con, self.batch = con, batch

    def chains(self) -> list[list[tuple]]:
        from apde_etl_spark.sources import lifecycle as L

        orders_dir = os.path.join(self.root, "orders")
        li_dir = os.path.join(self.root, "lineitem")
        con = self.con

        def table(name):
            return self.spark.read.parquet(f"{self.data_dir}/{name}.parquet")

        def same(sql_expected: str, path: str, key: str, value: str):
            got = con.execute(
                f"SELECT {_checksum_cols(key, value)} FROM {_written(path)}"
            ).fetchone()
            return got == con.execute(sql_expected).fetchone()

        def merge():
            updates, deletes = self.batch.spark_frames(table("orders"))
            L.merge_into_versioned(self.spark, orders_dir, updates,
                                   "o_orderkey", _ORDER_ATTRS, deletes=deletes)

        def reread():
            from pyspark.sql import functions as F

            from apde_etl_spark.operators.profile import missingness_profile

            li = self.spark.read.parquet(li_dir)
            return missingness_profile(li, F.year("l_shipdate").cast("int"),
                                       _PROFILE_COLS)

        orders_v1 = (f"SELECT {_checksum_cols('o_orderkey', 'o_totalprice')} "
                     f"FROM orders")
        return [
            [("versioned_write",
              lambda: L.versioned_write(table("orders"), orders_dir, n_files=64),
              lambda rows, cols: same(orders_v1, f"{orders_dir}/v=1",
                                      "o_orderkey", "o_totalprice")
              and L.data_file_count(orders_dir, 1) == 64),
             ("merge_into_versioned", merge,
              lambda rows, cols: same(self.batch.expected_sql(),
                                      f"{orders_dir}/v=2", "o_orderkey",
                                      "o_totalprice")),
             ("compact_table",
              lambda: L.compact_table(self.spark, orders_dir, 4),
              lambda rows, cols: same(self.batch.expected_sql(),
                                      f"{orders_dir}/v=3", "o_orderkey",
                                      "o_totalprice")
              and L.data_file_count(orders_dir, 3) == 4)],
            [("write_analytic_table",
              lambda: L.write_analytic_table(
                  table("lineitem"), li_dir, cluster_by="l_shipdate",
                  target_file_rows=20_000),
              lambda rows, cols: same(
                  "SELECT " + _checksum_cols("l_orderkey", "l_extendedprice")
                  + " FROM lineitem", li_dir, "l_orderkey", "l_extendedprice")),
             ("reread_missingness", reread,
              lambda rows, cols: frame_digest(cols, rows)
              == duck_digest(con, _profile_sql(_written(li_dir))))],
        ]

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def data_digest(data_dir: str) -> str:
    """Content hash of the generated inputs, for the run record."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()[:16]
