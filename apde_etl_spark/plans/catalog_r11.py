"""Round 11 — gate-forced DISTRIBUTED twins of the size-gated fast
paths (round-10 verdict #5: "un-blind the bench to the distributed
fallbacks").

The round-10 local fast paths (broadcast-index ANN serve, driver
integer PageRank) are bit-identical to the distributed plans and
size-gated with tested fallbacks — but once they serve the headline
entries, the bench no longer executes ANY distributed work for those
queries, so a regression in the iterative serve / superstep loop would
be invisible until a corpus outgrows the gate. These twins compute the
IDENTICAL result (same oracle SQL — the driver's correctness gate
re-proves it every round) with the gate parameter set to 0
(``local_serve_max_rows`` / ``local_max_edges``), so the ``--full``
bench carries a standing timing for the distributed shapes.

Additions only: the headline list and every existing entry are
untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from apde_etl_spark.plans.catalog import register
from apde_etl_spark.plans.catalog_r6 import (
    _pagerank_directed_sinks,
    _pagerank_directed_sql,
)
from apde_etl_spark.plans.catalog_r8 import _HNSW_TOPK_SQL, _ann_hnsw_topk


@register("ann_hnsw_topk_distributed", _HNSW_TOPK_SQL)
def ann_hnsw_topk_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_hnsw_topk with the broadcast-index local serve FORCED OFF:
    the iterative join-per-hop layered walk — the plan any
    past-the-byte-gate corpus takes. Same rows, same oracle."""
    return _ann_hnsw_topk(spark, sf_dir, local_serve_max_rows=0)


@register("graph_pagerank_directed_sinks_distributed",
          _pagerank_directed_sql())
def graph_pagerank_directed_sinks_distributed(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph_pagerank_directed_sinks with the driver fast path FORCED
    OFF: the distributed superstep loop (join + groupBy per iteration)
    any past-the-gate graph takes. Same rows, same oracle."""
    return _pagerank_directed_sinks(spark, sf_dir, local_max_edges=0)
