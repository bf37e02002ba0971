"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — one DataFrame program per implemented SURVEY.md §2
operator (plus the training-data extension surface).
``oracle_sql()`` — DuckDB twins for the correctness gate.

Implementations live in the 29 ``apde_etl_spark/plans/catalog*.py``
modules imported below: ``catalog.py`` (reference parity surface and
the registry itself) and 28 more that register their entries on
import; this module only re-exports the registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from apde_etl_spark.plans import catalog  # noqa: E402
from apde_etl_spark.plans import catalog_ext  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_more  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_gaps  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_corpus  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r2  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r3  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r3b  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r4  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r4b  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r5  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r5b  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r5c  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r5d  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r5e  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r5f  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r6  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r6b  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r6c  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r6d  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r6e  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r6f  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r6g  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r7  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r7b  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r7c  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r8  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r9  # noqa: E402,F401  (registers on import)
from apde_etl_spark.plans import catalog_r11  # noqa: E402,F401  (registers on import)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: QA missingness profile of lineitem by ship year at
    sf0.001 (SURVEY.md §7.1 step 1) — one groupBy pass + aggregate-side
    melt; returns (time_period, varname, nrow, proportion)."""
    from pyspark.sql import functions as F

    from apde_etl_spark.operators.profile import missingness_profile

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    cols = [c for c in li.columns if c != "l_shipdate"]
    return missingness_profile(li, F.year("l_shipdate").cast("int"), cols)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(catalog.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(catalog.ORACLES)
