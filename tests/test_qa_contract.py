"""QA pipeline argument contract (error messages) + chi_standards output —
mirrors the reference's validation test layer
(tests/manual/test-etl_qa_run_pipeline.R:339-680)."""

import pytest
from pyspark.sql import functions as F

from apde_etl_spark.plans.qa_pipeline import (
    QaConfig,
    run_qa_pipeline,
    validate_qa_config,
)


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


@pytest.mark.parametrize(
    "cfg_kwargs, msg",
    [
        ({"time_var": "nope"}, "time_var 'nope' not found"),
        ({"time_var": "o_orderdate", "cols": ["o_orderkey", "ghost"]},
         "cols not present in the data"),
        ({"time_var": "o_orderdate", "time_range": (5,)}, "must be a .lo, hi. pair"),
        ({"time_var": "o_orderdate", "time_range": (1998, 1995)}, "lo must be <= hi"),
        ({"time_var": "o_orderdate", "distinct_threshold": 0},
         "distinct_threshold must be a positive integer"),
        ({"time_var": "o_orderdate", "abs_threshold": -1.0},
         "abs_threshold and rel_threshold must be positive"),
        ({"time_var": "o_orderdate", "top_k": 0}, "top_k must be a positive integer"),
        ({"time_var": "o_orderdate", "digits_mean": -1},
         "digits_mean and digits_prop must be non-negative"),
    ],
)
def test_validation_error_contract(orders, cfg_kwargs, msg):
    with pytest.raises(ValueError, match=msg):
        validate_qa_config(orders, QaConfig(**cfg_kwargs))


def test_bad_standards_schema(spark, orders):
    std = spark.createDataFrame([("a", "b")], ["varname", "value"])  # wrong col name
    with pytest.raises(ValueError, match="standards must have columns"):
        validate_qa_config(orders, QaConfig(time_var="o_orderdate", standards=std))


def test_chi_standards_output(spark, orders):
    std = spark.createDataFrame(
        [("o_orderstatus", v) for v in ["O", "F", "P", "X"]], ["varname", "group"]
    )
    res = run_qa_pipeline(
        orders,
        QaConfig(
            time_var="o_orderdate",
            time_expr=F.year("o_orderdate").cast("int"),
            cols=["o_orderstatus", "o_totalprice"],
            standards=std,
        ),
    )
    rows = {(r["group"]): r for r in res.chi_standards.collect()}
    # O/F/P observed and standard; X standard-only -> problem flagged
    assert rows["O"]["your_data"] == 1 and rows["O"]["chi"] == 1
    assert rows["O"]["problem"] is None
    assert rows["X"]["your_data"] == 0 and rows["X"]["chi"] == 1
    assert rows["X"]["problem"] == "*"


def test_pipeline_without_standards_has_no_chi(orders):
    res = run_qa_pipeline(
        orders,
        QaConfig(time_var="o_orderdate",
                 time_expr=F.year("o_orderdate").cast("int"),
                 cols=["o_totalprice"]),
    )
    assert res.chi_standards is None
    assert res.values.count() > 0


# ---------------------------------------------------------------------------
# Behavioral fixture (FIXTURES.md F1 / reference synthetic_data, seed-fixed):
# injected 2016 missingness spike must trip the abs_change flag; lowering
# thresholds can only add flags (monotonicity); digits are respected.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def synthetic(spark):
    import random

    rng = random.Random(98104)
    rows = []
    for i in range(10_000):
        year = rng.randint(2011, 2020)
        cat = rng.choice(["alpha", "beta", "gamma", "delta"])
        if rng.random() < 0.02 or (year == 2016 and rng.random() < 0.10):
            cat = None
        num = rng.gauss(5000, 300)
        if rng.random() < 0.035:
            num = None
        rows.append((year, cat, num))
    return spark.createDataFrame(rows, "myyear int, mycategorical string, myinteger double")


def _flag_count(df, col):
    return df.filter(F.col(col).isNotNull()).count()


def test_missingness_spike_flagged(synthetic):
    res = run_qa_pipeline(
        synthetic,
        QaConfig(time_var="myyear", cols=["mycategorical", "myinteger"],
                 abs_threshold=3.0),
    )
    miss = res.missingness.collect()
    spike = [r for r in miss if r["varname"] == "mycategorical"
             and r["time_period"] == 2016]
    assert spike and spike[0]["abs_change"] is not None  # ~+10pp jump
    assert spike[0]["abs_change"].endswith("%")


def test_threshold_monotonicity(synthetic):
    def flags(abs_t, rel_t):
        res = run_qa_pipeline(
            synthetic,
            QaConfig(time_var="myyear", cols=["mycategorical", "myinteger"],
                     abs_threshold=abs_t, rel_threshold=rel_t),
        )
        v = res.values
        return (
            _flag_count(res.missingness, "abs_change")
            + _flag_count(v, "abs_proportion_change")
            + _flag_count(v, "rel_mean_change")
            + _flag_count(v, "rel_median_change")
        )

    strict, loose = flags(0.1, 0.1), flags(10.0, 10.0)
    assert strict >= loose


def test_digits_respected(synthetic):
    res = run_qa_pipeline(
        synthetic,
        QaConfig(time_var="myyear", cols=["myinteger"], digits_mean=1),
    )
    means = [r["mean"] for r in res.values.filter(F.col("vartype") == "Continuous").collect()]
    assert means and all(round(m, 1) == m for m in means if m is not None)


def test_uncached_base_branch_matches_cached(spark, orders, monkeypatch):
    """Past ``QA_CACHE_MAX_BYTES`` the base table is not cached: the
    melt and the standards check rescan the source instead. Both
    branches must return the same missingness, values and chi frames."""
    from apde_etl_spark.operators.cache import release_scope
    from apde_etl_spark.plans import qa_pipeline as QP

    std = spark.createDataFrame(
        [("o_orderstatus", v) for v in ["O", "F", "P", "X"]], ["varname", "group"]
    )
    cfg = QaConfig(
        time_var="o_orderdate",
        time_expr=F.year("o_orderdate").cast("int"),
        cols=["o_orderstatus", "o_orderpriority", "o_totalprice", "o_custkey"],
        standards=std,
    )

    def run():
        res = run_qa_pipeline(orders, cfg)
        plan = res.chi_standards._jdf.queryExecution().executedPlan().toString()
        out = [sorted(repr(tuple(r)) for r in f.collect())
               for f in (res.missingness, res.values, res.chi_standards)]
        res.release()
        release_scope("qa")
        return plan, out

    cached_plan, cached = run()
    assert "InMemoryTableScan" in cached_plan
    monkeypatch.setattr(QP, "QA_CACHE_MAX_BYTES", 0)
    plan, uncached = run()
    assert "InMemoryTableScan" not in plan
    assert all(cached), cached
    assert uncached == cached
