"""Behavioral tests for the round-2 extension operators: k-anonymity
masking, cross-document boilerplate removal, and temperature mixture
weights (the stream-stream interval join is covered by its DuckDB
oracle twin in the driver gate)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from apde_etl_spark.plans.catalog_r2 import (
    _SEG_K,
    anonymize_kanon_customers,
    boilerplate_segment_dedup,
    observe_load_qa_metrics,
    temperature_source_mixture,
)


def test_kanon_class_sizes_and_pseudonyms(spark, sf_dir):
    out = anonymize_kanon_customers(spark, sf_dir).cache()
    rows = out.collect()
    total = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert len(rows) == total

    # every row's class size equals the actual size of its class
    sizes = {}
    for r in rows:
        key = (r["c_nationkey"], r["c_mktsegment"], r["bal_band"])
        sizes[key] = sizes.get(key, 0) + 1
    for r in rows:
        key = (r["c_nationkey"], r["c_mktsegment"], r["bal_band"])
        assert r["group_n"] == sizes[key]
        assert r["suppressed"] == (sizes[key] < 5)

    # pseudonyms: 64 lowercase hex chars, unique per customer name,
    # never the raw name
    for r in rows[:50]:
        assert len(r["pseudonym"]) == 64
        assert not r["pseudonym"].startswith("Customer")
    assert out.select("pseudonym").distinct().count() == total
    out.unpersist()


def test_boilerplate_counts_are_consistent(spark, sf_dir):
    out = boilerplate_segment_dedup(spark, sf_dir).cache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert out.count() == docs.count()

    bad = out.filter(
        (F.col("n_boilerplate") > F.col("n_segments"))
        | (F.col("n_segments") * _SEG_K > F.col("n_tokens"))
        | (F.col("n_clean_tokens") != F.col("n_tokens") - _SEG_K * F.col("n_boilerplate"))
        | (F.col("n_clean_tokens") < 0)
    ).count()
    assert bad == 0
    out.unpersist()


def test_boilerplate_flags_injected_duplicates(spark):
    # three docs sharing one exact 4-token span + one unique doc: the
    # shared span is boilerplate (>= 3 docs), the unique doc is untouched
    shared = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} one two three four"),
            (2, f"{shared} five six seven eight"),
            (3, f"{shared} nine ten eleven twelve"),
            (4, "lone words only here none"),
        ],
        "doc_id long, text string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        got = {r["doc_id"]: r for r in boilerplate_segment_dedup(spark, d).collect()}
    for i in (1, 2, 3):
        assert got[i]["n_boilerplate"] == 1
        assert got[i]["n_clean_tokens"] == 8 - _SEG_K
    assert got[4]["n_boilerplate"] == 0
    assert got[4]["n_clean_tokens"] == got[4]["n_tokens"]


def test_temperature_weights_flatten_the_mixture(spark, sf_dir):
    rows = temperature_source_mixture(spark, sf_dir).collect()
    assert abs(sum(r["raw_share"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["temp_weight"] for r in rows) - 1.0) < 1e-3
    # monotone: more docs -> no smaller weight
    by_n = sorted(rows, key=lambda r: r["n_docs"])
    for a, b in zip(by_n, by_n[1:]):
        assert a["temp_weight"] <= b["temp_weight"] + 1e-9
    # flattening: the head source loses share, the tail gains
    head, tail = by_n[-1], by_n[0]
    if head["n_docs"] > tail["n_docs"]:
        assert head["temp_weight"] < head["raw_share"] + 1e-9
        assert tail["temp_weight"] > tail["raw_share"] - 1e-9


def test_foreachbatch_upsert_is_microbatch_invariant(spark, tmp_path):
    """Split the same events across two files and force one-file
    micro-batches: the upsert target must equal the single-pass batch
    answer — the associative-merge property the sink's docstring
    promises."""
    import datetime

    from apde_etl_spark.plans.catalog_r2 import run_foreachbatch_upsert

    base = datetime.datetime(2024, 3, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=i), i % 5, ["view", "purchase"][i % 2], float(i), "{}")
        for i in range(40)
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    df = spark.createDataFrame(rows, schema)
    src_dir = str(tmp_path / "ev")
    df.filter(F.col("event_id") < 20).coalesce(1).write.mode("append").parquet(src_dir)
    df.filter(F.col("event_id") >= 20).coalesce(1).write.mode("append").parquet(src_dir)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # force one file per micro-batch
        .parquet(src_dir)
    )
    got = run_foreachbatch_upsert(src, str(tmp_path / "fb"))

    expected = (
        df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.struct("ts", "event_id", "event_type")).alias("latest"),
        )
        .select(
            "user_id",
            F.col("latest.event_type").alias("last_event_type"),
            F.col("latest.ts").alias("last_ts"),
            "n_events",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_pyds_source_partitions_and_determinism(spark):
    from apde_etl_spark.sources.pydatasource import register_synthetic_source, synth_row

    register_synthetic_source(spark)

    def read(parts):
        return (
            spark.read.format("apde_synthetic_events")
            .option("rows", "1000")
            .option("partitions", str(parts))
            .load()
        )

    df8 = read(8)
    # the source plans one task per declared partition
    assert df8.rdd.getNumPartitions() == 8
    rows8 = sorted(map(tuple, df8.collect()))
    rows3 = sorted(map(tuple, read(3).collect()))
    assert rows8 == rows3  # partitioning never changes content
    assert len(rows8) == 1000
    assert rows8[7] == synth_row(7)  # executor rows match the driver formula


def test_chunker_covers_every_token_with_overlap(spark, sf_dir):
    from apde_etl_spark.plans.catalog_r2 import (
        _CHUNK_S,
        _CHUNK_W,
        chunk_documents_overlap,
    )

    rows = chunk_documents_overlap(spark, sf_dir).collect()
    # token counts via the SAME expression the plan uses (F.trim strips
    # spaces only and regex split keeps trailing empties — Python
    # str.split would disagree on docs with non-space whitespace)
    docs = {
        r["doc_id"]: r["n"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n"))
        .collect()
    }
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        n = docs[doc_id]
        # contiguous indices, stride starts, full coverage, proper tails
        for i, c in enumerate(chunks):
            assert c["chunk_idx"] == i
            assert c["start_token"] == i * _CHUNK_S
            assert c["end_token"] - c["start_token"] <= _CHUNK_W
            assert len(c["chunk_text"].split()) == c["end_token"] - c["start_token"]
        assert chunks[0]["start_token"] == 0
        assert chunks[-1]["end_token"] == n
        for a, b in zip(chunks, chunks[1:]):
            assert b["start_token"] < a["end_token"]  # overlap, no gaps


def test_epoch_plan_hits_targets_deterministically(spark, sf_dir):
    from apde_etl_spark.plans.catalog_r2 import _EPOCH_TARGET, epoch_plan_repeats

    rows1 = sorted(map(tuple, epoch_plan_repeats(spark, sf_dir).collect()))
    rows2 = sorted(map(tuple, epoch_plan_repeats(spark, sf_dir).collect()))
    assert rows1 == rows2  # bit-reproducible, no RNG

    # realized per-source totals track the temperature targets: the
    # fractional-hash trick errs by at most the binomial spread, so a
    # 25% + 2 doc band is generous but failing it means the plan is wrong
    import collections

    per_source_docs = collections.Counter(r[1] for r in rows1)
    realized = collections.Counter()
    for _doc, src, n in rows1:
        realized[src] += n
    alpha = _EPOCH_TARGET["alpha"]
    budget = _EPOCH_TARGET["budget_per_source"]
    mean_pw = sum(n ** alpha for n in per_source_docs.values()) / len(per_source_docs)
    for src, n_docs in per_source_docs.items():
        target = budget * (n_docs ** alpha) / mean_pw
        assert abs(realized[src] - target) <= max(2.0, 0.25 * target), (
            src, realized[src], target)
        # every doc appears exactly once in the plan with n_repeats >= 0
    assert all(n >= 0 for _d, _s, n in rows1)
    assert len({d for d, _s, _n in rows1}) == len(rows1)


def test_foreachbatch_fresh_checkpoint_does_not_skip_new_batches(spark, tmp_path):
    """Reusing the state dir with a FRESH checkpoint restarts epoch ids
    at 0; the idempotence guard must recognize the new lineage (run key
    mismatch) and apply the batches instead of silently dropping them."""
    import datetime
    import shutil

    from apde_etl_spark.plans.catalog_r2 import run_foreachbatch_upsert

    base = datetime.datetime(2024, 3, 1)
    rows = [(i, base + datetime.timedelta(minutes=i), i % 3, "view", 1.0, "{}")
            for i in range(12)]
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    df = spark.createDataFrame(rows, schema)
    src_dir = str(tmp_path / "ev")
    df.coalesce(1).write.mode("append").parquet(src_dir)

    def run():
        src = spark.readStream.schema(schema).parquet(src_dir)
        return run_foreachbatch_upsert(src, str(tmp_path / "fb"))

    first = {r["user_id"]: r["n_events"] for r in run().collect()}
    # new lineage: same state, fresh checkpoint -> epochs restart at 0
    shutil.rmtree(str(tmp_path / "fb" / "ckpt"))
    second = {r["user_id"]: r["n_events"] for r in run().collect()}
    assert second == {u: 2 * n for u, n in first.items()}


def test_observe_qa_workdir_removed_when_write_fails(spark, sf_dir, tmp_path,
                                                     monkeypatch):
    from pyspark.sql.readwriter import DataFrameWriter

    def failing_parquet(self, path, *args, **kwargs):
        raise OSError(f"disk full writing {path}")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(OSError, match="disk full"):
        observe_load_qa_metrics(spark, sf_dir)
    assert list(tmp_path.iterdir()) == []
