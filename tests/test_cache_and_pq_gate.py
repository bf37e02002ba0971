"""Round-4 hardening: scoped cache release for operator-internal
persists, and the enforced flat-PQ -> IVFPQ size gate."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import apde_etl_spark.operators.similarity as SIM
from apde_etl_spark.operators.cache import (
    release_scope,
    tracked_count,
    tracked_persist,
)


def _docs(spark, n=40):
    rows = [
        Row(doc_id=i, text=" ".join(f"w{(i * 7 + j) % 23}" for j in range(30)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def _emb(spark, n=60, dim=8):
    rows = [
        Row(vec_id=i, embedding=[float(((i * 13 + j * 5) % 17) - 8) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def test_tracked_persist_registers_and_releases(spark):
    release_scope(None)
    df = tracked_persist(spark.range(10), scope="t1")
    df.count()
    assert tracked_count("t1") == 1
    assert df.storageLevel.useMemory
    assert release_scope("t1") == 1
    assert tracked_count("t1") == 0
    assert not df.storageLevel.useMemory
    # idempotent + unknown scope is a no-op
    assert release_scope("t1") == 0
    assert release_scope("nope") == 0


def test_minhash_caches_release_and_plan_still_recomputes(spark):
    release_scope(None)
    docs = _docs(spark)
    pairs = SIM.minhash_lsh_pairs(docs, threshold=0.1)
    first = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    assert tracked_count("similarity") >= 1
    assert release_scope("similarity") >= 1
    assert tracked_count("similarity") == 0
    # unpersist is correctness-neutral: the lazy plan recomputes from lineage
    again = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    assert again == first


def test_hash_priority_cap_cache_releases(spark):
    from apde_etl_spark.operators.skew import hash_priority_cap

    release_scope(None)
    df = spark.createDataFrame(
        [Row(grp=f"g{i % 3}", rid=i) for i in range(90)]
    )
    out = hash_priority_cap(df, "grp", "rid", 5)
    assert out.count() == 15
    assert release_scope("skew") >= 1


def test_pq_route_gate_thresholds(monkeypatch):
    # 1000 rows x (24 + 32)B = 56kB
    monkeypatch.setattr(SIM, "ANN_BROADCAST_THRESHOLD_BYTES", 100_000)
    assert SIM.resolve_pq_route(1000, 8) == "flat"
    monkeypatch.setattr(SIM, "ANN_BROADCAST_THRESHOLD_BYTES", 10_000)
    assert SIM.resolve_pq_route(1000, 8) == "ivfpq"
    monkeypatch.setattr(SIM, "ANN_BROADCAST_THRESHOLD_BYTES", 0)
    assert SIM.resolve_pq_route(0, 8) == "flat"


def test_ann_pq_topk_routes_to_ivfpq_past_threshold(spark, monkeypatch):
    """Past the broadcast budget the flat path must NOT run: the call
    composes ann_ivfpq_topk and returns its (deterministic) result. The
    zero budget also sends the composed call's candidate join down the
    shuffle path; the direct call is forced onto the broadcast one."""
    emb = _emb(spark)
    n = emb.count()
    monkeypatch.setattr(SIM, "ANN_BROADCAST_THRESHOLD_BYTES", 0)
    gated = SIM.ann_pq_topk(emb, k=3, dim=8, m=4, k_codes=8)
    n_cells = max(16, int(n ** 0.5))
    direct = SIM.ann_ivfpq_topk(
        emb, k=3, dim=8, n_cells=n_cells, n_probe=max(2, n_cells // 8),
        m=4, k_codes=8, strategy="broadcast",
    )
    assert sorted(map(tuple, gated.collect())) == sorted(map(tuple, direct.collect()))
    release_scope("similarity")


def test_ann_pq_topk_error_mode_past_threshold(spark, monkeypatch):
    emb = _emb(spark, n=20)
    monkeypatch.setattr(SIM, "ANN_BROADCAST_THRESHOLD_BYTES", 0)
    with pytest.raises(ValueError, match="broadcast budget"):
        SIM.ann_pq_topk(emb, k=3, dim=8, m=4, k_codes=8, on_overflow="error")
    with pytest.raises(ValueError, match="on_overflow"):
        SIM.ann_pq_topk(emb, k=3, dim=8, on_overflow="bogus")
    release_scope("similarity")


def test_ann_pq_topk_under_threshold_stays_flat(spark):
    """Under the budget the flat path runs and still returns k rows per
    query (sanity that the gate did not change default behavior)."""
    emb = _emb(spark, n=30)
    out = SIM.ann_pq_topk(emb, k=2, dim=8, m=4, k_codes=8)
    counts = (
        out.groupBy("id_a").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    assert all(r["c"] == 2 for r in counts)
    assert len(counts) == 30
    release_scope("similarity")


def test_train_pq_codebooks_clamps_small_corpus(spark):
    """Fewer vectors than k_codes must clamp, not IndexError."""
    emb = _emb(spark, n=5)
    e = emb.select(
        F.col("vec_id"), SIM.as_double_array("embedding").alias("__v")
    )
    books = SIM.train_pq_codebooks(e, "vec_id", dim=8, m=4, k_codes=16)
    assert len(books) == 4
    assert len(books[0]) == 5  # clamped to the row count
    with pytest.raises(ValueError, match="no input vectors"):
        SIM.train_pq_codebooks(e.filter(F.lit(False)), "vec_id", dim=8, m=4)


def test_pq_shared_codebooks_match_internal_training(spark):
    """pq_train_books is the share point for several PQ runs over one
    corpus: books passed via ``codebooks=`` must give exactly the rows
    ann_pq_topk's own training gives, with and without rerank."""
    emb = _emb(spark, n=40)
    books = SIM.pq_train_books(emb, dim=8, m=4, k_codes=8)
    for rerank in (None, 6):
        internal = SIM.ann_pq_topk(emb, k=3, dim=8, m=4, k_codes=8,
                                   rerank=rerank).collect()
        shared = SIM.ann_pq_topk(emb, k=3, dim=8, m=4, k_codes=8,
                                 rerank=rerank, codebooks=books).collect()
        assert len(internal) == 40 * 3
        assert sorted(map(tuple, shared)) == sorted(map(tuple, internal))
    release_scope("similarity")
