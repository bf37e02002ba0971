"""Tests for dedup/sync and the near-duplicate family."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from apde_etl_spark.operators import dedup as D
from apde_etl_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def addr(spark):
    return spark.createDataFrame(
        [
            Row(geo_hash="h1", addr="1 Main St", last_run=3),
            Row(geo_hash="h1", addr="1 Main Street", last_run=1),
            Row(geo_hash="h2", addr="2 Oak Ave", last_run=5),
            Row(geo_hash="h3", addr="3 Pine Rd", last_run=2),
        ]
    )


def test_keep_newest(addr):
    out = {r["geo_hash"]: r["addr"] for r in D.keep_newest(addr, ["geo_hash"], "last_run").collect()}
    assert out == {"h1": "1 Main St", "h2": "2 Oak Ave", "h3": "3 Pine Rd"}


def test_dup_histogram(addr):
    hist = {r["row_cnt"]: r["n_keys"] for r in D.dup_histogram(addr, ["geo_hash"]).collect()}
    assert hist == {2: 1, 1: 2}


def test_sync_diff_both_directions(spark):
    a = spark.createDataFrame([Row(k=1), Row(k=2), Row(k=3)])
    b = spark.createDataFrame([Row(k=2), Row(k=3), Row(k=4)])
    only_a, only_b = D.sync_diff(a, b, ["k"])
    assert [r["k"] for r in only_a.collect()] == [1]
    assert [r["k"] for r in only_b.collect()] == [4]


def test_word_shingles_and_jaccard(spark):
    df = spark.createDataFrame([Row(id=1, text="a b c d e")])
    sh = df.select(SIM.word_shingles("text", 3).alias("s")).first()["s"]
    assert sorted(sh) == ["a b c", "b c d", "c d e"]
    # short doc -> empty, not an error
    short = spark.createDataFrame([Row(id=1, text="a b")])
    assert short.select(SIM.word_shingles("text", 3).alias("s")).first()["s"] == []


def test_minhash_similar_docs_share_signature_entries(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [Row(doc_id=1, text=base),
         Row(doc_id=2, text=base + " tomorrow"),          # near-dup
         Row(doc_id=3, text="completely different words entirely here now")]
    )
    pairs = SIM.minhash_lsh_pairs(df, threshold=0.3).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert all(3 not in p for p in found)


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    """LSH candidates verified >= threshold must equal brute-force pairs
    on the planted near-dups (recall check at small sf)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = docs.select("doc_id", SIM.word_shingles(F.col("text"), 3).alias("s"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("j", SIM.jaccard(F.col("sa"), F.col("sb")))
        .filter(F.col("j") >= 0.3)
    )
    brute_pairs = {(r["id_a"], r["id_b"]) for r in brute.collect()}
    lsh_pairs = {
        (r["id_a"], r["id_b"])
        for r in SIM.minhash_lsh_pairs(docs, threshold=0.3).collect()
    }
    assert lsh_pairs <= brute_pairs  # precision 1.0 by construction (verified)
    recall = len(lsh_pairs & brute_pairs) / max(len(brute_pairs), 1)
    assert recall >= 0.8, f"LSH recall {recall} too low: {brute_pairs - lsh_pairs}"


def test_simhash_close_for_similar_docs(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta"),
         Row(doc_id=2, text="alpha beta gamma delta epsilon zeta eta iota"),
         Row(doc_id=3, text="one two three four five six seven eight")]
    )
    fp = {r["doc_id"]: r["simhash"] for r in SIM.simhash(df, bits=16).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(fp[1], fp[2]) < ham(fp[1], fp[3])


def test_cosine_topk_orders_by_similarity(spark):
    df = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0, 0.0]),
         Row(vec_id=1, embedding=[0.9, 0.1]),
         Row(vec_id=2, embedding=[0.0, 1.0])]
    )
    out = SIM.brute_force_topk(df, [1.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in out] == [0, 1]
    assert out[0]["cosine_sim"] == pytest.approx(1.0)


def test_connected_components_known_graph(spark):
    from apde_etl_spark.operators.dedup import connected_components

    # two components {1,2,3,4} (chain) and {10,11}; 20-21-22 triangle
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_deep_chain(spark):
    """Regression: a chain-shaped component deeper than max_iter. 1-hop
    min propagation alone would need 60 rounds (and the un-truncated
    lineage OOMed the driver around round 20); pointer halving +
    localCheckpoint must converge well inside the default max_iter."""
    from apde_etl_spark.operators.dedup import connected_components

    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {i: 0 for i in range(n + 1)}


def test_winnow_fingerprints_edges(spark):
    from apde_etl_spark.operators.text import winnow_fingerprints
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c"), (3, "a b c d"), (4, "")],
        "id long, text string",
    )
    out = {r["id"]: r["fp"] for r in df.select(
        "id", winnow_fingerprints("text", window=4).alias("fp")).collect()}
    assert out[2] == []            # shorter than window -> no fingerprints
    assert len(out[3]) == 1        # exactly one full window
    assert 1 <= len(out[1]) <= 3   # 3 windows, distinct minima
    assert out[4] == []            # empty text
    # doc 3's single fingerprint must equal the min over its 4 token hashes
    from apde_etl_spark.operators.similarity import hash60
    toks = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["t"])
    hashes = [r["h"] for r in toks.select(hash60(F.col("t")).alias("h")).collect()]
    assert out[3][0] == min(hashes)


def test_simhash_neardup_pigeonhole(spark):
    # identical docs -> hamming 0, must be found through the banded join;
    # an unrelated doc must not pair with them at the strict threshold
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again and again"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog again and again"),
            Row(doc_id=3, text="completely different subject matter entirely unrelated words here"),
        ]
    )
    out = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in SIM.simhash_neardup_pairs(
            df, "doc_id", "text", bits=32, bands=4, max_hamming=0
        ).collect()
    }
    assert out == {(1, 2): 0}


def test_simhash_neardup_matches_bruteforce(spark, sf_dir):
    # pigeonhole guarantee: banded candidate generation finds EVERY pair
    # with hamming < bands; verify against the quadratic truth
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    fp = SIM.simhash(docs, "doc_id", "text", bits=32)
    a = fp.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = fp.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )
    banded = SIM.simhash_neardup_pairs(docs, "doc_id", "text", bits=32,
                                       bands=4, max_hamming=3)
    expect = {(r["id_a"], r["id_b"], r["hamming"]) for r in brute.collect()}
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in banded.collect()}
    assert got == expect


def test_simhash64_sign_bit_and_width(spark, sf_dir):
    """The 64-bit fingerprint is a full-width signed int64: over a real
    corpus bit 63 is set for ~half the docs (negative prints), no print
    needs more than 64 bits, and the 16-bit band slices stay in
    [0, 65536) even for negative prints (mask after arithmetic shift)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    fp = SIM.simhash(docs, "doc_id", "text", bits=64)
    vals = [r["simhash"] for r in fp.collect()]
    assert len(vals) == 200
    neg = sum(1 for v in vals if v < 0)
    assert 0 < neg < len(vals), "bit 63 never (or always) set — limb wiring wrong"
    # two's complement round-trip: every print fits an int64 exactly
    assert all(-(2**63) <= v < 2**63 for v in vals)
    # band slices of a negative print are clean 16-bit values
    rows_bits, mask = 16, (1 << 16) - 1
    for v in vals[:20]:
        u = v & ((1 << 64) - 1)
        for j in range(4):
            assert 0 <= (u >> (j * rows_bits)) & mask <= mask


def test_simhash64_neardup_matches_bruteforce(spark, sf_dir):
    """Pigeonhole completeness at the production width: the 64-bit
    banded join finds every pair at hamming <= 3 that the quadratic
    scan finds."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    fp = SIM.simhash(docs, "doc_id", "text", bits=64)
    a = fp.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = fp.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )
    banded = SIM.simhash_neardup_pairs(docs, "doc_id", "text", bits=64,
                                       bands=4, max_hamming=3)
    expect = {(r["id_a"], r["id_b"], r["hamming"]) for r in brute.collect()}
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in banded.collect()}
    assert got == expect


def test_simhash_low_bits_unchanged_by_width(spark):
    """Widths <= 60 read only the low md5 limb, so the low 16 bits of a
    64-bit print equal the 16-bit print (same base bits, same votes) —
    the widening is backward-compatible."""
    df = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma delta epsilon zeta"),
         Row(doc_id=2, text="one two three four five six seven")]
    )
    fp16 = {r["doc_id"]: r["simhash"] for r in SIM.simhash(df, bits=16).collect()}
    fp64 = {r["doc_id"]: r["simhash"] for r in SIM.simhash(df, bits=64).collect()}
    for d in (1, 2):
        assert fp64[d] & 0xFFFF == fp16[d]


def test_simhash_rejects_bad_width(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    with pytest.raises(ValueError):
        SIM.simhash(df, bits=65)
    with pytest.raises(ValueError):
        SIM.simhash(df, bits=0)


def test_hash_split_deterministic_and_disjoint(spark, sf_dir):
    from apde_etl_spark.operators.text import hash_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s1 = {(r["doc_id"], r["split"]) for r in hash_split(docs).collect()}
    s2 = {(r["doc_id"], r["split"]) for r in hash_split(docs.orderBy(F.desc("doc_id"))).collect()}
    assert s1 == s2  # order-independent
    splits = {r["split"] for r in hash_split(docs).collect()}
    assert splits <= {"train", "holdout"}


def test_pack_sequences_budget_monotone(spark, sf_dir):
    from apde_etl_spark.operators.text import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = pack_sequences(docs, token_budget=500).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["source"], []).append(r)
    for rows in by_group.values():
        rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        prev_pack = -1
        for r in rows:
            cum += r["n_tokens"]
            assert r["cum_tokens"] == cum
            assert r["pack_id"] == (cum - 1) // 500
            assert r["pack_id"] >= prev_pack  # packs are monotone in id order
            prev_pack = r["pack_id"]


def test_keep_canonical_drops_only_nonmin_members(spark):
    from apde_etl_spark.operators.dedup import connected_components

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in [
            (1, "aaa bbb ccc ddd eee fff"),
            (2, "aaa bbb ccc ddd eee fff"),
            (3, "totally different words here now ok"),
        ]]
    )
    pairs = SIM.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.2)
    comp = connected_components(pairs, "id_a", "id_b")
    drop = comp.filter(F.col("id") != F.col("component")).select(F.col("id").alias("doc_id"))
    kept = sorted(r["doc_id"] for r in docs.join(drop, "doc_id", "left_anti").collect())
    assert kept == [1, 3]


def test_langid_ngram_first_max_wins(spark):
    from apde_etl_spark.operators.text import langid_ngram_scores

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="the thing and the song"),   # en trigrams
         Row(doc_id=2, text="der schone einband und"),   # de trigrams
         Row(doc_id=3, text="zz"),                        # too short -> other
         Row(doc_id=4, text="xxxxyyyy")]                  # no profile hits
    )
    out = {r["doc_id"]: r["predicted_lang"]
           for r in langid_ngram_scores(docs).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "other"
    assert out[4] == "other"


def test_knn_label_vote_salt_invariant(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    one = SIM.knn_label_vote(emb, F.col("vec_id") < 5, k=7, salt_buckets=1)
    many = SIM.knn_label_vote(emb, F.col("vec_id") < 5, k=7, salt_buckets=64)
    assert ({tuple(r) for r in one.collect()} == {tuple(r) for r in many.collect()})
    rows = one.collect()
    assert len(rows) == 5 and all(r["votes"] <= 7 for r in rows)


def test_stratified_sample_nests_and_is_deterministic(spark, sf_dir):
    from apde_etl_spark.operators.text import stratified_hash_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lo = stratified_hash_sample(docs, {"src0": 0.2}, default_rate=0.5)
    hi = stratified_hash_sample(docs, {"src0": 0.6}, default_rate=0.9)
    lo_ids = {r["doc_id"] for r in lo.collect()}
    hi_ids = {r["doc_id"] for r in hi.collect()}
    assert lo_ids <= hi_ids  # nested: higher rates strictly grow the sample
    again = {r["doc_id"] for r in
             stratified_hash_sample(docs.orderBy("text"), {"src0": 0.2},
                                    default_rate=0.5).collect()}
    assert again == lo_ids  # order-independent
    zero = stratified_hash_sample(docs, {}, default_rate=0.0)
    assert zero.count() == 0


def test_ann_strategies_produce_identical_rows(spark, sf_dir):
    """The size-gated candidate join must be a pure physical choice:
    broadcast and salted-shuffle paths return the same rows."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cases = [
        (SIM.ann_lsh_topk, dict(k=5, num_planes=6, dim=64)),
        (SIM.embed_neardup_pairs, dict(threshold=0.3, num_planes=6, dim=64)),
        (SIM.ann_ivf_topk, dict(k=5, n_cells=8, n_probe=2)),
    ]
    for fn, kw in cases:
        bc = fn(emb, strategy="broadcast", **kw).collect()
        sh = fn(emb, strategy="shuffle", **kw).collect()
        assert sorted(map(tuple, bc)) == sorted(map(tuple, sh)), fn.__name__


def test_resolve_candidate_strategy_gates_on_size(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert SIM.resolve_candidate_strategy(emb, "auto") == "broadcast"
    # threshold 0 models a corpus too big to pin in executors
    assert SIM.resolve_candidate_strategy(emb, "auto",
                                          broadcast_threshold_bytes=0) == "shuffle"
    assert SIM.resolve_candidate_strategy(emb, "shuffle") == "shuffle"
    with pytest.raises(ValueError):
        SIM.resolve_candidate_strategy(emb, "bogus")


def test_multi_probe_lifts_recall(spark, sf_dir):
    """Multi-probe LSH must recover strictly more of the exact top-k than
    plain LSH (the reason the flag exists), and the measured recalls must
    clear loose data-independent floors."""
    from apde_etl_spark.plans.catalog_r3 import ann_recall_at_k

    out = {r["method"]: (r["hits"], r["n_exact"], r["recall_at_k"])
           for r in ann_recall_at_k(spark, sf_dir).collect()}
    assert set(out) == {"lsh", "lsh_multiprobe2", "ivf", "lsh_4tables_mp2"}
    assert all(n == out["lsh"][1] for _, n, _ in out.values())
    assert out["lsh_multiprobe2"][2] > out["lsh"][2]
    # composing the two recall levers beats either alone
    assert out["lsh_4tables_mp2"][2] > out["lsh_multiprobe2"][2]
    assert out["lsh"][2] >= 0.02
    assert out["ivf"][2] >= 0.10


def test_pq_recall_floors_both_regimes(spark, sf_dir):
    """ann_recall_pq measures both corpora: the uniform-noise testdata
    (PQ's worst case — loose floors) and the clustered corpus real
    embedding models produce, where IVFPQ + rerank with standard knobs
    must reach production-grade recall (>= 0.9; measured 1.0)."""
    from apde_etl_spark.operators.cache import release_scope
    from apde_etl_spark.plans.catalog_r3 import ann_recall_pq

    out = {r["method"]: r["recall_at_k"]
           for r in ann_recall_pq(spark, sf_dir).collect()}
    assert set(out) == {
        "pq_m8_k16", "pq_m8_k16_rerank40", "ivfpq_c16_p2_rerank40",
        "pq_m8_k16_rerank40_clustered", "ivfpq_c32_p4_rerank40_clustered",
    }
    # worst-case corpus: rerank must lift plain ADC; loose floors
    assert out["pq_m8_k16_rerank40"] > out["pq_m8_k16"]
    assert out["pq_m8_k16_rerank40"] >= 0.4
    # operating-regime corpus: production-grade recall with standard knobs
    assert out["pq_m8_k16_rerank40_clustered"] >= 0.9
    assert out["ivfpq_c32_p4_rerank40_clustered"] >= 0.9
    release_scope("similarity")


def test_multi_probe_bounded_by_planes(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError):
        SIM.ann_lsh_topk(emb, multi_probe=7, num_planes=6).collect()


def test_connected_components_probe_gates(spark, monkeypatch):
    """driver_edge_threshold=0 must skip the probe collect entirely, and
    a tiny byte cap must push wide (string-id) edge lists to the
    distributed path — all three paths agree on the labels."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    expect = {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}
    fast = D.connected_components(pairs)
    no_probe = D.connected_components(pairs, driver_edge_threshold=0)
    monkeypatch.setattr(D, "CC_DRIVER_MAX_BYTES", 1)
    byte_capped = D.connected_components(pairs)
    for out in (fast, no_probe, byte_capped):
        assert {(r["id"], r["component"]) for r in out.collect()} == expect


def test_collapse_identical_signatures_is_connectivity_equivalent(spark, sf_dir):
    """Hot-band guard (minhash_lsh_pairs collapse_identical_signatures):
    a block of IDENTICAL docs (jaccard 1.0 to the representative, far
    from the threshold — no straddling edges, so the documented
    representative-collapse approximation is exact here) must produce
    the SAME connected components as the full pairwise run while
    emitting star edges (linear in block size) instead of the O(n^2)
    bucket."""
    n_hot = 30
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    hot = spark.range(n_hot).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog again and again").alias("text"),
    )
    corpus = docs.unionByName(hot)

    full = SIM.minhash_lsh_pairs(corpus, threshold=0.3)
    coll = SIM.minhash_lsh_pairs(
        corpus, threshold=0.3, collapse_identical_signatures=True
    )
    n_full, n_coll = full.count(), coll.count()
    # the identical block alone is C(n,2) pairs full vs n-1 star edges
    assert n_full - n_coll >= (n_hot * (n_hot - 1)) // 2 - (n_hot - 1)

    def comps(pairs):
        from collections import defaultdict

        g = defaultdict(set)
        for r in D.connected_components(pairs, "id_a", "id_b").collect():
            g[r["component"]].add(r["id"])
        return {frozenset(s) for s in g.values()}

    assert comps(full) == comps(coll)


def test_pq_rerank_lifts_recall(spark, sf_dir):
    """The exact re-rank stage is the standard PQ deployment: ADC alone
    carries quantization error into the final ranking, re-ranking a
    40-wide shortlist recovers most of it (measured 0.18 -> 0.60 at
    this data). Floors are set well under measured values."""
    from apde_etl_spark.plans.catalog_r3 import ann_recall_pq

    out = {r["method"]: r["recall_at_k"]
           for r in ann_recall_pq(spark, sf_dir).collect()}
    # the entry also carries the clustered-corpus rows (asserted in
    # test_pq_recall_floors_both_regimes); this test covers the
    # uniform-noise worst-case floors
    assert {"pq_m8_k16", "pq_m8_k16_rerank40",
            "ivfpq_c16_p2_rerank40"} <= set(out)
    assert out["pq_m8_k16"] >= 0.08
    assert out["pq_m8_k16_rerank40"] >= out["pq_m8_k16"] + 0.1
    assert out["pq_m8_k16_rerank40"] >= 0.35
    # IVF+PQ trades recall for candidate restriction: bounded above by
    # the cell recall, but must stay a working search (floor well under
    # the measured 0.30)
    assert out["ivfpq_c16_p2_rerank40"] >= 0.15


def test_pq_codes_are_bounded_and_compact(spark, sf_dir):
    from pyspark.sql import functions as F

    from apde_etl_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    raw = emb.select("vec_id", SIM.as_double_array("embedding").alias("__r"))
    e = raw.withColumn("__nrm", SIM.l2_norm(F.col("__r"))).select(
        "vec_id", F.transform("__r", lambda x: x / F.col("__nrm")).alias("__v")
    ).persist()
    books = SIM.train_pq_codebooks(e, "vec_id", dim=64, m=8, k_codes=16, iters=1)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)
    codes = e.select(SIM.pq_encode_col("__v", books).alias("c")).collect()
    for r in codes:
        assert len(r["c"]) == 8
        assert all(0 <= x < 16 for x in r["c"])


def test_trained_ivf_centroids_lift_recall(spark, sf_dir):
    """2 Lloyd iterations must not lose recall vs seed centroids at the
    same probe budget (strict lift is measured at sf0.01; at the tiny
    test sf ties are tolerated)."""
    from apde_etl_spark.plans.catalog_r3 import ann_recall_ivf_trained

    out = {r["method"]: r["recall_at_k"]
           for r in ann_recall_ivf_trained(spark, sf_dir).collect()}
    assert set(out) == {"ivf_seed", "ivf_kmeans2"}
    assert out["ivf_kmeans2"] >= out["ivf_seed"]


def test_assign_topn_cells_blas_matches_hof(spark, sf_dir):
    """The Arrow-matmul assignment must produce the identical
    (id, cell_id, rank) relation as the crossJoin+window Column path —
    the ranking-only contract that lets the auto gate switch strategies
    by cell count without changing any downstream result."""
    from pyspark.sql import functions as F

    from apde_etl_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = emb.select(
        "vec_id", SIM.as_double_array("embedding").alias("__v")
    ).persist()
    cent = (
        e.orderBy("vec_id").limit(16)
        .select(F.col("vec_id").alias("cell_id"), F.col("__v").alias("__c"))
    )
    # malformed rows rank as the hof path ranks their NULL sims, also
    # beside a zero-norm centroid, where the zero-norm guard scores 0.0
    bad = e.unionByName(_malformed_vectors(spark))
    zero = spark.createDataFrame([(BAD_ID, [0.0] * 64)],
                                 "cell_id long, __c array<double>")
    for cells in (cent, cent.unionByName(zero)):
        hof = SIM.assign_topn_cells(bad, "vec_id", cells, 16, 3, strategy="hof")
        blas = SIM.assign_topn_cells(bad, "vec_id", cells, 16, 3, strategy="blas")
        assert hof.filter(F.col("vec_id") >= BAD_ID).count() == 3 * 5
        assert hof.exceptAll(blas).count() == 0
        assert blas.exceptAll(hof).count() == 0
    e.unpersist()


def test_pq_codes_blas_matches_column_path(spark, sf_dir):
    """Arrow-batched PQ encoding must emit the identical code arrays as
    the Column-HOF expression for the same codebooks."""
    from apde_etl_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = emb.select(
        "vec_id", SIM.as_double_array("embedding").alias("__v")
    ).persist()
    books = SIM.train_pq_codebooks(e, "vec_id", dim=64, m=8, k_codes=16, iters=1)
    # malformed rows get the HOF path's NULL codes, per subspace
    bad = e.unionByName(_malformed_vectors(spark))
    col = bad.select(
        "vec_id", SIM.pq_encode_col("__v", books).alias("__codes")
    )
    blas = SIM.pq_codes_blas(bad, "vec_id", "__v", books)
    assert col.filter(F.col("vec_id") == BAD_ID).first()["__codes"] == [None] * 8
    assert col.exceptAll(blas).count() == 0
    assert blas.exceptAll(col).count() == 0
    e.unpersist()


def test_exact_topk_pairs_rejects_malformed_vectors(spark, sf_dir):
    """The exact ground truth has no in-plan twin to define a malformed
    row's answer, so a null, holed or ragged vector raises and names
    the column instead of scoring a misaligned matrix."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for vid, v in [(BAD_ID, None), (BAD_ID + 1, [0.5] * 63 + [None]),
                   (BAD_ID + 2, [0.5] * 63)]:
        bad = emb.select("vec_id", "embedding").unionByName(
            spark.createDataFrame([(vid, v)], "vec_id long, embedding array<double>"))
        with pytest.raises(ValueError, match="'embedding'"):
            SIM.exact_topk_pairs(bad, k=3)


#: first id of the malformed rows appended to the embeddings corpus
BAD_ID = 10**9


def _malformed_vectors(spark):
    """(vec_id, __v) rows no batch matrix can hold: a null vector, a
    null element, a short and a long vector, and a short zero vector."""
    return spark.createDataFrame(
        [(BAD_ID, None), (BAD_ID + 1, [0.25] * 40 + [None] + [0.25] * 23),
         (BAD_ID + 2, [0.5] * 20), (BAD_ID + 3, [0.75] * 70),
         (BAD_ID + 4, [0.0] * 10)],
        "vec_id long, __v array<double>")


def test_pq_training_sample_cap_inactive_below_cap(spark, sf_dir):
    """Corpora at or under train_sample_max must train on every row —
    bit-identical books with the cap at its default vs disabled (the
    cap only changes behavior above 65536 vectors)."""
    from apde_etl_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = emb.select(
        "vec_id", SIM.as_double_array("embedding").alias("__v")
    ).persist()
    capped = SIM.train_pq_codebooks(e, "vec_id", dim=64, m=8, k_codes=16, iters=1)
    uncapped = SIM.train_pq_codebooks(
        e, "vec_id", dim=64, m=8, k_codes=16, iters=1, train_sample_max=0
    )
    assert capped == uncapped
    e.unpersist()


def test_ivf_ivfpq_assign_strategy_invariant(spark, sf_dir):
    """Forcing the blas assignment through the full IVF and IVFPQ
    operators must reproduce the default (hof-at-this-size) results
    row-for-row."""
    from apde_etl_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = SIM.ann_ivf_topk(emb, k=5, n_cells=16, n_probe=2, assign_strategy="hof")
    b = SIM.ann_ivf_topk(emb, k=5, n_cells=16, n_probe=2, assign_strategy="blas")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    p = SIM.ann_ivfpq_topk(
        emb, k=5, dim=64, n_cells=16, n_probe=2, m=8, k_codes=16,
        rerank=40, assign_strategy="hof",
    )
    q = SIM.ann_ivfpq_topk(
        emb, k=5, dim=64, n_cells=16, n_probe=2, m=8, k_codes=16,
        rerank=40, assign_strategy="blas",
    )
    assert p.exceptAll(q).count() == 0 and q.exceptAll(p).count() == 0


def test_assign_topn_cells_zero_norm_strategy_agreement(spark):
    """Zero-norm vectors/centroids make cosine 0/0; the guard pins those
    sims to exactly 0.0 on BOTH strategies (hof would otherwise rank
    NaN first, numpy last — an engine desync on degenerate inputs)."""
    from apde_etl_spark.operators import similarity as SIM

    e = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, __v array<double>")
    cent = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [2.0, 0.0])],
        "cell_id long, __c array<double>")
    hof = SIM.assign_topn_cells(e, "vec_id", cent, 3, 2, strategy="hof")
    blas = SIM.assign_topn_cells(e, "vec_id", cent, 3, 2, strategy="blas")
    h = sorted(map(tuple, hof.collect()))
    b = sorted(map(tuple, blas.collect()))
    assert h == b
    # the all-zero query ties every centroid at 0.0 -> cell_id asc wins
    picked = {(v, rk): c for v, c, rk in h}
    assert picked[(0, 1)] == 0 and picked[(0, 2)] == 1


def test_ngram_jaccard_short_docs_engine_parity(spark, tmp_path):
    """Docs with < 3 tokens have EMPTY shingle sets: the inverted index
    cannot pair them, and the oracle's sh CTE now filters them too —
    without that filter DuckDB computes 0/0 = NaN which compares >= 0.2
    under total-order semantics, a latent desync (ADVICE r5)."""
    import duckdb

    from apde_etl_spark.plans import catalog_ext as CE
    from apde_etl_spark.plans.catalog import QUERIES

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta eta"),
         (3, "hi"), (4, "yo")],  # < 3 tokens -> zero shingles
        "doc_id long, text string")
    d = str(tmp_path / "sf")
    docs.coalesce(1).write.parquet(f"{d}/documents.parquet")
    out = QUERIES["ngram_jaccard_pairs"](spark, d).collect()
    spark_pairs = {(r["id_a"], r["id_b"]) for r in out}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'")
    oracle_pairs = {(r[0], r[1]) for r in con.execute(CE._JACCARD_ORACLE).fetchall()}
    assert spark_pairs == oracle_pairs
    assert (1, 2) in spark_pairs
    assert not any(3 in p or 4 in p for p in oracle_pairs)


def test_editdist_hot_block_guard(spark):
    """The block cap must split a hot first-token block on the second
    token's first char (bounded sub-blocks), stay output-identical
    when every block is under the cap, and never compare across
    sub-blocks once it engages."""
    # 60 names share first token; cap 20 forces the split. Second
    # tokens spread over 6 first-chars (10 names each), so ONE split
    # level brings every sub-block under the cap — deeper levels must
    # not engage (they only fire while a sub-block stays hot).
    letters = "abcdef"
    hot = spark.range(60).select(
        F.concat(
            F.lit("shared "),
            F.element_at(
                F.split(F.lit(" ".join(letters)), " "),
                (F.col("id") % 6 + 1).cast("int")),
            F.col("id").cast("string"),
            F.lit(" tail")).alias("name"))
    guarded = D.editdist_neardup_pairs(hot, "name", block_cap=20)
    unguarded = D.editdist_neardup_pairs(hot, "name", block_cap=10**9)
    g = {(r["name_a"], r["name_b"]) for r in guarded.collect()}
    u = {(r["name_a"], r["name_b"]) for r in unguarded.collect()}
    # guard only DROPS cross-sub-block pairs, never invents any
    assert g <= u
    # pairs within a sub-block (same second-token first char) survive
    assert len(g) > 0
    sub = {(a, b) for a, b in u
           if a.split(" ")[1][0] == b.split(" ")[1][0]}
    assert g == sub
    # under the cap: bit-identical
    small = spark.range(15).select(
        F.concat(F.lit("few "), F.col("id").cast("string"),
                 F.lit(" x")).alias("name"))
    ga = {tuple(r) for r in D.editdist_neardup_pairs(
        small, "name", block_cap=20).collect()}
    ub = {tuple(r) for r in D.editdist_neardup_pairs(
        small, "name", block_cap=10**9).collect()}
    assert ga == ub
