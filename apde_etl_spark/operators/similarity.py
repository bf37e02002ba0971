"""Similarity-search operators over embedding columns (extension surface —
BASELINE.json north star: dedup / similarity search / ANN at 100 TB).

Brute-force cosine top-k is the exact baseline (native Column
expressions: ``zip_with`` + ``aggregate`` fold — JVM-side, codegen'd, no
Python in the loop); random-hyperplane LSH bucketing (:func:`ann_lsh_topk`)
is the scale path, and MinHash/SimHash banding covers text near-dup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apde_etl_spark.operators.cache import tracked_persist, tracked_release
from apde_etl_spark.operators.skew import replicated_salted_join
from apde_etl_spark.sources.readers import local_frame


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product over two array<double> columns —
    fold order is deterministic, so results are bit-stable and match any
    oracle that folds the same way."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# NOTE on unrolling: statically expanding these folds into
# `0.0 + a[0]*b[0] + a[1]*b[1] + ...` (dim=64) was tried and REVERTED —
# the giant expression trees push whole-stage codegen into multi-second
# janino compilation per plan branch (2.7s -> 50s on the LSH candidate
# stage). The HOF fold is interpreted but O(n·d) with trivial constant;
# keep candidate volume low (good LSH buckets) instead of micro-optimizing
# the per-pair arithmetic. Where candidate volume is UNAVOIDABLY large
# (the HNSW insertion build scores millions of pair rows per batch),
# :func:`arrow_pair_cosine` moves the fold to an Arrow-batched numpy
# scorer that preserves the fold's float order bit-for-bit.


def arrow_pair_cosine(
    df: DataFrame,
    keys: tuple[str, ...] = ("query_id", "__cid"),
    a_col: str = "__cv",
    b_col: str = "__qv",
    na_col: str = "__cn",
    nb_col: str = "__qn",
    out_col: str = "__cos",
) -> DataFrame:
    """Arrow-batched twin of ``dot(a,b)/(na*nb)``: returns
    ``keys + (out_col,)`` with the cosine computed in numpy.

    BIT-IDENTICAL to the JVM HOF fold by construction: the fold
    ``aggregate(zip_with(a,b,*), 0.0, +)`` is the sequential IEEE-754
    chain ``((0.0 + a0*b0) + a1*b1) + ...``; the scorer accumulates
    per-DIMENSION over the row batch (``acc = acc + A[:,i]*B[:,i]``
    starting from zeros), which performs the identical operations in
    the identical order per row — numpy float64 is the same IEEE
    double as the JVM — while vectorizing across rows. The norms are
    consumed from the pre-computed ``na``/``nb`` columns exactly as
    the JVM projection does, and ``dot/(na*nb)`` is one multiply and
    one divide in the same order. Verified bit-exact against the HOF
    plan in tests/test_ann_index.py (hash equality on the insert-built
    gate entries is the standing regression).

    Why it exists: the interpreted HOF fold is ~O(d) interpreter
    dispatches per row — fine for bounded serve frontiers, the wall
    for the insertion build's millions of candidate rows per batch
    (the 200k build ran >2h on the fold; Arrow-batched it completes —
    BASELINE.md round-10). Arrow ships 8*d bytes per row per vector
    column; the scorer emits only ``keys + cosine``, so the exchange
    is one-way."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    key_list = list(keys)
    in_schema = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [in_schema[k] for k in key_list]
        + [StructField(out_col, DoubleType(), True)]
    )
    cols = key_list + [a_col, b_col, na_col, nb_col]
    src = df.select(*cols)

    def gen(batches):
        for pdf in batches:
            out = pdf[key_list].copy()
            n = len(pdf)
            if n == 0:
                out[out_col] = np.empty(0, dtype="float64")
                yield out
                continue
            A = np.stack(pdf[a_col].to_numpy()).astype("float64", copy=False)
            B = np.stack(pdf[b_col].to_numpy()).astype("float64", copy=False)
            acc = np.zeros(n, dtype="float64")
            for i in range(A.shape[1]):
                acc = acc + A[:, i] * B[:, i]
            out[out_col] = acc / (
                pdf[na_col].to_numpy(dtype="float64")
                * pdf[nb_col].to_numpy(dtype="float64")
            )
            yield out

    return src.mapInPandas(gen, out_schema)


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def hash60(col: Column) -> Column:
    """Deterministic 60-bit hash from the md5 hex prefix.

    Chosen over ``xxhash64``/``F.hash`` because md5 is available with
    identical output in DuckDB — cross-engine-checkable signatures. 15 hex
    chars = 60 bits, always positive in an int64."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("bigint")


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles of whitespace-tokenized text ->
    array<string>. Native, UDF-free, explode-free.

    Built by zipping k-1 shifted copies of the token array (k-1 big
    array ops per row) rather than slicing per shingle index (O(n*k)
    array copies) — ~3x faster at corpus scale, identical output. The
    zip pads the shorter (shifted) side with NULL; those partial tails
    are nulled explicitly and filtered."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.trim(c), r"\s+")
    n = F.size(toks)
    acc = toks
    for i in range(2, k + 1):
        shifted = F.slice(toks, i, F.greatest(n - F.lit(i - 1), F.lit(0)))
        acc = F.zip_with(
            acc, shifted,
            lambda x, y: F.when(x.isNull() | y.isNull(), F.lit(None))
                          .otherwise(F.concat(x, F.lit(" "), y)),
        )
    return F.array_distinct(F.filter(acc, lambda x: x.isNotNull()))


#: Mersenne prime 2^31-1: universal-hash modulus. Base hashes are reduced
#: to 31 bits so a*h+b stays well inside int64 in Spark AND DuckDB.
MERSENNE31 = 2_147_483_647


def _lcg_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash families,
    derived from a fixed LCG seed — identical on every run/engine."""
    params, x = [], 88172645463325252
    for _ in range(num_hashes):
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        a = (x % (MERSENNE31 - 2)) + 1
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        b = x % MERSENNE31
        params.append((a, b))
    return params


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature: each shingle is md5-hashed ONCE (the expensive
    op), reduced to 31 bits, and the ``num_hashes`` families are cheap
    universal hashes ``(a_j*h + b_j) mod 2^31-1`` over that base.

    Built as a SINGLE ``F.aggregate`` traversal carrying the running
    per-family minima: ``num_hashes`` separate
    ``array_min(transform(base, ...))`` expressions would each re-inline
    (and re-evaluate) the md5 base — Catalyst does not share subtrees
    across lambda bodies — costing ``num_hashes``x the digests. Here the
    digest binds once per element and the accumulator update is pure
    integer arithmetic, reproducible in DuckDB for the oracle."""
    params = _lcg_params(num_hashes)
    # two array LITERALS (one py4j call each) instead of num_hashes
    # struct literals fed to F.array; the accumulator update computes
    # the identical (a_j*h + b_j) mod M per family via a nested
    # zip_with over (A, B) — same integers, same fold order, ~60 fewer
    # driver round trips per call site
    fam_a = F.lit([a for a, _ in params])
    fam_b = F.lit([b for _, b in params])
    base = F.transform(shingles, lambda s: hash60(s) % MERSENNE31)
    init = F.array_repeat(F.lit(MERSENNE31).cast("long"), num_hashes)
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(fam_a, fam_b,
                       lambda a, b: (a * h + b) % MERSENNE31),
            lambda m, c: F.least(m, c),
        ),
    )


def lsh_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Split a signature into band keys ``'<band>:<v1>,<v2>,...'``.
    Documents sharing ANY band key become candidate pairs — the classic
    banding scheme: at 100 TB the band key is the shuffle key, so
    near-dup search costs one exchange over (doc, band) instead of an
    all-pairs comparison."""
    parts = []
    for b in range(bands):
        vals = [F.element_at(sig, b * rows_per_band + r + 1).cast("string")
                for r in range(rows_per_band)]
        parts.append(F.concat_ws(",", F.lit(f"{b}:"), *vals))
    return F.array(*parts)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - inter)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.2,
    materialize: bool = False,
    collapse_identical_signatures: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, verified with exact
    Jaccard: shingle -> sign -> band -> bucket self-join -> verify.

    Plan shape at scale: one narrow pass computes (id, shingles, sig,
    bands); explode(bands) then a self-equi-join on the band key (shuffle
    bounded by bucket sizes, AQE splits skewed buckets); candidate pairs
    are distinct'd before the exact-Jaccard verification join so each
    pair is verified once.

    ``collapse_identical_signatures=True`` is the hot-band guard for
    duplicate-heavy corpora. A band bucket of n near-identical docs emits
    O(n^2) candidate pairs, and AQE's skew-split can MISS exactly that
    bucket: skew detection keys on compressed map-output bytes, and a
    partition full of identical band-key rows compresses so well its
    bytes sit below the median even at several-x the row count (measured:
    2.6x row skew, sub-median bytes, no split — tools/scale_stress.py
    ``hot_band``). The collapse removes the quadratic bucket instead of
    splitting it: docs are grouped by their FULL signature, the min-id
    member represents the group in banding, other members are verified
    against their representative only (star edges, n-1 per group);
    members that FAIL that verification re-enter banding as themselves.
    This is the standard representative-collapse APPROXIMATION, not an
    equivalence: a collapsed member's edges outside its group are
    evaluated through the representative, so two shapes of edge can go
    unreported — (a) a pair between a failed member and a passed member
    of the same signature group, and (b) a pair between a passed member
    M and an out-of-group doc X where jaccard(M, X) passes but
    jaccard(representative, X) fails. Both require the similarity to
    straddle the threshold across near-identical docs; components built
    from the pairs can split at exactly those edges. Default off — the
    default contract stays exact pair-completeness over the banded
    candidates.

    ``materialize=True`` eagerly computes the (small) verified pair list
    via ``localCheckpoint`` and releases the internal shingle cache
    before returning — for pipeline compositions that hold the session
    long after consuming the pairs. Default off: lazy callers keep the
    cache alive until their own first action."""
    rows = num_hashes // bands
    base = (
        df.select(F.col(id_col), word_shingles(F.col(text_col), k).alias("__sh"))
        .filter(F.size("__sh") > 0)  # docs shorter than k words can't match
        .withColumn("__sig", minhash_signature(F.col("__sh"), num_hashes))
    )
    # the (id, shingles, sig) projection feeds the banding explode AND two
    # verification joins — persist it so shingling/hashing runs once, not
    # three times (at cluster scale: cache the projection, never the raw
    # corpus)
    base = tracked_persist(base, scope="similarity")
    sh = base.select(F.col(id_col), F.col("__sh"))

    star = None
    if collapse_identical_signatures:
        # group by the full signature (array<long> group key — one narrow
        # shuffle over (sig, id)); min id is the group's representative
        canon = base.groupBy("__sig").agg(F.min(id_col).alias("__canon"))
        tagged = tracked_persist(base.join(canon, "__sig"), scope="similarity")
        members = tagged.filter(F.col(id_col) != F.col("__canon"))
        # star edges: representative x member, verified with exact
        # jaccard — linear in group size, replacing the O(n^2) bucket
        star_checked = (
            members.select(
                F.col("__canon").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.col("__sh").alias("__sh_b"),
            )
            .join(
                sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sh", "__sh_a"),
                "id_a",
            )
            .withColumn("jaccard_sim", jaccard(F.col("__sh_a"), F.col("__sh_b")))
        )
        star_checked = tracked_persist(star_checked, scope="similarity")
        star = star_checked.filter(F.col("jaccard_sim") >= threshold).select(
            "id_a", "id_b", "jaccard_sim"
        )
        # representatives + members the star test rejected enter banding
        failed_ids = star_checked.filter(F.col("jaccard_sim") < threshold).select(
            F.col("id_b").alias(id_col)
        )
        reps = tagged.filter(F.col(id_col) == F.col("__canon")).select(id_col, "__sig")
        band_src = reps.unionByName(
            base.select(id_col, "__sig").join(failed_ids, id_col, "left_semi")
        )
    else:
        band_src = base.select(id_col, "__sig")

    banded = band_src.select(
        id_col, F.explode(lsh_bands(F.col("__sig"), bands, rows)).alias("__band")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.__band") == F.col("b.__band"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    verified = (
        cand.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sh", "__sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sh", "__sh_b"), "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("__sh_a"), F.col("__sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )
    if star is not None:
        verified = verified.unionByName(star)
    if materialize:
        verified = verified.localCheckpoint(eager=True)
        tracked_release(base)
        if collapse_identical_signatures:
            tracked_release(tagged)
            tracked_release(star_checked)
    return verified


def minhash_lsh_join(
    query: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.2,
) -> DataFrame:
    """Asymmetric MinHash+LSH join: verified near-dup pairs between a
    QUERY batch and an existing CORPUS — the incremental-ingest shape.
    Returns (id_q, id_c, jaccard_sim) with jaccard >= ``threshold``.

    This is deliberately NOT the self-join (:func:`minhash_lsh_pairs`):
    when a day's crawl lands against a 100 TB corpus, banding both sides
    and joining query-bands to corpus-bands costs one exchange keyed on
    the band string, with the candidate count bounded by query-side
    bucket membership — the corpus never self-pairs, so a hot corpus
    bucket costs |bucket ∩ query| work, not |bucket|^2. The corpus-side
    (signature, band) projection is exactly the artifact you would
    precompute and store alongside the corpus; here it is derived in
    the same plan for self-containment."""
    rows = num_hashes // bands

    def prep(df: DataFrame) -> DataFrame:
        # shingles feed banding AND verification; lazy callers keep the
        # cache until their first action, then release_scope("similarity")
        return tracked_persist(
            df.select(F.col(id_col), word_shingles(F.col(text_col), k).alias("__sh"))
            .filter(F.size("__sh") > 0)
            .withColumn("__sig", minhash_signature(F.col("__sh"), num_hashes)),
            scope="similarity",
        )

    q, c = prep(query), prep(corpus)
    qb = q.select(
        F.col(id_col).alias("id_q"),
        F.explode(lsh_bands(F.col("__sig"), bands, rows)).alias("__band"),
    )
    cb = c.select(
        F.col(id_col).alias("id_c"),
        F.explode(lsh_bands(F.col("__sig"), bands, rows)).alias("__band"),
    )
    cand = qb.join(cb, "__band").select("id_q", "id_c").distinct()
    return (
        cand.join(
            q.select(F.col(id_col).alias("id_q"), F.col("__sh").alias("__sh_q")),
            "id_q",
        )
        .join(
            c.select(F.col(id_col).alias("id_c"), F.col("__sh").alias("__sh_c")),
            "id_c",
        )
        .withColumn("jaccard_sim", jaccard(F.col("__sh_q"), F.col("__sh_c")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_q", "id_c", "jaccard_sim")
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 64) -> DataFrame:
    """SimHash fingerprint over whitespace tokens: per-token md5-derived
    base bits, per-bit +/-1 vote, sign vector -> integer fingerprint.

    ``bits=64`` is the industry-standard width (Manku et al. 2007 use
    64-bit fingerprints at web scale): banding a 64-bit print into 16-bit
    slices gives 65536 bucket values per band, so bucket sizes — and the
    candidate-pair count of the banded self-join — stay bounded at
    10^8-10^9 docs where a 16/32-bit print's 16-256-value bands go
    quadratic. One md5 limb (:func:`hash60`) caps at 60 bits, so bits
    above 59 come from a SECOND limb of the same digest (md5 chars
    16..30) — one digest per token either way, and every bit position is
    engine-reproducible for the DuckDB oracle.

    The fingerprint is a SIGNED int64 in two's complement: bit 63's
    weight is -2^63. Downstream ops are representation-safe — XOR +
    bit_count for hamming, and band slicing masks AFTER the (arithmetic)
    shift, which both Spark and DuckDB implement identically.

    Implemented as explode + groupBy(id) with ``bits`` conditional sums:
    map-side partial aggregation collapses each document's tokens within
    the partition, so the shuffle carries one row per document."""
    if not 1 <= bits <= 64:
        raise ValueError(f"simhash: bits must be in [1, 64], got {bits}")
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__tok"),
    ).withColumn("__d", F.md5(F.col("__tok").cast("binary")))
    limbs = toks.withColumn(
        "__h0", F.conv(F.substring(F.col("__d"), 1, 15), 16, 10).cast("bigint")
    )
    if bits > 60:
        limbs = limbs.withColumn(
            "__h1", F.conv(F.substring(F.col("__d"), 16, 15), 16, 10).cast("bigint")
        )

    # shiftright, NOT double division: limbs are 60-bit, double mantissa is 53
    def _bit(i: int) -> Column:
        src, off = (F.col("__h0"), i) if i < 60 else (F.col("__h1"), i - 60)
        return F.shiftright(src, off) % 2

    votes = [F.sum(_bit(i) * 2 - 1).alias(f"__b{i}") for i in range(bits)]
    agg = limbs.groupBy(id_col).agg(*votes)
    fp = None
    for i in range(bits):
        # bit 63 carries the sign: weight -2^63 keeps the packed value a
        # valid int64 (two's complement) instead of overflowing at +2^63
        weight = -(2**63) if i == 63 else 2**i
        term = (
            F.when(F.col(f"__b{i}") > 0, F.lit(weight).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        fp = term if fp is None else fp + term
    return agg.select(F.col(id_col), fp.cast("bigint").alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance, found WITHOUT an
    all-pairs join: band the ``bits``-bit fingerprint into ``bands``
    equal bit-slices, self-equi-join on (band index, slice value) — any
    pair within hamming distance < ``bands`` shares at least one intact
    slice (pigeonhole) — then verify candidates with the exact popcount
    of the XOR.

    Scale shape: the band slice is the single shuffle key (fingerprints
    are integers, so the join carries ~16 bytes/row); verification is two
    bitwise ops per candidate. Recall is exact for distances < bands
    (pigeonhole guarantee), approximate above. The 64-bit default with
    16-bit slices keeps each band's value space at 65536 — random-text
    bucket sizes ~n/65536 per band, so candidate growth stays near-linear
    where narrower prints (256 values per 8-bit slice) go quadratic at
    10^8+ docs. Slicing masks AFTER the shift, so the sign bit of the
    two's-complement fingerprint never contaminates lower bands.
    """
    rows = bits // bands
    mask = (1 << rows) - 1
    fp = simhash(df, id_col, text_col, bits)
    slices = F.array(*[
        F.concat_ws(
            ":", F.lit(str(j)),
            (F.shiftright(F.col("simhash"), j * rows).bitwiseAND(F.lit(mask)))
            .cast("string"),
        )
        for j in range(bands)
    ])
    banded = fp.select(id_col, "simhash", F.explode(slices).alias("__band"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.__band") == F.col("b.__band"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("__sa"),
            F.col("b.simhash").alias("__sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of ``query_vec`` against every row.

    The query vector rides along as a literal (broadcast by construction);
    the plan is scan -> project(cosine) -> TakeOrderedAndProject, i.e. one
    pass with per-partition top-k then a k-row driver merge — no shuffle
    of the full table even at 100 TB.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    emb = as_double_array(vec_col)
    out = df.select(
        F.col(id_col),
        cosine(emb, q).alias("cosine_sim"),
    )
    return out.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


# ---------------------------------------------------------------------------
# Hyperplane-LSH bucketed ANN — the cosine-similarity scale path
# ---------------------------------------------------------------------------

#: Default broadcast budget for the candidate-generation joins below.
#: Above this, pinning the corpus projection in every executor stops being
#: a plan and starts being an OOM — the join falls back to a salted
#: shuffle on the bucket key.
ANN_BROADCAST_THRESHOLD_BYTES = 256 << 20


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a DataFrame's optimized plan —
    file-size-derived for scans, propagated through projections/filters.
    Returns a huge sentinel when stats are unavailable (Connect mode,
    exotic sources), so auto-gated joins degrade to the shuffle path
    (correct at any size) rather than a blind broadcast."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 62


def resolve_candidate_strategy(
    corpus: DataFrame,
    strategy: str = "auto",
    broadcast_threshold_bytes: int = ANN_BROADCAST_THRESHOLD_BYTES,
) -> str:
    """Resolve ``"auto"`` to ``"broadcast"``/``"shuffle"`` by the corpus
    plan's size estimate; pass explicit strategies through unchanged."""
    if strategy != "auto":
        if strategy not in ("broadcast", "shuffle"):
            raise ValueError(f"unknown candidate_join strategy: {strategy!r}")
        return strategy
    return (
        "broadcast"
        if plan_size_bytes(corpus) <= broadcast_threshold_bytes
        else "shuffle"
    )


def candidate_join(
    probe: DataFrame,
    corpus: DataFrame,
    key: str,
    strategy: str = "auto",
    broadcast_threshold_bytes: int = ANN_BROADCAST_THRESHOLD_BYTES,
    salt_buckets: int = 8,
    probe_salt_source: str = "id_a",
) -> DataFrame:
    """Size-gated bucket/cell equi-join for ANN candidate generation.

    Partitioning is the whole game in bucketed ANN: clustered corpora put
    entire clusters in one bucket, so a naive bucket-keyed shuffle join
    sends each cluster's O(size^2) candidate work to ONE reducer. Two
    strategies avoid that, chosen by corpus size:

    - ``broadcast`` (corpus fits executor memory): probe side stays
      spread by id, corpus rides to every task — no shuffle, no hot
      reducer. The right plan up to a few hundred MB of corpus.
    - ``shuffle`` (corpus too big to pin in every executor): salted
      replicated join on the bucket key via
      :func:`~apde_etl_spark.operators.skew.replicated_salted_join` —
      the probe side salts on its id (uniform), the corpus replicates
      ``salt_buckets`` ways, so a hot bucket lands on ``salt_buckets``
      reducers instead of one. Survives any corpus size.

    ``strategy="auto"`` gates on Catalyst's size estimate of the corpus
    plan (unknown ⇒ shuffle, the conservatively-correct path). Both
    strategies produce identical rows — tests assert it.
    """
    strategy = resolve_candidate_strategy(corpus, strategy, broadcast_threshold_bytes)
    if strategy == "broadcast":
        return probe.join(F.broadcast(corpus), key)
    if strategy == "shuffle":
        return replicated_salted_join(
            probe, corpus, key,
            salt_buckets=salt_buckets, how="inner",
            fact_salt_source=probe_salt_source,
        )
    raise ValueError(f"unknown candidate_join strategy: {strategy!r}")

def hyperplanes(num_planes: int, dim: int, seed: int = 424242) -> list[list[int]]:
    """Deterministic ±1 random-hyperplane matrix (LCG-derived, identical
    on every run/engine — the DuckDB oracle regenerates the same one).

    The sign comes from bit 33 of the LCG state, NOT the low bit: for a
    power-of-two-modulus LCG the low bit alternates with period 2, which
    would make every plane the same alternating pattern (all planes
    identical for even dim → 2 effective buckets and near-zero join-volume
    reduction). High bits have full period.
    """
    x = seed
    planes = []
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
            row.append(1 if (x >> 33) & 1 else -1)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[int]]) -> Column:
    """SimHash-style bucket id: bit j = sign of <vec, plane_j>. Vectors in
    the same bucket are likely cosine-close (random-hyperplane LSH).

    Each plane is ONE array literal (F.lit of the list), not dim F.lit
    calls fed to F.array — same constant plane, but plan construction
    drops from ~(num_planes x dim) py4j round trips (~770 for 6 planes
    x 64 dims, ~0.5s of driver latency per call site) to num_planes
    (guide §1.2: the driver's own per-invocation work counts)."""
    bucket: Column = F.lit(0)
    for j, plane in enumerate(planes):
        p = F.lit([float(s) for s in plane])
        bucket = bucket + F.when(dot(vec, p) >= 0, F.lit(2 ** j)).otherwise(F.lit(0))
    return bucket.cast("int")


def ann_lsh_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 6,
    dim: int = 64,
    seed: int = 424242,
    strategy: str = "auto",
    broadcast_threshold_bytes: int = ANN_BROADCAST_THRESHOLD_BYTES,
    salt_buckets: int = 8,
    multi_probe: int = 0,
    num_tables: int = 1,
) -> DataFrame:
    """Approximate per-vector cosine top-k: bucket by random-hyperplane
    LSH, self-join WITHIN buckets only, rank by cosine per query vector.

    ``multi_probe=m`` additionally probes, for every query vector, the
    ``m`` neighbor buckets at Hamming distance 1 in the first ``m``
    hyperplane bits — the standard multi-probe LSH recall lever: a true
    neighbor that fell just across one hyperplane is recovered without
    shrinking the plane count (candidate volume grows ~(1+m)x, recall
    measured by the ``ann_recall_at_k`` catalog entry). The corpus side
    keeps its single true bucket, so candidate pairs stay unique and
    the result needs no dedup.

    ``num_tables=L`` is the OTHER standard recall lever — L independent
    hyperplane tables (seeds ``seed + 7919*t``; table 0 is the original,
    so L=1 is bit-identical to the single-table path). A true neighbor
    is found if ANY table co-buckets it: recall ~ 1-(1-p)^L for
    per-table recall p, at ~L x the candidate volume. Both sides explode
    to L table-tagged bucket keys (tag in the high bits, so multi-probe
    bit flips stay inside the table), candidate pairs are distinct'd
    across tables, then vectors join back for scoring — the join-back
    costs two extra hash joins but keeps the exploded relation narrow
    (id + key only), which is what survives at corpus scale.

    The scale story vs brute force: the all-pairs join is O(n^2) rows;
    bucketing cuts it to sum of per-bucket squares (~n^2 / 2^planes for
    balanced buckets), and the bucket id is the single shuffle key — at
    100 TB add more planes (smaller buckets) + multi-probe for recall.
    Candidates within a bucket are verified with exact cosine, so
    precision is 1; recall is traded for the join-volume reduction.

    The bucket join is size-gated by :func:`candidate_join`: corpus
    broadcasts under ``broadcast_threshold_bytes``, else a salted
    shuffle on the bucket key — same rows either way.
    """
    if num_tables < 1:
        raise ValueError("num_tables must be >= 1")
    if multi_probe > num_planes:
        raise ValueError("multi_probe cannot exceed num_planes")
    planes = hyperplanes(num_planes, dim, seed)
    # Carry the per-vector norm as a SCALAR column instead of
    # pre-normalizing the array: `transform(v, x -> x / l2_norm(v))`
    # re-evaluates the norm fold per ELEMENT (O(d^2) interpreted work per
    # row), while dot/(na*nb) per pair costs the same one fold plus two
    # scalar ops — and the norm is computed once per vector.
    raw = as_double_array(vec_col)
    e = (
        df.select(F.col(id_col), raw.alias("__v"))
        .withColumn("__n", l2_norm(F.col("__v")))
        .withColumn("__bucket", lsh_bucket(F.col("__v"), planes))
    )
    if num_tables > 1:
        return _ann_lsh_topk_multitable(
            e, id_col, k, num_planes, dim, seed, strategy,
            broadcast_threshold_bytes, salt_buckets, multi_probe, num_tables,
        )
    # Probe side spread by id (uniform, skew-free) ONLY on the broadcast
    # path — the shuffle path re-partitions on (bucket, salt) in the join
    # itself, so a prior id-repartition would be a wasted full exchange.
    strategy = resolve_candidate_strategy(e, strategy, broadcast_threshold_bytes)
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    probe = e.repartition(nparts, id_col) if strategy == "broadcast" else e
    if multi_probe:
        probe_buckets = F.array(
            F.col("__bucket"),
            *[F.col("__bucket").bitwiseXOR(F.lit(1 << j))
              for j in range(multi_probe)],
        )
        a = probe.select(
            F.col(id_col).alias("id_a"), F.col("__v").alias("__va"),
            F.col("__n").alias("__na"),
            F.explode(probe_buckets).alias("__b"))
    else:
        a = probe.select(
            F.col(id_col).alias("id_a"), F.col("__v").alias("__va"),
            F.col("__n").alias("__na"), F.col("__bucket").alias("__b"))
    b = e.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"),
                 F.col("__n").alias("__nb"), F.col("__bucket").alias("__b"))
    cand = candidate_join(
        a, b, "__b", strategy=strategy,
        broadcast_threshold_bytes=broadcast_threshold_bytes,
        salt_buckets=salt_buckets,
    ).filter(F.col("id_a") != F.col("id_b"))
    scored = _pair_cosine_scored(cand, out_col="cosine_sim",
                                 strategy=strategy)
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine_sim"), F.asc("id_b"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _pair_cosine_scored(cand: DataFrame, out_col: str,
                        strategy: str = "broadcast") -> DataFrame:
    """(id_a, id_b, out_col) from a candidate frame carrying
    __va/__vb/__na/__nb. Scorer choice follows the candidate-join
    strategy the caller already resolved from corpus size:

    - ``"broadcast"`` (corpus under the threshold → bounded candidate
      volume): the in-plan JVM HOF fold. Measured at the gate corpora
      (sf0.1, ~60k candidate pairs): the fold is NOT the cost there,
      and an Arrow stage's fixed exchange adds ~0.2s
      (ann_lsh_topk 1.13s fold vs 1.33s Arrow — OPTIMIZATION_r10.md).
    - ``"shuffle"`` (corpus past the threshold → candidate volume is
      the cost center, ~n²/2^planes folds): :func:`arrow_pair_cosine`
      (guide §4.2) — the seam the insertion build proved bit-identical
      and ~two orders cheaper per pair at millions of rows.

    ``SPARK_GRAFT_ANN_ARROW=0`` forces the JVM fold everywhere (the
    insertion build honors the same flag). Results are bit-identical on
    every path (the Arrow scorer preserves the fold's IEEE-754 op
    order; parity pinned in tests/test_similarity_arrow_seam.py)."""
    import os

    use_arrow = (strategy == "shuffle"
                 and os.environ.get("SPARK_GRAFT_ANN_ARROW", "1") != "0")
    if use_arrow:
        return arrow_pair_cosine(
            cand, keys=("id_a", "id_b"), a_col="__va", b_col="__vb",
            na_col="__na", nb_col="__nb", out_col=out_col)
    return cand.select(
        "id_a", "id_b",
        (dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")))
            .alias(out_col),
    )


def _ann_lsh_topk_multitable(
    e: DataFrame,
    id_col: str,
    k: int,
    num_planes: int,
    dim: int,
    seed: int,
    strategy: str,
    broadcast_threshold_bytes: int,
    salt_buckets: int,
    multi_probe: int,
    num_tables: int,
) -> DataFrame:
    """Multi-table branch of :func:`ann_lsh_topk` (see its docstring).
    ``e`` carries (id, __v, __n, __bucket) with table-0 buckets already
    computed. Each further table re-buckets with an independent plane set;
    the combined key puts the table tag in the high bits so multi-probe
    bit flips stay within a table's bucket space."""
    tag = 1 << num_planes
    key_cols = [F.col("__bucket").cast("int")]
    for t in range(1, num_tables):
        planes_t = hyperplanes(num_planes, dim, seed + 7919 * t)
        key_cols.append((lsh_bucket(F.col("__v"), planes_t) + F.lit(t * tag)).cast("int"))
    # materialize the L keys ONCE per vector (bucketing is num_planes
    # dim-wide dot products — never recompute it per probe neighbor),
    # and persist the narrow projection: it feeds the corpus explode,
    # the probe explode, and both vector join-backs. The cache stays
    # alive for the lazy caller (same trade as the minhash base
    # projection); repeated tuning sweeps in one session should
    # spark.catalog.clearCache() between runs.
    with_keys = tracked_persist(e.select(
        F.col(id_col), F.col("__v"), F.col("__n"),
        *[kc.alias(f"__k{t}") for t, kc in enumerate(key_cols)],
    ), scope="similarity")
    kcols = [F.col(f"__k{t}") for t in range(num_tables)]

    # the corpus side is L x bigger than single-table — scale the
    # broadcast budget down accordingly before resolving "auto"
    strategy = resolve_candidate_strategy(
        e, strategy, broadcast_threshold_bytes // num_tables
    )
    corpus = with_keys.select(
        F.col(id_col).alias("id_b"), F.explode(F.array(*kcols)).alias("__b")
    )
    probe_cols = []
    for kc in kcols:
        probe_cols.append(kc)
        probe_cols.extend(kc.bitwiseXOR(F.lit(1 << j)) for j in range(multi_probe))
    probes = with_keys.select(
        F.col(id_col).alias("id_a"), F.explode(F.array(*probe_cols)).alias("__b")
    )
    cand = (
        candidate_join(
            probes, corpus, "__b", strategy=strategy,
            broadcast_threshold_bytes=broadcast_threshold_bytes // num_tables,
            salt_buckets=salt_buckets,
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()  # a pair can co-bucket in several tables/probes
    )
    va = with_keys.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"),
                          F.col("__n").alias("__na"))
    vb = with_keys.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"),
                          F.col("__n").alias("__nb"))
    scored = _pair_cosine_scored(
        cand.join(va, "id_a").join(vb, "id_b"), out_col="cosine_sim",
        strategy=strategy)
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine_sim"), F.asc("id_b"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def embed_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    num_planes: int = 6,
    dim: int = 64,
    seed: int = 424242,
    strategy: str = "auto",
    broadcast_threshold_bytes: int = ANN_BROADCAST_THRESHOLD_BYTES,
    salt_buckets: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: hyperplane-LSH bucketed
    candidate generation, exact-cosine verification, keep pairs with
    cosine >= threshold (``id_a < id_b``).

    The dedup flavor of :func:`ann_lsh_topk`: instead of per-query top-k
    it emits the thresholded similarity graph that feeds connected
    components (pairs -> clusters -> keep one doc per cluster). Same
    scale shape — candidate volume ~n^2/2^planes via the bucket equi-join,
    probe side spread by id so clustered corpora don't hot-spot a
    reducer, exact verification inside the bucket. The bucket join is
    size-gated by :func:`candidate_join` (broadcast small, salted
    shuffle large).
    """
    planes = hyperplanes(num_planes, dim, seed)
    raw = as_double_array(vec_col)
    e = (
        df.select(F.col(id_col), raw.alias("__v"))
        .withColumn("__n", l2_norm(F.col("__v")))
        .withColumn("__bucket", lsh_bucket(F.col("__v"), planes))
    )
    strategy = resolve_candidate_strategy(e, strategy, broadcast_threshold_bytes)
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    probe = e.repartition(nparts, id_col) if strategy == "broadcast" else e
    a = probe.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), F.col("__bucket").alias("__b"))
    b = e.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"),
                 F.col("__n").alias("__nb"), F.col("__bucket").alias("__b"))
    cand = candidate_join(
        a, b, "__b", strategy=strategy,
        broadcast_threshold_bytes=broadcast_threshold_bytes,
        salt_buckets=salt_buckets,
    ).filter(F.col("id_a") < F.col("id_b"))
    scored = _pair_cosine_scored(cand, out_col="cosine_sim",
                                 strategy=strategy)
    return scored.filter(F.col("cosine_sim") >= F.lit(threshold))


#: Quantization step for exact-mean Lloyd training: member coordinates
#: floor to a 2^-24 lattice BEFORE the mean's sum, so the aggregation is
#: an exact BIGINT sum — order-independent, hence bit-identical across
#: partitionings, hosts, and engines. val * 2^24 is a pure exponent
#: shift (no rounding), floor is exact, and the final
#: (sum/count)/2^24 double arithmetic is the same two IEEE divisions
#: everywhere. The 2^-24 mean perturbation (~6e-8) is far below any
#: centroid-assignment decision margin in practice and buys a
#: HASH-GATEABLE trained index (round-6 verdict item #1).
EXACT_MEAN_Q = float(1 << 24)


def exact_mean_agg(val: Column) -> Column:
    """Order-independent deterministic mean aggregate of ``val`` —
    exact BIGINT sum of floor(val * 2^24), divided back in double."""
    return (
        F.sum(F.floor(val * F.lit(EXACT_MEAN_Q))).cast("double")
        / F.count(F.lit(1)).cast("double")
    ) / F.lit(EXACT_MEAN_Q)


def sql_exact_mean(val: str) -> str:
    """DuckDB twin of :func:`exact_mean_agg` (same IEEE ops)."""
    q = int(EXACT_MEAN_Q)
    return (
        f"(CAST(SUM(CAST(floor({val} * {q}.0) AS BIGINT)) AS DOUBLE)"
        f" / CAST(COUNT(*) AS DOUBLE)) / {q}.0"
    )


def train_ivf_centroids(
    e: DataFrame,
    id_col: str,
    n_cells: int,
    iters: int,
    stride: int = 1,
    exact_mean: bool = False,
) -> list[tuple[int, list[float]]]:
    """Spherical k-means (Lloyd) refinement of the deterministic seed
    centroids — the driver-coordinated iterative loop that turns IVF's
    arbitrary first-N cells into trained ones.

    Each iteration: (1) assign every vector to its max-cosine centroid —
    a crossJoin against the broadcast centroid literals (n_cells tiny),
    argmax via one window over the corpus; (2) new centroid = per-cell
    elementwise mean, computed distributed as posexplode(vec) ->
    groupBy(cell, dim).avg -> collect (n_cells x dim scalars — the only
    driver traffic); empty cells keep their previous centroid. Assignment
    ties break on the lower cell id, so the loop is deterministic up to
    float summation order in the mean — which is why trained-IVF recall
    is measured by a rows-only catalog entry rather than a value-hash
    oracle (a 1e-15 mean wiggle can flip one assignment).

    ``e`` must carry (id_col, __v: array<double>, __n: double); persist
    it before calling — the seed collect and every iteration's assignment
    + mean pass re-materialize it, so an unpersisted projection pays
    ``iters + 1`` full corpus scans. ``stride`` applies the same seed
    selection as the untrained path (ids that are multiples of stride,
    first n_cells of them). Returns [(cell_id, centroid)] with
    cell_id = 0..n_cells-1.

    ``exact_mean=True`` replaces the float ``avg`` with
    :func:`exact_mean_agg` — an order-independent quantized-integer
    sum — which removes the float-summation-order sensitivity entirely:
    the trained centroids are bit-identical on every run AND
    restatable in DuckDB SQL (:func:`sql_exact_mean`), so trained-IVF
    entries can be value-hash-gated instead of rows-only.
    """
    import math

    seed_rows = (
        e.filter(F.col(id_col) % stride == 0)
        .orderBy(id_col).limit(n_cells).select("__v").collect()
    )
    cents = [list(r["__v"]) for r in seed_rows]
    for _ in range(iters):
        cent_df = local_frame(
            e.sparkSession,
            [(i, c) for i, c in enumerate(cents)],
            "cell_id int, __c array<double>",
        ).withColumn("__cn", l2_norm(F.col("__c")))
        ac = e.crossJoin(F.broadcast(cent_df)).select(
            F.col(id_col), "__v", "cell_id",
            (dot(F.col("__v"), F.col("__c")) / (F.col("__n") * F.col("__cn")))
                .alias("__sim"),
        )
        w = Window.partitionBy(id_col).orderBy(F.desc("__sim"), F.asc("cell_id"))
        assigned = (
            ac.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select("cell_id", F.posexplode("__v").alias("pos", "val"))
        )
        mean_agg = (exact_mean_agg(F.col("val")) if exact_mean
                    else F.avg("val"))
        means = (
            assigned.groupBy("cell_id", "pos")
            .agg(mean_agg.alias("m"))
            .collect()
        )
        new_cents = [list(c) for c in cents]  # empty cells keep previous
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell_id"], {})[r["pos"]] = r["m"]
        for cid, dims in by_cell.items():
            vec = [dims[p] for p in range(len(cents[cid]))]
            if any(math.isfinite(x) and x != 0.0 for x in vec):
                new_cents[cid] = vec
        cents = new_cents
    return list(enumerate(cents))


#: Cell count at which the assignment stage switches from the
#: crossJoin+window Column path to the Arrow-batched matmul path. Below
#: it the broadcast nested-loop is cheap and keeps the plan fully
#: JVM-side; above it the n x n_cells interpreted dot folds dominate
#: the whole IVF build (measured: 1024 cells x 200k vectors = 204M
#: folds, ~80s of the 110s total on local[32] — the matmul does the
#: same 26 GFLOP in ~1s of BLAS and skips the 204M-row ranking
#: exchange entirely).
ASSIGN_BLAS_MIN_CELLS = 256


def assign_topn_cells(
    e: DataFrame,
    id_col: str,
    cent_df: DataFrame,
    n_cells: int,
    n_probe: int,
    strategy: str = "auto",
) -> DataFrame:
    """Top-``n_probe`` nearest-centroid assignment — the O(n x n_cells)
    scaling term of every IVF build/search. ``e`` carries
    (id_col, __v: array<double>); ``cent_df`` carries
    (cell_id, __c: array<double>). Returns (id_col, cell_id, __rk) with
    __rk = 1..n_probe ranked by cosine desc, cell_id asc on ties —
    identical ranking semantics on both strategies.

    ``strategy``: ``"hof"`` = broadcast crossJoin + slim
    (id, cell_id, sim) ranking window — all JVM-side, the right shape
    while n_cells is small; ``"blas"`` = Arrow-batched ``mapInPandas``:
    the centroid matrix (n_cells x dim doubles, collected driver-side —
    the same small-side collect budget as the Lloyd trainers) rides the
    closure, each batch computes one X @ C.T matmul and ranks in numpy,
    so there is NO crossJoin row explosion and NO ranking exchange —
    the output is n_probe rows per vector straight off the scan.
    ``"auto"`` switches on :data:`ASSIGN_BLAS_MIN_CELLS`.

    Ranking-only contract: the two strategies differ in float summation
    order (left fold vs pairwise BLAS), which can only change the output
    if two distinct centroids tie to ~1e-15 for the same vector — not a
    value column, so downstream hashes are unaffected short of such a
    knife-edge tie. The equality is asserted over the whole test corpus
    in tests/test_dedup_similarity.py."""
    if strategy not in ("auto", "hof", "blas"):
        raise ValueError(f"assign_topn_cells: unknown strategy={strategy!r}")
    if strategy == "auto":
        strategy = "blas" if n_cells >= ASSIGN_BLAS_MIN_CELLS else "hof"
    if strategy == "hof":
        cn = cent_df.withColumn("__cn", l2_norm(F.col("__c")))
        # Zero-norm guard: a zero vector (or centroid) makes cosine 0/0
        # = NaN, which Spark's desc window would rank FIRST while
        # numpy's argsort(-S) ranks it LAST — a strategy desync. Pin
        # the degenerate sim to exactly 0.0 on BOTH paths (a zero-norm
        # side always has dot 0, so 0.0 is the natural limit) so hof
        # and blas agree: rank by ascending cell_id among the zeros.
        ac = e.withColumn("__n", l2_norm(F.col("__v"))).crossJoin(
            F.broadcast(cn)
        ).select(
            id_col, "cell_id",
            F.when(
                (F.col("__n") == 0) | (F.col("__cn") == 0), F.lit(0.0)
            ).otherwise(
                dot(F.col("__v"), F.col("__c"))
                / (F.col("__n") * F.col("__cn"))
            ).alias("__sim"),
        )
        w = Window.partitionBy(id_col).orderBy(F.desc("__sim"), F.asc("cell_id"))
        return (
            ac.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= n_probe)
            .select(
                id_col,
                F.col("cell_id").cast("long").alias("cell_id"),
                F.col("__rk").cast("int").alias("__rk"),
            )
        )

    import numpy as np

    cent_rows = cent_df.select("cell_id", "__c").collect()
    # ascending cell_id order => a STABLE argsort on -sim breaks ties
    # by ascending cell_id, matching the window's orderBy exactly
    cent_rows.sort(key=lambda r: r["cell_id"])
    cell_ids = np.array([int(r["cell_id"]) for r in cent_rows], dtype=np.int64)
    C = np.array([list(r["__c"]) for r in cent_rows], dtype=np.float64)
    Cn = np.linalg.norm(C, axis=1)
    # zero-norm guard (same rule as the hof path): divide by 1 instead
    # of 0 — the dot is 0 there anyway, so the sim lands on exactly 0.0
    # rather than NaN, and both strategies rank degenerates identically.
    Cn = np.where(Cn == 0.0, 1.0, Cn)
    n_keep = min(n_probe, len(cell_ids))

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
            Xn = np.linalg.norm(X, axis=1)
            Xn = np.where(Xn == 0.0, 1.0, Xn)
            S = (X @ C.T) / (Xn[:, None] * Cn[None, :])
            order = np.argsort(-S, axis=1, kind="stable")[:, :n_keep]
            b = len(pdf)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy().repeat(n_keep),
                "cell_id": cell_ids[order].reshape(b * n_keep),
                "__rk": np.tile(np.arange(1, n_keep + 1, dtype=np.int32), b),
            })

    return e.select(id_col, "__v").mapInPandas(
        assign, schema=f"{id_col} long, cell_id long, __rk int"
    )


def ann_ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    centroid_stride: int | None = None,
    strategy: str = "auto",
    broadcast_threshold_bytes: int = ANN_BROADCAST_THRESHOLD_BYTES,
    salt_buckets: int = 8,
    train_iters: int = 0,
    assign_strategy: str = "auto",
    train_exact_mean: bool = False,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into ``n_cells`` inverted
    lists, then search each query vector only against its ``n_probe``
    nearest cells.

    Centroids are picked DETERMINISTICALLY as the vectors whose id is a
    multiple of ``stride`` (first ``n_cells`` of them) — no k-means RNG,
    so an external oracle can rebuild the identical index.
    ``train_iters=N`` refines them with N spherical-k-means Lloyd
    iterations (:func:`train_ivf_centroids`) — RNG-free and
    driver-coordinated, with only n_cells x dim scalars ever collected;
    the plan shape (assign -> co-group by cell -> verify within cell) is
    identical either way, but trained cells track the data's clusters,
    which is what recall-per-probe buys at 100 TB (measured by the
    ``ann_recall_ivf_trained`` catalog entry).

    Plan: centroid table is tiny -> broadcast to both the assignment and
    probe stages; the verification join repartitions the probe side by id
    (uniform) against the cell-member lists — broadcast when the lists
    fit (:func:`candidate_join` size gate), salted shuffle on the cell id
    at scale.
    """
    # Norm carried as a scalar column (NOT per-element pre-normalization,
    # which costs O(d^2) interpreted work per row): cosine per pair =
    # one dot fold + two scalar ops.
    raw = as_double_array(vec_col)
    e = df.select(F.col(id_col), raw.alias("__v")).withColumn(
        "__n", l2_norm(F.col("__v"))
    )
    stride = centroid_stride or 1
    if train_iters > 0:
        # persist the projection for the training loop: seed collect +
        # per-iteration assignment/mean passes + the final assignment all
        # read it (kept cached for the returned plan too — the same
        # stay-alive trade the minhash base projection makes for lazy
        # callers)
        e = tracked_persist(e, scope="similarity")
        trained = train_ivf_centroids(e, id_col, n_cells, train_iters, stride,
                                      exact_mean=train_exact_mean)
        cent = (
            local_frame(df.sparkSession, trained, "cell_id int, __c array<double>")
            .withColumn("__cn", l2_norm(F.col("__c")))
            .select(F.col("cell_id").cast("long").alias("cell_id"), "__c", "__cn")
        )
    else:
        cent = (
            e.filter((F.col(id_col) % stride == 0))
            .orderBy(id_col)
            .limit(n_cells)
            .select(
                F.col(id_col).alias("cell_id"),
                F.col("__v").alias("__c"),
                F.col("__n").alias("__cn"),
            )
        )
    # assignment: top-n_probe cells per vector (crossJoin+window below
    # the blas gate, Arrow matmul above it — see assign_topn_cells);
    # vectors/norms join back AFTER the rank filter, so no exchange
    # ever carries the vector n_cells times
    assign = assign_topn_cells(
        e.select(id_col, "__v"), id_col, cent.select("cell_id", "__c"),
        n_cells, n_probe, strategy=assign_strategy,
    )
    probed = assign.join(e, id_col).select(
        id_col, "__v", "__n", "cell_id", F.col("__rk").alias("__probe_rank")
    )
    # probed feeds both the inverted lists and the query side — persist so
    # the assignment pass (n x n_cells cosines) runs once, not twice
    probed = tracked_persist(probed, scope="similarity")
    # inverted lists: every vector belongs to its TOP-1 cell only
    lists = probed.filter(F.col("__probe_rank") == 1).select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "cell_id",
    )
    # gate on the corpus-sized projection `e`, NOT on `lists`: lists sits
    # above the assignment crossJoin, and Catalyst's size estimate for a
    # cross join is left_bytes x right_rows — ~n_cells-fold inflated, so
    # gating on it made the broadcast path unreachable even for tiny
    # corpora (caught by the PLANS.md audit flipping this entry to SMJ)
    strategy = resolve_candidate_strategy(e, strategy, broadcast_threshold_bytes)
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    qside = probed.repartition(nparts, id_col) if strategy == "broadcast" else probed
    queries = qside.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), "cell_id",
    )
    cand = candidate_join(
        queries, lists, "cell_id", strategy=strategy,
        broadcast_threshold_bytes=broadcast_threshold_bytes,
        salt_buckets=salt_buckets,
    ).filter(F.col("id_a") != F.col("id_b"))
    scored = cand.select(
        "id_a", "id_b",
        (dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")))
            .alias("cosine_sim"),
    )
    wk = Window.partitionBy("id_a").orderBy(F.desc("cosine_sim"), F.asc("id_b"))
    return (
        scored.withColumn("__rn", F.row_number().over(wk))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def knn_label_vote(
    df: DataFrame,
    query_filter: Column,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    salt_buckets: int = 64,
) -> DataFrame:
    """k-NN majority-vote classification: for every query row (selected
    by ``query_filter``), the majority label among its k nearest
    neighbors by cosine (query rows excluded from their own vote).
    Ties: higher vote count wins, then smaller label; neighbor-set ties
    break by (cosine desc, id asc).

    Scale shape: the query side broadcasts; norms ride as scalars so the
    per-candidate cosine is one fold + two scalar ops. Top-k runs in TWO
    phases so no single reducer sees a whole query's candidate list:
    phase 1 ranks within (query, salt) — ``salt_buckets`` spread-out
    partitions per query, each emitting <= k survivors; phase 2 ranks the
    k x salt_buckets survivors per query. The salt is a deterministic id
    hash, and any true top-k row is also top-k within its salt bucket,
    so the result is salt-invariant."""
    e = (
        df.select(F.col(id_col), as_double_array(vec_col).alias("v"), F.col(label_col))
        .withColumn("n", l2_norm(F.col("v")))
    )
    q = e.filter(query_filter).select(
        F.col(id_col).alias("qid"), F.col("v").alias("qv"), F.col("n").alias("qn")
    )
    scored = (
        e.join(F.broadcast(q), F.col(id_col) != F.col("qid"))
        .withColumn("c", dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("n")))
        .withColumn("__salt", F.crc32(F.col(id_col).cast("string")) % salt_buckets)
    )
    w1 = Window.partitionBy("qid", "__salt").orderBy(F.desc("c"), F.asc(id_col))
    w2 = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc(id_col))
    top = (
        scored.withColumn("__r1", F.row_number().over(w1)).filter(F.col("__r1") <= k)
        .withColumn("__r2", F.row_number().over(w2)).filter(F.col("__r2") <= k)
    )
    votes = top.groupBy("qid", label_col).agg(F.count(F.lit(1)).alias("votes"))
    wv = Window.partitionBy("qid").orderBy(F.desc("votes"), F.asc(label_col))
    return (
        votes.withColumn("__rv", F.row_number().over(wv)).filter(F.col("__rv") == 1)
        .select(
            F.col("qid").alias("query_id"),
            F.col(label_col).alias("predicted_label"),
            F.col("votes").cast("long").alias("votes"),
        )
    )


def containment_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Set-containment similarity join C(A,B) = |A∩B| / |A| >= threshold
    over k-word shingle sets, with PPJoin-style *prefix filtering*
    (Xiao et al., WWW'08 — public algorithm) instead of a quadratic
    cross join.

    Pigeonhole guarantee: order every document's shingles by global
    rarity (document frequency asc, shingle asc — a total order). If B
    contains NONE of A's first ``floor((1-t)*|A|) + 1`` shingles, then A
    misses more than ``(1-t)*|A|`` elements, so C(A,B) < t. Hence
    joining A-prefixes against the full inverted index is LOSSLESS —
    the output equals the brute-force result exactly, which is what the
    DuckDB oracle recomputes.

    Scale shape: candidate volume is bounded by the index lists of the
    *rarest* shingles of each doc (prefix tokens are chosen rarest-
    first), so hot shingles never drive the join; the exact verification
    runs once per distinct candidate pair.
    """
    sh = (
        df.select(F.col(id_col).alias("id"),
                  word_shingles(F.col(text_col), k).alias("s"))
        .filter(F.size("s") > 0)
    )
    # (id, shingles, prefix_len); persisted — feeds the inverted index,
    # the prefix extraction, and both sides of the verification join
    sized = tracked_persist(sh.withColumn(
        "plen",
        (F.floor((1.0 - threshold) * F.size("s")) + 1).cast("int"),
    ), scope="similarity")

    ex = sized.select("id", "plen", F.size("s").alias("sz"),
                      F.explode("s").alias("shingle"))
    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # one global total order (df asc, shingle asc) ranks BOTH sides, so
    # the smallest common element of any pair has consistent ranks
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("shingle"))
    ranked = ex.join(dfreq, "shingle").withColumn("r", F.row_number().over(w))
    prefix = ranked.filter(F.col("r") <= F.col("plen")).select(
        F.col("id").alias("id_a"), F.col("sz").alias("sz_a"),
        F.col("r").alias("r_a"), "shingle",
    )
    inverted = ranked.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("sz_b"), F.col("r").alias("r_b"), "shingle",
    )
    # PPJoin pruning, both lossless (a true pair always survives via its
    # smallest-ranked common shingle):
    #   length:   |A∩B| <= |B|            -> need sz_b >= t*sz_a
    #   position: |A∩B| <= min(sz_a - r_a, sz_b - r_b) + 1 at the first
    #             common element (all other common elements rank later
    #             on both sides under the shared global order)
    cand = (
        prefix.join(inverted, "shingle")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("sz_b") >= threshold * F.col("sz_a"))
            & (F.least(F.col("sz_a") - F.col("r_a"),
                       F.col("sz_b") - F.col("r_b")) + 1
               >= threshold * F.col("sz_a"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = sized.select(F.col("id").alias("id_a"), F.col("s").alias("sa"))
    b = sized.select(F.col("id").alias("id_b"), F.col("s").alias("sb"))
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "containment",
            F.size(F.array_intersect("sa", "sb")).cast("double") / F.size("sa"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


# ===========================================================================
# Product quantization — the memory-compression ANN path
# ===========================================================================

def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance between two array<double> columns, as the
    same deterministic left fold as :func:`dot`."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def train_pq_codebooks(
    e: DataFrame,
    id_col: str,
    dim: int,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 1,
    train_sample_max: int = 65536,
    exact_mean: bool = False,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jegou et al. 2011, "Product
    Quantization for Nearest Neighbor Search" — public method): the
    ``dim``-dimensional space splits into ``m`` subspaces of ``dim/m``
    dims; each subspace gets ``k_codes`` centroids via driver-coordinated
    Lloyd iterations (same RNG-free pattern as
    :func:`train_ivf_centroids`: deterministic first-k seeds, assignment
    distributed, only m x k_codes x dim/m scalars collected per
    iteration — all subspaces train in ONE joint pass per iteration).

    ``e`` must carry (id_col, __v: array<double>). The vectors may be
    unit-normed inputs (:func:`ann_pq_topk`: squared L2 on the unit
    sphere == cosine ranking) or RAW cell residuals
    (:func:`ann_ivfpq_topk`: residuals must NOT be re-normalized — the
    ADC identity ||q-v|| == ||(q-c)-(v-c)|| only holds for raw
    residuals). Returns ``codebooks[subspace][code] = centroid`` (list
    of dim/m floats). With the default float ``avg`` the loop is
    summation-order sensitive (rows-only treatment downstream);
    ``exact_mean=True`` swaps in :func:`exact_mean_agg` — the
    order-independent quantized-integer mean — making the books
    bit-deterministic and SQL-restatable, so PQ recall entries can be
    value-hash-gated.
    """
    sub = dim // m
    # cap the training set: codebook quality saturates at a few
    # thousand samples per code (k_codes=16 needs nowhere near the
    # corpus), and an uncapped Lloyd pass scans EVERYTHING — at 100 TB
    # that is the difference between a bounded training job and a
    # full-corpus iteration. The subset is hash-spread (deterministic,
    # engine-independent) for the same residual-bias reason as the
    # seeds below; corpora at or under the cap train on every row,
    # bit-identically to the uncapped behavior.
    if train_sample_max > 0:
        n = e.count()
        if n > train_sample_max:
            stride = -(-n // train_sample_max)  # ceil
            e = e.filter(
                F.pmod(hash60(F.col(id_col).cast("string")), F.lit(stride)) == 0
            )
    # seeds spread by id HASH, not id order: in the IVFPQ composition
    # the lowest ids ARE the cell centroids, so their residuals are all
    # zero and id-ordered seeding hands Lloyd k identical zero centroids
    # — the codebook collapses to one used code and ADC degenerates to
    # ties (measured: recall flat at ~0.06 regardless of n_probe).
    # Hash order is deterministic and engine-independent.
    seed_rows = (
        e.orderBy(hash60(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k_codes).select("__v").collect()
    )
    if not seed_rows:
        raise ValueError("train_pq_codebooks: no input vectors to train on")
    if len(seed_rows) < k_codes:
        # fewer vectors than requested codes (tiny corpus or a small IVF
        # cell): clamp like the n_probe guard instead of IndexError-ing
        # mid-build — callers re-derive the effective k_codes from
        # len(codebooks[0])
        k_codes = len(seed_rows)
    books = [
        [list(r["__v"])[i * sub:(i + 1) * sub] for r in seed_rows]
        for i in range(m)
    ]
    for _ in range(iters):
        book_df = local_frame(
            e.sparkSession,
            [
                (i, j, books[i][j])
                for i in range(m)
                for j in range(k_codes)
            ],
            "sub_id int, code int, __c array<double>",
        )
        subs = e.select(
            F.col(id_col),
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("sub_id"),
                        F.slice("__v", i * sub + 1, sub).alias("__s"),
                    )
                    for i in range(m)
                ])
            ).alias("x"),
        ).select(id_col, "x.sub_id", "x.__s")
        assigned = (
            subs.join(F.broadcast(book_df), "sub_id")
            .withColumn("__d", _sq_l2(F.col("__s"), F.col("__c")))
        )
        w = Window.partitionBy(id_col, "sub_id").orderBy(
            F.asc("__d"), F.asc("code")
        )
        mean_agg = (exact_mean_agg(F.col("val")) if exact_mean
                    else F.avg("val"))
        means = (
            assigned.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select("sub_id", "code", F.posexplode("__s").alias("pos", "val"))
            .groupBy("sub_id", "code", "pos")
            .agg(mean_agg.alias("mv"))
            .collect()
        )
        new_books = [[list(c) for c in bk] for bk in books]  # empty codes keep previous
        for r in means:
            new_books[r["sub_id"]][r["code"]][r["pos"]] = r["mv"]
        books = new_books
    return books


def _pq_books_sql(codebooks: list[list[list[float]]]) -> str:
    """The codebooks as ONE nested-array SQL literal
    (``array(array(array(double...)))``). Catalyst constant-folds the
    CreateArray tree into a single Literal during optimization, so
    codegen references one JVM array object instead of m x k_codes x
    dim/m inline constants — the inline-constant formulation this
    replaced exceeded Janino's method limits at m=8/k=16/dim=64 and
    fell back to interpreted eval (measured: ~2x slower pair scans),
    and the pyspark-Column formulation before THAT cost ~10s of
    driver time per plan in py4j round-trips."""
    return "array(" + ",".join(
        "array(" + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in cb) + ")"
            for cb in bk
        ) + ")"
        for bk in codebooks
    ) + ")"


def _pq_dists_sql(vec_name: str, books_sql: str, sub: int) -> str:
    """SQL text for the per-subspace distance arrays:
    ``transform(books, (bk, i) -> transform(bk, c -> sqL2(slice(vec), c)))``
    — entry [i][j] is the squared L2 between the vector's subspace-i
    slice and centroid (i, j), with the identical deterministic left
    fold as :func:`_sq_l2`."""
    return (
        f"transform({books_sql}, (bk, i) -> "
        f"transform(bk, c -> aggregate("
        f"zip_with(slice(`{vec_name}`, i * {sub} + 1, {sub}), c, "
        f"(x, y) -> (x - y) * (x - y)), "
        f"cast(0.0 as double), (acc, x) -> acc + x)))"
    )


#: Corpus size at which PQ encoding switches from the Column-HOF
#: expression to the Arrow-batched numpy path: the HOF evaluates
#: n x m x k_codes x dim/m interpreted fold steps (204M at 200k rows
#: with m=8/k=16/dim=64, ~10s on local[32]) while the batched matmul
#: form is a few BLAS calls per Arrow batch. Below the gate the
#: all-JVM expression keeps the plan free of Python stages.
PQ_ENCODE_BLAS_MIN_ROWS = 50_000


def pq_codes_blas(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    out_col: str = "__codes",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """PQ-encode a corpus with Arrow-batched numpy: per subspace the
    argmin code via the factored distance ``-2 s.C^T + ||c||^2`` (the
    ||s||^2 term is constant per row and cannot change the argmin).
    Emits (id_col, *passthrough, out_col: array<int>). Ranking-only
    arithmetic — ties between distinct centroids at float precision are
    the only way this can differ from :func:`pq_encode_col`, and the
    equality is asserted over the test corpus in
    tests/test_dedup_similarity.py."""
    import numpy as np

    m = len(codebooks)
    sub = len(codebooks[0][0])
    Cs = [np.array(bk, dtype=np.float64) for bk in codebooks]  # k x sub each
    C2s = [(C * C).sum(axis=1) for C in Cs]
    passthrough = passthrough or []

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for i in range(m):
                S = X[:, i * sub:(i + 1) * sub]
                D = -2.0 * (S @ Cs[i].T) + C2s[i][None, :]
                codes[:, i] = np.argmin(D, axis=1)  # first min on ties
            out = {id_col: pdf[id_col].to_numpy()}
            for c in passthrough:
                out[c] = pdf[c].to_numpy()
            out[out_col] = list(codes)
            yield pd.DataFrame(out)

    extra = "".join(f", {c} long" for c in passthrough)
    return df.select(id_col, *passthrough, vec_col).mapInPandas(
        encode, schema=f"{id_col} long{extra}, {out_col} array<int>"
    )


def pq_encode_col(vec_name: str, codebooks: list[list[list[float]]]) -> Column:
    """PQ code array for one vector column: per subspace, the argmin-
    distance codebook index — no shuffle, evaluated in the scan stage.
    The encoded corpus is m small ints per vector: for dim=64 float
    vectors and m=8, that is a 32x size reduction, which is the whole
    point — corpus-side structures that could never broadcast as raw
    vectors ship as codes. Built as one small HOF expression over the
    constant-folded codebook literal (see :func:`_pq_books_sql` for
    why not inline constants or pyspark Column calls); ``vec_name`` is
    the column NAME the expression references."""
    sub = len(codebooks[0][0])
    dists = _pq_dists_sql(vec_name, _pq_books_sql(codebooks), sub)
    return F.expr(
        f"transform({dists}, d -> "
        f"cast(array_position(d, array_min(d)) - 1 as int))"
    )


def pq_distance_table_col(vec_name: str, codebooks: list[list[list[float]]]) -> Column:
    """Flat ADC distance table for one query vector: entry
    ``i * k_codes + j`` = squared L2 between the query's subvector i and
    codebook centroid (i, j). Computed once per query row; every
    query-corpus pair then costs m array lookups instead of dim
    multiplies (asymmetric distance computation). Same constant-folded
    HOF construction (and rationale) as :func:`pq_encode_col`."""
    sub = len(codebooks[0][0])
    dists = _pq_dists_sql(vec_name, _pq_books_sql(codebooks), sub)
    return F.expr(f"flatten({dists})")


def pq_train_books(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k_codes: int = 16,
    train_iters: int = 1,
    exact_mean: bool = False,
) -> list[list[list[float]]]:
    """Train flat-PQ codebooks on the unit-normalized corpus, exactly
    as :func:`ann_pq_topk` does internally — the share point for
    callers that evaluate several PQ configurations over ONE corpus
    (e.g. ann_recall_pq runs rerank on/off over the same books): the
    Lloyd loop is several driver round-trips, so training once and
    passing the result via ``codebooks=`` halves the per-method setup
    cost without changing any output (the training is deterministic)."""
    raw = df.select(
        F.col(id_col), as_double_array(vec_col).alias("__r")
    ).withColumn("__nrm", l2_norm(F.col("__r")))
    e = tracked_persist(
        raw.select(
            F.col(id_col),
            F.transform("__r", lambda x: x / F.col("__nrm")).alias("__v"),
        ),
        scope="similarity",
    )
    try:
        return train_pq_codebooks(e, id_col, dim, m, k_codes, train_iters,
                                  exact_mean=exact_mean)
    finally:
        tracked_release(e)


def resolve_pq_route(
    n_rows: int,
    m: int,
    broadcast_threshold_bytes: int = ANN_BROADCAST_THRESHOLD_BYTES,
) -> str:
    """Gate for :func:`ann_pq_topk`: ``"flat"`` while the encoded corpus
    (one m-byte-ish code array per row, ~24B array overhead + 4B/int)
    fits the broadcast budget, else ``"ivfpq"``. Mirrors
    :func:`resolve_candidate_strategy` — the decision is an explicit,
    testable function, not a docstring warning."""
    est = n_rows * (24 + 4 * m)
    return "flat" if est <= broadcast_threshold_bytes else "ivfpq"


def ann_pq_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    m: int = 8,
    k_codes: int = 16,
    train_iters: int = 1,
    rerank: int | None = None,
    broadcast_threshold_bytes: int = ANN_BROADCAST_THRESHOLD_BYTES,
    on_overflow: str = "ivfpq",
    codebooks: list[list[list[float]]] | None = None,
    train_exact_mean: bool = False,
) -> DataFrame:
    """Approximate top-k by product quantization with asymmetric
    distance (ADC): vectors unit-normalize, codebooks train (driver-
    coordinated Lloyd), the CORPUS side collapses to m-byte code arrays
    and broadcasts (32x smaller than raw vectors — the structure that
    makes a broadcast viable at corpus sizes where raw vectors cannot
    ship), queries carry a per-row distance table, and each pair costs
    m lookups instead of dim multiplies. Squared-L2-on-unit-sphere
    ranking == cosine ranking. Returns (id_a, id_b) per query's
    approximate top-k; recall is measured (not assumed) by the
    ann_recall_pq catalog entry.

    Pair ENUMERATION here is still all-pairs (every query scans every
    code) — this is the flat-PQ baseline, 8x cheaper per pair than the
    exact scan but the same O(queries x corpus) pair count. The scale
    path that bounds the pair count is :func:`ann_ivfpq_topk` (IVF
    cells restrict candidates; PQ codes price them) — and the gate is
    ENFORCED, not advisory: when the encoded corpus outgrows
    ``broadcast_threshold_bytes`` (:func:`resolve_pq_route`), the call
    auto-composes :func:`ann_ivfpq_topk` with sqrt(n) cells
    (``on_overflow="ivfpq"``, default) or raises with guidance
    (``on_overflow="error"``), mirroring :func:`candidate_join`'s
    size gate.

    ``rerank``: the standard PQ deployment — ADC shortlists the top
    ``rerank`` (> k) candidates per query, then ONLY those pairs pay an
    exact cosine (joining the raw vectors back for the shortlist), and
    the final top-k comes off the exact scores. Recall rises sharply
    (quantization error only costs a hit if the true neighbor falls out
    of the whole shortlist) while exact-distance work stays
    O(rerank x dim) per query instead of O(corpus x dim).

    ``codebooks``: pre-trained books (from :func:`pq_train_books` on
    the SAME corpus/m/k_codes) skip the internal training pass — the
    Lloyd loop costs several driver round-trips, so callers evaluating
    multiple knob settings over one corpus (the recall entries) train
    once and share."""
    if on_overflow not in ("ivfpq", "error"):
        raise ValueError(f"ann_pq_topk: unknown on_overflow={on_overflow!r}")
    raw = df.select(
        F.col(id_col), as_double_array(vec_col).alias("__r")
    ).withColumn("__nrm", l2_norm(F.col("__r")))
    e = raw.select(
        F.col(id_col),
        F.transform("__r", lambda x: x / F.col("__nrm")).alias("__v"),
    )
    e = tracked_persist(e, scope="similarity")
    n_rows = e.count()  # materializes the cache training reuses anyway
    if resolve_pq_route(n_rows, m, broadcast_threshold_bytes) == "ivfpq":
        tracked_release(e)
        if on_overflow == "error":
            raise ValueError(
                f"ann_pq_topk: encoded corpus of {n_rows} rows exceeds the "
                f"{broadcast_threshold_bytes}B broadcast budget — flat ADC "
                "enumeration is O(queries x corpus); use ann_ivfpq_topk "
                "(IVF cells bound the candidates) or raise the threshold"
            )
        n_cells = max(16, int(n_rows ** 0.5))
        return ann_ivfpq_topk(
            df, id_col, vec_col, k=k, dim=dim,
            n_cells=n_cells, n_probe=max(2, n_cells // 8),
            m=m, k_codes=k_codes, pq_train_iters=train_iters, rerank=rerank,
            broadcast_threshold_bytes=broadcast_threshold_bytes,
            pq_train_exact_mean=train_exact_mean,
        )
    books = codebooks if codebooks is not None else train_pq_codebooks(
        e, id_col, dim, m, k_codes, train_iters,
        exact_mean=train_exact_mean)
    k_codes = len(books[0])  # may have clamped to the corpus size
    if n_rows >= PQ_ENCODE_BLAS_MIN_ROWS:
        codes = pq_codes_blas(e, id_col, "__v", books).select(
            F.col(id_col).alias("id_b"), "__codes"
        )
    else:
        codes = e.select(
            F.col(id_col).alias("id_b"),
            pq_encode_col("__v", books).alias("__codes"),
        )
    q = e.select(
        F.col(id_col).alias("id_a"),
        pq_distance_table_col("__v", books).alias("__dt"),
    )
    pairs = q.join(F.broadcast(codes), F.col("id_a") != F.col("id_b"))
    idx = F.sequence(F.lit(0), F.lit(m - 1))
    approx = F.aggregate(
        F.zip_with(
            F.col("__codes"), idx,
            lambda c, i: F.element_at(F.col("__dt"), (i * k_codes + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("id_a").orderBy(F.asc("__ad"), F.asc("id_b"))
    shortlist_n = max(rerank, k) if rerank else k
    # project down to (id_a, id_b, __ad) BEFORE the ranking window: the
    # row_number shuffle would otherwise carry the per-query distance
    # table (m*k_codes doubles, ~1 KiB/row) and the code array through
    # the exchange — at 4M pairs that is gigabytes of shuffle for three
    # needed columns (measured 60s -> 8s at sf0.1).
    shortlist = (
        pairs.select("id_a", "id_b", approx.alias("__ad"))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= shortlist_n)
        .select("id_a", "id_b")
    )
    if not rerank:
        return shortlist
    va = e.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"))
    vb = e.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"))
    exact = (
        shortlist.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("__cos", dot(F.col("__va"), F.col("__vb")))  # unit vectors
    )
    w2 = Window.partitionBy("id_a").orderBy(F.desc("__cos"), F.asc("id_b"))
    return (
        exact.withColumn("__rk2", F.row_number().over(w2))
        .filter(F.col("__rk2") <= k)
        .select("id_a", "id_b")
    )


def ann_ivfpq_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_cells: int = 16,
    n_probe: int = 2,
    m: int = 8,
    k_codes: int = 16,
    pq_train_iters: int = 1,
    rerank: int | None = None,
    strategy: str = "auto",
    broadcast_threshold_bytes: int = ANN_BROADCAST_THRESHOLD_BYTES,
    salt_buckets: int = 8,
    query_filter: Column | None = None,
    assign_strategy: str = "auto",
    pq_train_exact_mean: bool = False,
) -> DataFrame:
    """IVF + PQ composed — the production-scale ANN shape: IVF cells
    restrict WHICH pairs are considered (n_probe cells per query, never
    all-pairs), PQ codes decide HOW CHEAPLY each considered pair is
    scored (m table lookups), and the optional exact re-rank buys
    recall back for the shortlist only.

    The corpus-side structure is (cell_id, id, codes): m small ints per
    vector — 32x smaller than raw floats for dim=64/m=8, which moves
    the broadcast-vs-shuffle gate 32x further out; past it, the same
    salted :func:`candidate_join` machinery as the raw-vector paths
    takes over.

    Codes quantize the cell RESIDUAL (v - cell centroid), the classic
    IVFPQ formulation (Jegou et al. 2011 §IV): on clustered corpora the
    vectors themselves all quantize to the cluster centers, every
    within-cluster member gets identical codes, and ADC cannot rank
    inside a cluster at all (measured on the 32-cluster synthetic
    embeddings: vector-coded recall ~0.05-0.07 flat in n_probe;
    residual coding dedicates the whole code budget to within-cell
    variance). Distances stay exact in expectation because query and
    candidate share the probed cell: ||q - v|| == ||(q - c) - (v - c)||.
    Recall is measured, not assumed, alongside the other methods in
    the recall entries.

    ``query_filter`` narrows the probe side to a query workload and is
    evaluated against the internal assignment projection — it may
    reference ONLY ``id_col`` (e.g. ``F.col("vec_id") % 100 == 0``),
    not other input columns; pre-filter ``df`` itself for anything
    richer (at the cost of also shrinking the corpus). The internal
    ``persist()`` calls stay alive into the returned lazy plan — the
    same convention as :func:`minhash_lsh_pairs`: lazy callers keep
    the cache until their own first action."""
    if n_probe < 1:
        raise ValueError("ann_ivfpq_topk: n_probe must be >= 1")
    raw = df.select(
        F.col(id_col), as_double_array(vec_col).alias("__r")
    ).withColumn("__nrm", l2_norm(F.col("__r")))
    e = raw.select(
        F.col(id_col),
        F.transform("__r", lambda x: x / F.col("__nrm")).alias("__v"),
    )
    e = tracked_persist(e, scope="similarity")
    cent = (
        e.orderBy(id_col).limit(n_cells)
        .select(
            F.row_number().over(Window.orderBy(id_col)).alias("cell_id"),
            F.col("__v").alias("__c"),
        )
    )
    # top-n_probe cell assignment: crossJoin+window below the blas
    # gate, Arrow matmul above it (assign_topn_cells) — at 1024 cells x
    # 200k vectors the interpreted dot folds alone cost ~80s while the
    # batched matmul is ~1s of BLAS with no ranking exchange at all.
    # Vectors and centroids join back AFTER the top-rank filter, at
    # n_probe rows per vector, so no exchange carries the vector
    # n_cells times.
    ranked = tracked_persist(
        assign_topn_cells(
            e.select(id_col, "__v"), id_col, cent.select("cell_id", "__c"),
            n_cells, n_probe, strategy=assign_strategy,
        ),
        scope="similarity",
    )
    residual = F.zip_with(F.col("__v"), F.col("__c"), lambda x, y: x - y)

    def with_residual(assign: DataFrame) -> DataFrame:
        return (
            assign.join(e, id_col)
            .join(F.broadcast(cent), "cell_id")
            .select(F.col(id_col), "cell_id", residual.alias("__res"))
        )

    # codebooks train on the RESIDUALS of the top-1 assignment
    res1 = tracked_persist(
        with_residual(ranked.filter(F.col("__rk") == 1)), scope="similarity"
    )
    n_corpus = res1.count()  # materializes the cache; gates the encode path
    books = train_pq_codebooks(
        res1.select(F.col(id_col), F.col("__res").alias("__v")),
        id_col, dim, m, k_codes, pq_train_iters,
        exact_mean=pq_train_exact_mean,
    )
    k_codes = len(books[0])  # may have clamped to the corpus size
    if n_corpus >= PQ_ENCODE_BLAS_MIN_ROWS:
        lists = pq_codes_blas(
            res1, id_col, "__res", books, passthrough=["cell_id"]
        ).select("cell_id", F.col(id_col).alias("id_b"), "__codes")
    else:
        lists = res1.select(
            "cell_id",
            F.col(id_col).alias("id_b"),
            pq_encode_col("__res", books).alias("__codes"),
        )
    # query_filter narrows the PROBE side only (the realistic workload:
    # a query set searching the full corpus); the corpus lists, books,
    # and cell assignment always cover every vector. The query's
    # distance table is PER PROBED CELL (its residual is against that
    # cell's centroid — n_probe tables per query, m x k_codes doubles
    # each), which is what keeps ADC exact across cells.
    probe_src = ranked if query_filter is None else ranked.filter(query_filter)
    # persist the probe tables: candidate_join's strategy resolution and
    # the pair scan both reference this subtree, and recomputing it means
    # re-running the residual joins + m x k_codes table folds per probe
    # (measured: the composed lazy DAG cost ~3x the sum of its stages at
    # 200k before this). n_probe rows per query x m*k_codes doubles —
    # small relative to the corpus by construction.
    probes = tracked_persist(
        with_residual(probe_src).select(
            F.col(id_col).alias("id_a"),
            "cell_id",
            pq_distance_table_col("__res", books).alias("__dt"),
        ),
        scope="similarity",
    )
    cand = candidate_join(
        probes, lists, "cell_id", strategy=strategy,
        broadcast_threshold_bytes=broadcast_threshold_bytes,
        salt_buckets=salt_buckets,
    ).filter(F.col("id_a") != F.col("id_b"))
    idx = F.sequence(F.lit(0), F.lit(m - 1))
    approx = F.aggregate(
        F.zip_with(
            F.col("__codes"), idx,
            lambda c, i: F.element_at(F.col("__dt"), (i * k_codes + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wk = Window.partitionBy("id_a").orderBy(F.asc("__ad"), F.asc("id_b"))
    shortlist_n = max(rerank, k) if rerank else k
    # same projection-before-window rule as ann_pq_topk: drop the
    # per-cell distance tables and code arrays before the ranking
    # exchange — only (id_a, id_b, __ad) shuffles.
    shortlist = (
        cand.select("id_a", "id_b", approx.alias("__ad"))
        .withColumn("__rn", F.row_number().over(wk))
        .filter(F.col("__rn") <= shortlist_n)
        .select("id_a", "id_b")
    )
    if not rerank:
        return shortlist
    va = e.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"))
    vb = e.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"))
    exact = (
        shortlist.join(va, "id_a").join(vb, "id_b")
        .withColumn("__cos", dot(F.col("__va"), F.col("__vb")))
    )
    w2 = Window.partitionBy("id_a").orderBy(F.desc("__cos"), F.asc("id_b"))
    return (
        exact.withColumn("__rk2", F.row_number().over(w2))
        .filter(F.col("__rk2") <= k)
        .select("id_a", "id_b")
    )


#: Hard cap on the corpus side of the exact ground-truth scan — it is
#: an evaluation harness, and past this size the correct move is a
#: query SAMPLE against the full corpus (the standard ANN-benchmark
#: shape, e.g. tools/scale_stress.py's 100-query truth), not a bigger
#: all-pairs run.
EXACT_TOPK_MAX_ROWS = 200_000


def exact_topk_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    query_filter: Column | None = None,
) -> DataFrame:
    """Exact per-vector cosine top-k over the whole table (self excluded)
    — the ground truth the recall entries compare against, and the
    k-NN-graph construction primitive (ann_index.build_knn_graph).
    All-pairs by construction: only run on sampled/query-subset frames
    at scale (the standard ANN evaluation shape — ground truth over a
    probe sample, never the full corpus); corpora past
    :data:`EXACT_TOPK_MAX_ROWS` raise instead of silently running an
    unbounded quadratic scan.

    Computed as an Arrow-batched matmul against the collected corpus
    matrix (bounded by the cap — 1 MB at the bench corpus): each batch
    scores X @ C.T once in BLAS instead of 4M interpreted dot folds,
    and the per-query top-k is a stable argsort (ties broken by
    ascending id, exactly the ranking the previous crossJoin+window
    formulation produced — hashes of the consuming oracle entry are
    unchanged at all three SFs).

    ``query_filter`` restricts the QUERY side only (the corpus stays
    the full table) — the standard ANN-benchmark shape at scale:
    ground-truth a probe sample against everything. The in-worker
    matmul is CHUNKED so the score block stays ~64 MB regardless of
    corpus size — at the 200k cap an unchunked Arrow batch would
    materialize a batch x corpus block of several GB per task
    (measured: worker OOM crash at 6250-row batches x 200k corpus)."""
    import numpy as np

    e = df.select(F.col(id_col), as_double_array(vec_col).alias("__v"))
    # size-gate BEFORE the collect — checking len(collect()) after the
    # fact cannot prevent the driver-memory blowup the cap exists for.
    # limit(cap+1).count() reads at most cap+1 ids, never the vectors.
    probe = e.select(id_col).limit(EXACT_TOPK_MAX_ROWS + 1).count()
    if probe > EXACT_TOPK_MAX_ROWS:
        raise ValueError(
            f"exact_topk_pairs: corpus exceeds the "
            f"{EXACT_TOPK_MAX_ROWS}-row harness cap — ground-truth a "
            "query sample against the full corpus instead"
        )
    corpus = e.collect()
    corpus.sort(key=lambda r: r[id_col])  # stable argsort => id asc on ties
    ids = np.array([r[id_col] for r in corpus], dtype=np.int64)
    C = np.array([list(r["__v"]) for r in corpus], dtype=np.float64)
    Cn = np.linalg.norm(C, axis=1)
    n_keep = min(k, len(ids) - 1)
    # rows per matmul chunk: ~64 MB of score doubles (8M cells)
    chunk = max(1, 8_000_000 // max(len(ids), 1))

    def topk(batches):
        import pandas as pd

        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                part = pdf.iloc[lo:lo + chunk]
                if len(part) == 0:
                    continue
                X = np.vstack(
                    [np.asarray(v, dtype=np.float64) for v in part["__v"]])
                Xn = np.linalg.norm(X, axis=1)
                S = (X @ C.T) / (Xn[:, None] * Cn[None, :])
                qids = part[id_col].to_numpy()
                S[qids[:, None] == ids[None, :]] = -np.inf  # self excluded
                order = np.argsort(-S, axis=1, kind="stable")[:, :n_keep]
                yield pd.DataFrame({
                    "id_a": qids.repeat(n_keep),
                    "id_b": ids[order].reshape(len(part) * n_keep),
                })

    q = e if query_filter is None else e.filter(query_filter)
    return q.mapInPandas(topk, schema="id_a long, id_b long")


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    num_planes: int = 6,
    dim: int = 64,
    seed: int = 424242,
    strategy: str = "auto",
    broadcast_threshold_bytes: int = ANN_BROADCAST_THRESHOLD_BYTES,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    partition the corpus into semantic buckets (hyperplane-LSH sign
    bits — deterministic, no trained k-means, so the result is
    reproducible across engines and runs), then inside each bucket drop
    every vector whose cosine similarity to a LOWER-id vector in the
    same bucket reaches ``threshold``. Returns the full decision table
    ``(id, bucket, kept)`` so callers can either filter to the kept
    set or audit the drop rate per bucket.

    This is the embedding analogue of keep-lowest-id exact dedup
    (dedup.py keep_canonical): "semantically duplicated" replaces
    "byte-identical", the lowest id in each similarity neighborhood
    survives. The lower-id rule is a deterministic variant of the
    SemDeDup paper's greedy within-cluster pruning (Abbas et al. 2023,
    arXiv:2303.09540): greedy-sequential would re-check each candidate
    only against already-KEPT vectors; checking against all lower ids
    prunes at least as much and needs no sequential dependency, so it
    stays one bucketed self-join — the property that lets it run as a
    single shuffle at corpus scale (candidate volume ~n^2/2^planes,
    size-gated broadcast vs salted shuffle like every other bucket
    join in this module).
    """
    # the incremental operator with an EMPTY corpus is exactly this
    # operator (equality pinned in tests), and its persisted batch prep
    # serves probe, build, and decision join from ONE scan instead of
    # the three separate reads the standalone formulation paid
    return semantic_dedup_incremental(
        df, df.limit(0), id_col, vec_col, threshold=threshold,
        num_planes=num_planes, dim=dim, seed=seed, strategy=strategy,
        broadcast_threshold_bytes=broadcast_threshold_bytes,
    )


def semantic_dedup_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    num_planes: int = 6,
    dim: int = 64,
    seed: int = 424242,
    strategy: str = "auto",
    broadcast_threshold_bytes: int = ANN_BROADCAST_THRESHOLD_BYTES,
    salt_buckets: int = 8,
) -> DataFrame:
    """Incremental SemDeDup: admit only the batch vectors that are NOT
    cosine-similar (>= threshold) to the existing corpus or to a
    lower-id batch vector in the same semantic bucket — the embedding
    mirror of incremental_ingest_dedup's asymmetric MinHash band join.
    Returns the batch decision table ``(id, bucket, kept)``.

    The scale property this preserves: the CORPUS NEVER SELF-PAIRS.
    Candidates are batch-bucket x (corpus + batch) — per daily ingest
    the cost is O(|batch| x bucket density), flat in corpus size beyond
    the bucket lookup, instead of the O(n^2/2^planes) full-corpus
    self-join a naive "union then dedup" would re-pay every day. The
    batch-vs-batch half keeps the same lower-id rule as
    :func:`semantic_dedup`; the batch-vs-corpus half drops the batch
    side unconditionally (the corpus is already canonical). The
    bucket join is size-gated broadcast vs salted shuffle like every
    candidate join in this module."""
    planes = hyperplanes(num_planes, dim, seed)

    def prep(df: DataFrame) -> DataFrame:
        raw = as_double_array(vec_col)
        return (
            df.select(F.col(id_col), raw.alias("__v"))
            .withColumn("__n", l2_norm(F.col("__v")))
            .withColumn("__b", lsh_bucket(F.col("__v"), planes))
        )

    # the batch projection feeds three consumers (probe, build half,
    # final decision join) — persist so one scan serves all; release
    # with release_scope("similarity")
    eb = tracked_persist(prep(batch), scope="similarity")
    # same probe-spread as embed_neardup_pairs: under the broadcast
    # strategy a cluster-ordered batch would concentrate the heaviest
    # buckets in a few input partitions — spread probes by id first
    nparts = int(batch.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    a = eb.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"),
                  F.col("__n").alias("__na"), "__b")
    # build side: corpus rows always dominate; batch rows only via the
    # lower-id rule (flagged so the filter can tell them apart)
    ec = prep(corpus).select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "__b", F.lit(True).alias("__is_corpus"))
    eb_b = eb.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "__b", F.lit(False).alias("__is_corpus"))
    build = ec.unionByName(eb_b)

    strategy = resolve_candidate_strategy(build, strategy,
                                          broadcast_threshold_bytes)
    if strategy == "broadcast":
        a = a.repartition(nparts, "id_a")
    cand = candidate_join(
        a, build, "__b", strategy=strategy,
        broadcast_threshold_bytes=broadcast_threshold_bytes,
        salt_buckets=salt_buckets,
    ).filter(F.col("__is_corpus") | (F.col("id_b") < F.col("id_a")))
    dropped = (
        cand.withColumn(
            "__cos",
            dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        )
        .filter(F.col("__cos") >= F.lit(threshold))
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return (
        eb.select(id_col, F.col("__b").alias("bucket"))
        .join(dropped.withColumn("__drop", F.lit(True)), on=id_col, how="left")
        .select(id_col, "bucket",
                F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept"))
    )


def recommend_planes(n_vectors: int, target_bucket_size: int = 64) -> int:
    """Plane count that keeps expected hyperplane-LSH bucket size near
    ``target_bucket_size`` for an ``n_vectors`` corpus: buckets double
    per plane, so planes = ceil(log2(n / target)). The knob every
    bucketed similarity operator (ann_lsh_topk, embed_neardup_pairs,
    semantic_dedup*) should be fed at scale — candidate volume tracks
    n * bucket_size, so a fixed plane count that is right at 10^5
    vectors is 1000x too coarse at 10^8. Clamped to [1, 30]; recall
    degrades as planes grow (near-neighbors split across buckets), so
    pair a high plane count with multi-probe or a rerank stage."""
    if n_vectors < 1:
        raise ValueError(f"n_vectors must be >= 1, got {n_vectors}")
    if target_bucket_size < 1:
        raise ValueError(
            f"target_bucket_size must be >= 1, got {target_bucket_size}")
    import math

    if n_vectors <= target_bucket_size:
        return 1
    return min(30, max(1, math.ceil(math.log2(n_vectors / target_bucket_size))))


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — the 4x-compressed vector representation
# ---------------------------------------------------------------------------

def sq8_train_bounds(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> tuple[list[float], list[float]]:
    """Per-dimension [min, max] over the corpus in ONE pass:
    posexplode + groupBy(pos) with two aggregates. Identical values to
    the former 2*dim scalar aggregates over array extracts (same
    F.min/F.max semantics per position; a short array contributes no
    row for its missing positions, exactly like the out-of-bounds null
    the old form ignored), but the plan is two expressions instead of
    2*dim — which cuts per-invocation driver construction from ~1.5s
    to milliseconds (guide §1.2). The explode feeds a map-side partial
    aggregate (dim groups), so only dim rows per task ever shuffle —
    a straight scan at any corpus size (the same shape at 100 TB)."""
    prows = (
        df.select(F.posexplode(as_double_array(vec_col))
                  .alias("__pos", "__val"))
        .filter(F.col("__pos") < dim)
        .groupBy("__pos")
        .agg(F.min("__val").alias("mn"), F.max("__val").alias("mx"))
        .collect()
    )
    by_pos = {int(r["__pos"]): r for r in prows}
    if len(by_pos) != dim:
        raise ValueError(
            f"sq8: expected {dim} vector positions, found {len(by_pos)}")
    mins = [float(by_pos[i]["mn"]) for i in range(dim)]
    maxs = [float(by_pos[i]["mx"]) for i in range(dim)]
    return mins, maxs


def sq8_quantize(
    vec: Column | str, mins: list[float], maxs: list[float]
) -> Column:
    """8-bit scalar quantization: ``q_i = floor((x_i - mn_i) / span_i *
    255 + 0.5)`` clamped to [0, 255] (0 where ``span_i == 0``).

    Returned as ``array<int>`` for inspectability; a production sink
    packs it into a 64-byte binary column — 4x smaller than float32,
    which is the representation a 100 TB vector scan actually reads.
    The arithmetic is plain IEEE double ops in a fixed order so a SQL
    oracle restating the same expression is bit-identical."""
    c = F.col(vec) if isinstance(vec, str) else vec
    # one array LITERAL each (single py4j call), not dim F.lit calls
    # feeding F.array — same constant values, ~130 fewer driver round
    # trips per plan construction
    mn = F.lit([float(m) for m in mins])
    mx = F.lit([float(m) for m in maxs])

    def q(x, i):
        lo = F.element_at(mn, i + F.lit(1))
        span = F.element_at(mx, i + F.lit(1)) - lo
        raw = F.floor((x.cast("double") - lo) / span * F.lit(255.0)
                      + F.lit(0.5))
        return (
            F.when(span == F.lit(0.0), F.lit(0))
            .otherwise(F.least(F.lit(255), F.greatest(F.lit(0), raw)))
            .cast("int")
        )

    return F.transform(c, q)


def sq8_dequantize(
    qv: Column, mins: list[float], maxs: list[float]
) -> Column:
    """Reconstruction: ``mn_i + q_i * (span_i / 255)`` — the value every
    SQ8 distance computation actually scores against."""
    mn = F.lit([float(m) for m in mins])
    mx = F.lit([float(m) for m in maxs])

    def d(x, i):
        lo = F.element_at(mn, i + F.lit(1))
        span = F.element_at(mx, i + F.lit(1)) - lo
        return lo + x.cast("double") * (span / F.lit(255.0))

    return F.transform(qv, d)


def _sq8_roundtrip_py(
    vec: list[float], mins: list[float], maxs: list[float]
) -> list[float]:
    """Driver-side twin of ``sq8_dequantize(sq8_quantize(x))`` for ONE
    vector: the same IEEE-754 double ops in the same order as the
    column expressions (Python floats ARE IEEE doubles), so the result
    is bit-identical to evaluating the Spark columns on that row."""
    import math

    out = []
    for x, lo, hi in zip(vec, mins, maxs):
        span = hi - lo
        if span == 0.0:
            q = 0
        else:
            raw = math.floor((x - lo) / span * 255.0 + 0.5)
            q = min(255, max(0, int(raw)))
        out.append(lo + float(q) * (span / 255.0))
    return out


def ann_sq8_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    rerank: int = 40,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Two-stage SQ8 ANN: brute-force cosine over the DEQUANTIZED 8-bit
    representation picks ``rerank`` candidates (per-partition top-k +
    driver merge, no shuffle — and at scale the scan reads 4x fewer
    bytes than float32), then the exact float vectors of just those
    candidates are re-scored for the final top-``k``.

    Output: (id, exact cosine, sq8 approximate cosine) — keeping both
    makes the quantization error directly observable."""
    # ONE training action instead of two: the per-dimension bounds AND
    # the query's raw vector come from the same aggregate pass, then
    # the query's quantize/dequantize runs driver-side — the identical
    # IEEE-754 expression tree on the identical doubles, so qdv is
    # bit-equal to evaluating the Spark column (pinned by
    # tests/test_dedup_similarity.py::test_sq8_python_quantize_twin).
    #
    # Shape (round 11): posexplode + groupBy(pos) with FOUR aggregate
    # expressions, instead of 2*dim+1 scalar aggregates built in a
    # Python loop. The per-dimension F.min/F.max values are identical
    # (same aggregate semantics per position, incl. null-element and
    # short-array handling — a missing position simply contributes no
    # row, exactly like the out-of-bounds v[i] null the old form
    # ignored), but plan construction drops from ~650 py4j calls +
    # a 129-expression Catalyst aggregate to a handful — measured
    # ~1.5s of per-invocation driver latency at any corpus size
    # (guide §1.2: per-task work includes the driver's own work).
    # The explode feeds a map-side partial aggregate (dim groups), so
    # nothing shuffles but dim rows per task at 100 TB either.
    # first(query-slot) assumes a unique query id — the same
    # assumption the old whole-array first() slot made.
    qcond = F.col(id_col) == query_id
    prows = (
        df.select(
            F.col(id_col),
            F.posexplode(as_double_array(vec_col)).alias("__pos", "__val"),
        )
        .filter(F.col("__pos") < dim)
        .groupBy("__pos")
        .agg(
            F.min("__val").alias("mn"),
            F.max("__val").alias("mx"),
            F.first(F.when(qcond, F.col("__val")),
                    ignorenulls=True).alias("qv"),
            F.count(F.when(qcond, F.lit(1))).alias("nq"),
        )
        .collect()
    )
    by_pos = {int(r["__pos"]): r for r in prows}
    if len(by_pos) != dim:
        raise ValueError(
            f"sq8: expected {dim} vector positions, found {len(by_pos)}")
    if all(int(by_pos[i]["nq"]) == 0 for i in range(dim)):
        raise ValueError(f"query id {query_id} not found in {id_col}")
    mins = [float(by_pos[i]["mn"]) for i in range(dim)]
    maxs = [float(by_pos[i]["mx"]) for i in range(dim)]
    qraw = [float(by_pos[i]["qv"]) for i in range(dim)]
    dq = sq8_dequantize(sq8_quantize(vec_col, mins, maxs), mins, maxs)
    base = df.select(
        F.col(id_col), dq.alias("__dv"),
        as_double_array(vec_col).alias("__v"),
    )
    qdv = F.lit(_sq8_roundtrip_py(qraw, mins, maxs))
    qv = F.lit(list(qraw))
    cand = (
        base.select(id_col, "__v", cosine(F.col("__dv"), qdv).alias("sq8_raw"))
        .orderBy(F.desc("sq8_raw"), F.asc(id_col))
        .limit(rerank)
    )
    return (
        cand.select(id_col, cosine(F.col("__v"), qv).alias("exact_raw"),
                    "sq8_raw")
        .orderBy(F.desc("exact_raw"), F.asc(id_col))
        .limit(k)
    )
