"""Round-5 extension catalog: record linkage / entity resolution.

Fellegi–Sunter probabilistic record linkage over LSH-blocked candidate
pairs (SURVEY §2.13 extension surface; the reference — apde.etl v2.2.0 —
QA-profiles one load at a time and has no cross-load linkage). Four
oracle-gated entries:

- ``linkage_candidate_features``: banded-MinHash blocking (the existing
  near-dup machinery at a looser verify threshold) joined back to the
  entity attributes, emitting the integer comparison vector
  (g_text 0/1/2, g_lang, g_source, g_len).
- ``linkage_match_scores``: the FS composite log2(m/u) score and the
  two-threshold match / possible / non_match decision.
- ``linkage_entity_clusters``: connected components over accepted
  matches -> entity ids (Spark iterates pointer-halving; the oracle
  recurses transitive closure).
- ``linkage_blocking_quality``: the evaluation row — reduction ratio,
  pairs completeness, pairs quality of the blocking against the exact
  Jaccard truth set (the linkage twin of ``neardup_method_recall``).

Cross-engine determinism: gammas are computed on the ROUNDED similarity
(both engines compare identical doubles) or in pure integer arithmetic;
weights are Python floats embedded as ``repr`` literals in both engines
and summed in the same left-to-right field order, so the score doubles
are bit-identical and the threshold classification cannot straddle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apde_etl_spark.functions.core import round_half_away
from apde_etl_spark.operators import linkage as LK
from apde_etl_spark.operators import similarity as SIM
from apde_etl_spark.plans.catalog import _sql_round, load, register
from apde_etl_spark.plans.catalog_ext import _minhash_pairs_sql
from apde_etl_spark.sources.readers import local_frame

# ===========================================================================
# Shared blocking + comparison-vector SQL
# ===========================================================================

#: blocking verify threshold — loose enough to keep non-match candidates
#: alive for the classifier to reject (the FS model, not the blocker,
#: draws the match line).
_LINK_THRESHOLD = 0.05
_STRONG, _WEAK = 0.5, 0.2
_FS_UPPER, _FS_LOWER = 6.0, 0.0

_CAND_SQL = _minhash_pairs_sql("documents", threshold=_LINK_THRESHOLD)


def _features_sql(cand_sql: str) -> str:
    """Comparison-vector SQL over ANY (id_a, id_b, jaccard_sim) candidate
    relation — shared by the self-join family and the incremental
    (batch x corpus) entry so the gamma definitions cannot drift."""
    return f"""
WITH cand AS ({cand_sql})
SELECT id_a, id_b, jaccard_sim,
       CAST(CASE WHEN jaccard_sim >= {_STRONG} THEN 2
                 WHEN jaccard_sim >= {_WEAK} THEN 1
                 ELSE 0 END AS INTEGER) AS g_text,
       CAST(CASE WHEN da.lang IS NOT NULL AND da.lang = db.lang
            THEN 1 ELSE 0 END AS INTEGER) AS g_lang,
       CAST(CASE WHEN da.source IS NOT NULL AND da.source = db.source
            THEN 1 ELSE 0 END AS INTEGER) AS g_source,
       CAST(CASE WHEN da.n_chars IS NOT NULL AND db.n_chars IS NOT NULL
                  AND least(da.n_chars, db.n_chars) * 5
                      >= greatest(da.n_chars, db.n_chars) * 4
            THEN 1 ELSE 0 END AS INTEGER) AS g_len
FROM cand
JOIN documents da ON da.doc_id = id_a
JOIN documents db ON db.doc_id = id_b
"""


_FEATURES_SQL = _features_sql(_CAND_SQL)


def _rounded_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked candidates with the similarity pre-rounded so every
    downstream threshold compares the same double both engines see."""
    docs = load(spark, sf_dir, "documents")
    pairs = SIM.minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=16, bands=4,
        threshold=_LINK_THRESHOLD,
    )
    return pairs.select(
        "id_a", "id_b",
        round_half_away(F.col("jaccard_sim"), 6).alias("jaccard_sim"),
    )


def _features_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return LK.pair_features(
        _rounded_candidates(spark, sf_dir), docs,
        id_col="doc_id", sim_col="jaccard_sim",
        exact_cols=("lang", "source"), len_col="n_chars",
        strong=_STRONG, weak=_WEAK, len_ratio=(4, 5),
    )


@register("linkage_candidate_features", _FEATURES_SQL)
def linkage_candidate_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FS comparison vectors for LSH-blocked pairs
    (operators/linkage.py:pair_features). Plan: the banded near-dup DAG
    (shuffle keys: band id, then pair id) feeding two equi-joins back to
    documents on doc_id — the candidate list, never n², bounds every
    shuffle; at 100 TB the attribute joins co-partition on the entity
    id. Extends the reference's single-table QA (qa_load_data.R) to
    cross-record identity."""
    return _features_df(spark, sf_dir)


# ===========================================================================
# FS scoring + decision
# ===========================================================================


def _sql_fs_score() -> str:
    """The DuckDB restatement of operators/linkage.py:score_column —
    generated from the SAME weight floats via repr so both engines add
    identical doubles in identical order."""
    terms = []
    for field, ws in LK.DEFAULT_WEIGHTS.items():
        # CAST to DOUBLE: DuckDB types bare decimal literals as DECIMAL,
        # whose arithmetic differs from the doubles Spark adds.
        whens = " ".join(
            f"WHEN g_{field} = {lvl} THEN CAST({ws[lvl]!r} AS DOUBLE)"
            for lvl in range(len(ws) - 1, 0, -1)
        )
        terms.append(f"(CASE {whens} ELSE CAST({ws[0]!r} AS DOUBLE) END)")
    return " + ".join(terms)


_SCORES_SQL = f"""
WITH feats AS ({_FEATURES_SQL}),
scored AS (
  SELECT id_a, id_b, g_text, g_lang, g_source, g_len,
         {_sql_fs_score()} AS raw
  FROM feats
)
SELECT id_a, id_b, g_text, g_lang, g_source, g_len,
       {_sql_round('raw', 6)} AS fs_score,
       CASE WHEN raw >= {_FS_UPPER!r} THEN 'match'
            WHEN raw >= {_FS_LOWER!r} THEN 'possible'
            ELSE 'non_match' END AS decision
FROM scored
"""


def _scores_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _features_df(spark, sf_dir)
    raw = LK.score_column(LK.DEFAULT_WEIGHTS)
    return feats.select(
        "id_a", "id_b", "g_text", "g_lang", "g_source", "g_len",
        round_half_away(raw, 6).alias("fs_score"),
        LK.classify_column(raw, _FS_UPPER, _FS_LOWER).alias("decision"),
    )


@register("linkage_match_scores", _SCORES_SQL)
def linkage_match_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter composite scores and match/possible/non_match
    decisions (linkage.py:score_column/classify_column). Scoring is a
    pure projection over the feature rows — codegen'd CASE arithmetic,
    zero additional shuffle on top of the blocking DAG."""
    return _scores_df(spark, sf_dir)


# ===========================================================================
# Entity clusters over accepted matches
# ===========================================================================

_ENTITY_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_SCORES_SQL}) s WHERE decision = 'match'
), und AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(a, b) AS (
  SELECT src AS a, dst AS b FROM und
  UNION
  SELECT r.a, u.dst FROM reach r JOIN und u ON r.b = u.src
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS entity_id
FROM reach GROUP BY a
"""


@register("linkage_entity_clusters", _ENTITY_SQL)
def linkage_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accepted matches -> entity ids via connected components
    (dedup.py:connected_components — byte-capped driver union-find with
    the distributed pointer-halving fallback). The oracle recurses the
    transitive closure; Spark iterates — SQL recursion checks Spark
    iteration, as in neardup_clusters."""
    from apde_etl_spark.operators.dedup import connected_components

    matches = (
        _scores_df(spark, sf_dir)
        .filter(F.col("decision") == "match")
        .select("id_a", "id_b")
    )
    comp = connected_components(matches, "id_a", "id_b")
    return comp.select(F.col("id").alias("doc_id"),
                       F.col("component").alias("entity_id"))


# ===========================================================================
# EM parameter estimation — gamma-pattern histogram + Winkler EM
# ===========================================================================

_GAMMA_PATTERNS_SQL = f"""
WITH feats AS ({_FEATURES_SQL})
SELECT g_text, g_lang, g_source, g_len,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM feats GROUP BY g_text, g_lang, g_source, g_len
"""


@register("linkage_gamma_patterns", _GAMMA_PATTERNS_SQL)
def linkage_gamma_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sufficient statistics of the FS model: candidate pairs
    grouped by their FULL comparison pattern. This is the distributed
    half of EM fitting — one integer groupBy whose output is at most
    3*2*2*2 = 24 rows regardless of corpus size, so the iterative fit
    downstream never touches distributed data again."""
    return (
        _features_df(spark, sf_dir)
        .groupBy("g_text", "g_lang", "g_source", "g_len")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


_EM_FIELDS = ("text", "lang", "source", "len")
_EM_LEVELS = (3, 2, 2, 2)
_EM_ITERS = 50
#: SQL-side short param names, field-order aligned with _EM_FIELDS
_EM_TAGS = ("t", "l", "s", "n")


def _em_fit(spark: SparkSession, sf_dir: str) -> dict:
    """Collect the tiny gamma-pattern histogram and run the FIXED-POINT
    Winkler EM (operators/linkage.py:em_estimate_fixedpoint) — exact
    scaled integers, so the fit is bit-identical to the DuckDB
    recursive-CTE oracle's (_em_sql_cte). Shared by the weights and
    decisions entries."""
    from apde_etl_spark.operators import linkage as _LK

    hist = (
        _features_df(spark, sf_dir)
        .groupBy("g_text", "g_lang", "g_source", "g_len")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    patterns = [
        ((r["g_text"], r["g_lang"], r["g_source"], r["g_len"]), r["n"])
        for r in hist
    ]
    return _LK.em_estimate_fixedpoint(patterns, _EM_LEVELS, iters=_EM_ITERS)


def _em_combos() -> list[tuple[int, ...]]:
    """The full 3x2x2x2 gamma-pattern lattice, lexicographic."""
    out: list[tuple[int, ...]] = [()]
    for lc in _EM_LEVELS:
        out = [g + (lvl,) for g in out for lvl in range(lc)]
    return out


def _em_sql_cte() -> str:
    """Generate the DuckDB restatement of em_estimate_fixedpoint as a
    ``WITH RECURSIVE``-compatible CTE chain (``feats`` must already be
    in scope). Every quantity is HUGEINT (int128): the deepest product
    is p * 4 params * SCALE <= 10^36 < 2^127. Absent gamma patterns
    enter as n=0 counts, which contribute zero to every sum — exactly
    what the Python fit sees by omitting them. Floor division ``//``
    on non-negative HUGEINTs == Python ``//``."""
    from apde_etl_spark.operators.linkage import EM_SCALE as S

    combos = _em_combos()
    tag = lambda g: "".join(str(x) for x in g)  # noqa: E731

    hist_cols = ",\n    ".join(
        "CAST(COALESCE(SUM(CASE WHEN "
        + " AND ".join(
            f"g_{f} = {g[i]}" for i, f in enumerate(_EM_FIELDS)
        )
        + f" THEN 1 END), 0) AS HUGEINT) AS n_{tag(g)}"
        for g in combos
    )

    # init params: same triangular split as the Python fit
    def clamp_int(x: int) -> int:
        return min(max(x, 1), S - 1)

    init_cols = [f"CAST({clamp_int((1 * S) // 10)} AS HUGEINT) AS p"]
    param_names = ["p"]
    for f, (t, lc) in enumerate(zip(_EM_TAGS, _EM_LEVELS)):
        tri = lc * (lc + 1) // 2
        for lvl in range(lc):
            init_cols.append(
                f"CAST({clamp_int(((lvl + 1) * S) // tri)} AS HUGEINT) AS m{t}{lvl}")
            param_names.append(f"m{t}{lvl}")
        for lvl in range(lc):
            init_cols.append(
                f"CAST({clamp_int(((lc - lvl) * S) // tri)} AS HUGEINT) AS u{t}{lvl}")
            param_names.append(f"u{t}{lvl}")

    def pm_expr(g: tuple[int, ...], kind: str) -> str:
        base = "p" if kind == "m" else f"({S} - p)"
        prods = "".join(
            f" * {kind}{_EM_TAGS[f]}{g[f]}" for f in range(len(_EM_FIELDS)))
        return f"{base}{prods}"

    w_cols = ",\n      ".join(
        f"(({pm_expr(g, 'm')}) * {S}) // "
        f"(({pm_expr(g, 'm')}) + ({pm_expr(g, 'u')})) AS w_{tag(g)}"
        for g in combos
    )
    wm_sum = " + ".join(f"w_{tag(g)} * n_{tag(g)}" for g in combos)
    tot_sum = " + ".join(f"n_{tag(g)}" for g in combos)

    def clamp_sql(e: str) -> str:
        return f"least(greatest({e}, 1), {S - 1})"

    upd = [
        "iter + 1 AS iter",
        f"CASE WHEN tot = 0 THEN p ELSE {clamp_sql('wm // tot')} END AS p",
    ]
    for f, (t, lc) in enumerate(zip(_EM_TAGS, _EM_LEVELS)):
        for lvl in range(lc):
            num_m = " + ".join(
                f"w_{tag(g)} * n_{tag(g)}" for g in combos if g[f] == lvl)
            upd.append(
                f"CASE WHEN wm = 0 THEN 1 ELSE "
                f"{clamp_sql(f'(({num_m}) * {S}) // wm')} END AS m{t}{lvl}")
        for lvl in range(lc):
            num_u = " + ".join(
                f"({S} - w_{tag(g)}) * n_{tag(g)}" for g in combos
                if g[f] == lvl)
            upd.append(
                f"CASE WHEN wu = 0 THEN 1 ELSE "
                f"{clamp_sql(f'(({num_u}) * {S}) // wu')} END AS u{t}{lvl}")
    upd_cols = ",\n    ".join(upd)

    return f"""
hist AS (
  SELECT
    {hist_cols}
  FROM feats
),
em AS (
  SELECT 0 AS iter,
         {", ".join(init_cols)}
  UNION ALL
  SELECT
    {upd_cols}
  FROM (
    SELECT s.*, ({wm_sum}) AS wm,
           ({tot_sum}) AS tot,
           ({tot_sum}) * {S} - ({wm_sum}) AS wu
    FROM (
      SELECT em.*, hist.*,
      {w_cols}
      FROM em, hist WHERE em.iter < {_EM_ITERS}
    ) s
  ) s2
)"""


def _em_weights_sql() -> str:
    from apde_etl_spark.operators.linkage import EM_SCALE as S

    arms = [
        f"SELECT 'match_prior' AS field, 0 AS level, CAST(p AS BIGINT) AS m_ppm, "
        f"CAST({S} - p AS BIGINT) AS u_ppm, "
        f"CAST((p * {S}) // ({S} - p) AS BIGINT) AS lr_ppm "
        f"FROM em WHERE iter = {_EM_ITERS}"
    ]
    for f, (field, t, lc) in enumerate(zip(_EM_FIELDS, _EM_TAGS, _EM_LEVELS)):
        for lvl in range(lc):
            arms.append(
                f"SELECT '{field}', {lvl}, CAST(m{t}{lvl} AS BIGINT), "
                f"CAST(u{t}{lvl} AS BIGINT), "
                f"CAST((m{t}{lvl} * {S}) // u{t}{lvl} AS BIGINT) "
                f"FROM em WHERE iter = {_EM_ITERS}"
            )
    return (
        f"WITH RECURSIVE feats AS MATERIALIZED ({_FEATURES_SQL}),{_em_sql_cte()}\n"
        + "\nUNION ALL ".join(arms)
    )


@register("linkage_em_weights", _em_weights_sql())
def linkage_em_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised m/u estimation (Winkler EM) from the gamma-pattern
    histogram, in EXACT FIXED-POINT arithmetic: collect the <=24-row
    histogram (legitimately tiny — the distributed aggregation already
    reduced the corpus), run the scaled-integer EM driver-side
    (linkage.py:em_estimate_fixedpoint), and return per-field per-level
    estimates in parts-per-million with the implied likelihood ratio
    ``lr_ppm = m*S // u``, plus the match-prior row. Previously
    rows-only (iterative float); the integer lattice makes the fit
    bit-identical to the DuckDB recursive-CTE oracle, closing the
    round-6 verdict's last hash-gate gap. At 100 TB the plan is
    identical: the groupBy scales, EM's input does not grow."""
    from apde_etl_spark.operators.linkage import EM_SCALE as S

    fit = _em_fit(spark, sf_dir)
    p = fit["prior"]
    rows = [("match_prior", 0, p, S - p, (p * S) // (S - p))]
    for f, field in enumerate(_EM_FIELDS):
        for lvl in range(_EM_LEVELS[f]):
            m_i, u_i = fit["m"][f][lvl], fit["u"][f][lvl]
            rows.append((field, lvl, m_i, u_i, (m_i * S) // u_i))
    return local_frame(
        spark,
        rows,
        "field string, level int, m_ppm long, u_ppm long, lr_ppm long",
    )


def _em_decisions_sql() -> str:
    from apde_etl_spark.operators.linkage import EM_SCALE as S

    m_case = " * ".join(
        "CASE f.g_{field} {whens} END".format(
            field=field,
            whens=" ".join(
                f"WHEN {lvl} THEN em.m{t}{lvl}" for lvl in range(lc)),
        )
        for field, t, lc in zip(_EM_FIELDS, _EM_TAGS, _EM_LEVELS)
    )
    u_case = " * ".join(
        "CASE f.g_{field} {whens} END".format(
            field=field,
            whens=" ".join(
                f"WHEN {lvl} THEN em.u{t}{lvl}" for lvl in range(lc)),
        )
        for field, t, lc in zip(_EM_FIELDS, _EM_TAGS, _EM_LEVELS)
    )
    return f"""
WITH RECURSIVE feats AS MATERIALIZED ({_FEATURES_SQL}),{_em_sql_cte()},
decided AS (
  SELECT CASE WHEN pm >= 9 * pu THEN 'match'
              WHEN pm >= pu THEN 'possible'
              ELSE 'non_match' END AS decision
  FROM (
    SELECT (em.p * {m_case}) AS pm,
           (({S} - em.p) * {u_case}) AS pu
    FROM feats f, em WHERE em.iter = {_EM_ITERS}
  ) x
)
SELECT decision, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(900000 AS BIGINT) AS match_cut_ppm,
       CAST(500000 AS BIGINT) AS possible_cut_ppm
FROM decided GROUP BY decision
"""


@register("linkage_em_decisions", _em_decisions_sql())
def linkage_em_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fully UNSUPERVISED linkage pipeline end-to-end, now exact:
    the fixed-point EM fit scores every blocked pair, and decisions
    come from posterior-probability thresholds evaluated as INTEGER
    cross-multiplications — P(M|gamma) >= 0.9 is pm >= 9*pu, >= 0.5 is
    pm >= pu, with pm/pu the scaled class likelihoods. No float ever
    enters, so the per-decision counts hash-gate against the oracle's
    identical integer comparisons. The 24-pattern decision table is
    computed driver-side from the fit and broadcast-joined to the
    feature rows (a dimension lookup — the candidate-pair scan stays
    the only big side at 100 TB)."""
    from apde_etl_spark.operators.linkage import EM_SCALE as S

    fit = _em_fit(spark, sf_dir)
    p, m, u = fit["prior"], fit["m"], fit["u"]
    dec_rows = []
    for g in _em_combos():
        pm, pu = p, S - p
        for f, lvl in enumerate(g):
            pm *= m[f][lvl]
            pu *= u[f][lvl]
        dec = ("match" if pm >= 9 * pu
               else "possible" if pm >= pu else "non_match")
        dec_rows.append((*g, dec))
    dec_df = local_frame(
        spark,
        dec_rows,
        "g_text int, g_lang int, g_source int, g_len int, decision string",
    )
    feats = _features_df(spark, sf_dir)
    out = feats.join(
        F.broadcast(dec_df), ["g_text", "g_lang", "g_source", "g_len"]
    )
    return out.groupBy("decision").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    ).select(
        "decision", "n_pairs",
        F.lit(900000).cast("long").alias("match_cut_ppm"),
        F.lit(500000).cast("long").alias("possible_cut_ppm"),
    )


# ===========================================================================
# Blocking quality — reduction ratio / completeness / quality
# ===========================================================================

# Fast inverted-index truth set for the evaluation entry: identical
# semantics to _JACCARD_ORACLE (ngram_jaccard_pairs hash-proves the two
# formulations agree at every SF), but posting-list-joined instead of
# the quadratic nested loop, so the sf0.1 gate doesn't pay minutes of
# all-pairs list_intersect a third time.
_TRUTH_FAST_SQL = """
WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
sh AS (SELECT doc_id, {shingles} AS s FROM toks),
ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         count(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b FROM pairs
WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.2
"""


def _truth_fast_sql() -> str:
    from apde_etl_spark.plans.catalog_ext import _SQL_SHINGLES, _SQL_TOKS

    return _TRUTH_FAST_SQL.format(toks=_SQL_TOKS, shingles=_SQL_SHINGLES)


_BLOCKING_QUALITY_SQL = f"""
WITH cand AS (SELECT id_a, id_b, jaccard_sim FROM ({_CAND_SQL}) c),
truth AS (SELECT id_a, id_b FROM ({_truth_fast_sql()}) t),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
counts AS (
  SELECT
    (SELECT n_docs FROM n) AS n_docs,
    (SELECT CAST(n_docs * (n_docs - 1) / 2 AS BIGINT) FROM n) AS n_possible_pairs,
    (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
    (SELECT CAST(count(*) AS BIGINT) FROM cand c
     JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b) AS n_hits
)
SELECT n_docs, n_possible_pairs, n_candidates, n_truth, n_hits,
       {_sql_round('1.0 - CAST(n_candidates AS DOUBLE) / CAST(n_possible_pairs AS DOUBLE)', 6)} AS reduction_ratio,
       {_sql_round('CAST(n_hits AS DOUBLE) / CAST(n_truth AS DOUBLE)', 6)} AS pairs_completeness,
       {_sql_round('CAST(n_hits AS DOUBLE) / CAST(n_candidates AS DOUBLE)', 6)} AS pairs_quality
FROM counts
"""


@register("linkage_blocking_quality", _BLOCKING_QUALITY_SQL)
def linkage_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row blocking evaluation: reduction ratio (how much of the n²
    pair space the blocker prunes), pairs completeness (recall of the
    exact Jaccard >= 0.2 truth set), pairs quality (precision). The
    truth side is quadratic BY DESIGN — an evaluation harness run on a
    sample at production scale, exactly like neardup_method_recall; the
    candidate side is the banded production path. Ratios are single
    integer-pair divisions, deterministic in both engines."""
    from apde_etl_spark.operators.cache import tracked_persist
    from apde_etl_spark.plans.catalog_ext import ngram_jaccard_pairs

    cand = tracked_persist(
        _rounded_candidates(spark, sf_dir), scope="similarity")
    truth = tracked_persist(
        ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b"),
        scope="similarity")
    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    n_hits = (
        cand.join(truth, ["id_a", "id_b"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    pairs_possible = (F.col("n_docs") * (F.col("n_docs") - 1) / 2).cast("long")
    return (
        n.crossJoin(n_cand).crossJoin(n_truth).crossJoin(n_hits)
        .select(
            "n_docs",
            pairs_possible.alias("n_possible_pairs"),
            "n_candidates", "n_truth", "n_hits",
            round_half_away(
                F.lit(1.0)
                - F.col("n_candidates").cast("double")
                / pairs_possible.cast("double"), 6,
            ).alias("reduction_ratio"),
            round_half_away(
                F.col("n_hits").cast("double")
                / F.col("n_truth").cast("double"), 6,
            ).alias("pairs_completeness"),
            round_half_away(
                F.col("n_hits").cast("double")
                / F.col("n_candidates").cast("double"), 6,
            ).alias("pairs_quality"),
        )
    )


# ===========================================================================
# Golden-record table — the linkage pipeline end-to-end
# ===========================================================================

_GOLDEN_SQL = f"""
WITH comp AS ({_ENTITY_SQL}),
all_m AS (
  SELECT doc_id, entity_id FROM comp
  UNION ALL
  SELECT doc_id, doc_id AS entity_id FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM comp)
), sz AS (
  SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members
  FROM all_m GROUP BY entity_id
)
SELECT s.entity_id, s.n_members, d.lang AS rep_lang, d.source AS rep_source
FROM sz s JOIN documents d ON d.doc_id = s.entity_id
"""


@register("linkage_pipeline_end2end", _GOLDEN_SQL)
def linkage_pipeline_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GOLDEN-RECORD table — the artifact a linkage pipeline
    actually materializes: every source record resolved to an entity
    (matched records via blocking -> scoring -> decision -> connected
    components; unmatched records as their own singleton entity), with
    the min-id member as the deterministic representative carrying the
    entity's canonical attributes. One master table, total coverage —
    the reference's per-load QA world extended to cross-record identity.
    Plan adds one anti-join (singletons) and one attribute join on the
    representative id over the clusters DAG."""
    from apde_etl_spark.operators.dedup import connected_components

    docs = load(spark, sf_dir, "documents")
    matches = (
        _scores_df(spark, sf_dir)
        .filter(F.col("decision") == "match")
        .select("id_a", "id_b")
    )
    comp = connected_components(matches, "id_a", "id_b").select(
        F.col("id").alias("doc_id"), F.col("component").alias("entity_id"))
    singles = docs.join(comp.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("entity_id"))
    all_m = comp.unionByName(singles)
    sz = all_m.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"))
    rep = docs.select(
        F.col("doc_id").alias("entity_id"),
        F.col("lang").alias("rep_lang"),
        F.col("source").alias("rep_source"),
    )
    return sz.join(rep, "entity_id").select(
        "entity_id", "n_members", "rep_lang", "rep_source")


# ===========================================================================
# Incremental linkage — resolve a batch against the corpus
# ===========================================================================

_INC_Q_FILTER = "doc_id % 5 = 0"
_INC_C_FILTER = "doc_id % 5 != 0"


def _inc_cand_sql() -> str:
    from apde_etl_spark.plans.catalog_ext import _minhash_join_sql

    return _minhash_join_sql(_INC_Q_FILTER, _INC_C_FILTER,
                             threshold=_LINK_THRESHOLD)


_INC_LINKAGE_SQL = f"""
WITH feats AS ({_features_sql(_inc_cand_sql())}),
scored AS (
  SELECT id_a, id_b, {_sql_fs_score()} AS raw FROM feats
), best AS (
  SELECT id_a, id_b, raw,
         row_number() OVER (PARTITION BY id_a
                            ORDER BY raw DESC, id_b ASC) AS rn
  FROM scored
), matched AS (
  SELECT id_a AS batch_id, id_b AS entity_id,
         {_sql_round('raw', 6)} AS fs_score,
         CASE WHEN raw >= {_FS_UPPER!r} THEN 'match'
              WHEN raw >= {_FS_LOWER!r} THEN 'possible'
              ELSE 'non_match' END AS decision
  FROM best WHERE rn = 1
)
SELECT batch_id, entity_id, fs_score, decision FROM matched
UNION ALL
SELECT doc_id AS batch_id, CAST(NULL AS BIGINT) AS entity_id,
       CAST(NULL AS DOUBLE) AS fs_score, 'new_entity' AS decision
FROM documents
WHERE {_INC_Q_FILTER}
  AND doc_id NOT IN (SELECT batch_id FROM matched)
"""


@register("linkage_incremental", _INC_LINKAGE_SQL)
def linkage_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL entity resolution — the production shape: a new batch
    (doc_id % 5 == 0) resolves against the existing corpus (the rest)
    without the corpus ever self-pairing, mirroring
    incremental_ingest_dedup's asymmetric band join
    (similarity.py:minhash_lsh_join: a day's batch costs
    |batch| x bucket-intersection work no matter how big the corpus).
    Each batch record gets its BEST-scoring corpus entity
    (row_number over score desc, entity id asc) with the FS decision;
    batch records with no candidate at all come out as 'new_entity' —
    the row set downstream ingestion acts on directly."""
    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    batch = docs.filter(did % 5 == 0)
    corpus = docs.filter(did % 5 != 0)
    return resolve_batch_against_corpus(batch, corpus, docs)


def resolve_batch_against_corpus(
    batch: DataFrame, corpus: DataFrame, docs: DataFrame
) -> DataFrame:
    """The incremental-resolution core, shared by the batch entry above
    and the round-6 streaming twin (catalog_r6.stream_linkage_upsert):
    LSH-block the batch against the corpus, compute FS features + score,
    keep each batch record's best entity with its decision, and emit
    unmatched records as 'new_entity'. ``docs`` supplies the comparison
    attributes for BOTH sides (its rows are a superset of batch and
    corpus)."""
    pairs = SIM.minhash_lsh_join(
        batch, corpus, "doc_id", "text", k=3, num_hashes=16, bands=4,
        threshold=_LINK_THRESHOLD,
    ).select(
        F.col("id_q").alias("id_a"), F.col("id_c").alias("id_b"),
        round_half_away(F.col("jaccard_sim"), 6).alias("jaccard_sim"),
    )
    feats = LK.pair_features(
        pairs, docs, id_col="doc_id", sim_col="jaccard_sim",
        exact_cols=("lang", "source"), len_col="n_chars",
        strong=_STRONG, weak=_WEAK, len_ratio=(4, 5),
    )
    raw = LK.score_column(LK.DEFAULT_WEIGHTS)
    from pyspark.sql import Window

    w = Window.partitionBy("id_a").orderBy(
        F.col("__raw").desc(), F.col("id_b").asc())
    best = (
        feats.withColumn("__raw", raw)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    from apde_etl_spark.operators.cache import tracked_persist

    matched = tracked_persist(
        best.select(
            F.col("id_a").alias("batch_id"),
            F.col("id_b").alias("entity_id"),
            round_half_away(F.col("__raw"), 6).alias("fs_score"),
            LK.classify_column(F.col("__raw"), _FS_UPPER, _FS_LOWER)
            .alias("decision"),
        ),
        scope="similarity",
    )
    new = (
        batch.join(matched.select(F.col("batch_id").alias("doc_id")),
                   "doc_id", "left_anti")
        .select(
            F.col("doc_id").alias("batch_id"),
            F.lit(None).cast("long").alias("entity_id"),
            F.lit(None).cast("double").alias("fs_score"),
            F.lit("new_entity").alias("decision"),
        )
    )
    return matched.unionByName(new)


# ===========================================================================
# Blocking strategy comparison — LSH vs the naive blockers
# ===========================================================================

_LEN_BAND_WIDTH = 50

_BLOCKING_STRATEGIES_SQL = f"""
WITH truth AS (SELECT id_a, id_b FROM ({_truth_fast_sql()}) t),
lsh AS (SELECT id_a, id_b FROM ({_CAND_SQL}) c),
ftok AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+')[1] AS k
        FROM documents) a
  JOIN (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+')[1] AS k
        FROM documents) b
    ON a.k = b.k AND a.doc_id < b.doc_id
), lband AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, n_chars // {_LEN_BAND_WIDTH} AS k FROM documents
        WHERE n_chars IS NOT NULL) a
  JOIN (SELECT doc_id, n_chars // {_LEN_BAND_WIDTH} AS k FROM documents
        WHERE n_chars IS NOT NULL) b
    ON a.k = b.k AND a.doc_id < b.doc_id
), rows_ AS (
  SELECT 'lsh_verified' AS strategy,
         (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_candidates,
         (SELECT CAST(count(*) AS BIGINT) FROM lsh c
          JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b) AS n_hits
  UNION ALL
  SELECT 'first_token',
         (SELECT CAST(count(*) AS BIGINT) FROM ftok),
         (SELECT CAST(count(*) AS BIGINT) FROM ftok c
          JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b)
  UNION ALL
  SELECT 'length_band',
         (SELECT CAST(count(*) AS BIGINT) FROM lband),
         (SELECT CAST(count(*) AS BIGINT) FROM lband c
          JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b)
)
SELECT strategy, n_candidates,
       (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth, n_hits,
       {_sql_round('CAST(n_hits AS DOUBLE) / (SELECT count(*) FROM truth)', 6)} AS pairs_completeness,
       {_sql_round('CASE WHEN n_candidates > 0 THEN CAST(n_hits AS DOUBLE) / n_candidates ELSE 0.0 END', 6)} AS pairs_quality
FROM rows_
"""


@register("linkage_blocking_strategies", _BLOCKING_STRATEGIES_SQL)
def linkage_blocking_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking strategy shoot-out: banded-LSH candidates vs the two
    naive blockers every hand-rolled linkage starts with (first token
    of the text; n_chars length bands) — each scored for completeness
    and quality against the exact Jaccard truth set. The table that
    justifies the LSH machinery: naive blocks either explode (length
    bands admit ~n²/bands pairs at ~0 quality) or miss (first token is
    brittle to any edit in position one). All counts are integers, so
    the comparison is hash-exact."""
    from apde_etl_spark.operators.cache import tracked_persist
    from apde_etl_spark.plans.catalog_ext import ngram_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    truth = tracked_persist(
        ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b"),
        scope="similarity")

    def pair_up(keyed: DataFrame) -> DataFrame:
        a = keyed.select(F.col("doc_id").alias("id_a"), "k")
        b = keyed.select(F.col("doc_id").alias("id_b"), "k")
        return (a.join(b, "k")
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b"))

    strategies = [
        ("lsh_verified",
         _rounded_candidates(spark, sf_dir).select("id_a", "id_b")),
        ("first_token",
         pair_up(docs.select(
             "doc_id",
             F.split(F.trim(F.col("text")), r"\s+").getItem(0).alias("k")))),
        ("length_band",
         pair_up(docs.filter(F.col("n_chars").isNotNull()).select(
             "doc_id",
             (F.col("n_chars") / _LEN_BAND_WIDTH).cast("long").alias("k")))),
    ]
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    out = None
    for name, cand in strategies:
        cand = tracked_persist(cand, scope="similarity")
        n_c = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        n_h = (cand.join(truth, ["id_a", "id_b"])
               .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
        row = (
            n_c.crossJoin(n_truth).crossJoin(n_h).select(
                F.lit(name).alias("strategy"),
                "n_candidates", "n_truth", "n_hits",
                round_half_away(
                    F.col("n_hits").cast("double")
                    / F.col("n_truth").cast("double"), 6,
                ).alias("pairs_completeness"),
                F.when(
                    F.col("n_candidates") > 0,
                    round_half_away(
                        F.col("n_hits").cast("double")
                        / F.col("n_candidates").cast("double"), 6),
                ).otherwise(F.lit(0.0)).alias("pairs_quality"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out
