"""Table-lifecycle operations (SURVEY.md §2.1 S3/S5/S9, §2.5 A9, §3.2/3.3).

The reference manages SQL Server tables: existence probes, CREATE TABLE
synthesis from INFORMATION_SCHEMA, cross-server duplication via BCP,
truncate-and-reload, row-count QA. On Spark these become catalog calls,
``schema.toDDL()``, and DataFrame writes; the drop-index/re-add dance
around bulk loads is replaced by partitioning choices at write time.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def table_exists(spark: SparkSession, name: str) -> bool:
    """S3 — existence probe (dbExistsTable, etl_qa_run_pipeline.R:879-884)."""
    return spark.catalog.tableExists(name)


def synthesize_ddl(df: DataFrame, name: str) -> str:
    """S5 — DDL synthesis. The reference reads INFORMATION_SCHEMA.COLUMNS
    and CONCATs a column list (table_duplicate.R:281-309,
    external_table_check.R:48-72); Spark's schema carries the same
    information natively."""
    return f"CREATE TABLE {name} ({df.schema.toDDL()}) USING parquet"


@dataclass
class SchemaDiff:
    missing_in_target: list[str]
    extra_in_target: list[str]
    type_mismatches: list[tuple[str, str, str]]

    @property
    def identical(self) -> bool:
        return not (self.missing_in_target or self.extra_in_target or self.type_mismatches)


def compare_schemas(source: DataFrame, target: DataFrame) -> SchemaDiff:
    """Structure comparison used before duplicate/overwrite decisions
    (table_duplicate.R:236-243 pulls both tables and dplyr::all_equal's
    them; comparing schemas avoids moving data)."""
    s = {f.name: f.dataType.simpleString() for f in source.schema.fields}
    t = {f.name: f.dataType.simpleString() for f in target.schema.fields}
    return SchemaDiff(
        missing_in_target=sorted(set(s) - set(t)),
        extra_in_target=sorted(set(t) - set(s)),
        type_mismatches=sorted((c, s[c], t[c]) for c in set(s) & set(t) if s[c] != t[c]),
    )


def duplicate_table(
    spark: SparkSession,
    source: DataFrame,
    dest: str,
    structure_only: bool = False,
    confirm: bool = True,
) -> None:
    """S9/§3.3 — table duplication. The reference round-trips
    server -> R -> TSV -> bcp -> server with all columns cast to character
    (table_duplicate.R:318); a distributed writer needs neither the
    string cast nor 50k-row chunking."""
    if not confirm and table_exists(spark, dest):
        # the reference's interactive confirmation prompt
        # (table_duplicate.R) maps to an explicit refusal here: a caller
        # that opts out of confirmation must not clobber an existing
        # table silently
        raise ValueError(
            f"duplicate_table: destination {dest!r} exists and "
            "confirm=False — refusing to overwrite"
        )
    df = source.limit(0) if structure_only else source
    df.write.mode("overwrite").saveAsTable(dest)


def row_count_check(a: DataFrame, b: DataFrame) -> tuple[bool, int, int]:
    """A9 — COUNT(*) equality QA between archive and stage
    (load_table_from_sql.R:327-336)."""
    ca, cb = a.count(), b.count()
    return ca == cb, ca, cb


def date_split_reload(
    archive: DataFrame, new: DataFrame, date_col: str, cutpoint=None
) -> DataFrame:
    """U2/A12 — date-split reload: ``archive WHERE d < cut UNION new WHERE
    d >= cut`` with UNION dedup semantics (load_table_from_sql.R:274-276,
    383-393). ``cutpoint=None`` auto-derives MAX(date) from the archive
    (A12) — rows after the archive's high-water mark come from ``new``."""
    if cutpoint is None:
        cutpoint = archive.agg(F.max(date_col)).first()[0]
    if cutpoint is None:
        # empty archive (or all-NULL dates): there is no high-water mark,
        # so EVERYTHING comes from `new` — comparing against a NULL
        # cutpoint would silently drop every row of both sides.
        # NULL-dated rows are dropped HERE TOO so a row's fate does not
        # depend on whether the archive happened to be empty: the normal
        # path's `d < cut` / `d >= cut` predicates are both false for
        # NULL, and this fallback must agree with them.
        return new.filter(F.col(date_col).isNotNull()).distinct()
    merged = archive.filter(F.col(date_col) < F.lit(cutpoint)).unionByName(
        new.filter(F.col(date_col) >= F.lit(cutpoint))
    )
    return merged.distinct()


def write_analytic_table(
    df: DataFrame,
    path: str,
    partition_by: str | list[str] | None = None,
    cluster_by: str | list[str] | None = None,
    target_file_rows: int | None = None,
    file_format: str = "parquet",
    mode: str = "overwrite",
    zorder: bool = False,
    writer_options: dict | None = None,
) -> None:
    """The add_index analogue: physical layout instead of indices.

    The reference drops the clustered index before a bulk load, re-adds it
    after, and puts a clustered COLUMNSTORE index on analytic tables
    (add_index.R:201-247,235-240; load_table_from_file.R:350-374). On the
    lake the equivalents are: parquet IS the columnstore; hive-style
    ``partition_by`` gives partition pruning (the clustered-key range
    scan); ``cluster_by`` sorts WITHIN files so min/max row-group stats
    skip pages (the secondary index); ``target_file_rows`` repartitions
    ahead of the write so files land at a sane size instead of one file
    per shuffle partition.

    ``zorder=True`` (exactly two ``cluster_by`` columns) clusters on the
    bit-interleaved Morton key of the two columns instead of the
    lexicographic sort: a lexicographic (a, b) sort only localizes ``a``
    (row-group min/max on ``b`` span the whole domain inside each ``a``
    run — the CCS-index analogue only helps the leading column,
    add_index.R:235-240), while the interleave localizes BOTH, so
    single-column range predicates on EITHER key skip row groups. Both
    columns are min/max-scaled to the full bit width first (one tiny
    aggregate) — raw interleave of unequal-width domains degenerates.
    ``writer_options`` passes writer options through (e.g. a small
    ``parquet.block.size`` to get many row groups per file).
    """
    part = [partition_by] if isinstance(partition_by, str) else (partition_by or [])
    clust = [cluster_by] if isinstance(cluster_by, str) else (cluster_by or [])
    out = df
    zcol = None
    if zorder:
        if len(clust) != 2:
            raise ValueError(
                f"zorder=True needs exactly two cluster_by columns, got {clust}"
            )
        zcol = scaled_zorder_key(out, clust[0], clust[1])
        if zcol is None:
            zorder = False  # empty/all-NULL input: fall back to lexicographic
    if target_file_rows:
        if part:
            # Spread each partition VALUE across up to n_salt tasks with
            # a salt that is a PURE FUNCTION OF ROW CONTENT
            # (xxhash64 over stable data columns) — retry-safe under
            # partial stage retry (a recomputed task deals every row to
            # the same bucket, unlike monotonically_increasing_id, the
            # SPARK-23207 row-loss/duplication class) while still
            # writing a hot partition (one skewed year) in parallel
            # instead of serially from one task. maxRecordsPerFile then
            # caps file sizes within each task.
            salt_cols = clust or [c for c in out.columns if c not in part]
            if salt_cols:
                # explicit numPartitions: an unsized repartition is fair
                # game for AQE partition coalescing, which would merge
                # the salted buckets back into few tasks and defeat the
                # spread (observed at small scale)
                n_salt = max(1, min(out.count() // target_file_rows, 2048))
                out = (
                    out.withColumn(
                        "__write_salt",
                        F.pmod(F.xxhash64(*salt_cols), F.lit(n_salt)),
                    )
                    .repartition(n_salt, *part, "__write_salt")
                    .drop("__write_salt")
                )
            else:
                out = out.repartition(*part)
        elif zorder:
            # range partitioning on the z-key keeps key ranges disjoint
            # across files, so every file covers a compact rectangle of
            # the 2-D key space and file-level min/max prune too
            n = max(1, out.count() // target_file_rows)
            out = out.withColumn("__zorder", zcol).repartitionByRange(
                n, "__zorder")
        else:
            # round-robin repartition(n) is retry-safe: Spark inserts a
            # local sort before the round-robin exchange precisely so
            # recomputed tasks deal the same rows to the same buckets
            n = max(1, out.count() // target_file_rows)
            out = out.repartition(n)
    if zorder:
        if "__zorder" not in out.columns:
            out = out.withColumn("__zorder", zcol)
        out = out.sortWithinPartitions("__zorder").drop("__zorder")
    elif clust:
        out = out.sortWithinPartitions(*clust)
    writer = out.write.mode(mode).format(file_format)
    if target_file_rows:
        writer = writer.option("maxRecordsPerFile", int(target_file_rows))
    for k, v in (writer_options or {}).items():
        writer = writer.option(k, v)
    if part:
        writer = writer.partitionBy(*part)
    writer.save(path)


def ingest_yearly_files(
    spark: SparkSession,
    config: dict,
    years: list[int],
    server: str | None = None,
    test_mode: bool = False,
) -> DataFrame:
    """The load_table_from_file main flow (§3.2,
    load_table_from_file.R:152-667): per year, resolve the config
    hierarchy (argument > server scope > year scope > global), bulk-load
    that year's delimited file with its own terminators/header/row-cap,
    then consolidate with the schema-evolving union (absent columns
    NULL-padded, drifted types widened).

    ``config`` keys (global or scoped): ``file_path`` (with ``{year}``
    placeholder), ``field_term``, ``first_row``, ``encoding``, ``vars``
    (name -> T-SQL type, compiled to an explicit schema), ``row_cap``.
    ``test_mode`` caps every year at 1001 rows like the reference's
    ``-L 1001`` (load_table_from_file.R:313).
    """
    from apde_etl_spark.sources.config import resolve_config
    from apde_etl_spark.sources.readers import (
        read_delimited,
        schema_from_config,
        union_evolving,
    )

    keys = ["file_path", "field_term", "first_row", "encoding", "vars", "row_cap"]
    frames = []
    for year in years:
        c = resolve_config(config, keys, server=server, year=year)
        if not c["file_path"]:
            raise ValueError(f"no file_path configured for year {year}")
        schema = schema_from_config(c["vars"]) if c["vars"] else None
        row_cap = 1001 if test_mode else c["row_cap"]
        frames.append(
            read_delimited(
                spark,
                c["file_path"].format(year=year),
                field_term=c["field_term"] or ",",
                first_row=c["first_row"] or 2,
                encoding=c["encoding"] or "UTF-8",
                schema=schema,
                row_cap=row_cap,
            ).withColumn("load_year", F.lit(year))
        )
    return union_evolving(frames)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_by: str | list[str],
    num_buckets: int = 32,
    sort_by: str | list[str] | None = None,
    file_format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table — the co-located-join layout.

    Two fact tables bucketed on their join key with the same bucket
    count join WITHOUT a shuffle exchange on either side (Catalyst
    reads the bucketing as a satisfied HashClusteredDistribution); the
    writer leaves exactly ONE sorted file per bucket, so with
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` the
    sort-merge join also skips the per-task sort — a pure local merge
    (plan-asserted in tests/test_plan_shapes.py). At
    100 TB this turns every repeated key-equi-join/aggregation on the
    bucket key from a full-network shuffle into a local stitch — the
    lake counterpart of the reference's clustered index on the join key
    (add_index.R:235-240), paid once at write time.
    """
    keys = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    sort = [sort_by] if isinstance(sort_by, str) else list(sort_by or keys)
    # one file per bucket: Spark only treats a bucketed table's sortBy
    # metadata as a real sort order when each bucket is a single file
    # (multi-file buckets are concatenated unsorted at read) — this
    # repartition is what lets downstream sort-merge joins skip the
    # per-task sort entirely, not just the exchange
    (
        df.repartition(num_buckets, *[F.col(k) for k in keys])
        .write.mode(mode).format(file_format)
        .bucketBy(num_buckets, *keys)
        .sortBy(*sort)
        .saveAsTable(name)
    )


def overwrite_changed_partitions(
    df: DataFrame, path: str, partition_by: str | list[str]
) -> None:
    """Dynamic partition overwrite: rewrite ONLY the partitions present
    in ``df``, leaving every other partition untouched — the
    incremental-refresh primitive (the reference's date-split archive
    reload, load_table_from_sql.R:383-393, generalized to any partition
    key). At 100 TB this is the difference between rewriting a day and
    rewriting a decade."""
    part = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*part).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def incremental_qa_refresh(
    df,  # DataFrame with the FULL current source data
    config,  # QaConfig with integer time periods (e.g. years)
    path: str,
    from_period: int,
) -> None:
    """Refresh the persisted ``values`` profile for periods >=
    ``from_period`` only (the late-arriving-data pattern: new rows land
    in recent periods, history is immutable).

    Lag-aware: the pipeline input includes period ``from_period - 1`` so
    the first refreshed period's change flags see their true
    predecessor, but that warm-up period is dropped before the write —
    only periods >= from_period are rewritten (dynamic partition
    overwrite). Equality with a full recompute is asserted in tests.

    Precondition: the late data introduces no categorical value unseen
    in history — the dense completion grid (SURVEY §2.10.7) back-fills
    a NEW value with zero-count rows in EVERY period, which no suffix
    refresh can produce. When new values can appear, refresh from the
    earliest period instead (full grid rebuild)."""
    from pyspark.sql import functions as F

    from apde_etl_spark.plans.qa_pipeline import run_qa_pipeline

    t = config.time_expr if config.time_expr is not None else F.col(config.time_var)
    sliced = df.filter(t >= from_period - 1)
    res = run_qa_pipeline(sliced, config)
    out = res.values.filter(F.col("time_period") >= from_period)
    overwrite_changed_partitions(out, path, "time_period")


def scd2_merge(
    current: DataFrame,
    snapshot: DataFrame,
    key: str,
    attrs: list[str],
    as_of: str,
) -> DataFrame:
    """Slowly-changing-dimension type-2 merge: reconcile the current
    dimension history with a new snapshot as of ``as_of`` (ISO date).

    The reference's archive/stage swap (load_table_from_sql.R:378-395)
    replaces history wholesale; SCD2 is the warehouse-idiomatic upgrade
    that keeps it. Semantics per key:

    - attrs unchanged  -> current row passes through untouched
    - attrs changed    -> current row closed (valid_to = as_of,
      is_current = false) PLUS a new open row with the snapshot attrs
    - key only in snapshot (new)     -> one open row from as_of
    - key only in current (deleted)  -> row closed at as_of

    Single full-outer join; both output rows of a changed key are built
    as an array of structs exploded in the SAME projection, so the join
    runs once (no union-of-branches recomputation) and the whole merge
    is one shuffle per side at any scale.

    ``current`` may be either just the open rows or a FULL SCD2 table:
    when an ``is_current`` column is present, closed history rows
    (is_current = false) are split off untouched and only the open rows
    join the snapshot — so already-closed history is never re-closed or
    duplicated. Without an ``is_current`` column the input must contain
    at most one open row per key.
    """
    as_of_col = F.lit(as_of).cast("date")
    history = None
    if "is_current" in current.columns:
        # null-safe split: a NULL is_current (e.g. from an outer-join
        # backfill) must not vanish from BOTH branches — treat it as
        # open so the merge reconciles it against the snapshot
        closed = F.col("is_current").eqNullSafe(F.lit(False))
        history = current.filter(closed).select(
            key, *attrs, "valid_from",
            F.col("valid_to").cast("date").alias("valid_to"),
            "is_current",
        )
        current = current.filter(~closed)
    cur = current.select(
        F.col(key), *[F.col(a).alias(f"__c_{a}") for a in attrs],
        F.col("valid_from").alias("__c_valid_from"),
    )
    cur = cur.withColumn("__c_present", F.lit(True))
    snap = snapshot.select(
        F.col(key), *[F.col(a).alias(f"__s_{a}") for a in attrs],
        F.lit(True).alias("__s_present"),
    )
    j = cur.join(snap, key, "full_outer")

    # explicit presence markers: an attr (or valid_from) that is
    # legitimately NULL must not make the key look absent
    in_cur = F.col("__c_present").isNotNull()
    in_snap = F.col("__s_present").isNotNull()
    # null-safe attr equality across all compared attrs
    same = F.lit(True)
    for a in attrs:
        same = same & F.col(f"__c_{a}").eqNullSafe(F.col(f"__s_{a}"))

    def row(from_cur: bool, valid_from, valid_to, is_current):
        return F.struct(
            *[
                (F.col(f"__c_{a}") if from_cur else F.col(f"__s_{a}")).alias(a)
                for a in attrs
            ],
            valid_from.alias("valid_from"),
            valid_to.cast("date").alias("valid_to"),
            F.lit(is_current).alias("is_current"),
        )

    unchanged = row(True, F.col("__c_valid_from"), F.lit(None), True)
    closed = row(True, F.col("__c_valid_from"), as_of_col, False)
    opened = row(False, as_of_col, F.lit(None), True)

    rows = (
        F.when(in_cur & in_snap & same, F.array(unchanged))
        .when(in_cur & in_snap, F.array(closed, opened))
        .when(in_cur, F.array(closed))          # deleted from snapshot
        .otherwise(F.array(opened))             # brand new key
    )
    out = j.select(F.col(key), F.explode(rows).alias("__r"))
    merged = out.select(
        key,
        *[F.col(f"__r.{a}").alias(a) for a in attrs],
        F.col("__r.valid_from").alias("valid_from"),
        F.col("__r.valid_to").alias("valid_to"),
        F.col("__r.is_current").alias("is_current"),
    )
    if history is not None:
        merged = history.unionByName(merged)
    return merged


def zorder_key(col_a, col_b, bits: int = 16):
    """Z-order (Morton) interleave of two non-negative integer columns —
    the clustering key that makes min/max row-group skipping effective
    on BOTH dimensions at once (sort by this before writing parquet;
    same idea as Delta OPTIMIZE ZORDER, built from native bitwise ops).

    Each input is truncated to ``bits`` low bits; output bit 2i holds
    ``col_a`` bit i, bit 2i+1 holds ``col_b`` bit i. Pure projection
    (shiftright/and/or), no UDF, evaluated inside codegen.
    """
    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    a = a.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    b = b.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    out = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b, i).bitwiseAND(F.lit(1))
        out = out.bitwiseOR(F.shiftleft(abit, 2 * i)) \
                 .bitwiseOR(F.shiftleft(bbit, 2 * i + 1))
    return out


def scaled_zorder_key(df: DataFrame, col_a: str, col_b: str, bits: int = 16):
    """The min/max-scaled Morton key of two columns as a Column (one tiny
    bounds aggregate; returns None when the input is empty or a cluster
    column is all-NULL). Both dims are normalized to the full bit width
    first: raw interleave of unequal-width keys degenerates (every top
    Morton bit comes from the wider key, so range splits never constrain
    the narrower one)."""
    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).collect()[0]
    if lo_a is None or lo_b is None:
        return None
    top = (1 << bits) - 1

    def scaled(c, lo, hi):
        span = max(hi - lo, 1)
        return ((F.col(c) - F.lit(lo)).cast("double") * top / span).cast("long")

    return zorder_key(scaled(col_a, lo_a, hi_a), scaled(col_b, lo_b, hi_b), bits)


def write_zordered_table(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    target_files: int = 8,
) -> None:
    """Write parquet clustered by the Z-order key of two columns:
    repartitionByRange on the key (range partitioning keeps key ranges
    disjoint across files) then sortWithinPartitions, so every file
    covers a compact rectangle of (col_a, col_b) space and min/max
    stats prune on either predicate."""
    key = scaled_zorder_key(df, col_a, col_b, bits)
    if key is None:
        # empty input (or all-NULL cluster columns): nothing to
        # Z-order — write plainly instead of crashing on None-None
        df.write.mode("overwrite").parquet(path)
        return
    (
        df.withColumn("__zkey", key)
        .repartitionByRange(target_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite").parquet(path)
    )


def scd1_upsert(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: list[str],
) -> DataFrame:
    """SCD type-1 upsert — ``MERGE INTO`` semantics without history:
    per key, an update row overwrites the target attrs, a new key
    inserts, an untouched key passes through. Output is the merged
    snapshot plus an ``action`` column ('inserted' | 'updated' |
    'unchanged') for the load audit; 'updated' requires a real attr
    change (null-safe comparison), so re-applying the same batch is
    idempotent and audits as unchanged.

    One full-outer join on the key. At scale the update batch is
    normally small against a huge target, so AQE broadcasts it and the
    merge costs one pass over the target; an update that sets an attr
    to NULL sticks (presence markers, not ``coalesce``, decide which
    side wins).
    """
    t = target.select(
        F.col(key), *[F.col(a).alias(f"__t_{a}") for a in attrs]
    ).withColumn("__t_p", F.lit(True))
    u = updates.select(
        F.col(key), *[F.col(a).alias(f"__u_{a}") for a in attrs]
    ).withColumn("__u_p", F.lit(True))
    j = t.join(u, key, "full_outer")
    in_t = F.col("__t_p").isNotNull()
    in_u = F.col("__u_p").isNotNull()
    same = F.lit(True)
    for a in attrs:
        same = same & F.col(f"__t_{a}").eqNullSafe(F.col(f"__u_{a}"))
    action = (
        F.when(~in_t, F.lit("inserted"))
        .when(in_u & ~same, F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    merged = [
        F.when(in_u, F.col(f"__u_{a}")).otherwise(F.col(f"__t_{a}")).alias(a)
        for a in attrs
    ]
    return j.select(F.col(key), *merged, action.alias("action"))


def table_diff(
    a: DataFrame,
    b: DataFrame,
    key: str,
    attrs: list[str],
) -> DataFrame:
    """Symmetric snapshot diff — the reconciliation primitive for
    "what changed between yesterday's table and today's": per-key
    status in {only_in_a, only_in_b, changed, identical} rolled up to
    (status, n_rows) counts.

    One full-outer join on the key with null-safe attr comparison, then
    a tiny aggregate — at 100 TB this is two co-partitionable scans and
    one shuffle each (bucket both snapshots on the key and the join is
    exchange-free). Counts instead of row dumps: a diff of two
    billion-row tables must summarize server-side, never ship rows; the
    per-row drill-down is the same join re-filtered to one status.
    """
    ta = a.select(
        F.col(key), *[F.col(c).alias(f"__a_{c}") for c in attrs]
    ).withColumn("__a_p", F.lit(True))
    tb = b.select(
        F.col(key), *[F.col(c).alias(f"__b_{c}") for c in attrs]
    ).withColumn("__b_p", F.lit(True))
    j = ta.join(tb, key, "full_outer")
    same = F.lit(True)
    for c in attrs:
        same = same & F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))
    status = (
        F.when(F.col("__b_p").isNull(), F.lit("only_in_a"))
        .when(F.col("__a_p").isNull(), F.lit("only_in_b"))
        .when(same, F.lit("identical"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )


# ===========================================================================
# Versioned-table lifecycle: MERGE -> new version, compaction, time travel
# ===========================================================================

def list_versions(table_dir: str) -> list[int]:
    """Version numbers present under ``table_dir`` (``v=N`` snapshot
    directories, ascending). Pure directory-listing metadata — the
    lake-format manifest read, minus the format dependency."""
    import os
    import re

    if not os.path.isdir(table_dir):
        return []
    out = []
    for name in os.listdir(table_dir):
        m = re.fullmatch(r"v=(\d+)", name)
        if m and os.path.isdir(os.path.join(table_dir, name)):
            out.append(int(m.group(1)))
    return sorted(out)


#: hidden partition column that carries each row's file number through a
#: staged ``n_files`` write; ``_flatten_stage`` removes it again
_FILE_COL = "__file"


def versioned_write(df: DataFrame, table_dir: str,
                    n_files: int | None = None) -> int:
    """Write ``df`` as the NEXT immutable version snapshot
    (``table_dir/v=N``) and return N. Snapshots are never mutated —
    the transactional-maintenance discipline (MERGE, compaction,
    schema change) is always write-new-version + atomic pointer flip,
    which is what makes concurrent readers safe and time travel free.

    The snapshot is written into a hidden staging directory
    (``_stage_dir``) and published by one ``os.rename`` onto ``v=N``.
    A reader therefore sees the whole snapshot or none of it, and a
    failed write leaves no version behind; both rely on the filesystem
    renaming a directory atomically, as POSIX filesystems do.

    ``n_files`` sets how many files are written (compaction's lever),
    with the round-robin row assignment of ``repartition(n_files)``.
    Each write task deserializes the session's Hadoop configuration
    (~1,100 properties), a fixed cost, so more files than cores are not
    written one task per file: rows carry their file number as a hidden
    partition column and at most one task per core writes them.

    Limits: the partitioned writer sorts each task's rows by file number,
    a cost per row, while the saving is a fixed cost per file; with many
    rows per file the sort costs more (DEPLOY.md §5 has figures). The
    task count is ``defaultParallelism``, which under dynamic allocation
    counts only the executors registered when the write starts."""
    import os
    import shutil

    version = (list_versions(table_dir) or [0])[-1] + 1
    stage = _stage_dir(table_dir, version)
    try:
        if n_files:
            cores = df.sparkSession.sparkContext.defaultParallelism
            (df.repartition(n_files)
             .withColumn(_FILE_COL, F.spark_partition_id())
             .coalesce(min(n_files, cores))
             .write.partitionBy(_FILE_COL).parquet(stage))
            if 0 not in _flatten_stage(stage):
                # Spark writes the first partition's file even when it has
                # no rows (the one schema-only file of an empty frame); a
                # partitioned write does not, so add it. limit(0) plans as
                # an empty local relation: df is not run again, and the
                # file count stays that of repartition(n).write
                df.limit(0).write.mode("append").parquet(stage)
        else:
            df.write.parquet(stage)
        os.rename(stage, os.path.join(table_dir, f"v={version}"))
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    return version


def _stage_dir(table_dir: str, version: int) -> str:
    """A fresh staging directory for version ``version``:
    ``_stage_v<N>_<uuid>``. ``list_versions`` and Spark's file index
    (``read_all_versions``) both skip it; the index skips a name that
    starts with ``_`` only when it holds no ``=``, so it has none."""
    import os
    import uuid

    return os.path.join(table_dir, f"_stage_v{version}_{uuid.uuid4().hex}")


def _flatten_stage(stage: str) -> set[int]:
    """Move each ``__file=i/part-<task>-<rest>`` file of a staged write up
    into ``stage`` as ``part-{i:05d}-<rest>``, with its Hadoop checksum
    file, and remove the partition directories. Returns the file numbers
    ``i`` that held data."""
    import os
    import shutil

    prefix = f"{_FILE_COL}="
    files = set()
    for sub in os.listdir(stage):
        if not sub.startswith(prefix):
            continue
        i = int(sub[len(prefix):])
        src = os.path.join(stage, sub)
        for name in os.listdir(src):
            dot = "." if name.startswith(".") else ""  # .part-*.crc
            if not name.startswith(f"{dot}part-"):
                continue
            rest = name.split("-", 2)[2]
            os.rename(os.path.join(src, name),
                      os.path.join(stage, f"{dot}part-{i:05d}-{rest}"))
            if not dot:
                files.add(i)
        shutil.rmtree(src)
    return files


def read_version(spark: SparkSession, table_dir: str,
                 version: int | None = None) -> DataFrame:
    """Snapshot / time-travel read: a specific version, or the latest.
    Reading ``v=N`` after ``v=N+1`` exists is the AS OF query."""
    versions = list_versions(table_dir)
    if not versions:
        raise ValueError(f"no versions under {table_dir}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions} under {table_dir}")
    return spark.read.parquet(f"{table_dir}/v={v}")


def data_file_count(table_dir: str, version: int) -> int:
    """Number of parquet data files in a version snapshot — the
    compaction metric (the executed layout, not a plan estimate)."""
    import os

    d = f"{table_dir}/v={version}"
    return sum(1 for f in os.listdir(d)
               if f.endswith(".parquet") and not f.startswith("_"))


def merge_into_versioned(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key: str,
    attrs: list[str],
    deletes: DataFrame | None = None,
) -> int:
    """MERGE INTO semantics against a versioned table: read the latest
    snapshot, apply the SCD1 upsert (WHEN MATCHED UPDATE / WHEN NOT
    MATCHED INSERT) plus optional WHEN MATCHED DELETE keys, and write
    the result as a NEW immutable version. Returns the new version
    number. The previous snapshot stays readable — readers mid-query
    never see a half-merged table, and the diff between N and N+1 IS
    the audit trail (table_diff)."""
    target = read_version(spark, table_dir)
    merged = scd1_upsert(target, updates, key, attrs).drop("action")
    if deletes is not None:
        merged = merged.join(
            F.broadcast(deletes.select(key)), key, "left_anti")
    return versioned_write(merged, table_dir)


def compact_table(spark: SparkSession, table_dir: str,
                  target_files: int) -> tuple[int, int, int]:
    """Small-file compaction as a new version: read the latest
    snapshot, rewrite it as ``target_files`` files, return
    (new_version, files_before, files_after) with the file counts read
    from the EXECUTED layout. Row content is identical by construction
    (a repartition is a pure shuffle); the consuming entry proves it
    by value hash. At 100 TB this is the nightly maintenance job that
    keeps scan task counts sane after streaming ingest."""
    versions = list_versions(table_dir)
    if not versions:
        raise ValueError(f"no versions under {table_dir}")
    before = data_file_count(table_dir, versions[-1])
    df = read_version(spark, table_dir)
    new_v = versioned_write(df, table_dir, n_files=target_files)
    after = data_file_count(table_dir, new_v)
    return new_v, before, after


def read_all_versions(spark: SparkSession, table_dir: str) -> DataFrame:
    """Every snapshot at once, with the version as a column: the v=N
    directory layout IS a hive partition scheme, so one
    mergeSchema-enabled read yields the union of all versions with
    schema evolution handled natively (columns added in later versions
    read as NULL in earlier ones — the lake-format behavior)."""
    return spark.read.option("mergeSchema", "true").parquet(table_dir)


def vacuum_versions(table_dir: str, keep_last: int = 2) -> tuple[list[int], list[int]]:
    """Retention: physically remove all but the newest ``keep_last``
    version snapshots. Returns (removed, kept). The latest version is
    never removable (keep_last >= 1 enforced) — the VACUUM analogue
    that caps time-travel storage after compactions and merges
    accumulate snapshots.

    It also removes the staging directories that a killed writer left
    (``_stage_v<N>_*``, see ``versioned_write``) for every N up to the
    latest version: ``v=N`` exists, so no writer can still publish them.
    """
    import os
    import re
    import shutil

    if keep_last < 1:
        raise ValueError("vacuum_versions: keep_last must be >= 1")
    versions = list_versions(table_dir)
    removed = versions[:-keep_last] if len(versions) > keep_last else []
    for v in removed:
        shutil.rmtree(f"{table_dir}/v={v}")
    if versions:
        for name in os.listdir(table_dir):
            m = re.match(r"_stage_v(\d+)_", name)
            if m and int(m.group(1)) <= versions[-1]:
                shutil.rmtree(os.path.join(table_dir, name))
    return removed, [v for v in versions if v not in removed]
