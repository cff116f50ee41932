"""DDL & write paths: CREATE/CTAS/INSERT/dynamic partitions/bucketed
tables/MSCK/ANALYZE, multi-insert, copy-on-write UPDATE/DELETE, and
SELECT TRANSFORM.

Reference parity (SURVEY.md §2.2, §2.9, §7.1 steps 1/6/7):
- DDL statements: DDLSemanticAnalyzer/DDLTask (3461/4440 LoC in the
  reference) collapse into Spark catalog SQL one-liners.
- FileSinkOperator (QL/exec/FileSinkOperator.java:84) with dynamic
  partitions → ``df.write.partitionBy``; bucketed output →
  ``bucketBy`` (SURVEY §7.3 #5: semantic parity, not file-layout
  parity — Hive and Spark bucket hashes differ).
- Multi-insert ``FROM t INSERT ... INSERT ...`` (HiveParser.g body
  statements) → one cached source, N writes.
- UPDATE/DELETE (HiveParser.g:337-338, UpdateDeleteSemanticAnalyzer
  rewrites to insert-overwrite of ACID deltas) → copy-on-write
  overwrite with snapshot visibility (SURVEY §7.3 #3: faithful
  delta/compaction is a non-goal).
- ScriptOperator / SELECT TRANSFORM (QL/exec/ScriptOperator.java:62)
  → mapInPandas over Arrow batches (no subprocess per row — the
  Spark-idiomatic replacement for piping rows through scripts).

Scale notes: dynamic-partition writes sort within partitions before
writing (SortedDynPartitionOptimizer equivalent: repartition on the
partition column so each task writes few files); MSCK is a catalog
refresh; ANALYZE feeds CBO.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from amplab_hive_spark.session import local_rows
from amplab_hive_spark.sqltext import mask


def create_table_as(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    bucket_by: tuple[int, Sequence[str]] | None = None,
    sort_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """CTAS to Parquet. partition_by → directory partitions (pruned
    by Catalyst at read); bucket_by=(n, cols) → hash buckets that
    later joins/aggs on those cols exploit without a shuffle.
    sort_by is only meaningful WITH bucketing (Spark's sortBy
    requires bucketBy) — rejected otherwise rather than silently
    writing unsorted files."""
    if sort_by and not bucket_by:
        raise ValueError(
            "sort_by requires bucket_by (Spark sortBy is bucket-local); "
            "without it the sort request would be silently dropped"
        )
    writer = df.write.mode(mode).format("parquet")
    if partition_by:
        # SortedDynPartitionOptimizer equivalent: cluster rows by
        # partition value so each task writes one file per partition.
        df = df.repartition(*partition_by)
        writer = df.write.mode(mode).format("parquet").partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        writer = writer.bucketBy(n, *cols)
        if sort_by:
            writer = writer.sortBy(*sort_by)
        writer.option("path", path).saveAsTable(name)
        return
    writer.option("path", path).saveAsTable(name)


def insert_into(spark: SparkSession, name: str, df: DataFrame, overwrite: bool = False) -> None:
    """INSERT INTO / INSERT OVERWRITE TABLE."""
    df.write.insertInto(name, overwrite=overwrite)


def multi_insert(
    spark: SparkSession, source: DataFrame, sinks: Sequence[tuple[Callable[[DataFrame], DataFrame], str]]
) -> None:
    """FROM src INSERT OVERWRITE t1 SELECT ... INSERT OVERWRITE t2
    SELECT ... — the reference reads the source once per job; here
    the source is cached and each sink writes from memory."""
    source = source.persist()
    try:
        source.count()  # materialize once
        for transform, table in sinks:
            transform(source).write.insertInto(table, overwrite=True)
    finally:
        source.unpersist()


def msck_repair(spark: SparkSession, name: str) -> None:
    """MSCK REPAIR TABLE — discover partitions added out-of-band."""
    spark.sql(f"MSCK REPAIR TABLE {name}")


def analyze(spark: SparkSession, name: str, columns: Sequence[str] = ()) -> None:
    """ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS ...] — feeds
    CBO join reordering (reference: StatsOptimizer/ColumnStatsTask)."""
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    if columns:
        spark.sql(
            f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {', '.join(columns)}"
        )


def _partition_columns(spark: SparkSession, name: str) -> list[str]:
    """Partition column names from the session catalog's table
    metadata, JOB-FREE (r15, guide §5 driver barriers): the
    ``spark.catalog.listColumns`` API executes a command that spins
    ~4 driver jobs per call, and every DML verb (MERGE, UPDATE,
    DELETE, compaction) asks this question at least once per
    statement — pure scheduling latency for metadata the catalog
    already holds. The py4j metadata read resolves the name exactly
    like listColumns (current database for bare names, db.table for
    qualified); a bare name a temp view shadows, and anything it
    cannot resolve (3-part names), fall back to the original API,
    which answers for the view."""
    state = spark._jsparkSession.sessionState()
    catalog = state.catalog()
    try:
        if "." in name or not catalog.getTempView(name).isDefined():
            ident = state.sqlParser().parseTableIdentifier(name)
            joined = catalog.getTableMetadata(ident).partitionColumnNames().mkString("\x00")
            return joined.split("\x00") if joined else []
    except Exception:  # noqa: BLE001 — 3-part name / parse edge: old path
        pass
    return [c.name for c in spark.catalog.listColumns(name) if c.isPartition]


# UPDATE/DELETE evaluate their condition in two separate scans
# (partition discovery, then the staged rewrite): a non-deterministic
# condition could flag rows in partitions the discovery pass never
# selected, silently skipping them. Reject the obvious offenders up
# front; anything else non-deterministic is the caller's contract
# violation (documented in both docstrings).
_NONDETERMINISTIC_FNS = re.compile(
    # call forms, plus the ANSI niladic forms Spark accepts WITHOUT
    # parentheses (current_timestamp / current_date / localtimestamp
    # — SELECT current_timestamp is valid SQL).
    r"\b(?:(rand|randn|random|uuid|shuffle|monotonically_increasing_id|"
    r"current_timestamp|current_date|now|localtimestamp|current_timezone|"
    r"spark_partition_id|input_file_name)\s*\(|"
    r"(current_timestamp|current_date|localtimestamp)\b)",
    re.IGNORECASE,
)

def _reject_nondeterministic(condition: str, statement: str) -> None:
    # the scan runs on the mask, so a condition like note = 'call
    # now() later', a column named `current_date` or a comment naming
    # now() is not a false positive
    m = _NONDETERMINISTIC_FNS.search(mask(condition))
    if m:
        fn = m.group(1) or m.group(2)
        raise ValueError(
            f"{statement} condition must be deterministic — it is evaluated "
            f"in two separate scans (partition discovery, then the staged "
            f"rewrite) and {fn}() can produce a partition "
            f"set inconsistent with the rows actually rewritten"
        )


def _resolve_targets(
    columns, mapping: dict[str, str], stmt_label: str, name: str, pcols=None
) -> dict[str, str]:
    """Resolve assignment-target column names CASE-INSENSITIVELY
    against the table schema (Spark SQL identifier semantics).
    Unknown targets raise like Hive's INVALID_TARGET_COLUMN — a
    silently ignored typo'd SET column would report rows matched
    while changing nothing. With ``pcols``, assignments to partition
    columns are rejected (UPDATE_CANNOT_UPDATE_PART_VALUE): moving
    rows across partitions under dynamic overwrite would strand
    stale copies in source partitions the incoming data no longer
    mentions. Shared by UPDATE and MERGE."""
    by_lower = {c.lower(): c for c in columns}
    resolved: dict[str, str] = {}
    unknown = []
    for k, expr_text in mapping.items():
        col = by_lower.get(k.lower())
        if col is None:
            unknown.append(k)
        else:
            resolved[col] = expr_text
    if unknown:
        raise ValueError(
            f"{stmt_label} target column(s) {sorted(unknown)} not in table "
            f"{name} (columns: {list(columns)})"
        )
    if pcols:
        bad = sorted(set(resolved) & {by_lower[p.lower()] for p in pcols})
        if bad:
            raise ValueError(
                f"{stmt_label} cannot change partition column(s) {bad} (Hive "
                "UPDATE_CANNOT_UPDATE_PART_VALUE semantics); DELETE + INSERT "
                "instead"
            )
    return resolved


def _set_columns(schema, cond, assignments: dict[str, str]) -> list:
    """The UPDATE projection over ``schema``: an assigned column
    becomes ``CASE WHEN cond THEN CAST(expr AS <its type>) ELSE col
    END``, every other column passes through. Hive UPDATE keeps each
    column's type, so a widening expression (``c * 1.1`` on an INT
    column) is cast back rather than changing the row image's type.
    Shared by the copy-on-write and merge-on-read UPDATE."""
    from pyspark.sql import functions as F

    return [
        F.when(cond, F.expr(assignments[f.name]).cast(f.dataType))
        .otherwise(F.col(f.name)).alias(f.name)
        if f.name in assignments else F.col(f.name)
        for f in schema.fields
    ]


def _affected_partitions(spark, df, cond, pcols) -> list[tuple]:
    """Distinct partition tuples containing rows that match ``cond``.
    The scan is partition-pruned by Catalyst whenever the condition
    carries a partition-column conjunct — the common shape for
    row-level ops on partitioned fact tables."""
    return [tuple(r) for r in df.filter(cond).select(*pcols).distinct().collect()]


# Above this many affected partitions the OR-of-equalities membership
# expression stops being worth it (Catalyst analysis cost grows with
# the literal tree, and static pruning has diminishing value when
# most partitions are touched anyway) — switch to a broadcast
# semi-join against the partition-tuple list.
_MEMBERSHIP_OR_LIMIT = 64


def _partition_membership(df, pcols, parts):
    """Restrict ``df`` to rows whose partition tuple ∈ parts.

    Up to _MEMBERSHIP_OR_LIMIT partitions: an OR-of-eqNullSafe
    literal tree (null-safe — Spark's default-partition rows compare
    via eqNullSafe), which Catalyst turns into static partition
    pruning. More: a broadcast LEFT-SEMI join against the tuple list —
    no static pruning, but no kilo-term expression tree either."""
    from functools import reduce
    from operator import and_, or_

    from pyspark.sql import functions as F

    if len(parts) <= _MEMBERSHIP_OR_LIMIT:
        return df.filter(
            reduce(
                or_,
                [
                    reduce(
                        and_,
                        [F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(pcols, p)],
                    )
                    for p in parts
                ],
            )
        )
    spark = df.sparkSession
    from pyspark.sql.types import StructType

    # explicit schema from the table's own partition columns —
    # inference would fail on a column that is None in every tuple
    # (the null-partition case eqNullSafe exists to support)
    tuple_schema = StructType([df.schema[c] for c in pcols])
    tuples = local_rows(spark, [tuple(p) for p in parts], tuple_schema)
    cond = reduce(
        and_, [df[c].eqNullSafe(tuples[c]) for c in pcols]
    )
    return df.join(F.broadcast(tuples), cond, "leftsemi")


class _dynamic_partition_overwrite:
    """Scoped ``spark.sql.sources.partitionOverwriteMode=dynamic``:
    INSERT OVERWRITE replaces only the partitions present in the
    incoming data (Hive's default semantics — the reference rewrites
    UPDATE/DELETE into exactly this partition-scoped insert-overwrite,
    ql/parse/UpdateDeleteSemanticAnalyzer.java) instead of truncating
    the whole table.

    NOTE the conf is session-global (the per-write
    ``option("partitionOverwriteMode", ...)`` form is honored by
    path-based ``save()`` but IGNORED by ``insertInto`` — verified on
    this Spark build: a writer-option-only attempt truncated the
    table). A process-wide lock serializes the engine's own
    partition-scoped writes; a concurrent RAW ``INSERT OVERWRITE`` on
    the SAME session would still observe dynamic mode for the
    duration. Per-connection ``newSession()`` clients (the supported
    multi-client model — test_concurrent_engine.py) have their own
    conf and are unaffected."""

    import threading

    KEY = "spark.sql.sources.partitionOverwriteMode"
    _LOCK = threading.Lock()

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self._LOCK.acquire()
        try:
            self.prior = self.spark.conf.get(self.KEY, None)
            self.spark.conf.set(self.KEY, "dynamic")
        except BaseException:
            # a dead gateway here must not leave the process-wide
            # lock held forever (every later partition-scoped DML
            # would deadlock silently)
            self._LOCK.release()
            raise

    def __exit__(self, *exc):
        try:
            if self.prior is None:
                self.spark.conf.unset(self.KEY)
            else:
                self.spark.conf.set(self.KEY, self.prior)
        finally:
            self._LOCK.release()


def _drop_emptied_partitions(spark: SparkSession, name: str,
                             pcols: Sequence[str],
                             emptied: Sequence[tuple]) -> None:
    """Drop partitions that dynamic overwrite cannot express (it only
    rewrites partitions PRESENT in the incoming data). Shared by
    delete_from, merge_into and acid.compact_mor — one copy of the
    two ordering rules: render EVERY spec before mutating anything
    (an unrenderable NULL partition must fail the whole statement up
    front, not half-way), and the caller runs the drops BEFORE its
    survivor overwrite so a mid-statement crash leaves a state from
    which re-running converges."""
    drop_specs = [
        ", ".join(f"{c} = {_sql_partition_literal(v)}" for c, v in zip(pcols, p))
        for p in emptied
    ]
    for spec in drop_specs:
        spark.sql(f"ALTER TABLE {name} DROP PARTITION ({spec})")


def _sql_partition_literal(v) -> str:
    """Render one partition value as a Spark SQL literal for
    ALTER TABLE .. DROP PARTITION. Strings are escaped; date/datetime
    become quoted ISO strings (Spark casts them to the partition
    type); the NULL (__HIVE_DEFAULT_PARTITION__) partition cannot be
    addressed by value — same limitation as Hive's own DROP
    PARTITION."""
    import datetime as _dt

    if v is None:
        raise ValueError(
            "cannot DROP the null (__HIVE_DEFAULT_PARTITION__) partition by "
            "value; delete its rows with an IS NULL condition that leaves the "
            "partition non-empty, or drop it manually"
        )
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        # backslashes FIRST (Spark's parser unescapes inside quoted
        # literals: an unescaped backslash would corrupt or even
        # swallow the closing quote), then quotes.
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, (_dt.datetime, _dt.date)):
        return f"'{v.isoformat()}'"
    return str(v)


def _assert_no_mor_deltas(spark: SparkSession, name: str, verb: str) -> None:
    """Copy-on-write verbs rewrite from the BASE (spark.table), which
    includes rows masked by merge-on-read delete deltas — and on an
    unpartitioned table the whole-location INSERT OVERWRITE also
    deletes ``_delete_delta/`` itself, silently RESURRECTING every
    committed MOR delete. The two write models don't compose on one
    table; fold the deltas first (acid.compact_mor) and the COW verb
    is then exact. (The reference serializes the same conflict
    through the compactor + write-id visibility; we refuse loudly.)"""
    import os as _os

    # late import breaks the ddl<->acid cycle; acid owns the delta
    # layout (_DELTA_DIR/_MANIFEST/_local_path), so a layout rename
    # cannot silently disarm this guard
    from amplab_hive_spark import acid as _acid

    try:
        delta_dir = _acid._delta_path(spark, name)
    except NotImplementedError:
        return  # non-local warehouse: MOR manifests cannot exist there
    manifest = _os.path.join(delta_dir, _acid._MANIFEST)
    if _os.path.exists(manifest):
        raise ValueError(
            f"{verb} on {name} is copy-on-write but the table is pinned "
            f"merge-on-read (manifest under _delete_delta/) — a COW "
            f"rewrite would resurrect delta-masked rows and wipe the "
            f"pin; run acid.compact_mor(spark, {name!r}) to fold the "
            f"deltas, then acid.unpin_mor_keys(spark, {name!r}) to "
            f"revert the table to copy-on-write"
        )


def update_table(
    spark: SparkSession,
    name: str,
    condition: str,
    assignments: dict[str, str],
) -> int:
    """UPDATE name SET col=expr WHERE condition — copy-on-write,
    PARTITION-SCOPED when the table is partitioned: only partitions
    that contain matching rows are re-read and rewritten (dynamic
    partition overwrite); untouched partitions' files are never
    opened. Unpartitioned tables fall back to a full-table rewrite.
    Returns #rows matched. (Row-level ACID deltas are a non-goal —
    SURVEY §7.3; the reference's UpdateDeleteSemanticAnalyzer
    likewise rewrites into a partition-scoped insert-overwrite.)

    Cost model (honest version): the partitioned path is one
    partition-discovery scan (pruned by Catalyst whenever the
    condition carries a partition-column conjunct — the common shape)
    plus one scan of the affected partitions into the staged
    checkpoint; matched count and overwrite both read the checkpoint,
    never a third scan. A condition with NO partition predicate pays
    a full discovery scan — still cheaper than the full REWRITE it
    avoids whenever the matches cluster in few partitions. At 100 TB
    this bounds the rewrite to the partitions actually hit — the
    practical ceiling for row-level ops without a delta-file format
    (Iceberg/Delta).

    Assignments to PARTITION columns are rejected, exactly like the
    reference (UpdateDeleteSemanticAnalyzer's
    UPDATE_CANNOT_UPDATE_PART_VALUE): moving rows across partitions
    under dynamic overwrite would strand stale copies in source
    partitions the incoming data no longer mentions.

    The condition MUST be deterministic (it runs in two separate
    scans); obviously non-deterministic functions are rejected up
    front via ``_reject_nondeterministic``."""
    from pyspark.sql import functions as F

    _reject_nondeterministic(condition, "UPDATE")
    _assert_no_mor_deltas(spark, name, "UPDATE (copy-on-write)")
    df = spark.table(name)
    cond = F.expr(condition)
    pcols = _partition_columns(spark, name)
    assignments = _resolve_targets(df.columns, assignments, "UPDATE", name, pcols)
    scoped = df
    parts: list[tuple] | None = None
    if pcols:
        parts = _affected_partitions(spark, df, cond, pcols)
        if not parts:
            return 0
        scoped = _partition_membership(df, pcols, parts)
    # Flag evaluates against PRE-update values (same projection input).
    staged = scoped.select(*_set_columns(df.schema, cond, assignments),
                           F.coalesce(cond, F.lit(False)).alias("__matched"))
    # localCheckpoint materializes once and truncates lineage (Spark
    # refuses to overwrite a table its own plan still reads).
    staged = staged.localCheckpoint(eager=True)
    matched = staged.filter("__matched").count()  # from checkpoint, not the table
    out = staged.drop("__matched")
    if pcols:
        with _dynamic_partition_overwrite(spark):
            out.write.insertInto(name, overwrite=True)
    else:
        out.write.insertInto(name, overwrite=True)
    return matched


def delete_from(spark: SparkSession, name: str, condition: str) -> int:
    """DELETE FROM name WHERE condition — copy-on-write overwrite,
    PARTITION-SCOPED when the table is partitioned (see
    ``update_table``); a partition whose every row is deleted is
    dropped via ALTER TABLE .. DROP PARTITION, since dynamic
    overwrite only replaces partitions present in the incoming data.

    SQL semantics: delete rows where the condition is TRUE; rows
    where it evaluates NULL survive (``NOT (cond)`` would silently
    delete them too). Same cost model as ``update_table`` (one
    discovery scan + one scoped scan into the checkpoint), same
    deterministic-condition requirement."""
    from pyspark.sql import functions as F

    _reject_nondeterministic(condition, "DELETE")
    _assert_no_mor_deltas(spark, name, "DELETE (copy-on-write)")
    df = spark.table(name)
    matched_flag = F.coalesce(F.expr(condition), F.lit(False))
    pcols = _partition_columns(spark, name)
    scoped = df
    parts: list[tuple] | None = None
    if pcols:
        parts = _affected_partitions(spark, df, F.expr(condition), pcols)
        if not parts:
            return 0
        scoped = _partition_membership(df, pcols, parts)
    staged = scoped.withColumn("__matched", matched_flag).localCheckpoint(eager=True)
    matched = staged.filter("__matched").count()
    remaining = staged.filter(~F.col("__matched")).drop("__matched")
    if not pcols:
        remaining.write.insertInto(name, overwrite=True)
        return matched
    # Every remaining row's partition is in `parts` by construction;
    # dynamic overwrite rewrites exactly the partitions with
    # survivors. Partitions whose every row was deleted are absent
    # from the incoming data — dynamic overwrite can't express them,
    # so they're dropped explicitly.
    surviving = {
        tuple(r)
        for r in staged.filter(~F.col("__matched")).select(*pcols).distinct().collect()
    }
    emptied = [p for p in parts if p not in surviving]
    # Drop emptied partitions BEFORE the survivor overwrite (advice
    # r4): the survivors are already materialized in the eager
    # checkpoint, so the drops can't corrupt them, and either
    # interleaving of a mid-statement crash leaves a state from which
    # RE-RUNNING THE SAME DELETE converges (stale rows still match).
    # The old order (overwrite, then drops) had the one bad window
    # where a failed drop left fully-deleted partitions visible after
    # the statement had already "committed" its other half.
    _drop_emptied_partitions(spark, name, pcols, emptied)
    if surviving:
        with _dynamic_partition_overwrite(spark):
            remaining.write.insertInto(name, overwrite=True)
    return matched


def merge_into(
    spark: SparkSession,
    name: str,
    source: DataFrame,
    on: str,
    matched_update: dict[str, str] | None = None,
    matched_update_cond: str | None = None,
    matched_delete: str | None = None,
    not_matched_insert: dict[str, str] | None = None,
    not_matched_cond: str | None = None,
) -> dict[str, int]:
    """MERGE INTO name t USING source s ON <on> — the ANSI upsert:

    - ``matched_update``: WHEN MATCHED [AND ``matched_update_cond``]
      THEN UPDATE SET col=expr (expressions and the guard may
      reference ``t.`` and ``s.`` columns); a matched row whose guard
      is false or NULL keeps its old values and is NOT counted as
      updated (ANSI three-valued clause predicates — Hive 2.2's
      MergeSemanticAnalyzer folds the guard the same way);
    - ``matched_delete``: WHEN MATCHED AND <cond> THEN DELETE
      (evaluated BEFORE the update clause, Hive clause-order
      semantics — a row deleted is not also updated);
    - ``not_matched_insert``: WHEN NOT MATCHED [AND
      ``not_matched_cond``] THEN INSERT with a {target_col:
      expr-over-s} mapping; unspecified columns become NULL of the
      target type; a guarded-out source row is simply ignored (the
      guard sees target columns as NULL, per ANSI).

    Beyond the 1.x reference surface (MERGE landed in Hive 2.2) but
    built on the same rewrite frame as UPDATE/DELETE
    (ql/parse/UpdateDeleteSemanticAnalyzer.java): copy-on-write,
    PARTITION-SCOPED. Mechanics:

    1. discovery: a left-semi join finds the target partitions that
       contain matched rows — only those are re-read and rewritten;
    2. stage: one full-outer join of the SCOPED target against the
       source (scoping loses no matches — every matched row's
       partition is in the discovered set), with every output
       expression evaluated up front and the whole frame
       localCheckpoint'ed so classification, counting, and both
       writes read one materialization;
    3. cardinality check: a target row matching >1 source row is an
       ANSI cardinality violation (Hive's
       ErrorMsg.MERGE_CARDINALITY_VIOLATION) — detected on the staged
       frame via a per-target-row id and rejected BEFORE any write;
    4. write: emptied partitions (all rows deleted, none surviving)
       drop first, survivors overwrite their partitions under dynamic
       partition overwrite, and inserts APPEND afterwards — appends
       can create brand-new partitions and can never clobber an
       unscoped partition the way an overwrite of a non-discovered
       partition would.

    Crash window (same residual as ``delete_from``, documented): the
    drop / overwrite / append sequence is not atomic; re-running the
    SAME merge converges because staged semantics are idempotent for
    update/delete — but inserts would duplicate, so a crashed merge
    should be reconciled by key before re-running.

    The ``source`` frame is localCheckpoint'ed once up front: without
    that, discovery and staging would execute its plan twice, and a
    non-deterministic source (sample/limit/rand-derived keys, or a
    view over files being appended concurrently) could match target
    rows in partitions discovery never scoped — the same silent-skip
    class ``_reject_nondeterministic`` blocks for string conditions.

    An INSERT-ONLY merge (no matched clause) takes a dedicated fast
    path: matched target rows are untouched by definition, so there
    is no discovery, no rewrite of any partition, and — per ANSI/Hive
    — NO cardinality check (the violation is defined only for rows a
    WHEN MATCHED clause would touch); unmatched source rows simply
    anti-join and append.

    At 100 TB: the discovery semi-join prunes the rewrite to touched
    partitions; the source is typically the small side (a change
    batch) so AQE broadcasts both the semi-join and the outer join's
    build side; the append path writes only the new rows. Returns
    {'updated': n, 'deleted': n, 'inserted': n}.
    """
    from pyspark.sql import functions as F

    _reject_nondeterministic(on, "MERGE ON")
    if matched_delete is not None:
        _reject_nondeterministic(matched_delete, "MERGE WHEN MATCHED AND")
    if matched_update_cond is not None:
        _reject_nondeterministic(matched_update_cond, "MERGE WHEN MATCHED AND")
        if not matched_update:
            raise ValueError("matched_update_cond requires matched_update")
    if not_matched_cond is not None:
        _reject_nondeterministic(not_matched_cond, "MERGE WHEN NOT MATCHED AND")
        if not not_matched_insert:
            raise ValueError("not_matched_cond requires not_matched_insert")
    if not (matched_update or matched_delete or not_matched_insert):
        raise ValueError("MERGE requires at least one WHEN clause")
    _assert_no_mor_deltas(spark, name, "MERGE")

    t = spark.table(name)
    pcols = _partition_columns(spark, name)

    updates = _resolve_targets(
        t.columns, matched_update or {}, "MERGE UPDATE", name, pcols
    )
    inserts = _resolve_targets(t.columns, not_matched_insert or {}, "MERGE INSERT", name)

    # One materialization of the change batch: discovery and staging
    # (or the anti-join and the append) must see the SAME rows.
    source = source.localCheckpoint(eager=True)
    src = source.alias("s")

    def _insert_col(c):
        return (
            F.expr(inserts[c]) if c in inserts else F.lit(None)
        ).cast(t.schema[c].dataType)

    if not updates and matched_delete is None:
        # ---- insert-only fast path: append, touch nothing else ----
        anti = src.join(t.alias("t"), F.expr(on), "left_anti")
        if not_matched_cond is not None:
            # guard sees only s.* here; target columns are NULL for a
            # not-matched row by definition, and the anti-join has
            # already dropped them — same ANSI answer either way
            anti = anti.filter(F.coalesce(F.expr(not_matched_cond), F.lit(False)))
        new_rows = (
            anti
            .select(*[_insert_col(c).alias(c) for c in t.columns])
            .localCheckpoint(eager=True)
        )
        n_inserted = new_rows.count()
        if n_inserted:
            new_rows.write.insertInto(name, overwrite=False)
        return {"updated": 0, "deleted": 0, "inserted": n_inserted}

    # ---- discovery: which target partitions hold matched rows ----
    parts: list[tuple] = []
    if pcols:
        parts = [
            tuple(r)
            for r in t.alias("t")
            .join(src, F.expr(on), "leftsemi")
            .select(*pcols)
            .distinct()
            .collect()
        ]
        scoped = _partition_membership(t, pcols, parts) if parts else t.filter(F.lit(False))
    else:
        scoped = t

    # ---- stage: one full-outer join, everything computed up front ----
    tt = scoped.withColumn("__tid", F.monotonically_increasing_id()).withColumn(
        "__tmark", F.lit(1)
    )
    ss = src.withColumn("__smark", F.lit(1))
    joined = tt.alias("t").join(ss.alias("s"), F.expr(on), "full_outer")
    tmark = F.col("__tmark").isNotNull()
    smark = F.col("__smark").isNotNull()
    matched = tmark & smark
    delete_flag = (
        matched & F.coalesce(F.expr(matched_delete), F.lit(False))
        if matched_delete is not None
        else F.lit(False)
    )
    # ANSI clause guards are three-valued: NULL means the clause does
    # not fire. The update flag excludes deleted rows (delete clause
    # evaluates first); a matched row firing neither clause survives
    # with its OLD values.
    update_flag = matched & ~delete_flag
    if matched_update_cond is not None:
        update_flag = update_flag & F.coalesce(
            F.expr(matched_update_cond), F.lit(False)
        )
    insert_flag = smark & ~tmark
    if not_matched_cond is not None:
        insert_flag = insert_flag & F.coalesce(
            F.expr(not_matched_cond), F.lit(False)
        )
    cols = []
    for c in t.columns:
        keep = F.col(f"t.{c}")
        upd = F.expr(updates[c]) if c in updates else keep
        cols.append(
            F.when(update_flag, upd)
            .when(tmark, keep)
            .otherwise(_insert_col(c))
            .alias(c)
        )
    staged = joined.select(
        *cols,
        F.col("__tid"),
        matched.alias("__matched"),
        delete_flag.alias("__deleted"),
        update_flag.alias("__updated"),
        (tmark & ~smark).alias("__tonly"),
        insert_flag.alias("__sonly"),
    ).localCheckpoint(eager=True)

    # ---- cardinality check + clause counts, ONE pass (r15) ----
    # A target row matching >1 source row appears as >1 __matched
    # staged rows sharing one __tid, so duplicates exist iff
    # COUNT(matched) > COUNT(DISTINCT matched __tid) — detectable in
    # the SAME aggregate that produces the three clause counts,
    # instead of the r14 per-__tid groupBy probe + separate counts agg
    # (two scheduled jobs over the checkpoint; guide §5 driver
    # barriers). The distinct shuffles ~|matched| tids, the same
    # volume the old groupBy probe shuffled; the check still runs
    # BEFORE any write.
    counts_row = staged.agg(
        F.count(F.when(F.col("__matched"), 1)).alias("m"),
        F.countDistinct(F.when(F.col("__matched"), F.col("__tid"))).alias("mt"),
        F.sum(F.when(F.col("__deleted"), 1).otherwise(0)).alias("d"),
        F.sum(F.when(F.col("__updated"), 1).otherwise(0)).alias("u"),
        F.sum(F.when(F.col("__sonly"), 1).otherwise(0)).alias("i"),
    ).collect()[0]
    if int(counts_row.m or 0) != int(counts_row.mt or 0):
        raise ValueError(
            "MERGE cardinality violation: a target row matches more than one "
            "source row (Hive MERGE_CARDINALITY_VIOLATION); aggregate the "
            "source to one row per key first"
        )
    n_deleted = int(counts_row.d or 0)
    n_updated = int(counts_row.u or 0) if matched_update else 0
    n_inserted = int(counts_row.i or 0) if not_matched_insert else 0

    survivors = staged.filter(
        "__tonly OR (__matched AND NOT __deleted)"
    ).select(*t.columns)
    new_rows = (
        staged.filter("__sonly").select(*t.columns) if not_matched_insert else None
    )

    if not pcols:
        out = survivors.unionByName(new_rows) if new_rows is not None else survivors
        out.write.insertInto(name, overwrite=True)
        return {"updated": n_updated, "deleted": n_deleted, "inserted": n_inserted}

    # Partitioned path: drop emptied, overwrite survivors, append new.
    surviving_parts = {
        tuple(r) for r in survivors.select(*pcols).distinct().collect()
    }
    emptied = [p for p in parts if p not in surviving_parts]
    _drop_emptied_partitions(spark, name, pcols, emptied)
    if surviving_parts:
        with _dynamic_partition_overwrite(spark):
            survivors.write.insertInto(name, overwrite=True)
    if new_rows is not None:
        new_rows.write.insertInto(name, overwrite=False)
    return {"updated": n_updated, "deleted": n_deleted, "inserted": n_inserted}


def scd2_apply(
    spark: SparkSession,
    name: str,
    source: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    batch_date: str,
) -> dict[str, int]:
    """Slowly-changing-dimension Type 2 maintenance — the standard
    warehouse recipe for keeping full attribute history, composed
    from this module's own verbs (MERGE closes old versions, a plain
    append opens new ones) rather than a third DML path.

    The dimension table must carry ``key_cols + tracked_cols +
    (valid_from, valid_to, is_current)``. For each source row:

    - key exists with ``is_current`` and any tracked column differs
      (NULL-safely) → the current row CLOSES (``valid_to`` =
      batch_date, ``is_current`` = false) and a new current version
      appends with ``valid_from`` = batch_date;
    - key unseen → a new current version appends;
    - key present and unchanged → untouched;
    - keys absent from the source → untouched (this is a delta
      apply, not a snapshot diff; close-missing is the caller's
      explicit delete).

    The source must hold ONE row per key — two versions of a key in
    one batch is ambiguous (which is current?); the MERGE cardinality
    check enforces exactly this invariant for changed keys, and a
    same-batch duplicate of a NEW key is rejected up front.

    Returns {'closed': n, 'inserted': n}. Scale: dimensions are the
    small side by construction; the change-classification join
    broadcasts current rows or the batch (AQE picks), the close is a
    MERGE, and the open is an append. LOGICALLY no history version is
    ever modified (the Type 2 contract); PHYSICALLY the close's MERGE
    is this module's copy-on-write — on an unpartitioned dimension a
    batch with >=1 changed key rewrites the table's files, and a
    dimension partitioned on a stable key range bounds that rewrite
    the same way UPDATE does. Batches with only new keys are pure
    appends either way.

    CRASH WINDOW (same residual class as merge_into, documented
    there): the close (MERGE) and the open (append) are two
    non-atomic writes. A failure BETWEEN them leaves every changed
    key with its old version closed but no current row — violating
    the exactly-one-current invariant until recovery. Recovery is
    re-running the SAME batch after reconciling by key: the close is
    idempotent (re-matching rows are already closed, the
    NULL-safe-difference predicate no longer fires), but the append
    is NOT — a blind re-run after a crash that happened AFTER the
    append would duplicate current rows, so the reconcile step is
    "for each source key, if no is_current row exists, re-append
    that key's new version only". A transactional table format
    (Iceberg/Delta) collapses both writes into one snapshot commit;
    with plain parquet this window is inherent to copy-on-write."""
    import datetime as _dt

    from pyspark.sql import functions as F

    # Validate up front: the close path's DATE literal would raise a
    # ParseException but the append path's lit().cast("date") yields
    # NULL under non-ANSI mode — a malformed date on a new-keys-only
    # batch would otherwise corrupt valid_from silently.
    _dt.date.fromisoformat(batch_date)
    source = source.localCheckpoint(eager=True)
    # explicit alias: a key column literally named "count" would
    # collide with groupBy().count()'s output column.
    dup = (
        source.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter("__n > 1")
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "SCD2 source must contain one row per key; aggregate the batch "
            "to latest-version-per-key first"
        )
    t = spark.table(name)
    from functools import reduce
    from operator import and_, or_

    cur = t.filter(F.col("is_current"))
    key_eq = reduce(and_, [source[k].eqNullSafe(cur[k]) for k in key_cols])
    joined = source.join(cur, key_eq, "left")
    differs = (
        reduce(or_, [~source[c].eqNullSafe(cur[c]) for c in tracked_cols])
        if tracked_cols
        else F.lit(False)
    )
    # No-match marker: cur.is_current is TRUE on every joined current
    # row and NULL only when the left join found nothing. Testing a
    # KEY column for null would misclassify a matched NULL-key row
    # (the join itself is eqNullSafe, so NULL keys DO match).
    classified = joined.select(
        *[source[c] for c in source.columns],
        F.when(cur["is_current"].isNull(), F.lit("new"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("__cls"),
    ).localCheckpoint(eager=True)

    changed = classified.filter("__cls = 'changed'").drop("__cls")
    opening = classified.filter("__cls IN ('changed', 'new')").drop("__cls")
    n_closed = 0
    if changed.limit(1).count():
        on = " AND ".join(
            [f"t.{k} <=> s.{k}" for k in key_cols] + ["t.is_current = true"]
        )
        counts = merge_into(
            spark,
            name,
            changed.select(*key_cols),
            on=on,
            matched_update={
                "valid_to": f"DATE'{batch_date}'",
                "is_current": "false",
            },
        )
        n_closed = counts["updated"]
    n_inserted = opening.count()
    if n_inserted:
        new_rows = opening.select(
            *[
                F.col(c)
                for c in t.columns
                if c not in ("valid_from", "valid_to", "is_current")
            ],
            F.lit(batch_date).cast("date").alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
            F.lit(True).alias("is_current"),
        ).select(*t.columns)
        new_rows.write.insertInto(name, overwrite=False)
    return {"closed": n_closed, "inserted": n_inserted}



def export_table(spark: SparkSession, name: str, export_dir: str) -> None:
    """EXPORT TABLE name TO dir (HiveParser.g:97): data + schema
    snapshot. Data as Parquet, schema AND partition columns as JSON
    alongside — Hive's _metadata carries the partition spec too, and
    without it an exported partitioned table would silently
    round-trip to an unpartitioned one (partition_values and the
    partition-scoped UPDATE/DELETE paths would stop applying)."""
    import json
    import os

    df = spark.table(name)
    df.write.mode("overwrite").parquet(os.path.join(export_dir, "data"))
    with open(os.path.join(export_dir, "_schema.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "table": name,
                    "schema": df.schema.jsonValue(),
                    "partition_columns": _partition_columns(spark, name),
                }
            )
        )


def import_table(spark: SparkSession, name: str, export_dir: str, path: str) -> None:
    """IMPORT TABLE name FROM dir (HiveParser.g:98) — restores the
    exported partitioning (pre-partition-aware exports without the
    key import as unpartitioned, matching their snapshot).

    Existing-target semantics follow Hive's exim contract (r8 — the
    old behavior silently CLOBBERED the target):

    - target absent → created (the normal restore);
    - target exists, schema-compatible AND EMPTY → data imported into
      it (clientnegative exim_02's positive twin);
    - target exists with rows → error (exim_01_nonpart_over_loaded.q:
      importing over loaded data would union or clobber silently);
    - column names/types/count differ → error
      (exim_03/04/05_nonpart_noncompat_col{schema,number,type}.q);
    - partitioning differs → error (exim_14_nonpart_part.q /
      exim_15_part_nonpart.q);
    - missing/corrupt export metadata → error
      (exim_00_unsupported_schema.q)."""
    import json
    import os

    from pyspark.sql.types import StructType

    meta_path = os.path.join(export_dir, "_schema.json")
    if not os.path.exists(meta_path):
        raise ValueError(
            f"IMPORT source {export_dir} has no _schema.json — not an "
            f"export produced by export_table (exim_00 class)"
        )
    try:
        with open(meta_path) as fh:
            meta = json.load(fh)
    except (json.JSONDecodeError, UnicodeDecodeError) as ex:
        raise ValueError(
            f"IMPORT source {export_dir} has corrupt export metadata "
            f"(exim_00_unsupported_schema class): {ex}"
        ) from ex
    schema = StructType.fromJson(meta["schema"])
    pcols = list(meta.get("partition_columns", ()))
    df = spark.read.schema(schema).parquet(os.path.join(export_dir, "data"))

    if spark.catalog.tableExists(name):
        existing = spark.table(name)
        want = [(f.name.lower(), f.dataType) for f in schema.fields]
        have = [(f.name.lower(), f.dataType) for f in existing.schema.fields]
        if have != want:
            raise ValueError(
                f"IMPORT target {name} exists with an incompatible "
                f"schema (exim_03/04/05 class): table has {have}, "
                f"export carries {want}"
            )
        have_p = [c.lower() for c in _partition_columns(spark, name)]
        if have_p != [c.lower() for c in pcols]:
            raise ValueError(
                f"IMPORT target {name} partitioning differs "
                f"(exim_14/15 class): table partitioned by {have_p}, "
                f"export by {[c.lower() for c in pcols]}"
            )
        if not existing.isEmpty():
            raise ValueError(
                f"IMPORT target {name} already contains data "
                f"(exim_01_nonpart_over_loaded class); importing over "
                f"loaded data would silently clobber or duplicate — "
                f"TRUNCATE or drop the table first"
            )
        df.write.insertInto(name)
        return
    create_table_as(spark, name, df, path, partition_by=pcols)


def load_data(
    spark: SparkSession,
    src_path: str,
    name: str,
    fmt: str = "parquet",
    overwrite: bool = False,
    options: dict | None = None,
) -> None:
    """LOAD DATA INPATH src INTO TABLE name
    (QL/parse/LoadSemanticAnalyzer.java). The reference moves files;
    here the load is a read+append through the table's committed
    format (schema-checked instead of trusted blindly)."""
    reader = spark.read.options(**(options or {}))
    df = reader.format(fmt).load(src_path)
    target = spark.table(name)
    aligned = df.select(
        *[df[c].cast(dict(target.dtypes)[c]).alias(c) for c in target.columns]
    )
    aligned.write.insertInto(name, overwrite=overwrite)


def transform_rows(
    df: DataFrame,
    fn: Callable,
    schema,
) -> DataFrame:
    """SELECT TRANSFORM (ScriptOperator) equivalent: stream Arrow
    batches through a Python callable (pandas DataFrame →
    pandas DataFrame). The reference forks a subprocess and pipes
    tab-separated rows; mapInPandas keeps it in-process and
    vectorized."""
    return df.mapInPandas(fn, schema=schema)


def partition_values(spark: SparkSession, name: str) -> DataFrame:
    """Partition-column values from CATALOG METADATA — no data-file
    scan. The explicit form of Hive's metadata-only optimization
    (ql/optimizer/MetadataOnlyOptimizer.java, exercised by
    clientpositive/metadataonly1.q: ``max(ds)``, ``count(distinct
    ds)`` answered from partition specs).

    Deliberately an explicit API rather than an automatic rewrite:
    partition metadata counts partitions that exist with ZERO rows,
    so ``max(ds)`` over metadata can disagree with ``max(ds)`` over
    data — the correctness bug that led Spark to remove its own
    OptimizeMetadataOnlyQuery rule. When every partition is non-empty
    the two answers coincide (tested); when a caller knows partitions
    may be empty they must choose which question they're asking.
    tests/test_metadata_only.py pins both the parity and the
    divergence.

    Scale shape: one catalog RPC (SHOW PARTITIONS) + a driver-local
    parse of partition SPECS (bounded by partition count, thousands —
    not rows, billions); the result is a tiny local DataFrame cast to
    the table's partition-column types. Hive default-partition
    sentinels decode to NULL; %-escapes in values decode per Hive's
    FileUtils.escapePathName."""
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    pcols = _partition_columns(spark, name)
    if not pcols:
        raise ValueError(f"table {name} is not partitioned")
    specs = [r[0] for r in spark.sql(f"SHOW PARTITIONS {name}").collect()]
    rows = []
    for spec in specs:
        vals: dict[str, str | None] = {}
        for piece in spec.split("/"):
            k, _, v = piece.partition("=")
            v = unquote(v)
            vals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
        rows.append(tuple(vals.get(c) for c in pcols))
    schema_str = ", ".join(f"{c} string" for c in pcols)
    raw = local_rows(spark, rows, schema_str)
    target_types = dict(spark.table(name).select(*pcols).dtypes)
    return raw.select(*[F.col(c).cast(target_types[c]).alias(c) for c in pcols])


def _table_location(spark: SparkSession, name: str) -> str:
    """Storage location from catalog metadata (DESCRIBE EXTENDED)."""
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect():
        if r.col_name == "Location":
            return r.data_type
    raise ValueError(f"table {name} has no Location (is it a view?)")


def _list_data_files(spark: SparkSession, location: str) -> dict[str, list[tuple[str, int]]]:
    """Recursive DATA-file listing under ``location`` via the Hadoop
    FileSystem API (storage-agnostic: local, HDFS, object stores).
    Returns {relative_dir: [(filename, bytes)]}; hidden files
    (leading ``_`` or ``.`` — _SUCCESS, .crc sidecars) are excluded.
    Pure metadata: cost is bounded by FILE COUNT, never data size."""
    sc = spark.sparkContext
    jvm = sc._jvm
    root = jvm.org.apache.hadoop.fs.Path(location)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return {}
    root_path = fs.makeQualified(root).toUri().getPath()
    out: dict[str, list[tuple[str, int]]] = {}
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        fname = p.getName()
        if fname.startswith(("_", ".")):
            continue
        parent = p.getParent().toUri().getPath()
        rel = parent[len(root_path):].strip("/")
        # Hidden PARENT components too (Hadoop's hiddenFileFilter
        # applies at every listing level): part files under a MOR
        # table's _delete_delta/delta-*.parquet dirs are NOT data
        # files — counting them would inflate fragmentation stats
        # and trigger spurious compaction rewrites.
        if any(seg.startswith(("_", ".")) for seg in rel.split("/") if seg):
            continue
        out.setdefault(rel, []).append((fname, int(st.getLen())))
    return out


def compact_table(
    spark: SparkSession,
    name: str,
    target_mb: int = 128,
    partitions: Sequence | None = None,
) -> dict[str, int]:
    """Small-file compaction as a first-class verb — SURVEY §2 row 25.

    The reference merges small output files with dedicated operators
    and daemons (ql/exec/AbstractFileMergeOperator.java:41; the ACID
    compactor ql/txn/compactor/{Initiator,Worker,Cleaner}.java:
    Initiator finds fragmented partitions, Worker rewrites, Cleaner
    removes the old files). This repo's streaming-upsert path makes
    fragmentation real: N micro-batch MERGEs leave each touched
    partition with ~N small files. This verb is Initiator+Worker+
    Cleaner in one call, built on the same partition-scoped
    copy-on-write frame as UPDATE/DELETE:

    1. **Find** (metadata only): list data files per partition via
       the FileSystem API — cost bounded by file count. A partition
       is fragmented when its file count exceeds
       ``ceil(bytes / target_mb)``; already-compact partitions are
       skipped without reading a row.
    2. **Rewrite**: each fragmented partition is read back scoped by
       a partition-pruned filter (typed literals — the scan touches
       only that partition's files), staged with localCheckpoint
       (the same read-then-overwrite ordering every verb here uses),
       coalesced to the target file count (shuffle-free — coalesce
       unions input splits without repartitioning), and written back
       under dynamic partition overwrite, which atomically-per-
       partition replaces the old files. Untouched partitions are
       never read, never rewritten.

    Rows are untouched by construction — same scan, identity
    projection, same partition — and tests/test_ddl_writes.py proves
    the table hash identical before/after over a stream-upsert
    fragmented table. Crash window: a failure between stage and
    overwrite leaves the partition's ORIGINAL files in place (the
    overwrite is the only mutation); re-running converges.

    ``partitions``: optional subset to consider — tuples in
    partition-column order or {col: value} dicts (None = the Hive
    default/null partition value). Default: every partition.

    At 100 TB: the listing is one recursive metadata scan; each
    partition compaction is an independent, partition-pruned job
    whose memory footprint is one partition, not the table; the
    coalesce write is shuffle-free. Returns {"partitions_compacted",
    "files_before", "files_after", "bytes_compacted"}.
    """
    import math
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    pcols = _partition_columns(spark, name)
    t = spark.table(name)
    location = _table_location(spark, name)
    files_by_dir = _list_data_files(spark, location)
    target_bytes = max(1, int(target_mb)) * 1024 * 1024

    wanted: set[tuple] | None = None
    if partitions is not None:
        if not pcols:
            raise ValueError(f"table {name} is not partitioned")
        wanted = set()
        for p in partitions:
            if isinstance(p, dict):
                missing = [c for c in pcols if c not in p]
                if missing:
                    raise ValueError(f"partition spec missing columns: {missing}")
                p = tuple(p[c] for c in pcols)
            p = tuple(p)
            if len(p) != len(pcols):
                raise ValueError(
                    f"partition tuple {p!r} does not match partition columns {pcols}"
                )
            # normalize to Hive's DIRECTORY rendering, which is what
            # _parse_dir yields — str(True) is 'True' but the dir says
            # 'true', so a plain str() would silently match nothing
            wanted.add(
                tuple(
                    None
                    if v is None
                    else (str(v).lower() if isinstance(v, bool) else str(v))
                    for v in p
                )
            )

    def _parse_dir(rel: str) -> tuple | None:
        """dir like 'grp=a/sub=b' -> ('a','b'); None if not a
        partition dir of this table (unexpected depth/shape)."""
        if not rel:
            return None
        segs = rel.split("/")
        if len(segs) != len(pcols):
            return None
        vals = []
        for seg, c in zip(segs, pcols):
            k, eq, v = seg.partition("=")
            if not eq or k != c:
                return None
            v = unquote(v)
            vals.append(None if v == "__HIVE_DEFAULT_PARTITION__" else v)
        return tuple(vals)

    # ---- Initiator: pick the fragmented rewrite set (metadata only)
    todo: list[tuple[tuple | None, list[tuple[str, int]], int]] = []
    files_before = files_after = bytes_compacted = 0
    if pcols:
        for rel, files in files_by_dir.items():
            vals = _parse_dir(rel)
            if vals is None:
                continue
            if wanted is not None and vals not in wanted:
                continue
            nbytes = sum(sz for _, sz in files)
            want = max(1, math.ceil(nbytes / target_bytes))
            if len(files) > want:
                todo.append((vals, files, want))
    else:
        files = [f for fl in files_by_dir.values() for f in fl]
        nbytes = sum(sz for _, sz in files)
        want = max(1, math.ceil(nbytes / target_bytes))
        if len(files) > want:
            todo.append((None, files, want))

    # ---- Worker + Cleaner: partition-scoped rewrite, old files
    # replaced by the overwrite itself
    rel_by_vals = {}
    if pcols:
        for rel, _fl in files_by_dir.items():
            v = _parse_dir(rel)
            if v is not None:
                rel_by_vals[v] = rel
    compacted = 0
    for vals, files, want in todo:
        if vals is None:
            scoped = t
        else:
            cond = F.lit(True)
            for c, v in zip(pcols, vals):
                lit = F.lit(v).cast(t.schema[c].dataType)
                cond = cond & F.col(c).eqNullSafe(lit)
            scoped = t.filter(cond)
        staged = scoped.localCheckpoint(eager=True)
        if staged.isEmpty():
            # Every file in this partition is ZERO-ROW (empty part
            # files from appends whose tasks had no rows): a dynamic
            # overwrite of an empty frame writes nothing and would
            # leave the files forever (reruns never converging). This
            # is the Cleaner's case — delete the dead files directly.
            sc = spark.sparkContext
            jvm = sc._jvm
            root = jvm.org.apache.hadoop.fs.Path(location)
            fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
            rel = rel_by_vals.get(vals, "") if vals is not None else ""
            for fname, _sz in files:
                fpath = jvm.org.apache.hadoop.fs.Path(
                    "/".join(x for x in (location, rel, fname) if x)
                )
                fs.delete(fpath, False)
            # direct deletion bypasses the writer paths, so Spark's
            # cached file listing still references the dead files
            spark.sql(f"REFRESH TABLE {name}")
        elif vals is None:
            staged.coalesce(want).write.insertInto(name, overwrite=True)
        else:
            with _dynamic_partition_overwrite(spark):
                staged.coalesce(want).write.insertInto(name, overwrite=True)
        compacted += 1
        files_before += len(files)
        bytes_compacted += sum(sz for _, sz in files)

    # Honest stats: re-LIST the touched partitions instead of assuming
    # coalesce(want) produced exactly `want` files (the checkpointed
    # scan can have fewer partitions than `want`, making coalesce a
    # no-op at a smaller count).
    if todo:
        after_listing = _list_data_files(spark, location)
        touched_rels = {
            rel_by_vals.get(vals, "") if vals is not None else ""
            for vals, _f, _w in todo
        }
        files_after = sum(
            len(fl) for rel, fl in after_listing.items() if rel in touched_rels
        )

    return {
        "partitions_compacted": compacted,
        "files_before": files_before,
        "files_after": files_after,
        "bytes_compacted": bytes_compacted,
    }
