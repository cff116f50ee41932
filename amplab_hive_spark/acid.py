"""Merge-on-read row-level DELETE and UPDATE — the delta-file half
of the reference's ACID design, Spark-first.

Reference anchors:
- ql/io/AcidUtils.java (delta_x_y directory layout under the table
  location; readers enumerate base + deltas; write ids order events)
- ql/io/orc/OrcRawRecordMerger.java (read-time merge of base rows
  against delete events)
- ql/parse/UpdateDeleteSemanticAnalyzer.java (DELETE rewritten into
  a sorted ROW__ID insert into a delete delta; UPDATE rewritten into
  a delete event PLUS a re-insert of the updated row — the same
  delta mechanism, which this module mirrors with update_mor)
- ql/txn/compactor/Worker.java (major compaction folds deltas back
  into a new base)

Shape here: a DELETE appends a tiny parquet of matched KEY tuples
under ``<table>/_delete_delta/`` — O(matched keys), no base rewrite —
and readers anti-join the base against the union of deltas. An
UPDATE appends BOTH a delete delta (the matched keys) and an INSERT
delta (the updated rows) carrying the same sequence number, exactly
the reference's update = delete event + reinsert decomposition.
This is the "equality delete" design (also how Iceberg v2 spells
row-level deletes on immutable files), in contrast to
ddl.delete_from / ddl.update_table's copy-on-write partition
rewrite: MOR makes the write cheap and taxes reads until
compaction; COW taxes the write and keeps reads free. The reference
offers the same trade (streaming ingest writes deltas; compaction
restores scan speed).

Why ``_delete_delta``: Hadoop/Spark file listings treat ``_``- and
``.``-prefixed paths as hidden (the `_SUCCESS` convention), so base
scans — ours or any vanilla ``spark.read.parquet`` — never see the
delta files, exactly like non-ACID readers never see Hive's deltas.

Sequencing (the write-id analogue): every delta filename carries a
monotonically increasing statement sequence number. Base rows are
sequence 0; a delete delta at sequence i masks any row whose
sequence is < i (base rows, and insert-delta rows written by
EARLIER statements); an insert delta's rows carry its own sequence,
so an UPDATE's re-inserted rows survive their statement's own
delete event and remain maskable by later statements — the same
ordering AcidUtils gets from write ids.

Row identity: the reference synthesizes ROW__ID (writeid, bucket,
rowid) at write time. Plain parquet has no such hook, so deltas are
keyed on caller-named KEY COLUMNS (recorded once in a manifest so
readers need no arguments). Honest divergence, pinned by a test: an
equality delete masks every current and future BASE row with a
matching key until compaction — re-inserting a deleted key through
a plain INSERT (sequence 0 by definition) stays masked, while a
re-insert through update_mor (sequenced above the delete) is
visible. Iceberg orders everything with sequence numbers; the
reference with write ids; we sequence only the delta files and
document the plain-INSERT divergence.

Broadcast discipline: delta key sets are small by construction
(per-statement matches) but nothing BOUNDS them between compactions
— a CDC stream tombstoning 1% of a 100 TB table would make a forced
``F.broadcast`` of the accumulated union a driver OOM (the hint
bypasses autoBroadcastJoinThreshold's safety). Every join here
size-gates the hint: file-byte estimate for on-disk deltas, row
count for in-memory key frames; above the cap the hint is dropped
and AQE still broadcasts genuinely small sides at runtime.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from amplab_hive_spark.ddl import (
    _dynamic_partition_overwrite,
    _partition_columns,
    _reject_nondeterministic,
    _resolve_targets,
    _set_columns,
    _table_location,
)
from amplab_hive_spark.session import local_rows

_DELTA_DIR = "_delete_delta"
_MANIFEST = "_keys.json"

# Filename grammar. DELETE statements write one flat sequenced file
# delta-<seq>-<hex>.parquet; UPDATE statements commit a per-
# transaction directory txn-<seq>-<hex>/ holding delete.parquet +
# insert.parquet (the reference's delta_x_y-per-transaction layout —
# ql/io/AcidUtils.java — which makes the two-file commit one atomic
# rename). MINOR compaction publishes a consolidated RANGE directory
# txnc-<lo>-<hi>-<hex>/ with the same two-file layout — the analogue
# of Hive's delta_x_y spanning multiple write ids
# (ql/txn/compactor/CompactorMR.java minor) — which SUBSUMES every
# delta whose sequence falls in [lo, hi]: the scanner ignores
# subsumed units, so publishing the consolidated dir (one rename) and
# cleaning the old files (the Cleaner step) need not be atomic
# together. Legacy (pre-update era) delete deltas had no sequence —
# they can only coexist with base rows (no inserts existed then), so
# any positive sequence is order-correct; they read as sequence 1
# and new statements start at 2. Sequences format as {seq:08d} —
# AT LEAST eight digits, unbounded above — so the regexes accept
# \d{8,}: the scanner and writer grammars cannot diverge at
# seq >= 10^8 (ordering is parsed-int, never filename-lexical).
_DELETE_RE = re.compile(r"delta-(\d{8,})-[0-9a-f]+\.parquet")
_TXN_RE = re.compile(r"txn-(\d{8,})-[0-9a-f]+")
_TXNC_RE = re.compile(r"txnc-(\d{8,})-(\d{8,})-[0-9a-f]+")
_LEGACY_RE = re.compile(r"delta-[0-9a-f]+\.parquet")

# Broadcast size gates (see module docstring). Byte cap mirrors
# Spark's autoBroadcastJoinThreshold default (10 MB of parquet);
# the row cap bounds in-memory key frames that have no file size.
_BROADCAST_CAP_BYTES = 10 << 20
_BROADCAST_KEY_ROW_CAP = 1_000_000
# coalesce(1) on delta writes only under this row cap — one file per
# statement is a nicety, not worth a one-partition write cliff when
# an UPDATE touches a large fraction of the table
_SINGLE_FILE_ROW_CAP = 1_000_000

_SEQ = "__mor_seq"
_MAX_DEL = "__mor_max_del"


def _local_path(location: str) -> str:
    """Catalog locations are URIs (file:/...); the manifest I/O here
    uses the local filesystem, so reject non-local schemes loudly
    rather than writing a literal ``hdfs:`` directory. (The delta
    PARQUET reads/writes go through Spark and would be
    storage-agnostic; only the tiny JSON manifest is os-level.)"""
    from urllib.parse import urlparse

    parsed = urlparse(location)
    if parsed.scheme in ("", "file"):
        return parsed.path or location
    raise NotImplementedError(
        f"merge-on-read manifest I/O implemented for local warehouses; "
        f"got {location!r} (port _read/_write_manifest to the Hadoop "
        f"FileSystem API for {parsed.scheme})"
    )


def _qualify(spark: SparkSession, name: str) -> str:
    """Database-qualified form of ``name``. Every INTERNAL read of the
    base table (metadata or rows) goes through this: a multi-part
    identifier can never resolve to a session temp view, so the
    per-statement merged-read shadow views this module installs over
    MOR table names (mor_statement_scope) cannot intercept the
    module's own base access — read_mor building its plan through
    its own shadow would recurse."""
    if "." in name:
        return name
    return f"{spark.catalog.currentDatabase()}.{name}"


def _delta_path(spark: SparkSession, name: str) -> str:
    return os.path.join(
        _local_path(_table_location(spark, _qualify(spark, name))), _DELTA_DIR
    )


def _read_manifest(delta_dir: str) -> list[str] | None:
    path = os.path.join(delta_dir, _MANIFEST)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)["key_cols"]


def _write_manifest(delta_dir: str, key_cols: list[str]) -> None:
    os.makedirs(delta_dir, exist_ok=True)
    path = os.path.join(delta_dir, _MANIFEST)
    existing = _read_manifest(delta_dir)
    if existing is not None:
        if existing != key_cols:
            raise ValueError(
                f"delete-delta keys already pinned to {existing}; a table "
                f"has ONE equality-delete key set (got {key_cols})"
            )
        return
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump({"key_cols": key_cols}, fh)
    os.rename(tmp, path)  # atomic: readers see whole manifest or none


def _delta_units(delta_dir: str) -> list[tuple[int, int, str, str]]:
    """Top-level committed delta units, SUBSUMPTION-filtered:
    ``[(lo, hi, kind, abs_path)]`` filename-sorted, where kind is one
    of ``flat`` / ``legacy`` / ``txn`` / ``txnc`` and lo == hi except
    for consolidated ranges. Subsumption (AcidUtils.getAcidState's
    delta-selection rule): a unit strictly contained in some txnc
    range is ignored — it was folded into the consolidated dir and
    merely awaits the Cleaner; two txnc dirs with the IDENTICAL range
    (a crashed minor compaction re-run) keep only the filename-first
    one, since reading both would double-count insert rows. Staging
    dirs (``.``-prefixed) and the manifest are invisible by grammar."""
    if not os.path.isdir(delta_dir):
        return []
    units: list[tuple[int, int, str, str]] = []
    for f in sorted(os.listdir(delta_dir)):
        p = os.path.join(delta_dir, f)
        m = _DELETE_RE.fullmatch(f)
        if m:
            s = int(m.group(1))
            units.append((s, s, "flat", p))
            continue
        m = _TXNC_RE.fullmatch(f)
        if m and os.path.isdir(p):
            units.append((int(m.group(1)), int(m.group(2)), "txnc", p))
            continue
        m = _TXN_RE.fullmatch(f)
        if m and os.path.isdir(p):
            s = int(m.group(1))
            units.append((s, s, "txn", p))
            continue
        if _LEGACY_RE.fullmatch(f):
            units.append((1, 1, "legacy", p))
    ranges: dict[tuple[int, int], str] = {}
    for lo, hi, kind, p in units:
        if kind == "txnc" and (lo, hi) not in ranges:
            ranges[(lo, hi)] = p  # filename-first wins identical ranges
    kept: list[tuple[int, int, str, str]] = []
    for lo, hi, kind, p in units:
        if kind == "txnc" and ranges[(lo, hi)] != p:
            continue  # identical-range duplicate
        # a unit is subsumed when some txnc range covers it — for a
        # PLAIN unit even an equal-width range counts (review r9: two
        # legacy deltas both at seq 1 fold into txnc-1-1, which must
        # subsume them or minor compaction never converges); only a
        # txnc is exempt from its own identical range
        if any(
            rl <= lo <= hi <= rh
            and not (kind == "txnc" and (rl, rh) == (lo, hi))
            for (rl, rh) in ranges
        ):
            continue  # folded into a consolidated range
        kept.append((lo, hi, kind, p))
    return kept


def _scan_deltas(delta_dir: str) -> list[tuple[str, int, str]]:
    """[(kind, seq, abs_path)] for every LIVE committed delta file
    (see _delta_units for subsumption). A consolidated txnc unit's
    files read at its RANGE END ``hi`` — every in-range insert
    already survived the in-range deletes at fold time, and relative
    order against out-of-range events is preserved because any later
    delete has seq > hi and any base row is seq 0 (proof in the
    _compact_minor docstring)."""
    out: list[tuple[str, int, str]] = []
    for lo, hi, kind, p in _delta_units(delta_dir):
        if kind in ("flat", "legacy"):
            out.append(("delete", hi, p))
            continue
        dp = os.path.join(p, "delete.parquet")
        ip = os.path.join(p, "insert.parquet")
        if os.path.isdir(dp):
            out.append(("delete", hi, dp))
        if os.path.isdir(ip):
            out.append(("insert", hi, ip))
    return out


def _next_seq(delta_dir: str) -> int:
    seqs = [s for _, s, _ in _scan_deltas(delta_dir)]
    return max(seqs, default=1) + 1


def _tree_bytes(paths: list[str]) -> int:
    total = 0
    for root in paths:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return total


def _delta_read(spark: SparkSession, base: DataFrame, paths: list[str],
                key_cols: list[str] | None = None) -> DataFrame:
    """Read delta files with an EXPLICIT schema derived from the base
    table (key columns only for delete deltas, full row for insert
    deltas — exactly what the write verbs produce).

    r15 (guide §5 — driver barriers): a bare ``spark.read.parquet``
    runs a schema-inference JOB over the file footers on every call;
    read_mor reads two delta groups, so every merged read, DELETE
    discovery scan and compaction paid 2+ footer jobs of pure
    scheduling latency for a schema the catalog already knows. The
    explicit schema makes delta reads job-free at plan time; parquet
    columns resolve by name, so the projection is unchanged."""
    from pyspark.sql.types import StructType

    if key_cols is None:
        schema = base.schema
    else:
        by_name = {f.name: f for f in base.schema.fields}
        schema = StructType([by_name[c] for c in key_cols])
    return spark.read.schema(schema).parquet(*paths)


def _gate_broadcast_files(df: DataFrame, paths: list[str]) -> DataFrame:
    """Broadcast hint only under the byte cap; above it the plain
    frame goes in and AQE decides at runtime (shuffle join degrades
    gracefully instead of a forced-broadcast OOM)."""
    return F.broadcast(df) if _tree_bytes(paths) <= _BROADCAST_CAP_BYTES else df


def _file_seq():
    """A delta row's sequence number, derived from its FILE PATH (the
    delta-/txn-/txnc- filename grammar) as a column expression. This
    is what lets read_mor scan ALL insert deltas — and all delete
    deltas — in ONE ``spark.read.parquet(*paths)`` call whose plan is
    O(1) in transaction count, instead of an N-way union of per-file
    scans each carrying a ``lit(seq)``: at N uncompacted statements
    in the hundreds the per-file plan is the Hive many-deltas read
    problem (the reason ql/txn/compactor/Initiator.java exists), as
    driver-side plan growth. Consolidated txnc-<lo>-<hi> files read
    at hi (see _scan_deltas); legacy unsequenced deltas at 1."""
    f = F.input_file_name()
    return F.coalesce(
        F.nullif(F.regexp_extract(f, r"txnc-\d{8,}-(\d{8,})-", 1), F.lit("")),
        F.nullif(F.regexp_extract(f, r"txn-(\d{8,})-", 1), F.lit("")),
        F.nullif(F.regexp_extract(f, r"delta-(\d{8,})-", 1), F.lit("")),
        F.lit("1"),
    ).cast("long")


def pin_mor_keys(spark: SparkSession, name: str, key_cols: list[str]) -> None:
    """Declare a table merge-on-read by pinning its equality-delete
    key columns — the analogue of Hive's ``TBLPROPERTIES
    ('transactional'='true')`` (ql/io/AcidUtils.java decides the
    read/write path off that property; here the pinned manifest under
    ``_delete_delta/`` is the marker). Once pinned, the SQL statement
    surface (dml_text) routes UPDATE/DELETE against this table to the
    delta verbs automatically, exactly like statements against a Hive
    transactional table take the ACID path. Idempotent for the same
    key set; a different key set raises (one key set per table)."""
    _validate_keys(spark, name, key_cols)
    _write_manifest(_delta_path(spark, name), list(key_cols))
    _register_pinned(name)


def mor_keys(spark: SparkSession, name: str) -> list[str] | None:
    """The table's equality-delete key columns, or None when it is
    not merge-on-read. Two triggers, checked in order:

    1. a pinned manifest under ``_delete_delta/`` (pin_mor_keys or
       any prior *_mor write);
    2. the HiveQL spelling — ``TBLPROPERTIES ('transactional'='true',
       'merge_keys'='col1,col2')`` — exactly the property the
       reference's AcidUtils.isTransactionalTable reads, plus
       merge_keys because plain parquet has no ROW__ID to address
       rows by (declaring transactional WITHOUT merge_keys raises:
       silently falling back to copy-on-write would betray the
       declared write model).

    A DECLARED-transactional table never silently degrades: missing
    merge_keys raises, and so does a non-local warehouse (where the
    manifest I/O is unimplemented) — the caller asked for the delta
    write model and must not get a copy-on-write rewrite instead."""
    from pyspark.errors import AnalysisException as _AE

    local = True
    pinned = None
    try:
        pinned = _read_manifest(_delta_path(spark, name))
    except NotImplementedError:
        local = False
    except (ValueError, _AE):
        # no catalog Location (a view), or the QUALIFIED lookup found
        # no table at all (a temp view / nonexistent name — internal
        # metadata reads are database-qualified so shadow temp views
        # can't intercept them, see _qualify): MOR is impossible there
        # and so is the tblproperties trigger — let the caller's verb
        # produce its natural not-a-table error
        return None
    if pinned is not None:
        return pinned
    from pyspark.errors import AnalysisException

    try:
        props = {
            r["key"]: r["value"]
            for r in spark.sql(
                f"SHOW TBLPROPERTIES {_qualify(spark, name)}"
            ).collect()
        }
    except AnalysisException:  # temp view / nonexistent: let the
        return None            # caller's own verb raise naturally
    if props.get("transactional", "").lower() != "true":
        return None
    if not local:
        raise NotImplementedError(
            f"{name} declares transactional=true but the warehouse is "
            f"non-local; merge-on-read manifest I/O is local-only "
            f"(see acid._local_path) — refusing to degrade the "
            f"declared write model to copy-on-write"
        )
    mk = props.get("merge_keys", "").strip()
    if not mk:
        raise ValueError(
            f"{name} declares transactional=true but no merge_keys "
            f"tblproperty; equality deletes need key columns "
            f"(TBLPROPERTIES ('transactional'='true', "
            f"'merge_keys'='col1,col2'))"
        )
    # resolve property names case-insensitively, like every other
    # identifier on the SQL surface
    by_lower = {c.lower(): c for c in spark.table(_qualify(spark, name)).columns}
    keys = [
        by_lower.get(c.strip().lower(), c.strip())
        for c in mk.split(",") if c.strip()
    ]
    _validate_keys(spark, name, keys)
    return keys


def delete_mor(
    spark: SparkSession, name: str, condition: str, key_cols: list[str],
    compact_after: int | None = None, compact_mode: str = "major",
) -> int:
    """Merge-on-read DELETE: append the DISTINCT key tuples matching
    ``condition`` (evaluated against the MOR view, so already-deleted
    rows are not re-counted) as one new delta file. The base is never
    rewritten — at 100 TB this is one pruned scan plus a KB-to-MB
    delta write, versus copy-on-write's partition rewrite
    (ddl.delete_from).

    Equality-delete semantics: the delta masks BY KEY — if any row
    of a key group matches, the WHOLE group is deleted (a key group
    is one row whenever key_cols are unique). The return value is
    the number of rows the new delta masks, i.e. the full group
    sizes, not just the condition-matched rows — the honest count
    of what read_mor will stop returning.

    NULL semantics match delete_from: rows where the condition is
    NULL survive. NULL keys are rejected — an equality delete with a
    NULL key matches nothing in the anti-join and would silently
    mask zero rows. Validation happens BEFORE the manifest is
    pinned, so a failed or zero-match statement leaves no trace.

    ``compact_after``: the Initiator analogue
    (ql/txn/compactor/Initiator.java watches delta counts and
    schedules compaction) — when the table's delta TRANSACTION
    count (one per DELETE/UPDATE statement; an UPDATE's paired
    delete+insert files count once) reaches this threshold after the
    delete, compact_mor runs inline, folding the deltas and resetting
    the read tax (measured break-even ~10 merged scans,
    experiments/mor_delete_bench.py). ``compact_mode`` picks what
    runs: 'major' (default, folds into the base), 'minor'
    (delta consolidation only), or 'auto' — the Initiator's own rule
    (major only when delta bytes reach 10% of the base, else minor;
    _initiator_mode)."""
    _reject_nondeterministic(condition, "DELETE")
    _validate_compact_mode(compact_mode)
    _validate_keys(spark, name, key_cols)
    current = read_mor(spark, name)
    cond = F.coalesce(F.expr(condition), F.lit(False))
    # Scan 1 — condition-FIRST, so predicate pushdown and partition
    # pruning apply and only MATCHED rows' keys ever shuffle (a
    # groupBy over all keys would aggregate the whole table to
    # discard almost every group — the 100 TB anti-pattern).
    hit_keys = (
        current.filter(cond).select(*key_cols).distinct()
        .localCheckpoint(eager=True)
    )
    return _commit_key_deletes(
        spark, name, hit_keys, list(key_cols), compact_after, compact_mode
    )


def delete_keys_mor(
    spark: SparkSession, name: str, keys_df: DataFrame,
    key_cols: list[str], compact_after: int | None = None,
    compact_mode: str = "major",
) -> int:
    """Merge-on-read DELETE by an explicit KEY FRAME (the CDC
    tombstone shape: a stream or batch of deleted keys rather than a
    predicate — streaming/tombstones.py feeds micro-batches here).
    Same contract as delete_mor: whole key groups mask, the return
    value is the number of PREVIOUSLY-VISIBLE rows the delta masks
    (so re-applying the same keys returns 0 — masking is a set
    union, idempotent by construction), NULL keys are rejected, and
    nothing is pinned or written when no visible row matches."""
    _validate_compact_mode(compact_mode)
    _validate_keys(spark, name, key_cols)
    missing = [c for c in key_cols if c not in keys_df.columns]
    if missing:
        raise ValueError(f"key columns not in tombstone frame: {missing}")
    current = read_mor(spark, name)
    # only keys that currently mask something: keeps the no-op
    # re-delivery path delta-free and the count honest. The table side
    # gets no distinct: a semi join emits each probe row at most once
    # whatever its build side repeats, and Spark would keep the
    # Aggregate, grouping every key of the table per tombstone batch.
    hit_keys = (
        keys_df.select(*key_cols).distinct()
        .join(current.select(*key_cols), list(key_cols), "left_semi")
        .localCheckpoint(eager=True)
    )
    return _commit_key_deletes(
        spark, name, hit_keys, list(key_cols), compact_after, compact_mode
    )


def update_mor(
    spark: SparkSession,
    name: str,
    condition: str,
    assignments: dict[str, str],
    key_cols: list[str],
    compact_after: int | None = None,
    compact_mode: str = "major",
) -> int:
    """Merge-on-read UPDATE — the reference's update = delete event +
    reinsert decomposition (ql/parse/UpdateDeleteSemanticAnalyzer.java
    rewrites UPDATE into a delta insert exactly like DELETE, plus the
    new row images). One statement commits TWO delta files sharing a
    sequence number: the matched keys as a delete delta, and the full
    row images of every TOUCHED KEY GROUP — matched rows with the SET
    applied, unmatched group-mates unchanged — as an insert delta.
    read_mor's sequenced fold makes the net effect exactly row-level
    UPDATE, even over non-unique keys, while the write stays
    O(matched groups): no base rewrite, versus ddl.update_table's
    copy-on-write partition rewrite (trade measured in
    experiments/mor_delete_bench.py).

    Returns #rows matched (the rows whose values changed), like
    ddl.update_table. The condition evaluates against PRE-update
    values; NULL conditions don't match; it must be deterministic
    (it runs in separate scans). Assignments to partition columns
    are rejected (UPDATE_CANNOT_UPDATE_PART_VALUE parity) — an
    insert-delta row never moves between partition directories, so a
    partition-column change would silently diverge from the fold at
    compaction time. Assignments to KEY columns are allowed: the
    delete delta carries the OLD key, the insert delta the new row.

    Atomic commit: both files are staged under a hidden dot-prefixed
    directory and published by ONE os.rename to the per-transaction
    ``txn-<seq>-<hex>/`` directory (the reference's delta_x_y-per-
    transaction layout, ql/io/AcidUtils.java) — readers see the
    delete event and the re-insert together or not at all. A crash
    before the rename leaves only an invisible staging dir, swept by
    the next compaction."""
    _reject_nondeterministic(condition, "UPDATE")
    _validate_compact_mode(compact_mode)
    _validate_keys(spark, name, key_cols)
    base_schema = spark.table(_qualify(spark, name)).schema
    pcols = _partition_columns(spark, _qualify(spark, name))
    assignments = _resolve_targets(base_schema.names, assignments, "UPDATE",
                                   name, pcols)
    current = read_mor(spark, name)
    cond = F.coalesce(F.expr(condition), F.lit(False))
    hit_keys = (
        current.filter(cond).select(*key_cols).distinct()
        .localCheckpoint(eager=True)
    )
    n_keys = _key_stats(hit_keys, key_cols, "UPDATE")
    if n_keys == 0:
        return 0
    keyed = F.broadcast(hit_keys) if n_keys <= _BROADCAST_KEY_ROW_CAP else hit_keys
    group_rows = current.join(keyed, on=list(key_cols), how="left_semi")
    staged = group_rows.select(
        *_set_columns(base_schema, cond, assignments),
        F.coalesce(cond, F.lit(False)).alias("__matched"),
    ).localCheckpoint(eager=True)
    # matched + total row counts in ONE job over the checkpointed
    # blocks (was two separate counts — guide §5 driver barriers, r15)
    counts = staged.agg(
        F.count(F.lit(1)).alias("n_new"),
        F.count(F.when(F.col("__matched"), 1)).alias("matched"),
    ).collect()[0]
    matched, n_new = int(counts["matched"]), int(counts["n_new"])
    new_rows = staged.drop("__matched")
    # the insert delta is read back with the base schema (_delta_read):
    # a row image at any other type would fail every later read
    got = [(f.name, f.dataType) for f in new_rows.schema.fields]
    want = [(f.name, f.dataType) for f in base_schema.fields]
    assert got == want, f"UPDATE row images {got} != table schema {want}"
    if set(assignments) & set(key_cols):
        # a key-column assignment may produce NULL keys — rows no
        # future equality delete could address (the delete-side NULL
        # rejection would otherwise be silently bypassed on re-insert)
        _check_null_keys(new_rows, list(key_cols), "UPDATE (SET on key column)")
    delta_dir = _delta_path(spark, name)
    # every check passed: NOW pin the manifest and commit the pair
    _write_manifest(delta_dir, list(key_cols))
    seq = _next_seq(delta_dir)
    tag = uuid.uuid4().hex
    stage = os.path.join(delta_dir, f".staging-{tag}")
    # single-file write only under the row cap — a broad UPDATE's full
    # row images must not funnel through one task (the same gating
    # discipline as the broadcast hints); above the cap the
    # transaction dir simply holds multiple part files per half
    writer = new_rows.coalesce(1) if n_new <= _SINGLE_FILE_ROW_CAP else new_rows
    writer.write.parquet(os.path.join(stage, "insert.parquet"))
    keys_writer = (
        hit_keys.coalesce(1) if n_keys <= _SINGLE_FILE_ROW_CAP else hit_keys
    )
    keys_writer.write.parquet(os.path.join(stage, "delete.parquet"))
    # one rename publishes the whole transaction (see docstring)
    os.rename(stage, os.path.join(delta_dir, f"txn-{seq:08d}-{tag}"))
    _register_pinned(name)
    _maybe_autocompact(spark, name, delta_dir, compact_after, "UPDATE",
                       compact_mode)
    return int(matched)


def _validate_keys(spark: SparkSession, name: str, key_cols: list[str]) -> None:
    base = spark.table(_qualify(spark, name))
    missing = [c for c in key_cols if c not in base.columns]
    if missing:
        raise ValueError(f"key columns not in {name}: {missing}")
    pinned = _read_manifest(_delta_path(spark, name))
    if pinned is not None and pinned != list(key_cols):
        raise ValueError(
            f"delete-delta keys already pinned to {pinned}; a table "
            f"has ONE equality-delete key set (got {list(key_cols)})"
        )


def _check_null_keys(hit_keys: DataFrame, key_cols: list[str], verb: str) -> None:
    null_keys = hit_keys.filter(
        " OR ".join(f"({c} IS NULL)" for c in key_cols)
    ).count()
    if null_keys:
        raise ValueError(
            f"{verb} matched rows with NULL in key columns {key_cols}; "
            "equality deletes cannot address them — use the ddl copy-on-"
            "write verb instead"
        )


def _key_stats(hit_keys: DataFrame, key_cols: list[str], verb: str) -> int:
    """Key-frame row count after the NULL-key check, in ONE job.

    r15 (guide §5 — driver barriers): every MOR statement asked its
    eagerly-checkpointed key frame three separate questions
    (``isEmpty``, the NULL-key count, ``count``) — three scheduled
    jobs per statement for one scan's worth of information. One
    aggregate answers all three; the empty case short-circuits the
    null check exactly like the old isEmpty-first order (an empty
    frame has zero NULL keys)."""
    row = hit_keys.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(
            F.when(
                F.expr(" OR ".join(f"({c} IS NULL)" for c in key_cols)), 1
            )
        ).alias("nulls"),
    ).collect()[0]
    if row["nulls"]:
        raise ValueError(
            f"{verb} matched rows with NULL in key columns {key_cols}; "
            "equality deletes cannot address them — use the ddl copy-on-"
            "write verb instead"
        )
    return int(row["n"])


# Initiator.java's major trigger: accumulated delta bytes as a
# fraction of base bytes (hive.compactor.delta.pct.threshold = 0.1)
_MAJOR_DELTA_PCT = 0.1


def _live_delta_bytes(delta_dir: str) -> int:
    """Bytes of the LIVE delta files only — subsumed leftovers, dead
    staging dirs and the manifest are excluded (second review pass: a
    crashed minor compaction's uncleaned originals would otherwise
    double the apparent footprint and flip the Initiator rule to an
    unneeded major rewrite)."""
    return _tree_bytes([p for _, _, p in _scan_deltas(delta_dir)])


def _initiator_mode(
    spark: SparkSession, name: str, delta_dir: str,
    delta_bytes: int | None = None,
) -> str:
    """The Initiator's minor-vs-major choice
    (ql/txn/compactor/Initiator.java): the txn-count threshold the
    caller already crossed requests SOME compaction; it becomes MAJOR
    only when the accumulated LIVE delta bytes reach
    ``hive.compactor.delta.pct.threshold`` (0.1) of the base —
    otherwise MINOR, the O(delta-bytes) half you can afford often.
    Byte counts are filesystem-level (no scans). ``delta_bytes``
    accepts a precomputed live footprint so show_compactions — which
    already sized the deltas for its own output — never walks them
    twice (ADVICE r9)."""
    if delta_bytes is None:
        delta_bytes = _live_delta_bytes(delta_dir)
    base_root = _local_path(_table_location(spark, name))
    base_bytes = max(_tree_bytes([base_root]) - _tree_bytes([delta_dir]), 0)
    if base_bytes == 0 or delta_bytes / base_bytes >= _MAJOR_DELTA_PCT:
        return "major"
    return "minor"


def _validate_compact_mode(compact_mode: str) -> None:
    """Called at VERB ENTRY (before any delta commits) — a bad knob
    must fail the statement up front, never after the write."""
    if compact_mode not in ("major", "minor", "auto"):
        raise ValueError(
            f"compact_mode must be 'major', 'minor' or 'auto', got "
            f"{compact_mode!r}"
        )


def _maybe_autocompact(
    spark: SparkSession, name: str, delta_dir: str,
    compact_after: int | None, verb: str, compact_mode: str = "major",
) -> None:
    if compact_after is None:
        return
    n_txns = len({seq for _, seq, _ in _scan_deltas(delta_dir)})
    if n_txns >= compact_after:
        # The statement is already durable (deltas written); a
        # compaction failure must not convert a committed write into
        # an exception that loses the caller's count — surface it as
        # a warning, exactly like a failed background compactor run
        # leaves deltas for the next one.
        import warnings

        mode = (
            _initiator_mode(spark, name, delta_dir)
            if compact_mode == "auto" else compact_mode
        )
        try:
            compact_mor(spark, name, mode=mode)
        except Exception as ex:  # noqa: BLE001
            warnings.warn(
                f"auto-compaction ({mode}) after {verb} on {name} failed "
                f"({ex}); deltas left in place for a later "
                f"compact_mor", RuntimeWarning, stacklevel=3,
            )


def _commit_key_deletes(
    spark: SparkSession, name: str, hit_keys: DataFrame,
    key_cols: list[str], compact_after: int | None,
    compact_mode: str = "major",
) -> int:
    """Shared tail of both delete forms: NULL-key check, masked-row
    count (Scan 2 — semi-join of the view against the hit-key set,
    broadcast-hinted only under the row cap), manifest pin, delta
    write, threshold compaction. ``hit_keys`` must already be
    distinct and eagerly checkpointed."""
    delta_dir = _delta_path(spark, name)
    n_keys = _key_stats(hit_keys, key_cols, "DELETE")
    if n_keys == 0:
        return 0
    keyed = F.broadcast(hit_keys) if n_keys <= _BROADCAST_KEY_ROW_CAP else hit_keys
    n = read_mor(spark, name).join(
        keyed, on=list(key_cols), how="left_semi"
    ).count()
    # every check passed: NOW pin the manifest and write the delta
    _write_manifest(delta_dir, list(key_cols))
    seq = _next_seq(delta_dir)
    out = os.path.join(delta_dir, f"delta-{seq:08d}-{uuid.uuid4().hex}.parquet")
    # one file per DELETE statement, like one delta dir per txn —
    # but only under the row cap (no one-partition write cliff)
    keys_writer = (
        hit_keys.coalesce(1) if n_keys <= _SINGLE_FILE_ROW_CAP else hit_keys
    )
    keys_writer.write.parquet(out)
    _register_pinned(name)
    _maybe_autocompact(spark, name, delta_dir, compact_after, "DELETE",
                       compact_mode)
    return int(n)


def read_mor(spark: SparkSession, name: str) -> DataFrame:
    """The merge-on-read view (OrcRawRecordMerger's job as one plan):

    - delete-only deltas (the common CDC shape): base anti-join the
      union of delta keys — one join, no shuffle of the base when
      the key set broadcasts (size-gated; above the cap AQE decides).
    - with insert deltas (updates): base rows at sequence 0 union
      the insert rows at their sequences, left-joined against ONE
      row per key (the MAX delete sequence — aggregated first, so
      the join never multiplies), keeping rows whose sequence is >=
      every masking delete. Insert deltas are per-statement matched
      groups — tiny next to the base — so the union adds no
      meaningful scan cost; the join side is the aggregated key set,
      size-gated like the delete-only path.

    Plan size is O(1) in transaction count: all insert deltas are ONE
    ``spark.read.parquet(*paths)`` scan and all delete deltas
    another, with each row's sequence derived from its file path
    (_file_seq) rather than a per-file ``lit(seq)`` union — N
    uncompacted UPDATEs no longer grow the plan (plan-gated in
    tests/test_acid_mor.py)."""
    base = spark.table(_qualify(spark, name))
    delta_dir = _delta_path(spark, name)
    key_cols = _read_manifest(delta_dir)
    if key_cols is None:
        return base
    entries = _scan_deltas(delta_dir)
    del_entries = [e for e in entries if e[0] == "delete"]
    ins_entries = [e for e in entries if e[0] == "insert"]
    if not del_entries and not ins_entries:
        return base
    if not ins_entries:
        paths = [p for _, _, p in del_entries]
        keys = _gate_broadcast_files(
            _delta_read(spark, base, paths, key_cols).distinct(), paths
        )
        return base.join(keys, on=key_cols, how="left_anti")
    ins_paths = [p for _, _, p in ins_entries]
    rows = base.withColumn(_SEQ, F.lit(0).cast("long")).unionByName(
        _delta_read(spark, base, ins_paths)
        .select(*base.columns)
        .withColumn(_SEQ, _file_seq())
    )
    if not del_entries:  # orphan insert (crash window) — union only
        return rows.drop(_SEQ).select(*base.columns)
    del_paths = [p for _, _, p in del_entries]
    del_keys = (
        _delta_read(spark, base, del_paths, key_cols)
        .withColumn(_MAX_DEL, _file_seq())
        .groupBy(*key_cols).agg(F.max(_MAX_DEL).alias(_MAX_DEL))
    )
    del_keys = _gate_broadcast_files(del_keys, del_paths)
    out = rows.join(del_keys, on=key_cols, how="left")
    out = out.filter(F.col(_MAX_DEL).isNull() | (F.col(_MAX_DEL) <= F.col(_SEQ)))
    return out.drop(_SEQ, _MAX_DEL).select(*base.columns)


def show_compactions(spark: SparkSession) -> DataFrame:
    """``SHOW COMPACTIONS`` — the reference lists the metastore's
    compaction queue (DDLTask.showCompactions, columns Database/
    Table/Partition/Type/State/Worker/Start Time). This engine has no
    background queue — compactions run inline — so the honest
    analogue reports the PENDING work the Initiator would see: one
    row per merge-on-read table in the current database, with the
    live delta footprint and the mode _initiator_mode would pick.
    State: ``initiated`` when live deltas await compaction,
    ``ready for cleaning`` when only subsumed leftovers remain (the
    reference's post-compaction state of the same name), ``clean``
    when just the pin is left. Partition is NULL — equality deltas
    are table-scoped here."""
    db = spark.catalog.currentDatabase()
    rows = []
    for t in spark.catalog.listTables(db):
        if t.tableType not in ("MANAGED", "EXTERNAL"):
            continue  # temp views have no location, hence no deltas
        name = t.name if t.database is None else f"{t.database}.{t.name}"
        try:
            delta_dir = _delta_path(spark, name)
            # BOTH merge-on-read triggers (pinned manifest OR
            # TBLPROPERTIES transactional=true) — a declared table
            # with no delta yet must still list as 'clean' (second
            # review pass: the manifest-only check dropped it)
            if mor_keys(spark, name) is None:
                continue
        except Exception:  # noqa: BLE001 — non-local / no location /
            continue       # misconfigured declaration (its own verbs raise)
        entries = _scan_deltas(delta_dir)
        txns = {seq for _, seq, _ in entries}
        on_disk = [
            f for f in os.listdir(delta_dir)
            if f != _MANIFEST and not f.startswith(".")
        ] if os.path.isdir(delta_dir) else []
        # size the live deltas ONCE and share it with the Initiator
        # decision; with no live deltas there is nothing to size and
        # no mode to pick — the base tree is never walked (ADVICE r9:
        # this statement was O(total files in the database))
        live_bytes = _tree_bytes([p for _, _, p in entries])
        if entries:
            state = "initiated"
            ctype = _initiator_mode(spark, name, delta_dir, live_bytes)
        elif on_disk:
            state = "ready for cleaning"
            ctype = None
        else:
            state = "clean"
            ctype = None
        rows.append((
            t.database or db, t.name, None, ctype, state,
            len(txns), len(entries), live_bytes,
        ))
    return local_rows(
        spark, rows,
        "database string, table string, partition string, type string, "
        "state string, delta_txns int, delta_files int, delta_bytes bigint",
    )


def show_transactions(spark: SparkSession) -> DataFrame:
    """``SHOW TRANSACTIONS`` — the reference lists the metastore's
    OPEN (and aborted-but-uncleaned) transactions
    (DDLTask.java:2610 showTxns over GetOpenTxnsInfoResponse, columns
    Transaction ID / Transaction State / User / Hostname).

    This engine commits every statement INLINE — writes become visible
    by atomic rename (MOR delta dirs, base overwrites, the authz
    store) and no transaction state outlives the statement that
    created it — so the open-transaction set is empty BY DESIGN at
    every instant a reader can observe. The honest answer is the
    schema-faithful empty listing, exactly what the reference returns
    on an idle warehouse (r11; supersedes the r10 documented drop the
    same way SHOW LOCKS's minimal row did — SHOW COMPACTIONS already
    reports the pending inline-compaction work the queue side would
    show)."""
    return local_rows(
        spark, [], "txnid bigint, state string, user string, hostname string"
    )


def show_locks(
    spark: SparkSession, table: str | None = None
) -> DataFrame:
    """``SHOW LOCKS [table]`` — the reference lists the lock manager's
    live locks (DDLTask.showLocks over DbLockManager/
    ShowLocksResponseElement; QL/lockmgr/DbTxnManager.java), columns
    Lock ID/Database/Table/Partition/State/Blocked By/Type/Transaction
    ID/Last Heartbeat/Acquired At/User/Hostname/Agent Info.

    This engine has no lock manager to report on: statements execute
    inline and writes commit by atomic rename (MOR delta dirs, the
    authz store), so no TABLE lock ever outlives a statement. The
    honest analogue reports the locks that DO exist — the warehouse's
    OS-level sidecar flocks (``*.lock`` next to ``_authz.json`` and any
    future store) — by probing each with a non-blocking flock attempt:
    a row appears only while some process actually HOLDS the lock, as
    EXCLUSIVE/ACQUIRED with the lockfile as agent_info. ``SHOW LOCKS
    <table>`` filters to that table's locks, which is the empty set by
    construction (sidecar locks are warehouse-scoped, table = NULL) —
    the same answer the reference gives for a table nobody has locked."""
    import socket

    schema = (
        "lockid bigint, database string, table string, partition string, "
        "state string, blocked_by string, type string, txnid bigint, "
        "last_heartbeat bigint, acquired_at bigint, user string, "
        "hostname string, agent_info string"
    )
    from amplab_hive_spark.authorization import current_user

    rows: list[tuple] = []
    if table is None:
        try:
            from amplab_hive_spark.authorization import _store_path

            wh = os.path.dirname(_store_path(spark))
        except NotImplementedError:  # non-local warehouse: no sidecars
            wh = None
        candidates = (
            sorted(
                f for f in os.listdir(wh) if f.endswith(".lock")
            ) if wh and os.path.isdir(wh) else []
        )
        lockid = 0
        for fname in candidates:
            path = os.path.join(wh, fname)
            try:
                import fcntl

                with open(path, "a+") as fh:
                    try:
                        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
                        fcntl.flock(fh, fcntl.LOCK_UN)
                        continue  # free: not a live lock
                    except OSError:
                        pass  # held by another file description
            except Exception:  # noqa: BLE001 — unreadable/non-POSIX
                continue
            lockid += 1
            # acquired_at is NULL: a flock probe proves the lock is
            # held NOW but carries no acquisition timestamp (the
            # file's mtime would be the warehouse's creation time, a
            # misleading stand-in — review r10)
            rows.append((
                lockid, None, None, None, "ACQUIRED", None, "EXCLUSIVE",
                None, None, None, current_user(spark),
                socket.gethostname(), fname,
            ))
    else:
        # raise the reference's resolution error if the table is absent
        spark.table(_qualify(spark, table))
    return local_rows(spark, rows, schema)


def compact_mor(spark: SparkSession, name: str, mode: str = "major") -> int:
    """Compaction (compactor Worker, ql/txn/compactor/Worker.java).
    Returns the number of delta FILES folded (an UPDATE transaction
    contributes two: its delete and insert halves). Idempotent:
    re-running with nothing to fold is a no-op. Either mode PRESERVES
    a pinned manifest — a table declared merge-on-read stays
    merge-on-read through compaction (``pin_mor_keys``'s "from now
    on" contract); ``unpin_mor_keys`` is the explicit opt-out.

    ``mode='major'``: fold the deltas into the BASE — rewrite the
    table as its MOR view, then drop the delta files (CompactorMR
    major = base_x rewrite). Partitioned tables: dynamic partition
    overwrite rewrites only partitions PRESENT in the folded view, so
    a partition whose every row was delta-deleted must be dropped
    explicitly — exactly ddl.delete_from's emptied-partition
    handling, and in the same order (drops BEFORE the overwrite,
    after the survivors are safely checkpointed) so a mid-statement
    crash leaves a state from which re-running converges. Without the
    drops, purging the deltas would RESURRECT fully-deleted
    partitions (their base files survive the overwrite and the
    masking delta is gone).

    ``mode='minor'``: consolidate the deltas WITHOUT touching the
    base (CompactorMR minor = delta_x_y spanning the folded write-id
    range) — see _compact_minor. At 100 TB this is the half you can
    afford to run often: its cost is O(delta bytes), not O(table
    bytes), and it resets both the read-time merge tax and the
    plan's file count while the base stays byte-identical."""
    if mode not in ("major", "minor"):
        raise ValueError(
            f"compact_mor mode must be 'major' or 'minor', got {mode!r}"
        )
    from amplab_hive_spark.ddl import _drop_emptied_partitions, partition_values

    delta_dir = _delta_path(spark, name)
    pinned = _read_manifest(delta_dir)
    entries = _scan_deltas(delta_dir)
    if not entries or pinned is None:
        # no deltas (or no manifest — readers ignore unpinned files):
        # nothing to fold; sweep stray staging/subsumed files but keep
        # the pin
        if os.path.isdir(delta_dir):
            _purge_delta_dir(delta_dir, manifest=pinned)
        return 0
    if mode == "minor":
        return _compact_minor(spark, name, delta_dir, pinned)
    n_files = len(entries)
    folded = read_mor(spark, name).localCheckpoint(eager=True)
    # qualified target: the base rewrite must reach the CATALOG table
    # even when a merged-read shadow view holds the bare name
    qname = _qualify(spark, name)
    pcols = _partition_columns(spark, qname)
    if pcols:
        # base partition list from CATALOG METADATA (SHOW PARTITIONS
        # via partition_values) — never a base data scan
        base_parts = {tuple(r) for r in partition_values(spark, qname).collect()}
        surviving = {
            tuple(r) for r in folded.select(*pcols).distinct().collect()
        }
        emptied = sorted(base_parts - surviving, key=repr)
        _drop_emptied_partitions(spark, qname, pcols, emptied)
        if surviving:
            with _dynamic_partition_overwrite(spark):
                folded.write.insertInto(qname, overwrite=True)
    else:
        folded.write.insertInto(qname, overwrite=True)
    _purge_delta_dir(delta_dir, manifest=pinned)
    # Spark caches file listings; direct fs deletes need a refresh
    spark.sql(f"REFRESH TABLE {qname}")
    return n_files


def _compact_minor(
    spark: SparkSession, name: str, delta_dir: str, key_cols: list[str]
) -> int:
    """Minor compaction: fold ALL live delta units into one
    consolidated ``txnc-<lo>-<hi>-<hex>/`` transaction directory —
    the base is never read or written (mtime-pinned by test). The
    reference's CompactorMR minor does exactly this: merge
    delta_a_b..delta_y_z into delta_a_z, base untouched; the Cleaner
    later removes the subsumed dirs.

    What the consolidated unit holds, and why reading it at seq=hi
    is exact:

    - ``delete.parquet``: the DISTINCT union of every in-range delete
      key. Every in-range delete (seq d >= 1) masks base rows (seq 0)
      regardless of d, so the union at hi masks exactly the same base
      rows. Inserts OUTSIDE the range are all later (seq > hi,
      because consolidation covers min..max of everything live), so
      neither the originals nor the consolidated copy mask them.
    - ``insert.parquet``: the in-range insert rows that SURVIVE the
      in-range fold (masked ones are gone for good — no later delete
      can un-mask). A survivor at original seq s was, by surviving,
      masked by no in-range delete with d > s; out-of-range deletes
      have d > hi >= s, and they mask the consolidated copy (seq hi
      < d) exactly when they masked the original (seq s < d) —
      always. Survivors' keys may sit in the consolidated delete set
      (their own update's event); seq hi <= hi keeps them, the same
      same-statement rule as a live txn dir.

    Publish-then-clean is crash-convergent WITHOUT a compound atomic
    step: the single rename publishes the txnc dir, at which instant
    every folded unit becomes subsumed-by-range and invisible to
    _delta_units; the Cleaner sweep afterwards is best-effort (a
    crash leaves subsumed files the next compaction removes).

    Returns the number of delta files folded; < 2 live transactions
    is a no-op (already minimal)."""
    units = _delta_units(delta_dir)
    if len(units) < 2:
        # already minimal — but a PRIOR minor crash may have left
        # subsumed files behind (publish happened, clean did not);
        # sweep them so the crashed run's cleanup converges here
        # rather than waiting for the next delta commit (review r9)
        _clean_subsumed(delta_dir)
        return 0
    entries = _scan_deltas(delta_dir)
    n_files = len(entries)
    lo = min(u[0] for u in units)
    hi = max(u[1] for u in units)
    base = spark.table(_qualify(spark, name))
    base_cols = base.columns
    del_paths = [p for k, _, p in entries if k == "delete"]
    ins_paths = [p for k, _, p in entries if k == "insert"]
    del_keys = None
    if del_paths:
        del_keys = (
            _delta_read(spark, base, del_paths, key_cols).distinct()
            .localCheckpoint(eager=True)
        )
    survivors = None
    if ins_paths:
        ins = (
            _delta_read(spark, base, ins_paths)
            .select(*base_cols)
            .withColumn(_SEQ, _file_seq())
        )
        if del_paths:
            dk = (
                _delta_read(spark, base, del_paths, key_cols)
                .withColumn(_MAX_DEL, _file_seq())
                .groupBy(*key_cols).agg(F.max(_MAX_DEL).alias(_MAX_DEL))
            )
            dk = _gate_broadcast_files(dk, del_paths)
            ins = ins.join(dk, on=key_cols, how="left").filter(
                F.col(_MAX_DEL).isNull() | (F.col(_MAX_DEL) <= F.col(_SEQ))
            )
        survivors = ins.select(*base_cols).localCheckpoint(eager=True)
    tag = uuid.uuid4().hex
    stage = os.path.join(delta_dir, f".staging-{tag}")
    wrote = False
    # ONE count per checkpointed frame answers both "is it empty?"
    # and the single-file row-cap question (was isEmpty + count — two
    # jobs each; guide §5 driver barriers, r15)
    if survivors is not None:
        n_rows = survivors.count()
        if n_rows:
            w = survivors.coalesce(1) if n_rows <= _SINGLE_FILE_ROW_CAP else survivors
            w.write.parquet(os.path.join(stage, "insert.parquet"))
            wrote = True
    if del_keys is not None:
        n_k = del_keys.count()
        if n_k:
            w = del_keys.coalesce(1) if n_k <= _SINGLE_FILE_ROW_CAP else del_keys
            w.write.parquet(os.path.join(stage, "delete.parquet"))
            wrote = True
    if not wrote:
        # every unit was contentless (cannot happen through the write
        # verbs, which refuse empty commits) — just clean
        _purge_delta_dir(delta_dir, manifest=key_cols)
        return n_files
    # one rename publishes the consolidated transaction; every folded
    # unit is subsumed-by-range from this instant
    os.rename(stage, os.path.join(delta_dir, f"txnc-{lo:08d}-{hi:08d}-{tag}"))
    _clean_subsumed(delta_dir)
    return n_files


def _clean_subsumed(delta_dir: str) -> None:
    """The Cleaner (ql/txn/compactor/Cleaner.java): remove committed
    units no longer visible to _delta_units (subsumed by a
    consolidated range) plus dead staging dirs. Best-effort — a
    partial sweep converges on the next call."""
    import shutil

    live = {p for _, _, _, p in _delta_units(delta_dir)}
    if not os.path.isdir(delta_dir):
        return
    for f in sorted(os.listdir(delta_dir)):
        if f == _MANIFEST:
            continue
        p = os.path.join(delta_dir, f)
        if p in live:
            continue
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.remove(p)
            except OSError:
                pass


def unpin_mor_keys(spark: SparkSession, name: str) -> None:
    """Explicitly revert a manifest-pinned table to copy-on-write
    routing — the opt-out to ``pin_mor_keys`` (compaction itself
    never unpins). Requires a clean table: outstanding deltas would
    silently resurrect their masked rows the moment the manifest
    disappears, so run compact_mor first. Idempotent when not
    pinned. A table ALSO declaring ``TBLPROPERTIES
    ('transactional'='true')`` keeps routing merge-on-read off that
    property (unset the property to fully revert)."""
    delta_dir = _delta_path(spark, name)
    if _read_manifest(delta_dir) is None:
        return
    if _scan_deltas(delta_dir):
        raise ValueError(
            f"{name} has outstanding merge-on-read deltas; unpinning now "
            f"would resurrect masked rows — run acid.compact_mor(spark, "
            f"{name!r}) first"
        )
    _purge_delta_dir(delta_dir)
    bare = name.split(".")[-1].lower()
    _PINNED_NAMES.discard(bare)


def _purge_delta_dir(delta_dir: str, manifest: list[str] | None = None) -> None:
    """rmtree the delta dir; when ``manifest`` is given, re-pin it
    afterwards (the compaction-preserves-the-pin contract). The value
    is PASSED IN, never re-read here: a non-partitioned major
    compaction's whole-location INSERT OVERWRITE has already
    destroyed the delta dir by the time this runs, so a re-read
    would silently find nothing and drop the pin."""
    import shutil

    shutil.rmtree(delta_dir, ignore_errors=True)
    if manifest is not None:
        _write_manifest(delta_dir, manifest)


# ---------------------------------------------------------------------------
# Merged READ routing — the reference's rule that EVERY SQL reader of a
# transactional table sees the merged state (ql/io/AcidUtils.java
# getAcidState enumerates base + deltas for each read;
# ql/io/orc/OrcRawRecordMerger.java folds them inside the input format, so
# a SELECT after an UPDATE always returns the updated rows — only raw
# file-system tools see unmerged base files). Plain parquet has no input-
# format hook, so the engine routes at STATEMENT RESOLUTION time instead:
#
# - ``resolve_read`` (Engine.table): a merge-on-read table resolves to its
#   read_mor plan; anything else to the raw table.
# - ``mor_statement_scope`` (Engine.sql): before a statement runs, every
#   single-part reference to a MOR table with live deltas is shadowed by a
#   session temp view holding the merged plan (temp views win name
#   resolution for single-part identifiers); the shadows are dropped as
#   soon as the statement is analyzed. Spark analyzes eagerly at
#   ``spark.sql()`` — the shadow's plan is inlined into the returned
#   DataFrame, so dropping it immediately is safe.
#
# Every SQL surface (CLI, JSON service, TCLI/beeline front) runs its
# statements through Engine.sql, so this per-statement scope is the one
# merged-read path.
#
# Documented divergences from the reference's reader (each pinned by a
# test in tests/test_acid_mor.py):
# - DATABASE-QUALIFIED references (``db.t``) bypass temp views by Spark's
#   resolution rules and read the raw base; the module's own internals
#   rely on exactly that (_qualify).
# - CREATE [TEMPORARY] VIEW / ALTER VIEW AS are excluded: a persistent
#   view cannot legally reference a temp view, and a temp view would
#   freeze the merged plan at creation time. Reads THROUGH a pre-existing
#   catalog view of a MOR table are likewise raw (view resolution uses
#   the view's own captured context, not session temp views).
# - A statement that reads AND inserts the same MOR table (INSERT INTO t
#   ... FROM t) runs entirely against the raw base: the insert target
#   cannot be shadowed, so the read side is not either.
# ---------------------------------------------------------------------------

# bare lowercase names pinned by this process (manifest writers register
# here); unioned with a warehouse directory glob so pins from earlier
# sessions are seen too. The TEXT screen in mor_statement_scope uses this
# set to skip the JVM parse for the overwhelmingly common statement that
# references no MOR table at all.
_PINNED_NAMES: set[str] = set()

_VIEW_DDL_ROOTS = {"CreateView", "CreateViewCommand", "AlterViewAs"}
_REL_RE = re.compile(r"'UnresolvedRelation \[([^\]]+)\]")
_INSERT_TARGET_RE = re.compile(
    r"'InsertIntoStatement 'UnresolvedRelation \[([^\]]+)\]"
)
_IDENT_RE = re.compile(r"[a-z_][a-z0-9_]*")


def _register_pinned(name: str) -> None:
    _PINNED_NAMES.add(name.split(".")[-1].lower())


def _known_mor_names(spark: SparkSession) -> set[str]:
    """Names that COULD need merged-read routing: pinned this process
    or holding a manifest under the session warehouse (pins
    from earlier sessions; managed-table directory names are the
    lowercase table names). External tables pinned by an EARLIER
    process are the one hole — their manifests live outside the
    warehouse — accepted: the engine is single-process and external
    MOR tables re-register on first verb."""
    names = set(_PINNED_NAMES)
    try:
        wh = _local_path(spark.conf.get("spark.sql.warehouse.dir"))
        for d in os.listdir(wh):
            if os.path.isfile(os.path.join(wh, d, _DELTA_DIR, _MANIFEST)):
                names.add(d.lower())
    except Exception:
        pass
    return names


def _temp_view_exists(spark: SparkSession, bare: str) -> bool:
    return bool(
        spark._jsparkSession.sessionState().catalog()
        .getTempView(bare).isDefined()
    )


def resolve_read(spark: SparkSession, name: str) -> DataFrame:
    """Row-read resolution for a single table name: the merged
    merge-on-read view when ``name`` is transactional (either
    trigger — see mor_keys), the raw table otherwise. This is
    Engine.table's implementation: the analogue of the reference
    routing every reader of a transactional table through
    AcidUtils.getAcidState."""
    if mor_keys(spark, name) is not None:
        return read_mor(spark, name)
    return spark.table(name)


def _statement_shadow_plan(
    spark: SparkSession, text: str, parsed: tuple[str, str] | None = None
) -> list[str]:
    """The shadow views created for one SQL statement: single-part
    references to MOR tables with live deltas, excluding insert
    targets, names already holding a temp view, and view-DDL
    statements (see module comment).

    ``parsed``: an already-available ``(root, tree)`` from
    authorization.parse_tree — Engine.sql reuses the enforcement
    gate's parse so an enforced statement is parsed by py4j once, not
    twice (VERDICT r10 task 5). None → parse here (behind the text
    screen, so the common no-MOR statement never pays the JVM trip)."""
    known = _known_mor_names(spark)
    if not known:
        return []
    # cheap text screen before the JVM parse
    if not (known & set(_IDENT_RE.findall(text.lower()))):
        return []
    if parsed is None:
        try:
            jp = spark._jsparkSession.sessionState().sqlParser().parsePlan(text)
        except Exception:
            return []  # let spark.sql raise the real parse error
        parsed = jp.getClass().getSimpleName(), jp.toString()
    root, tree = parsed
    targets = {
        t.strip().lower()
        for t in _INSERT_TARGET_RE.findall(tree)
        if "," not in t
    }
    created: list[str] = []
    if root not in _VIEW_DDL_ROOTS:
        seen: set[str] = set()
        for r in _REL_RE.findall(tree):
            if "," in r:  # multi-part reference: cannot be shadowed
                continue
            bare = r.strip().strip("`").lower()
            if bare in seen or bare not in known or bare in targets:
                continue
            seen.add(bare)
            if _temp_view_exists(spark, bare):
                continue  # the user's own view wins
            try:
                if mor_keys(spark, bare) is None:
                    continue
                if not _scan_deltas(_delta_path(spark, bare)):
                    continue  # merged == base
                read_mor(spark, bare).createOrReplaceTempView(bare)
            except Exception:
                continue
            created.append(bare)
    return created


class mor_statement_scope:
    """Context manager installing the per-statement merged-read
    shadows around one ``spark.sql`` call (Engine.sql uses this).
    Exit drops the ephemeral shadows."""

    def __init__(
        self, spark: SparkSession, text: str,
        parsed: tuple[str, str] | None = None,
    ):
        self.spark = spark
        self.text = text
        self.parsed = parsed

    def __enter__(self):
        self.created = _statement_shadow_plan(
            self.spark, self.text, parsed=self.parsed
        )
        return self

    def __exit__(self, *exc):
        for bare in self.created:
            try:
                self.spark.catalog.dropTempView(bare)
            except Exception:
                pass
        return False
