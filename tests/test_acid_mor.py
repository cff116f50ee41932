"""Merge-on-read row-level deletes (SURVEY §2 row 33's delta-file
half; reference: AcidUtils delta dirs + OrcRawRecordMerger read-time
merge + compactor Worker). ddl.delete_from remains the copy-on-write
path; acid.delete_mor is the delete-cheap/read-taxed alternative —
both trades the reference offers.
"""

import os

import pytest
from pyspark.sql import functions as F

from amplab_hive_spark import acid, ddl


def _data_files(spark, name):
    loc = ddl._table_location(spark, name)
    out = []
    for root, dirs, files in os.walk(loc):
        # skip hidden dirs exactly like Spark's listing does
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out.extend(
            os.path.join(root, f)
            for f in files
            if not f.startswith(("_", "."))
        )
    return sorted(out)


@pytest.fixture()
def plain_table(spark):
    name = "mor_plain"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    df = spark.range(100).selectExpr(
        "id AS k", "id % 10 AS grp", "concat('v-', id) AS label"
    )
    df.write.saveAsTable(name)
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


@pytest.fixture()
def part_table(spark):
    name = "mor_part"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    df = spark.range(90).selectExpr(
        "id AS k", "concat('v-', id) AS label", "id % 3 AS bucket"
    )
    df.write.partitionBy("bucket").saveAsTable(name)
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_delete_mor_masks_without_rewriting_base(spark, plain_table):
    before = _data_files(spark, plain_table)
    n = acid.delete_mor(spark, plain_table, "k >= 90", ["k"])
    assert n == 10
    # base files untouched — the whole point vs copy-on-write
    assert _data_files(spark, plain_table) == before
    view = acid.read_mor(spark, plain_table)
    assert view.count() == 90
    assert view.filter("k >= 90").count() == 0
    # a vanilla reader of the table still sees all rows (deltas are
    # hidden, like Hive deltas to non-ACID readers)
    assert spark.table(plain_table).count() == 100


def test_second_delete_counts_only_new_rows(spark, plain_table):
    assert acid.delete_mor(spark, plain_table, "k >= 90", ["k"]) == 10
    # overlapping condition: the 10 already-deleted rows don't recount
    assert acid.delete_mor(spark, plain_table, "k >= 80", ["k"]) == 10
    assert acid.read_mor(spark, plain_table).count() == 80
    # no match at all -> no delta file written
    delta_dir = acid._delta_path(spark, plain_table)
    files_before = sorted(os.listdir(delta_dir))
    assert acid.delete_mor(spark, plain_table, "k > 1000", ["k"]) == 0
    assert sorted(os.listdir(delta_dir)) == files_before


def test_null_condition_rows_survive(spark, plain_table):
    # condition NULL on some rows: those survive (same as delete_from)
    n = acid.delete_mor(
        spark, plain_table,
        "CASE WHEN k < 10 THEN TRUE WHEN k < 20 THEN NULL ELSE FALSE END",
        ["k"],
    )
    assert n == 10
    assert acid.read_mor(spark, plain_table).count() == 90


def test_key_validation(spark, plain_table):
    with pytest.raises(ValueError, match="key columns not in"):
        acid.delete_mor(spark, plain_table, "k < 5", ["nope"])
    acid.delete_mor(spark, plain_table, "k < 5", ["k"])
    # the key set is pinned by the manifest
    with pytest.raises(ValueError, match="ONE equality-delete key set"):
        acid.delete_mor(spark, plain_table, "k < 8", ["grp"])


def test_compact_folds_deltas_and_resets(spark, plain_table):
    acid.delete_mor(spark, plain_table, "k % 7 = 0", ["k"])
    acid.delete_mor(spark, plain_table, "k = 1", ["k"])
    view_rows = sorted(r["k"] for r in acid.read_mor(spark, plain_table).collect())
    assert acid.compact_mor(spark, plain_table) == 2
    # after compaction the BASE equals the old MOR view
    base_rows = sorted(r["k"] for r in spark.table(plain_table).collect())
    assert base_rows == view_rows
    # ADVICE r8: compaction PRESERVES the pin — the delta files are
    # gone but the manifest survives, so the table stays merge-on-read
    delta_dir = acid._delta_path(spark, plain_table)
    assert acid._scan_deltas(delta_dir) == []
    assert acid._read_manifest(delta_dir) == ["k"]
    assert acid.mor_keys(spark, plain_table) == ["k"]
    # and read_mor degrades to the plain table
    assert acid.read_mor(spark, plain_table).count() == len(view_rows)
    # idempotent re-run
    assert acid.compact_mor(spark, plain_table) == 0
    assert acid._read_manifest(delta_dir) == ["k"]


def test_partitioned_mor_and_compact(spark, part_table):
    before = _data_files(spark, part_table)
    n = acid.delete_mor(spark, part_table, "bucket = 1 AND k < 30", ["k"])
    assert n == 10
    assert _data_files(spark, part_table) == before
    assert acid.read_mor(spark, part_table).count() == 80
    assert acid.compact_mor(spark, part_table) == 1
    t = spark.table(part_table)
    assert t.count() == 80
    assert t.filter("bucket = 1 AND k < 30").count() == 0
    # untouched partitions kept every row
    assert t.filter("bucket = 0").count() == 30


def test_equality_delete_masks_reinserted_keys(spark, plain_table):
    """The documented divergence from write-id ordering: an equality
    delete masks a key REGARDLESS of when its row was inserted —
    re-adding a deleted key without compacting first stays masked
    (the reference's write ids / Iceberg's sequence numbers would
    unmask it). Compaction clears the mask."""
    acid.delete_mor(spark, plain_table, "k = 5", ["k"])
    spark.range(1).selectExpr(
        "CAST(5 AS BIGINT) AS k", "CAST(0 AS BIGINT) AS grp",
        "'reborn' AS label"
    ).write.insertInto(plain_table)
    assert acid.read_mor(spark, plain_table).filter("k = 5").count() == 0
    acid.compact_mor(spark, plain_table)
    spark.range(1).selectExpr(
        "CAST(5 AS BIGINT) AS k", "CAST(0 AS BIGINT) AS grp",
        "'reborn2' AS label"
    ).write.insertInto(plain_table)
    assert acid.read_mor(spark, plain_table).filter("k = 5").count() == 1


def test_null_keys_rejected(spark):
    name = "mor_nullkey"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.createDataFrame(
        [(1, "a"), (None, "b"), (3, "c")], "k int, label string"
    ).write.saveAsTable(name)
    try:
        with pytest.raises(ValueError, match="NULL in key columns"):
            acid.delete_mor(spark, name, "label IN ('b', 'c')", ["k"])
        # nothing was masked by the failed statement
        assert acid.read_mor(spark, name).count() == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_mor_read_is_broadcast_anti_join(spark, plain_table):
    acid.delete_mor(spark, plain_table, "k < 50", ["k"])
    df = acid.read_mor(spark, plain_table)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_engine_facade_mor_roundtrip(spark, plain_table):
    from amplab_hive_spark.engine import Engine

    eng = Engine(spark)
    assert eng.delete_mor(plain_table, "k < 10", ["k"]) == 10
    assert eng.read_mor(plain_table).count() == 90
    assert eng.compact_mor(plain_table) == 1
    assert spark.table(plain_table).count() == 90


def test_compact_drops_fully_deleted_partition(spark, part_table):
    """Review finding r7: dynamic overwrite can't express a partition
    absent from the folded view — without an explicit DROP the
    partition's base files would survive compaction while the
    masking delta is purged, RESURRECTING every deleted row."""
    assert acid.delete_mor(spark, part_table, "bucket = 1", ["k"]) == 30
    assert acid.read_mor(spark, part_table).count() == 60
    assert acid.compact_mor(spark, part_table) == 1
    t = spark.table(part_table)
    assert t.count() == 60, "fully-deleted partition resurrected"
    assert t.filter("bucket = 1").count() == 0
    assert acid.read_mor(spark, part_table).count() == 60


def test_delete_count_is_masked_rows_for_nonunique_keys(spark):
    """Equality deletes mask BY KEY: with non-unique keys the return
    value must be the whole key group's size (what read_mor stops
    returning), not just the condition-matched rows."""
    name = "mor_nonuniq"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k int, label string"
    ).write.saveAsTable(name)
    try:
        n = acid.delete_mor(spark, name, "label = 'a'", ["k"])
        assert n == 2, "must count both rows of key group k=1"
        assert acid.read_mor(spark, name).count() == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_failed_or_empty_delete_pins_no_manifest(spark, plain_table):
    """Review finding r7: validation precedes manifest pinning — a
    zero-match or NULL-key-failed DELETE must leave the key set
    unpinned so a later DELETE can choose the right keys."""
    assert acid.delete_mor(spark, plain_table, "k > 1000", ["grp"]) == 0
    delta_dir = acid._delta_path(spark, plain_table)
    assert acid._read_manifest(delta_dir) is None
    # now pin with a DIFFERENT key set — must succeed
    assert acid.delete_mor(spark, plain_table, "k < 3", ["k"]) == 3
    assert acid._read_manifest(delta_dir) == ["k"]


def test_compact_after_threshold_triggers_fold(spark, plain_table):
    """The Initiator analogue: the Nth delete (delta-file count
    reaching compact_after) triggers an inline major compaction —
    deltas fold into the base and the delta dir resets; deletes
    below the threshold leave deltas in place."""
    acid.delete_mor(spark, plain_table, "k = 1", ["k"], compact_after=3)
    acid.delete_mor(spark, plain_table, "k = 2", ["k"], compact_after=3)
    delta_dir = acid._delta_path(spark, plain_table)
    assert len([f for f in os.listdir(delta_dir) if f.endswith(".parquet")]) == 2
    acid.delete_mor(spark, plain_table, "k = 3", ["k"], compact_after=3)
    assert acid._scan_deltas(delta_dir) == [], "threshold must trigger compaction"
    assert acid._read_manifest(delta_dir) == ["k"]  # pin survives
    assert spark.table(plain_table).count() == 97
    assert acid.read_mor(spark, plain_table).count() == 97


# ---------------------------------------------------------------- r8:
# UPDATE via merge-on-read (update = delete event + reinsert, the
# UpdateDeleteSemanticAnalyzer decomposition) + broadcast size gates
# + the COW/MOR composition guard.


def test_update_mor_updates_without_rewriting_base(spark, plain_table):
    before = _data_files(spark, plain_table)
    n = acid.update_mor(
        spark, plain_table, "k < 10", {"label": "concat(label, '-upd')"}, ["k"]
    )
    assert n == 10
    assert _data_files(spark, plain_table) == before  # base untouched
    rows = {r.k: r.label for r in acid.read_mor(spark, plain_table).collect()}
    assert len(rows) == 100
    assert rows[3] == "v-3-upd" and rows[42] == "v-42"


def test_update_mor_is_row_level_over_nonunique_keys(spark):
    """Unlike DELETE (whole-group mask), the re-insert carries the
    unmatched group-mates unchanged — net effect is row-level UPDATE
    even though the underlying delete delta masks the whole group."""
    name = "mor_upd_groups"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "a", 30), (2, "b", 40)],
        "k INT, v STRING, amt INT",
    ).write.saveAsTable(name)
    try:
        n = acid.update_mor(
            spark, name, "v = 'a'", {"amt": "amt + 100"}, ["k"]
        )
        assert n == 2  # matched ROWS, not groups
        got = sorted(
            (r.k, r.v, r.amt) for r in acid.read_mor(spark, name).collect()
        )
        assert got == [(1, "a", 110), (1, "b", 20), (2, "a", 130), (2, "b", 40)]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_update_mor_sequencing_across_statements(spark, plain_table):
    """update -> update (compounds) -> delete (masks the updated row)
    -> plain INSERT of that key stays masked (base rows are seq 0,
    the documented divergence), while updated rows survive the
    deletes that PRECEDED them."""
    acid.update_mor(spark, plain_table, "k = 4", {"label": "'u1'"}, ["k"])
    acid.update_mor(spark, plain_table, "k = 4", {"label": "concat(label, '+u2')"}, ["k"])
    got = {r.k: r.label for r in acid.read_mor(spark, plain_table).collect()}
    assert got[4] == "u1+u2"
    acid.delete_mor(spark, plain_table, "k = 4", ["k"])
    assert 4 not in {r.k for r in acid.read_mor(spark, plain_table).collect()}
    spark.createDataFrame([(4, 4, "reborn")], "k BIGINT, grp BIGINT, label STRING") \
        .write.insertInto(plain_table)
    assert 4 not in {r.k for r in acid.read_mor(spark, plain_table).collect()}
    # but an UPDATE re-insert is sequenced ABOVE the delete: update a
    # different live key and confirm it stays visible after the fold
    acid.update_mor(spark, plain_table, "k = 5", {"label": "'u5'"}, ["k"])
    got = {r.k: r.label for r in acid.read_mor(spark, plain_table).collect()}
    assert got[5] == "u5" and 4 not in got


def test_update_mor_compacts_to_same_rows(spark, plain_table):
    acid.update_mor(spark, plain_table, "k % 10 = 7", {"label": "'seven'"}, ["k"])
    acid.delete_mor(spark, plain_table, "k >= 90", ["k"])
    want = sorted(
        (r.k, r.grp, r.label)
        for r in acid.read_mor(spark, plain_table).collect()
    )
    folded = acid.compact_mor(spark, plain_table)
    assert folded >= 3  # txn dir contributes delete+insert entries
    got = sorted(
        (r.k, r.grp, r.label) for r in spark.table(plain_table).collect()
    )
    assert got == want and len(got) == 90


def test_update_mor_condition_on_pre_update_values(spark, plain_table):
    """SET label = <expr over label> WHERE label = ... must evaluate
    the condition against PRE-update values (same projection-input
    rule as ddl.update_table)."""
    n = acid.update_mor(
        spark, plain_table, "label = 'v-1'", {"label": "'v-2'"}, ["k"]
    )
    assert n == 1
    got = sorted(
        r.k for r in acid.read_mor(spark, plain_table)
        .filter("label = 'v-2'").collect()
    )
    assert got == [1, 2]  # k=1 renamed, k=2 original — not re-matched


def test_update_mor_zero_match_writes_nothing(spark, plain_table):
    assert acid.update_mor(
        spark, plain_table, "k = -1", {"label": "'x'"}, ["k"]
    ) == 0
    assert not os.path.isdir(acid._delta_path(spark, plain_table))


def test_update_mor_rejects_partition_column_assignment(spark, part_table):
    with pytest.raises(ValueError, match="partition column"):
        acid.update_mor(
            spark, part_table, "k = 1", {"bucket": "2"}, ["k"]
        )


def test_update_mor_partitioned_roundtrip(spark, part_table):
    n = acid.update_mor(
        spark, part_table, "bucket = 1 AND k < 10",
        {"label": "concat(label, '!')"}, ["k"],
    )
    assert n == 3  # k in {1,4,7}
    got = {r.k: r.label for r in acid.read_mor(spark, part_table).collect()}
    assert got[1] == "v-1!" and got[4] == "v-4!" and got[2] == "v-2"
    acid.compact_mor(spark, part_table)
    got = {r.k: r.label for r in spark.table(part_table).collect()}
    assert got[7] == "v-7!" and len(got) == 90


def test_update_mor_null_condition_rows_unmatched(spark):
    name = "mor_upd_null"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.createDataFrame(
        [(1, None), (2, 5)], "k INT, amt INT"
    ).write.saveAsTable(name)
    try:
        n = acid.update_mor(spark, name, "amt > 0", {"amt": "amt + 1"}, ["k"])
        assert n == 1  # NULL condition row unmatched
        got = sorted(
            (r.k, r.amt) for r in acid.read_mor(spark, name).collect()
        )
        assert got == [(1, None), (2, 6)]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_cow_verbs_refuse_pinned_mor_deltas(spark, plain_table):
    """ADVICE r7: a whole-location INSERT OVERWRITE would delete
    _delete_delta and resurrect MOR-masked rows; the COW verbs must
    refuse until compact_mor folds the deltas."""
    acid.delete_mor(spark, plain_table, "k < 5", ["k"])
    with pytest.raises(ValueError, match="compact_mor"):
        ddl.delete_from(spark, plain_table, "k = 50")
    with pytest.raises(ValueError, match="compact_mor"):
        ddl.update_table(spark, plain_table, "k = 50", {"label": "'x'"})
    src = spark.createDataFrame([(50, 5, "m")], "k BIGINT, grp BIGINT, label STRING")
    with pytest.raises(ValueError, match="compact_mor"):
        ddl.merge_into(
            spark, plain_table, src, "t.k = s.k",
            matched_update={"label": "s.label"},
        )
    # ADVICE r8: compaction preserves the pin, so COW verbs STILL
    # refuse (pinned = merge-on-read from now on); the explicit
    # unpin is the one road back to copy-on-write
    acid.compact_mor(spark, plain_table)
    with pytest.raises(ValueError, match="unpin_mor_keys"):
        ddl.delete_from(spark, plain_table, "k = 50")
    acid.unpin_mor_keys(spark, plain_table)
    assert ddl.delete_from(spark, plain_table, "k = 50") == 1


def test_unpin_requires_compaction_first(spark, plain_table):
    """unpin with live deltas would resurrect masked rows the moment
    the manifest disappears — refused until compact_mor folds them."""
    acid.delete_mor(spark, plain_table, "k < 5", ["k"])
    with pytest.raises(ValueError, match="outstanding merge-on-read deltas"):
        acid.unpin_mor_keys(spark, plain_table)
    acid.compact_mor(spark, plain_table)
    acid.unpin_mor_keys(spark, plain_table)
    assert acid.mor_keys(spark, plain_table) is None
    acid.unpin_mor_keys(spark, plain_table)  # idempotent
    # and the COW path is open again
    assert ddl.delete_from(spark, plain_table, "k = 50") == 1


def test_broadcast_gate_degrades_gracefully(spark, plain_table, monkeypatch):
    """With the caps forced to zero no forced-broadcast hint is
    planted (a multi-GB accumulated delta must not OOM the driver);
    results are identical — AQE still picks the strategy at runtime."""
    monkeypatch.setattr(acid, "_BROADCAST_CAP_BYTES", 0)
    monkeypatch.setattr(acid, "_BROADCAST_KEY_ROW_CAP", 0)
    assert acid.delete_mor(spark, plain_table, "k < 20", ["k"]) == 20
    assert acid.update_mor(
        spark, plain_table, "k = 30", {"label": "'g'"}, ["k"]
    ) == 1
    got = {r.k: r.label for r in acid.read_mor(spark, plain_table).collect()}
    assert len(got) == 80 and got[30] == "g"
    plan = acid.read_mor(spark, plain_table)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "ResolvedHint" not in plan  # the hint really is gone


def test_crash_before_txn_rename_leaves_nothing_visible(spark, plain_table):
    """Atomic-commit contract: a staging dir that never got renamed
    (simulated crash) is invisible to readers and swept by
    compaction."""
    import shutil

    acid.delete_mor(spark, plain_table, "k = 0", ["k"])
    delta_dir = acid._delta_path(spark, plain_table)
    # simulate a crashed UPDATE: staging dir with a valid parquet pair
    stage = os.path.join(delta_dir, ".staging-deadbeef")
    frame = spark.createDataFrame([(1, 1, "ghost")], "k BIGINT, grp BIGINT, label STRING")
    frame.coalesce(1).write.parquet(os.path.join(stage, "insert.parquet"))
    frame.select("k").coalesce(1).write.parquet(os.path.join(stage, "delete.parquet"))
    got = {r.k: r.label for r in acid.read_mor(spark, plain_table).collect()}
    assert got[1] == "v-1" and 0 not in got  # ghost invisible
    acid.compact_mor(spark, plain_table)
    # staging swept with the rest; only the preserved pin remains
    assert sorted(os.listdir(delta_dir)) == [acid._MANIFEST]
    shutil.rmtree(stage, ignore_errors=True)


def test_compact_table_ignores_mor_delta_files(spark, plain_table, tmp_path):
    """ADVICE r7: _list_data_files must skip files under hidden
    PARENT directories — delta part files are not data files and must
    not inflate fragmentation stats."""
    acid.delete_mor(spark, plain_table, "k < 5", ["k"])
    loc = ddl._table_location(spark, plain_table)
    listing = ddl._list_data_files(spark, loc)
    all_files = [f for files in listing.values() for f, _ in files]
    delta_dir = acid._delta_path(spark, plain_table)
    delta_parts = []
    for root, _dirs, files in os.walk(delta_dir):
        delta_parts.extend(f for f in files if f.endswith(".parquet"))
    assert delta_parts  # the delta really has part files
    assert not set(all_files) & set(delta_parts)


def test_update_mor_null_key_assignment_rejected(spark, plain_table):
    """Review r8: a SET on a key column that produces NULL keys would
    write insert-delta rows no future equality delete could address —
    rejected before anything is pinned or written."""
    with pytest.raises(ValueError, match="NULL"):
        acid.update_mor(
            spark, plain_table, "k = 1",
            {"k": "CAST(NULL AS BIGINT)"}, ["k"],
        )
    assert not os.path.isdir(acid._delta_path(spark, plain_table))


def test_compact_after_counts_transactions_not_files(spark, plain_table):
    """Review r8: one UPDATE txn holds two files (delete+insert) but
    is ONE delta transaction — compact_after=3 must fire on the third
    STATEMENT, not after two updates (4 files)."""
    acid.update_mor(spark, plain_table, "k = 1", {"label": "'a'"}, ["k"],
                    compact_after=3)
    acid.update_mor(spark, plain_table, "k = 2", {"label": "'b'"}, ["k"],
                    compact_after=3)
    # two txns (4 files) — threshold 3 must NOT have fired
    assert os.path.isdir(acid._delta_path(spark, plain_table))
    assert len(acid._scan_deltas(acid._delta_path(spark, plain_table))) == 4
    acid.delete_mor(spark, plain_table, "k = 3", ["k"], compact_after=3)
    # third statement reaches the transaction threshold: folded
    # (manifest survives — the pin outlives auto-compaction too)
    assert acid._scan_deltas(acid._delta_path(spark, plain_table)) == []
    assert acid.mor_keys(spark, plain_table) == ["k"]
    got = {r.k: r.label for r in spark.table(plain_table).collect()}
    assert got[1] == "a" and got[2] == "b" and 3 not in got


# ---------------------------------------------------------------- r9:
# minor compaction (CompactorMR's cheap half: consolidate deltas
# WITHOUT a base rewrite), the O(1)-in-txn-count batched delta read,
# the preserved-pin contract, and the widened sequence grammar.


def _base_state(spark, name):
    """(path, mtime_ns, size) of every base data file — byte-identity
    proxy for 'the base was never rewritten'."""
    return [
        (p, os.stat(p).st_mtime_ns, os.stat(p).st_size)
        for p in _data_files(spark, name)
    ]


def test_minor_compaction_consolidates_without_base_rewrite(spark, plain_table):
    acid.update_mor(spark, plain_table, "k < 10", {"label": "'u1'"}, ["k"])
    acid.delete_mor(spark, plain_table, "k >= 95", ["k"])
    acid.update_mor(spark, plain_table, "k = 3", {"label": "'u2'"}, ["k"])
    want = sorted(
        (r.k, r.grp, r.label) for r in acid.read_mor(spark, plain_table).collect()
    )
    base_before = _base_state(spark, plain_table)
    delta_dir = acid._delta_path(spark, plain_table)
    n_before = len(acid._scan_deltas(delta_dir))
    assert n_before == 5  # 2 update txns (2 files each) + 1 delete
    assert acid.compact_mor(spark, plain_table, mode="minor") == 5
    # base untouched — THE minor-compaction contract
    assert _base_state(spark, plain_table) == base_before
    # N deltas folded to one consolidated txnc unit (<= 2 files)
    units = acid._delta_units(delta_dir)
    assert len(units) == 1 and units[0][2] == "txnc"
    assert len(acid._scan_deltas(delta_dir)) <= 2
    got = sorted(
        (r.k, r.grp, r.label) for r in acid.read_mor(spark, plain_table).collect()
    )
    assert got == want
    # pin survives; re-run is a no-op (already minimal)
    assert acid._read_manifest(delta_dir) == ["k"]
    assert acid.compact_mor(spark, plain_table, mode="minor") == 0


def test_minor_then_more_statements_then_minor_again(spark, plain_table):
    """Nested consolidated ranges: a second minor folds the first
    txnc PLUS the newer deltas into a wider range that subsumes it;
    sequencing across the consolidation stays correct (a later delete
    still masks consolidated re-inserts)."""
    acid.update_mor(spark, plain_table, "k = 1", {"label": "'u1'"}, ["k"])
    acid.update_mor(spark, plain_table, "k = 2", {"label": "'u2'"}, ["k"])
    assert acid.compact_mor(spark, plain_table, mode="minor") == 4
    # post-consolidation statements sequence ABOVE the range end
    acid.delete_mor(spark, plain_table, "k = 1", ["k"])  # masks the u1 row
    acid.update_mor(spark, plain_table, "k = 2", {"label": "'u3'"}, ["k"])
    got = {r.k: r.label for r in acid.read_mor(spark, plain_table).collect()}
    assert 1 not in got and got[2] == "u3" and len(got) == 99
    assert acid.compact_mor(spark, plain_table, mode="minor") > 0
    delta_dir = acid._delta_path(spark, plain_table)
    units = acid._delta_units(delta_dir)
    assert len(units) == 1 and units[0][2] == "txnc"
    got2 = {r.k: r.label for r in acid.read_mor(spark, plain_table).collect()}
    assert got2 == got
    # and a major compaction folds the consolidated unit into the base
    acid.compact_mor(spark, plain_table)
    got3 = {r.k: r.label for r in spark.table(plain_table).collect()}
    assert got3 == got


def test_minor_noop_below_two_transactions(spark, plain_table):
    assert acid.compact_mor(spark, plain_table, mode="minor") == 0
    acid.update_mor(spark, plain_table, "k = 1", {"label": "'x'"}, ["k"])
    assert acid.compact_mor(spark, plain_table, mode="minor") == 0
    # the lone txn is untouched
    assert len(acid._scan_deltas(acid._delta_path(spark, plain_table))) == 2


def test_minor_delete_only_deltas(spark, plain_table):
    acid.delete_mor(spark, plain_table, "k = 1", ["k"])
    acid.delete_mor(spark, plain_table, "k = 2", ["k"])
    acid.delete_mor(spark, plain_table, "k = 3", ["k"])
    assert acid.compact_mor(spark, plain_table, mode="minor") == 3
    delta_dir = acid._delta_path(spark, plain_table)
    entries = acid._scan_deltas(delta_dir)
    assert [k for k, _, _ in entries] == ["delete"]
    assert acid.read_mor(spark, plain_table).count() == 97


def test_crashed_minor_cleaner_converges(spark, plain_table, monkeypatch):
    """Publish-then-clean: with the Cleaner disabled (simulated crash
    after the txnc rename) the subsumed old units are still on disk
    but INVISIBLE to the scanner — reads stay exact, and the next
    sweep removes them."""
    acid.update_mor(spark, plain_table, "k = 1", {"label": "'u1'"}, ["k"])
    acid.delete_mor(spark, plain_table, "k = 2", ["k"])
    want = sorted(
        (r.k, r.label) for r in acid.read_mor(spark, plain_table).collect()
    )
    monkeypatch.setattr(acid, "_clean_subsumed", lambda d: None)
    assert acid.compact_mor(spark, plain_table, mode="minor") == 3
    monkeypatch.undo()
    delta_dir = acid._delta_path(spark, plain_table)
    on_disk = [f for f in os.listdir(delta_dir) if f != acid._MANIFEST]
    assert len(on_disk) == 3  # txnc + the 2 subsumed units still there
    got = sorted(
        (r.k, r.label) for r in acid.read_mor(spark, plain_table).collect()
    )
    assert got == want  # subsumed units never double-read
    acid._clean_subsumed(delta_dir)
    on_disk = [f for f in os.listdir(delta_dir) if f != acid._MANIFEST]
    assert len(on_disk) == 1 and on_disk[0].startswith("txnc-")
    got = sorted(
        (r.k, r.label) for r in acid.read_mor(spark, plain_table).collect()
    )
    assert got == want


def test_read_mor_plan_constant_in_txn_count(spark, plain_table):
    """The r8-flagged driver-side plan growth: N uncompacted UPDATEs
    must NOT produce an N-way union of per-file scans. All insert
    deltas are one scan, all delete deltas another (sequence derived
    from the file path), so the scan count is a constant 3."""
    import re as _re

    def n_scans(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(_re.findall(r"Scan parquet", plan))

    acid.update_mor(spark, plain_table, "k = 1", {"label": "'a'"}, ["k"])
    acid.update_mor(spark, plain_table, "k = 2", {"label": "'b'"}, ["k"])
    two = n_scans(acid.read_mor(spark, plain_table))
    for i in range(3, 9):
        acid.update_mor(spark, plain_table, f"k = {i}", {"label": "'x'"}, ["k"])
    eight = n_scans(acid.read_mor(spark, plain_table))
    assert two == eight == 3, f"plan must not grow with txn count ({two}->{eight})"
    got = {r.k: r.label for r in acid.read_mor(spark, plain_table).collect()}
    assert got[1] == "a" and got[2] == "b" and got[5] == "x" and len(got) == 100


def test_sequence_grammar_beyond_eight_digits(spark, plain_table):
    """ADVICE r8: writers format {seq:08d} (unbounded digits); the
    scanner must accept \\d{8,} so a committed delta at seq >= 10^8
    never silently resurrects its masked rows."""
    acid.delete_mor(spark, plain_table, "k = 7", ["k"])
    delta_dir = acid._delta_path(spark, plain_table)
    (old,) = [f for f in os.listdir(delta_dir) if f.startswith("delta-")]
    wide = old.replace("delta-00000002-", "delta-100000001-")
    os.rename(os.path.join(delta_dir, old), os.path.join(delta_dir, wide))
    assert [(k, s) for k, s, _ in acid._scan_deltas(delta_dir)] \
        == [("delete", 100000001)]
    assert acid.read_mor(spark, plain_table).filter("k = 7").count() == 0
    assert acid._next_seq(delta_dir) == 100000002
    # and an UPDATE committed above 10^8 reads back exactly
    acid.update_mor(spark, plain_table, "k = 9", {"label": "'wide'"}, ["k"])
    got = {r.k: r.label for r in acid.read_mor(spark, plain_table).collect()}
    assert got[9] == "wide" and 7 not in got


def test_update_single_file_gate(spark, plain_table, monkeypatch):
    """ADVICE r8: coalesce(1) on delta writes is gated — above the
    row cap the transaction directory holds multiple part files and
    reads are unchanged (no one-partition write cliff)."""
    monkeypatch.setattr(acid, "_SINGLE_FILE_ROW_CAP", 0)
    assert acid.update_mor(
        spark, plain_table, "k < 50", {"label": "'m'"}, ["k"]
    ) == 50
    delta_dir = acid._delta_path(spark, plain_table)
    (txn,) = [f for f in os.listdir(delta_dir) if f.startswith("txn-")]
    ins = os.path.join(delta_dir, txn, "insert.parquet")
    parts = [f for f in os.listdir(ins) if f.startswith("part-")]
    assert len(parts) > 1, "above the cap the write must stay partitioned"
    got = {r.k: r.label for r in acid.read_mor(spark, plain_table).collect()}
    assert got[0] == "m" and got[99] == "v-99" and len(got) == 100


def test_minor_rerun_after_crash_sweeps_leftovers(spark, plain_table,
                                                  monkeypatch):
    """Review r9: a minor compaction that crashed between publish and
    clean leaves only the txnc unit live — the NEXT minor run (a
    no-op fold) must still sweep the subsumed leftovers instead of
    leaking them until some unrelated delta commits."""
    acid.update_mor(spark, plain_table, "k = 1", {"label": "'u1'"}, ["k"])
    acid.delete_mor(spark, plain_table, "k = 2", ["k"])
    monkeypatch.setattr(acid, "_clean_subsumed", lambda d: None)
    acid.compact_mor(spark, plain_table, mode="minor")
    monkeypatch.undo()
    delta_dir = acid._delta_path(spark, plain_table)
    assert len([f for f in os.listdir(delta_dir) if f != acid._MANIFEST]) == 3
    # the re-run has < 2 live units (just the txnc) — and must clean
    assert acid.compact_mor(spark, plain_table, mode="minor") == 0
    on_disk = [f for f in os.listdir(delta_dir) if f != acid._MANIFEST]
    assert len(on_disk) == 1 and on_disk[0].startswith("txnc-")
    got = {r.k: r.label for r in acid.read_mor(spark, plain_table).collect()}
    assert got[1] == "u1" and 2 not in got and len(got) == 99


def test_minor_converges_on_equal_sequence_units(spark, plain_table):
    """Review r9: two legacy deltas both read at seq 1 fold into
    txnc-1-1, whose range must subsume them (same-width coverage
    counts for PLAIN units) or minor never becomes a no-op."""
    import uuid as _uuid

    acid.pin_mor_keys(spark, plain_table, ["k"])
    delta_dir = acid._delta_path(spark, plain_table)
    for k in (3, 4):  # two LEGACY (unsequenced) delete deltas
        spark.createDataFrame([(k,)], "k BIGINT").coalesce(1).write.parquet(
            os.path.join(delta_dir, f"delta-{_uuid.uuid4().hex}.parquet"))
    assert acid.read_mor(spark, plain_table).count() == 98
    assert acid.compact_mor(spark, plain_table, mode="minor") == 2
    units = acid._delta_units(delta_dir)
    assert len(units) == 1 and units[0][2] == "txnc"
    assert acid.read_mor(spark, plain_table).count() == 98
    # converged: the re-run is a no-op
    assert acid.compact_mor(spark, plain_table, mode="minor") == 0


def test_autocompact_mode_auto_follows_initiator_rule(spark, plain_table):
    """compact_mode='auto' = the Initiator's own choice
    (ql/txn/compactor/Initiator.java): minor while the accumulated
    delta bytes stay under 10% of the base, major once they reach it.
    Tiny point deltas against the 100-row base stay minor (base
    untouched); forcing the threshold to 0 makes the next statement
    trigger major."""
    # a base of fixed size: the fixture writes one file per core, so
    # on a small host its bytes shrink until the point deltas below
    # cross the 10% ratio and the minor branch is never taken
    spark.range(100).selectExpr(
        "id AS k", "id % 10 AS grp", "concat('v-', id) AS label"
    ).repartition(32).write.mode("overwrite").saveAsTable(plain_table)
    acid.update_mor(spark, plain_table, "k = 1", {"label": "'a'"}, ["k"])
    base_before = _base_state(spark, plain_table)
    acid.delete_mor(spark, plain_table, "k = 2", ["k"],
                    compact_after=2, compact_mode="auto")
    delta_dir = acid._delta_path(spark, plain_table)
    # ratio rule picked MINOR: base untouched, one consolidated unit
    assert _base_state(spark, plain_table) == base_before
    units = acid._delta_units(delta_dir)
    assert len(units) == 1 and units[0][2] == "txnc"
    got = {r.k: r.label for r in acid.read_mor(spark, plain_table).collect()}
    assert got[1] == "a" and 2 not in got
    # force the major branch: any delta ratio now crosses it
    orig = acid._MAJOR_DELTA_PCT
    acid._MAJOR_DELTA_PCT = 0.0
    try:
        acid.delete_mor(spark, plain_table, "k = 3", ["k"],
                        compact_after=1, compact_mode="auto")
    finally:
        acid._MAJOR_DELTA_PCT = orig
    assert acid._scan_deltas(delta_dir) == []  # folded into the base
    got = {r.k: r.label for r in spark.table(plain_table).collect()}
    assert got[1] == "a" and 2 not in got and 3 not in got


def test_autocompact_invalid_mode_rejected_before_commit(spark, plain_table):
    """A bad compact_mode fails the statement UP FRONT — no delta may
    have been committed by the time it raises."""
    with pytest.raises(ValueError, match="compact_mode"):
        acid.delete_mor(spark, plain_table, "k = 1", ["k"],
                        compact_after=1, compact_mode="aggressive")
    assert not os.path.isdir(acid._delta_path(spark, plain_table))


def test_show_compactions_statement(spark, plain_table):
    """SHOW COMPACTIONS (DDLTask.showCompactions analogue): pending
    inline-compaction work per pinned table — Initiator-recommended
    type while deltas are live, 'clean' after compaction (the pin
    survives and keeps the table listed)."""
    from amplab_hive_spark.engine import Engine

    eng = Engine(spark)
    acid.update_mor(spark, plain_table, "k = 1", {"label": "'x'"}, ["k"])
    acid.delete_mor(spark, plain_table, "k = 2", ["k"])
    rows = {r.table: r for r in eng.sql("SHOW COMPACTIONS").collect()}
    assert plain_table in rows
    got = rows[plain_table]
    assert got.state == "initiated" and got.type in ("minor", "major")
    assert got.delta_txns == 2 and got.delta_files == 3
    assert got.delta_bytes > 0 and got.partition is None
    acid.compact_mor(spark, plain_table)
    rows = {r.table: r for r in eng.sql("SHOW COMPACTIONS").collect()}
    got = rows[plain_table]
    assert got.state == "clean" and got.type is None and got.delta_files == 0
    # unpinned tables never appear
    acid.unpin_mor_keys(spark, plain_table)
    rows = {r.table: r for r in eng.sql("SHOW COMPACTIONS").collect()}
    assert plain_table not in rows


# -- SHOW LOCKS (round 10: the r9 verdict's task 5, implement-minimal) --


def test_show_locks_empty_when_nothing_held(spark):
    """DDLTask.showLocks analogue: this inline engine holds no
    statement-outliving table locks, so SHOW LOCKS is empty unless a
    warehouse sidecar flock is live RIGHT NOW."""
    from amplab_hive_spark.engine import Engine

    eng = Engine(spark)
    df = eng.sql("SHOW LOCKS")
    assert df.columns == [
        "lockid", "database", "table", "partition", "state", "blocked_by",
        "type", "txnid", "last_heartbeat", "acquired_at", "user",
        "hostname", "agent_info",
    ]
    assert df.count() == 0


def test_show_locks_reports_live_sidecar_flock(spark):
    """While a process holds a warehouse sidecar flock (the authz
    store's), SHOW LOCKS reports it EXCLUSIVE/ACQUIRED; after release
    the row disappears — probed, never inferred from file existence."""
    import fcntl

    from amplab_hive_spark import authorization as az
    from amplab_hive_spark.engine import Engine

    eng = Engine(spark)
    lockfile = az._store_path(spark) + ".lock"
    fh = open(lockfile, "a+")
    try:
        fcntl.flock(fh, fcntl.LOCK_EX)
        rows = eng.sql("SHOW LOCKS").collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.state, r.type) == ("ACQUIRED", "EXCLUSIVE")
        assert r.agent_info == "_authz.json.lock"
        assert r.table is None  # warehouse-scoped, not a table lock
    finally:
        fcntl.flock(fh, fcntl.LOCK_UN)
        fh.close()
    assert eng.sql("SHOW LOCKS").count() == 0


def test_show_locks_table_scoped_and_missing_table(spark, plain_table):
    """SHOW LOCKS <table>: empty by construction (no table lock ever
    outlives a statement); a nonexistent table raises the reference's
    resolution error rather than returning an empty set."""
    from amplab_hive_spark.engine import Engine

    eng = Engine(spark)
    assert eng.sql(f"SHOW LOCKS {plain_table}").count() == 0
    # bare EXTENDED is part of the statement grammar, not a table name
    # (review r10: the greedy optional table group used to eat it)
    assert eng.sql("SHOW LOCKS EXTENDED").count() == 0
    with pytest.raises(Exception, match="(?i)not found|cannot be found|does not exist|TABLE_OR_VIEW"):
        eng.sql("SHOW LOCKS definitely_not_a_table_xyz")


# -- SHOW TRANSACTIONS (round 11: implement-minimal, like SHOW LOCKS) --


def test_show_transactions_schema_and_inline_emptiness(spark, tmp_path):
    """DDLTask.showTxns analogue (reference columns Transaction ID /
    State / User / Hostname): an inline-commit engine's open-txn set
    is empty BY DESIGN at every observable instant — including in the
    middle of a merge-on-read lifecycle, where the reference WOULD
    show an open transaction between BEGIN and COMMIT but this engine
    has already atomically committed each statement."""
    from amplab_hive_spark import acid
    from amplab_hive_spark.engine import Engine

    eng = Engine(spark)
    df = eng.sql("SHOW TRANSACTIONS")
    assert df.columns == ["txnid", "state", "user", "hostname"]
    assert df.count() == 0

    name = "show_txns_t"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (k INT, v INT) USING parquet "
        f"LOCATION '{tmp_path}/show_txns_t' "
        f"TBLPROPERTIES ('transactional'='true', 'merge_keys'='k')"
    )
    try:
        spark.sql(f"INSERT INTO {name} VALUES (1, 10)")
        eng.sql(f"UPDATE {name} SET v = 11 WHERE k = 1")  # live delta
        assert eng.sql("SHOW TRANSACTIONS").count() == 0
        assert eng.sql(f"SELECT v FROM {name}").first().v == 11
    finally:
        acid.compact_mor(spark, name, mode="major")
        acid.unpin_mor_keys(spark, name)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
