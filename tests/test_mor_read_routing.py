"""Merged READ routing for merge-on-read tables (round 10).

The reference merges deltas inside the input format for EVERY SQL
reader of a transactional table (ql/io/AcidUtils.java getAcidState +
ql/io/orc/OrcRawRecordMerger.java) — a SELECT after an UPDATE always
returns the updated rows; only raw file-system tools see unmerged base
files. These tests pin the engine's analogue:

- Engine.sql: per-statement shadow temp views (acid.mor_statement_scope)
- Engine.table: acid.resolve_read
- publish_mor_views: the persistent form for raw-spark.sql surfaces
  (Thrift/JDBC)

plus every documented divergence (qualified names, view DDL,
self-referencing inserts, user temp views).
"""

import pytest

from amplab_hive_spark import acid
from amplab_hive_spark.engine import Engine


@pytest.fixture
def engine(spark):
    return Engine(spark)


@pytest.fixture
def mor_table(spark, tmp_path):
    name = "mor_route_t"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (k INT, grp STRING, v INT) USING parquet "
        f"LOCATION '{tmp_path}/mor_route_t' "
        f"TBLPROPERTIES ('transactional'='true', 'merge_keys'='k')"
    )
    spark.sql(
        f"INSERT INTO {name} VALUES "
        f"(1,'a',10),(2,'a',20),(3,'b',30),(4,'b',40)"
    )
    yield name
    acid.unpublish_mor_views(spark, [name])
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_engine_sql_select_sees_committed_update(engine, mor_table):
    engine.sql(f"UPDATE {mor_table} SET v = v + 100 WHERE grp = 'a'")
    rows = {
        r.k: r.v
        for r in engine.sql(f"SELECT k, v FROM {mor_table}").collect()
    }
    assert rows == {1: 110, 2: 120, 3: 30, 4: 40}


def test_engine_sql_select_sees_committed_delete(engine, mor_table):
    engine.sql(f"DELETE FROM {mor_table} WHERE k = 4")
    assert engine.sql(f"SELECT count(*) AS n FROM {mor_table}").first().n == 3


def test_shadow_is_dropped_after_statement(engine, spark, mor_table):
    engine.sql(f"UPDATE {mor_table} SET v = 0 WHERE k = 1")
    engine.sql(f"SELECT * FROM {mor_table}").collect()
    # the ephemeral shadow must not linger: a raw spark.table read is
    # the vanilla (unmerged) reader again
    assert not acid._temp_view_exists(spark, mor_table)
    assert spark.table(mor_table).filter("k = 1").first().v == 10


def test_result_survives_shadow_drop(engine, mor_table):
    """spark.sql analyzes eagerly: the DataFrame returned while the
    shadow existed must stay collectable (and merged) after exit."""
    engine.sql(f"UPDATE {mor_table} SET v = 1 WHERE k = 2")
    df = engine.sql(f"SELECT v FROM {mor_table} WHERE k = 2")
    assert df.first().v == 1  # collected AFTER the scope closed


def test_engine_sql_aggregate_and_join_read_merged(engine, mor_table):
    engine.sql(f"DELETE FROM {mor_table} WHERE grp = 'b'")
    total = engine.sql(
        f"SELECT sum(v) AS s FROM {mor_table}"
    ).first().s
    assert total == 30  # 10 + 20, the b-group masked
    joined = engine.sql(
        f"SELECT count(*) AS n FROM {mor_table} a "
        f"JOIN {mor_table} b ON a.grp = b.grp"
    ).first().n
    assert joined == 4  # 2x2 within grp 'a' only


def test_engine_table_resolves_merged(engine, mor_table):
    engine.sql(f"UPDATE {mor_table} SET v = 7 WHERE k = 3")
    assert engine.table(mor_table).filter("k = 3").first().v == 7


def test_engine_table_plain_table_unchanged(engine, spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS plain_route_t")
    spark.sql(
        f"CREATE TABLE plain_route_t (k INT) USING parquet "
        f"LOCATION '{tmp_path}/plain_route_t'"
    )
    spark.sql("INSERT INTO plain_route_t VALUES (1), (2)")
    try:
        assert engine.table("plain_route_t").count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS plain_route_t")


def test_insert_into_mor_table_still_works(engine, mor_table):
    """The insert TARGET is never shadowed — a plain INSERT keeps
    writing base files (sequence-0 divergence, module docstring)."""
    engine.sql(f"UPDATE {mor_table} SET v = 0 WHERE k = 1")
    engine.sql(f"INSERT INTO {mor_table} VALUES (9, 'c', 90)")
    rows = {r.k: r.v for r in engine.sql(
        f"SELECT k, v FROM {mor_table}").collect()}
    assert rows[9] == 90 and rows[1] == 0


def test_insert_select_source_reads_merged(engine, spark, mor_table, tmp_path):
    engine.sql(f"DELETE FROM {mor_table} WHERE grp = 'b'")
    spark.sql("DROP TABLE IF EXISTS mor_route_sink")
    spark.sql(
        f"CREATE TABLE mor_route_sink (k INT, grp STRING, v INT) USING "
        f"parquet LOCATION '{tmp_path}/mor_route_sink'"
    )
    try:
        engine.sql(
            f"INSERT INTO mor_route_sink SELECT k, grp, v FROM {mor_table}"
        )
        # the copy must contain only the MERGED (undeleted) rows
        assert spark.table("mor_route_sink").count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS mor_route_sink")


def test_self_referencing_insert_reads_raw(engine, spark, mor_table):
    """INSERT INTO t ... FROM t: the target cannot be shadowed, so the
    read side is raw too — documented divergence."""
    engine.sql(f"DELETE FROM {mor_table} WHERE k = 4")
    engine.sql(
        f"INSERT INTO {mor_table} "
        f"SELECT k + 100, grp, v FROM {mor_table} WHERE k = 4"
    )
    # the raw-base row 4 was visible to the self-insert's read side
    assert engine.sql(
        f"SELECT count(*) AS n FROM {mor_table} WHERE k = 104"
    ).first().n == 1


def test_qualified_reference_reads_raw(engine, spark, mor_table):
    """db.t bypasses temp views by Spark's resolution rules —
    documented divergence: qualified reads are the raw base."""
    engine.sql(f"DELETE FROM {mor_table} WHERE k = 1")
    db = spark.catalog.currentDatabase()
    assert engine.sql(
        f"SELECT count(*) AS n FROM {db}.{mor_table}"
    ).first().n == 4


def test_create_view_over_mor_table_not_shadowed(engine, spark, mor_table):
    """CREATE VIEW is excluded (a permanent view cannot reference a
    temp view); the view reads raw and reads through it stay raw."""
    engine.sql(f"DELETE FROM {mor_table} WHERE k = 1")
    spark.sql("DROP VIEW IF EXISTS mor_route_v")
    try:
        engine.sql(f"CREATE VIEW mor_route_v AS SELECT * FROM {mor_table}")
        assert spark.table("mor_route_v").count() == 4  # raw
    finally:
        spark.sql("DROP VIEW IF EXISTS mor_route_v")


def test_user_temp_view_wins_over_shadow(engine, spark, mor_table):
    engine.sql(f"DELETE FROM {mor_table} WHERE k = 1")
    spark.range(7).createOrReplaceTempView(mor_table)
    try:
        # the user's own view resolves; the engine must not clobber it
        assert engine.sql(
            f"SELECT count(*) AS n FROM {mor_table}"
        ).first().n == 7
        assert acid._temp_view_exists(spark, mor_table)
    finally:
        spark.catalog.dropTempView(mor_table)


def test_no_deltas_no_shadow(engine, spark, mor_table):
    """A MOR table with no live deltas (or after compaction) needs no
    shadow — merged == base."""
    engine.sql(f"SELECT * FROM {mor_table}").collect()
    assert not acid._temp_view_exists(spark, mor_table)
    engine.sql(f"UPDATE {mor_table} SET v = 0 WHERE k = 1")
    engine.sql(f"ALTER TABLE {mor_table} COMPACT 'major'")
    engine.sql(f"SELECT * FROM {mor_table}").collect()
    assert not acid._temp_view_exists(spark, mor_table)
    assert engine.sql(
        f"SELECT v FROM {mor_table} WHERE k = 1"
    ).first().v == 0


def test_metadata_statements_unaffected(engine, mor_table):
    engine.sql(f"UPDATE {mor_table} SET v = 0 WHERE k = 1")
    # DESCRIBE/SHOW on the bare name still reach the TABLE
    cols = {r.col_name for r in engine.sql(f"DESCRIBE {mor_table}").collect()}
    assert {"k", "grp", "v"} <= cols
    props = engine.sql(f"SHOW TBLPROPERTIES {mor_table}").collect()
    assert any(r.key == "transactional" for r in props)


def test_cte_name_not_mistaken_for_table(engine, mor_table):
    engine.sql(f"UPDATE {mor_table} SET v = 999 WHERE k = 1")
    out = engine.sql(
        f"WITH c AS (SELECT k, v FROM {mor_table} WHERE k = 1) "
        f"SELECT v FROM c"
    ).first().v
    assert out == 999


# -- persistent published views (the Thrift/JDBC surface) -------------


def test_publish_makes_raw_sql_merged(engine, spark, mor_table):
    engine.sql(f"UPDATE {mor_table} SET v = 5 WHERE k = 2")
    acid.publish_mor_views(spark, [mor_table])
    # RAW spark.sql — the thrift execution path — now sees merged rows
    assert spark.sql(
        f"SELECT v FROM {mor_table} WHERE k = 2"
    ).first().v == 5


def test_published_view_follows_later_writes(engine, spark, mor_table):
    acid.publish_mor_views(spark, [mor_table])
    engine.sql(f"UPDATE {mor_table} SET v = 1 WHERE k = 1")
    assert spark.sql(f"SELECT v FROM {mor_table} WHERE k = 1").first().v == 1
    engine.sql(f"DELETE FROM {mor_table} WHERE k = 3")
    assert spark.sql(
        f"SELECT count(*) AS n FROM {mor_table}"
    ).first().n == 3


def test_published_view_dropped_after_compaction(engine, spark, mor_table):
    acid.publish_mor_views(spark, [mor_table])
    engine.sql(f"DELETE FROM {mor_table} WHERE k = 4")
    assert acid._temp_view_exists(spark, mor_table)
    engine.sql(f"ALTER TABLE {mor_table} COMPACT 'major'")
    # no deltas -> shadow gone, base IS the merged state
    assert not acid._temp_view_exists(spark, mor_table)
    assert spark.sql(
        f"SELECT count(*) AS n FROM {mor_table}"
    ).first().n == 3
    # ...and the name stays published: the next delta re-shadows
    engine.sql(f"DELETE FROM {mor_table} WHERE k = 1")
    assert acid._temp_view_exists(spark, mor_table)


def test_engine_insert_lifts_published_shadow(engine, spark, mor_table):
    """Engine.sql INSERT INTO a PUBLISHED table: the statement scope
    drops the shadow for the write and resyncs it after."""
    engine.sql(f"UPDATE {mor_table} SET v = 0 WHERE k = 1")
    acid.publish_mor_views(spark, [mor_table])
    engine.sql(f"INSERT INTO {mor_table} VALUES (8, 'c', 80)")
    assert acid._temp_view_exists(spark, mor_table)  # resynced
    rows = {r.k: r.v for r in spark.sql(
        f"SELECT k, v FROM {mor_table}").collect()}
    assert rows[8] == 80 and rows[1] == 0


def test_publish_non_mor_raises(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS plain_pub_t")
    spark.sql(
        f"CREATE TABLE plain_pub_t (k INT) USING parquet "
        f"LOCATION '{tmp_path}/plain_pub_t'"
    )
    try:
        with pytest.raises(ValueError, match="not merge-on-read"):
            acid.publish_mor_views(spark, ["plain_pub_t"])
    finally:
        spark.sql("DROP TABLE IF EXISTS plain_pub_t")


def test_publish_refuses_foreign_temp_view(engine, spark, mor_table):
    engine.sql(f"DELETE FROM {mor_table} WHERE k = 1")
    spark.range(3).createOrReplaceTempView(mor_table)
    try:
        with pytest.raises(ValueError, match="refusing to clobber"):
            acid.publish_mor_views(spark, [mor_table])
    finally:
        spark.catalog.dropTempView(mor_table)


def test_unpin_unpublishes(engine, spark, mor_table):
    engine.sql(f"DELETE FROM {mor_table} WHERE k = 1")
    acid.publish_mor_views(spark, [mor_table])
    engine.sql(f"ALTER TABLE {mor_table} COMPACT 'major'")
    spark.sql(
        f"ALTER TABLE {mor_table} UNSET TBLPROPERTIES "
        f"('transactional', 'merge_keys')"
    )
    acid.unpin_mor_keys(spark, mor_table)
    assert mor_table not in acid._PUBLISHED
    assert not acid._temp_view_exists(spark, mor_table)


def test_auto_publish_mor_views(spark, engine, mor_table):
    """Serving-session bootstrap (r10): auto_publish_mor_views
    publishes every known MOR table's merged view, skips names held
    by user temp views, and is idempotent — the thrift entry point
    calls it so JDBC readers see merged rows by default."""
    engine.sql(f"UPDATE {mor_table} SET v = v + 1 WHERE k = 1")
    # a user temp view occupying an unrelated name is never touched
    spark.range(1).createOrReplaceTempView("user_owned_v")
    try:
        published = acid.auto_publish_mor_views(spark)
        assert mor_table in published
        assert "user_owned_v" not in published
        # raw spark.sql (the thrift path) now reads MERGED rows
        assert spark.sql(
            f"SELECT v FROM {mor_table} WHERE k = 1"
        ).first().v == 11
        # idempotent: second call re-lists, still merged
        again = acid.auto_publish_mor_views(spark)
        assert mor_table in again
    finally:
        spark.catalog.dropTempView("user_owned_v")
        acid.unpublish_mor_views(spark, [mor_table])


def test_auto_publish_skips_user_temp_view_on_mor_name(spark, engine, mor_table):
    """If the USER already holds a temp view on a MOR table's bare
    name, auto-publish leaves it alone (never clobbers)."""
    engine.sql(f"UPDATE {mor_table} SET v = 0 WHERE k = 2")
    spark.range(3).selectExpr("id AS z").createOrReplaceTempView(mor_table)
    try:
        published = acid.auto_publish_mor_views(spark)
        assert mor_table not in published
        # the user's view still answers
        assert spark.table(mor_table).columns == ["z"]
    finally:
        spark.catalog.dropTempView(mor_table)


def test_auto_publish_skips_corrupt_table(spark, engine, mor_table, tmp_path):
    """Review r10 pass 3: one table whose merged plan fails to build
    (corrupt delta file) is skipped — auto-publish must not abort the
    thrift server start over a table the session may never query."""
    import os

    engine.sql(f"UPDATE {mor_table} SET v = v + 1 WHERE k = 1")
    bad = "mor_corrupt_t"
    spark.sql(f"DROP TABLE IF EXISTS {bad}")
    spark.sql(
        f"CREATE TABLE {bad} (k INT, v INT) USING parquet "
        f"LOCATION '{tmp_path}/{bad}' "
        f"TBLPROPERTIES ('transactional'='true', 'merge_keys'='k')"
    )
    spark.sql(f"INSERT INTO {bad} VALUES (1, 10)")
    engine.sql(f"UPDATE {bad} SET v = 11 WHERE k = 1")
    # corrupt the live delta files so read_mor cannot build its plan
    delta_dir = acid._delta_path(spark, bad)
    for root, _, files in os.walk(delta_dir):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "wb") as fh:
                    fh.write(b"not a parquet file")
    try:
        published = acid.auto_publish_mor_views(spark)
        assert mor_table in published       # the good table published
        assert bad not in published          # the corrupt one skipped
        assert bad not in acid._PUBLISHED    # and not left half-tracked
    finally:
        acid.unpublish_mor_views(spark, [mor_table])
        spark.sql(f"DROP TABLE IF EXISTS {bad}")


def test_auto_publish_skips_table_whose_second_delta_is_corrupt(
    spark, engine, mor_table
):
    """The corrupt-delta probe reads every delta footer,
    not just the first — a table whose LATER delta is unreadable is
    skipped at publish time too."""
    import os

    engine.sql(f"UPDATE {mor_table} SET v = v + 1 WHERE k = 1")
    paths = [p for _, _, p in acid._scan_deltas(acid._delta_path(spark, mor_table))]
    assert len(paths) >= 2
    for root, _, files in os.walk(paths[1]):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "wb") as fh:
                    fh.write(b"not a parquet file")
    try:
        assert mor_table not in acid.auto_publish_mor_views(spark)
        assert mor_table not in acid._PUBLISHED
    finally:
        acid.unpublish_mor_views(spark, [mor_table])


def test_auto_publish_keeps_prior_registration_on_sync_error(
    engine, spark, mor_table, monkeypatch
):
    """ADVICE r10 (low): auto_publish_mor_views must not unregister an
    ALREADY-published name after one transient _sync_published error —
    only a newly-added name is rolled back, so write-sync keeps
    covering the view."""
    engine.sql(f"UPDATE {mor_table} SET v = 1 WHERE k = 1")
    acid.publish_mor_views(spark, [mor_table])
    assert mor_table in acid._PUBLISHED

    def _boom(spark_, name):
        raise RuntimeError("transient sync failure")

    monkeypatch.setattr(acid, "_sync_published", _boom)
    out = acid.auto_publish_mor_views(spark)
    monkeypatch.undo()
    assert mor_table not in out            # this pass did fail...
    assert mor_table in acid._PUBLISHED    # ...but the name stays
    # registered: the next write resyncs the merged view as usual
    engine.sql(f"UPDATE {mor_table} SET v = 2 WHERE k = 1")
    assert spark.sql(f"SELECT v FROM {mor_table} WHERE k = 1").first().v == 2


def test_publish_refuses_silent_repoint(engine, spark, mor_table, tmp_path):
    """Review r11 pass 3: re-publishing an already-published bare name
    for a DIFFERENT backing table is refused (unpublish first); the
    same-backing re-publish stays idempotent."""
    engine.sql(f"UPDATE {mor_table} SET v = 1 WHERE k = 1")
    acid.publish_mor_views(spark, [mor_table])
    # idempotent: same backing (bare resolves to the same current-db
    # qualified name)
    acid.publish_mor_views(spark, [mor_table])
    assert acid._PUBLISHED[mor_table] == f"default.{mor_table}"
    spark.sql("CREATE DATABASE IF NOT EXISTS repoint_db")
    other = f"repoint_db.{mor_table}"
    spark.sql(
        f"CREATE TABLE {other} (k INT, grp STRING, v INT) USING parquet "
        f"LOCATION '{tmp_path}/repoint_t' "
        f"TBLPROPERTIES ('transactional'='true', 'merge_keys'='k')"
    )
    try:
        with pytest.raises(ValueError, match="refusing to re-point"):
            acid.publish_mor_views(spark, [other])
        assert acid._PUBLISHED[mor_table] == f"default.{mor_table}"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {other}")
        spark.sql("DROP DATABASE IF EXISTS repoint_db")


def test_publish_all_or_nothing_on_sync_failure(
    spark, mor_table, tmp_path, monkeypatch
):
    """VERDICT r11 finding 1: _sync_published can throw AFTER
    validation (view-build-time failure); a mid-list failure must
    unwind THIS call's publishes — no earlier name left published, no
    mapping entry with a dead view behind it."""
    name2 = "mor_route_t2"
    spark.sql(f"DROP TABLE IF EXISTS {name2}")
    spark.sql(
        f"CREATE TABLE {name2} (k INT, v INT) USING parquet "
        f"LOCATION '{tmp_path}/mor_route_t2' "
        f"TBLPROPERTIES ('transactional'='true', 'merge_keys'='k')"
    )
    spark.sql(f"INSERT INTO {name2} VALUES (1, 10)")
    real_sync = acid._sync_published

    def failing_sync(spark_, name):
        if name.split(".")[-1].lower() == name2:
            raise RuntimeError("injected view-build failure")
        return real_sync(spark_, name)

    monkeypatch.setattr(acid, "_sync_published", failing_sync)
    try:
        with pytest.raises(RuntimeError, match="injected view-build"):
            acid.publish_mor_views(spark, [mor_table, name2])
        # nothing from the failing call survives
        assert mor_table not in acid._PUBLISHED
        assert name2 not in acid._PUBLISHED
        assert not acid._temp_view_exists(spark, mor_table)
        assert not acid._temp_view_exists(spark, name2)
        # and a PRE-EXISTING publish keeps its mapping across a failed
        # idempotent re-publish of the same name
        monkeypatch.setattr(acid, "_sync_published", real_sync)
        acid.publish_mor_views(spark, [mor_table])
        monkeypatch.setattr(acid, "_sync_published", failing_sync)

        def fail_all(spark_, name):
            raise RuntimeError("injected re-sync failure")

        monkeypatch.setattr(acid, "_sync_published", fail_all)
        with pytest.raises(RuntimeError, match="re-sync"):
            acid.publish_mor_views(spark, [mor_table])
        assert mor_table in acid._PUBLISHED  # prior publish survives
    finally:
        monkeypatch.setattr(acid, "_sync_published", real_sync)
        acid.unpublish_mor_views(spark, [name2])
        spark.sql(f"DROP TABLE IF EXISTS {name2}")


def test_publish_same_bare_name_in_one_call_refuses(spark, mor_table, tmp_path):
    """Review r12: two same-bare names in ONE publish list must hit
    the re-point refusal (validation previously only checked the
    mapping, which is mutated after validation)."""
    db = "morpub_db2"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    name2 = f"{db}.{mor_table}"
    spark.sql(f"DROP TABLE IF EXISTS {name2}")
    spark.sql(
        f"CREATE TABLE {name2} (k INT, grp STRING, v INT) USING parquet "
        f"LOCATION '{tmp_path}/morpub2' "
        f"TBLPROPERTIES ('transactional'='true', 'merge_keys'='k')"
    )
    spark.sql(f"INSERT INTO {name2} VALUES (9,'z',90)")
    try:
        with pytest.raises(ValueError, match="refusing\\s+to re-point|re-point"):
            acid.publish_mor_views(spark, [mor_table, name2])
        assert mor_table not in acid._PUBLISHED  # nothing half-published
        # duplicate SAME qualified name is idempotent, not an error
        got = acid.publish_mor_views(spark, [mor_table, mor_table])
        assert got == [mor_table, mor_table]
    finally:
        acid.unpublish_mor_views(spark, [mor_table])
        spark.sql(f"DROP TABLE IF EXISTS {name2}")
        spark.sql(f"DROP DATABASE IF EXISTS {db}")
