"""Merged READ routing for merge-on-read tables (round 10).

The reference merges deltas inside the input format for EVERY SQL
reader of a transactional table (ql/io/AcidUtils.java getAcidState +
ql/io/orc/OrcRawRecordMerger.java) — a SELECT after an UPDATE always
returns the updated rows; only raw file-system tools see unmerged base
files. These tests pin the engine's analogue:

- Engine.sql: per-statement shadow temp views (acid.mor_statement_scope),
  the one merged-read path every SQL surface (CLI, JSON service,
  TCLI/beeline) shares
- Engine.table: acid.resolve_read

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
