"""Every answer a pre-parse shim builds on the driver (SET, DML counts,
COMPACT, SHOW COMPACTIONS/TRANSACTIONS/LOCKS, role DDL, ``dfs``,
macros, partition metadata) is a ``LocalRelation`` made by
``session.local_rows``: its schema and values are those the former
``spark.createDataFrame(list, schema)`` produced, its executed plan is
a ``LocalTableScan``, and taking it runs no Spark job.

The module also carries the default-tier merge-on-read smoke through
``Engine.sql`` (UPDATE, DELETE, COMPACT 'minor', COMPACT 'major', each
read back), the key-frame DELETE of the CDC tombstone path
(``acid.delete_keys_mor``) and a MERGE on a copy-on-write table,
including a widening assignment that must keep its column's type."""

import datetime
import os
import re
import uuid
from decimal import Decimal

import pytest
from pyspark.sql.types import StructField, StructType, StringType

from amplab_hive_spark import acid
from amplab_hive_spark import authorization as az
from amplab_hive_spark.engine import Engine
from amplab_hive_spark.operators import acid_lifecycle
from amplab_hive_spark.session import local_rows
from amplab_hive_spark.streaming import upsert_lifecycle

_TAKE = 10001  # the JSON service's default page plus its look-ahead row


def _jobs_of(spark, fn):
    """``fn()`` and the ids of the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"local-results-{uuid.uuid4().hex[:8]}"
    sc._jsc.setJobGroup(group, "local results", False)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _assert_local(spark, df, schema, rows=None):
    """``df`` has ``schema`` (names, types, nullability), is a
    LocalTableScan, takes with zero jobs and, if given, holds ``rows``."""
    want = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    assert df.schema == want
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
    got, jobs = _jobs_of(spark, lambda: df.take(_TAKE))
    assert jobs == []
    if rows is not None:
        assert [tuple(r) for r in got] == rows
    return [tuple(r) for r in got]


_RICH = (
    "i int, b bigint, d double, f boolean, s string, dt date, "
    "ts timestamp, m decimal(10,2)"
)
_RICH_ROWS = [
    (1, 2**40, 1.5, True, "x", datetime.date(2020, 1, 2),
     datetime.datetime(2020, 1, 2, 3, 4, 5, 6), Decimal("12.34")),
    (None, None, None, None, None, None, None, None),
]


@pytest.mark.parametrize("rows, schema", [
    (_RICH_ROWS, _RICH),
    ([], _RICH),
    ([("p1_upsert", "F", 3, 1.25), ("p2", None, 0, None)],
     upsert_lifecycle._SUMMARY_SCHEMA),
    ([("pre_compact", "R", 7, 100.5)], acid_lifecycle._SUMMARY_SCHEMA),
])
def test_local_rows_matches_create_dataframe(spark, rows, schema):
    """Same schema and values as ``createDataFrame(list, schema)`` —
    dates, timestamps, decimals and NULL cells included — without the
    RDD scan or its jobs."""
    old = spark.createDataFrame(rows, schema)
    new = local_rows(spark, rows, schema)
    assert "ExistingRDD" in old._jdf.queryExecution().executedPlan().toString()
    _assert_local(spark, new, old.schema, [tuple(r) for r in old.collect()])


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    loc = tmp_path_factory.mktemp("local_results")
    store = az._store_path(spark)
    if os.path.exists(store):
        os.remove(store)
    spark.sql("DROP TABLE IF EXISTS lr_mor")
    spark.sql("DROP TABLE IF EXISTS lr_cow")
    spark.sql("DROP TABLE IF EXISTS lr_part")
    spark.sql(
        f"CREATE TABLE lr_mor (k INT, c STRING, q INT) USING parquet "
        f"LOCATION '{loc}/lr_mor' "
        f"TBLPROPERTIES ('transactional'='true', 'merge_keys'='k')"
    )
    spark.sql("INSERT INTO lr_mor VALUES (1,'a',10), (2,'b',20), (3,'c',30), (4,'d',40)")
    spark.sql(f"CREATE TABLE lr_cow (k INT, c STRING) USING parquet LOCATION '{loc}/lr_cow'")
    spark.sql("INSERT INTO lr_cow VALUES (1,'a'), (2,'b')")
    spark.sql(
        f"CREATE TABLE lr_part (k INT, p INT) USING parquet PARTITIONED BY (p) "
        f"LOCATION '{loc}/lr_part'"
    )
    spark.sql("INSERT INTO lr_part VALUES (1, 10), (2, 20)")
    yield Engine(spark), str(loc)
    for t in ("lr_mor", "lr_cow", "lr_part"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    if os.path.exists(store):
        os.remove(store)


_EMPTY_OK = StructType([StructField("result", StringType(), False)])
_LOCKS = (
    "lockid bigint, database string, table string, partition string, "
    "state string, blocked_by string, type string, txnid bigint, "
    "last_heartbeat bigint, acquired_at bigint, user string, "
    "hostname string, agent_info string"
)


@pytest.mark.parametrize("sql, schema, rows", [
    ("SET hivevar:lr_x=5", "key string, value string", [("hivevar:lr_x", "5")]),
    ("SET hivevar:lr_undefined", "key string, value string",
     [("hivevar:lr_undefined", "<undefined>")]),
    ("SHOW TRANSACTIONS", "txnid bigint, state string, user string, hostname string", []),
    ("SHOW LOCKS", _LOCKS, []),
    ("SHOW LOCKS lr_cow", _LOCKS, []),
    ("CREATE TEMPORARY MACRO lr_twice(x INT) x * 2", StructType(), []),
    ("CREATE ROLE lr_role", _EMPTY_OK, []),
    ("SHOW ROLES", "role string", [("admin",), ("lr_role",), ("public",)]),
    ("GRANT lr_role TO USER lr_user", _EMPTY_OK, []),
    ("SHOW ROLE GRANT USER lr_user",
     "role string, grant_option boolean, grant_time bigint, grantor string", None),
    ("SHOW PRINCIPALS lr_role",
     "principal_name string, principal_type string, grant_option boolean, "
     "grantor string, grantor_type string, grant_time bigint", None),
    ("GRANT SELECT ON TABLE lr_cow TO ROLE lr_role", _EMPTY_OK, []),
    ("SHOW GRANT ROLE lr_role ON TABLE lr_cow", az._GRANT_SCHEMA, None),
])
def test_shim_answer_is_local(spark, eng, sql, schema, rows):
    engine, _ = eng
    _assert_local(spark, engine.sql(sql), schema, rows)


def test_cursor_collects_a_local_answer(spark, eng):
    """Both server fronts page through statement.Cursor: a local answer
    is collected on the driver, not served by toLocalIterator's job."""
    from amplab_hive_spark.statement import Cursor

    engine, _ = eng
    df = engine.sql("SET hivevar:lr_cursor=1")
    page, jobs = _jobs_of(spark, lambda: Cursor(df).page(10))
    assert jobs == []
    assert [tuple(r) for r in page[0]] == [("hivevar:lr_cursor", "1")] and not page[1]


def test_role_listings_keep_their_values(spark, eng):
    """The time-stamped role rows: every column but grant_time pinned."""
    engine, _ = eng
    (grant,) = [r for r in engine.sql("SHOW ROLE GRANT USER lr_user").collect()
                if r.role == "lr_role"]
    assert (grant.role, grant.grant_option, grant.grantor) == ("lr_role", False, az.current_user(spark))
    (p,) = engine.sql("SHOW PRINCIPALS lr_role").collect()
    assert (p.principal_name, p.principal_type, p.grant_option) == ("lr_user", "USER", False)
    (g,) = engine.sql("SHOW GRANT ROLE lr_role ON TABLE lr_cow").collect()
    assert (g.database, g.table, g.partition, g.principal_name, g.privilege) == (
        "default", "lr_cow", None, "lr_role", "SELECT")


def test_set_dump_keeps_spark_schema_and_appends_variables(spark, eng):
    engine, _ = eng
    engine.sql("SET hivevar:lr_dump=1")
    got = _assert_local(spark, engine.sql("SET"), spark.sql("SET").schema)
    assert ("hivevar:lr_dump", "1") in got
    assert got.index(("hivevar:lr_dump", "1")) > got.index(
        ("spark.sql.session.timeZone", "UTC"))


def test_dfs_output_is_local(spark, eng):
    engine, loc = eng
    d = os.path.join(loc, "lr_dfs")
    _assert_local(spark, engine.sql(f"dfs -mkdir -p {d}/x"), "`DFS Output` string", [])
    (line,) = _assert_local(spark, engine.sql(f"dfs -ls {d}"), "`DFS Output` string")[1:]
    assert line[0].endswith(f"{d}/x")


def test_partition_metadata_is_local(spark, eng):
    from amplab_hive_spark.ddl import _partition_membership, partition_values

    _assert_local(spark, partition_values(spark, "lr_part"), "p int", [(10,), (20,)])
    parts = [(v,) for v in range(10, 1000, 10)]  # past the OR-tree limit
    scoped = _partition_membership(spark.table("lr_part"), ["p"], parts)
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan
    assert sorted(tuple(r) for r in scoped.collect()) == [(1, 10), (2, 20)]


def _read(engine, table):
    return sorted(tuple(r) for r in engine.sql(f"SELECT * FROM {table}").collect())


def test_mor_lifecycle_smoke(spark, eng):
    """UPDATE, DELETE and both compactions through Engine.sql on a
    merge-on-read table, each answer local and each state read back."""
    engine, _ = eng
    count = "{} bigint"
    _assert_local(spark, engine.sql("UPDATE lr_mor SET q = q * 1.1 WHERE k <= 2"),
                  count.format("updated"), [(2,)])
    assert _read(engine, "lr_mor") == [(1, "a", 11), (2, "b", 22), (3, "c", 30), (4, "d", 40)]
    _assert_local(spark, engine.sql("DELETE FROM lr_mor WHERE k = 3"),
                  count.format("deleted"), [(1,)])
    after_dml = [(1, "a", 11), (2, "b", 22), (4, "d", 40)]
    assert _read(engine, "lr_mor") == after_dml
    listing = _assert_local(
        spark, engine.sql("SHOW COMPACTIONS"),
        "database string, table string, partition string, type string, "
        "state string, delta_txns int, delta_files int, delta_bytes bigint")
    (row,) = [r for r in listing if r[1] == "lr_mor"]
    # partition is a NULL cell: equality deltas are table-scoped
    assert row[:3] == ("default", "lr_mor", None) and row[4:7] == ("initiated", 2, 3)
    minor = _assert_local(spark, engine.sql("ALTER TABLE lr_mor COMPACT 'minor'"),
                          count.format("compacted_deltas"))
    assert minor[0][0] > 0
    assert _read(engine, "lr_mor") == after_dml
    _assert_local(spark, engine.sql("ALTER TABLE lr_mor COMPACT 'major'"),
                  count.format("compacted_deltas"))
    assert _read(engine, "lr_mor") == after_dml


def test_delete_keys_mor_masks_once(spark, eng):
    """The CDC tombstone path: a key frame masks whole key groups, and
    re-delivering the same keys masks nothing and writes no delta."""
    engine, loc = eng
    spark.sql("DROP TABLE IF EXISTS lr_mor_keys")
    spark.sql(
        f"CREATE TABLE lr_mor_keys (k INT, c STRING) USING parquet "
        f"LOCATION '{loc}/lr_mor_keys' "
        f"TBLPROPERTIES ('transactional'='true', 'merge_keys'='k')"
    )
    try:
        spark.sql("INSERT INTO lr_mor_keys VALUES (1,'a'), (2,'b'), (2,'bb'), (3,'c')")
        keys = spark.createDataFrame([(2,), (3,), (3,), (9,)], "k int")
        delta_dir = acid._delta_path(spark, "lr_mor_keys")

        def deltas():
            return sorted(os.listdir(delta_dir)) if os.path.isdir(delta_dir) else []

        assert acid.delete_keys_mor(spark, "lr_mor_keys", keys, ["k"]) == 3
        written = deltas()
        assert written
        assert _read(engine, "lr_mor_keys") == [(1, "a")]
        assert acid.delete_keys_mor(spark, "lr_mor_keys", keys, ["k"]) == 0
        assert deltas() == written
        assert _read(engine, "lr_mor_keys") == [(1, "a")]
    finally:
        spark.sql("DROP TABLE IF EXISTS lr_mor_keys")


_COW_MERGES = [
    # (target columns, target rows, source (schema, rows), WHEN clauses,
    #  answer row, rows read back)
    ("k INT, c STRING", "(1,'a'), (2,'b')", ("k int, c string", [(2, "B"), (9, "z")]),
     "WHEN MATCHED THEN UPDATE SET c = s.c "
     "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.c)",
     (1, 0, 1), [(1, "a"), (2, "B"), (9, "z")]),
    # a widening assignment keeps the INT column INT and writes what
    # UPDATE ... SET c = c * 1.15 writes: CAST(11.5 AS INT) = 11
    ("k INT, c INT", "(1, 10), (2, 20)", ("k int", [(1,)]),
     "WHEN MATCHED THEN UPDATE SET c = c * 1.15",
     (1, 0, 0), [(1, 11), (2, 20)]),
]


def test_cow_merge_answer_is_local(spark, eng):
    engine, loc = eng
    for columns, values, (schema, rows), clauses, answer, want in _COW_MERGES:
        spark.sql("DROP TABLE IF EXISTS lr_cow_merge")
        spark.sql(f"CREATE TABLE lr_cow_merge ({columns}) USING parquet "
                  f"LOCATION '{loc}/lr_cow_merge_{uuid.uuid4().hex[:8]}'")
        spark.sql(f"INSERT INTO lr_cow_merge VALUES {values}")
        spark.createDataFrame(rows, schema).createOrReplaceTempView("lr_src")
        try:
            _assert_local(
                spark,
                engine.sql(f"MERGE INTO lr_cow_merge t USING lr_src s "
                           f"ON t.k = s.k {clauses}"),
                "updated bigint, deleted bigint, inserted bigint", [answer],
            )
            assert _read(engine, "lr_cow_merge") == want
        finally:
            spark.catalog.dropTempView("lr_src")
            spark.sql("DROP TABLE IF EXISTS lr_cow_merge")


_SHIM_MODULES = (
    "variables.py", "dml_text.py", "acid.py", "authorization.py", "dfs.py",
    "ddl.py", "engine.py", "operators/acid_lifecycle.py",
    "streaming/upsert_lifecycle.py",
)


def test_no_rdd_backed_result_in_shim_modules():
    """A shim answer built with ``createDataFrame(`` (or an empty
    ``range``) would bring back a per-statement Spark job; build it
    with ``session.local_rows`` instead."""
    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), "amplab_hive_spark")
    offenders = []
    for rel in _SHIM_MODULES:
        with open(os.path.join(root, rel)) as fh:
            for n, line in enumerate(fh, 1):
                if re.search(r"createDataFrame\(|\.range\(0\)", line):
                    offenders.append(f"{rel}:{n}: {line.strip()}")
    assert offenders == []
