"""The statement rules both server fronts share (statement.py): one
per-connection session, one job group per execution, one result
cursor. The session and cancel cases run on the JSON service
(service.py) and the TCLIService front (tcli.py) alike, so a rule
that holds on one front and not the other fails here. A connection's
testdata attach runs no Spark job once the root has attached the same
files. The rowset tests pin the TCLI front's result-page bytes. The
last test pins the UPDATE projection both write paths share: the
assigned value keeps its column's type.

The cancel tests use a wide result whose partitions are slow to
compute: one row per partition, each row sleeping in the JVM
(``java_method('java.lang.Thread', 'sleep', ...)``), so pulling a
page runs one short Spark job per row and a page of 60 rows takes
many seconds unless it is cancelled."""

import os
import socket
import threading
import time
import uuid
from decimal import Decimal

from pyspark.sql.types import IntegerType, TimestampNTZType, TimestampType

from amplab_hive_spark.service import SqlClient, SqlService
from amplab_hive_spark.tcli import (
    T_I32,
    T_I64,
    T_STRUCT,
    TCLIFront,
    _Reader,
    _Writer,
)
from tests.test_tcli_front import _Client, _handle_fields, _op_fields

_SLOW_WIDE = (
    "SELECT id, java_method('java.lang.Thread', 'sleep', "
    "CAST(400 AS BIGINT)) AS z FROM range(0, 64, 1, 64)"
)
# a 60-row page of _SLOW_WIDE takes >= 12 s uncancelled (0.4 s per
# row-partition, at most two partition jobs in flight); a cancelled one
# returns within a few seconds
_CANCELLED_WITHIN_S = 8.0


def _fetch_rows(c, op, n):
    return c.call("FetchResults", [
        (1, T_STRUCT, _op_fields(op)), (2, T_I32, 0), (3, T_I64, n),
    ])


def test_json_service_enforces_like_tcli(spark):
    """The enforcement flag set on the root session reaches every
    connection of both fronts: an unprivileged SELECT on a table with
    no grants is denied over SqlClient exactly as over TCLI."""
    from amplab_hive_spark import authorization as az

    spark.sql("DROP TABLE IF EXISTS stmt_guarded")
    spark.range(3).write.saveAsTable("stmt_guarded")
    spark.conf.set("spark.sql.authz.enabled", "true")
    try:
        with SqlService(spark) as svc, SqlClient("127.0.0.1", svc.port) as c:
            r = c.sql("SELECT * FROM stmt_guarded")
            assert not r["ok"], r
            assert "Permission denied" in r["error"]
        with TCLIFront(spark) as front:
            c = _Client(front.port)
            try:
                sess = c.open_session(user="stmt_nobody")
                resp = c.execute(sess, "SELECT * FROM stmt_guarded")
                assert resp[1][1] == 3  # TStatus ERROR
                assert b"Permission denied" in resp[1][5]
            finally:
                c.close()
    finally:
        spark.conf.unset("spark.sql.authz.enabled")
        spark.sql("DROP TABLE IF EXISTS stmt_guarded")
        p = az._store_path(spark)
        if os.path.exists(p):
            os.remove(p)


def test_connection_attach_runs_no_job(spark, sf_dir):
    """Once the root session has attached ``sf_dir``, a connection's
    ``open_session`` attaches it with zero Spark jobs: every file's
    schema comes from the catalog's schema registry instead of one
    inference job per table. Each view has the root's schema (events.ts
    still a timestamp, not the raw long) and row count."""
    from amplab_hive_spark.catalog import TABLES, load_tables
    from amplab_hive_spark.statement import open_session

    root = load_tables(spark, sf_dir)
    sc = spark.sparkContext
    group = f"stmt-attach-{uuid.uuid4().hex[:8]}"
    sc._jsc.setJobGroup(group, "connection attach", False)
    try:
        eng = open_session(spark, sf_dir=sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert eng.spark is not spark
    assert eng.spark.table("events").schema["ts"].dataType in (
        TimestampType(), TimestampNTZType())
    for name in TABLES:
        assert eng.spark.table(name).schema == root[name].schema, name
        count = eng.sql(f"SELECT count(*) FROM {name}").first()[0]
        assert count == root[name].count(), name


def _job_statuses(spark, group):
    tracker = spark.sparkContext.statusTracker()
    return [tracker.getJobInfo(j).status for j in tracker.getJobIdsForGroup(group)]


def test_service_cancel_during_fetch_aborts_the_page(spark):
    """``{"cancel": id}`` sent while a fetch pulls a page aborts that
    page's Spark job: the page's jobs run in the statement's group, and
    the fetch registers that group under the statement id. The
    connection then still serves statements."""
    with SqlService(spark) as svc:
        with SqlClient("127.0.0.1", svc.port, timeout=120) as c1, \
                SqlClient("127.0.0.1", svc.port) as c2:
            r = c1.sql(_SLOW_WIDE, stmt_id="wide", n=2)
            assert r["ok"] and r["has_more"], r
            out: dict = {}
            t = threading.Thread(
                target=lambda: out.update(resp=c1.fetch(r["handle"], n=60)))
            t0 = time.monotonic()
            t.start()
            cancelled = None
            while time.monotonic() - t0 < 30:
                # the group the fetch registered for the statement id
                group = svc._running.get("wide")
                if group is not None:
                    cancelled = c2.cancel("wide")
                    if cancelled["was_running"]:
                        break
                time.sleep(0.1)
            assert cancelled and cancelled["was_running"], "fetch never observed"
            t.join(timeout=60)
            assert not t.is_alive(), "cancel did not interrupt the fetch"
            assert time.monotonic() - t0 < _CANCELLED_WITHIN_S
            assert not out["resp"]["ok"], out["resp"]
            statuses = _job_statuses(spark, group)
            assert "FAILED" in statuses and "RUNNING" not in statuses, statuses
            # the cancelled cursor is gone, the connection is not
            dead = c1.fetch(r["handle"])
            assert not dead["ok"] and dead["error_class"] == "KeyError"
            again = c1.sql("SELECT 42 AS v")
            assert again["ok"] and again["rows"] == [[42]]


def test_tcli_cancel_during_later_fetch_aborts_the_page(spark):
    """CancelOperation from a second connection, sent while a later
    FetchResults pulls a page, aborts that page's Spark job; the
    session then still serves statements."""
    with TCLIFront(spark) as front:
        c1, c2 = _Client(front.port), _Client(front.port)
        c1.sock.settimeout(120)
        try:
            sess = c1.open_session()
            op = c1.execute(sess, _SLOW_WIDE)[2]
            first = _fetch_rows(c1, op, 2)  # opens the cursor
            assert first[1][1] == 0 and first[2] is True
            out: dict = {}
            t = threading.Thread(
                target=lambda: out.update(resp=_fetch_rows(c1, op, 60)))
            t0 = time.monotonic()
            t.start()
            time.sleep(1.5)
            assert c2.call("CancelOperation",
                           [(1, T_STRUCT, _op_fields(op))])[1][1] == 0
            t.join(timeout=60)
            assert not t.is_alive(), "cancel did not interrupt the fetch"
            assert time.monotonic() - t0 < _CANCELLED_WITHIN_S
            assert out["resp"][1][1] != 0  # the page failed as cancelled
            again = c1.execute(sess, "SELECT 42 AS v")
            assert again[1][1] == 0
            assert _fetch_rows(c1, again[2], 10)[3][3][0][4][1] == [42]
        finally:
            c1.close()
            c2.close()


def test_tcli_fetch_reports_has_more_exactly(spark):
    """has_more comes from the cursor's look-ahead row, not from
    ``len(batch) == n``: a result of exactly n rows ends in one fetch."""
    with TCLIFront(spark) as front:
        c = _Client(front.port)
        try:
            sess = c.open_session()
            op = c.execute(sess, "SELECT id FROM range(10)")[2]
            fr = _fetch_rows(c, op, 10)
            assert fr[3][3][0][5][1] == list(range(10))
            assert fr[2] is False
            assert c.call("CloseSession",
                          [(1, T_STRUCT, _handle_fields(sess))])[1][1] == 0
        finally:
            c.close()


# one TCLI result page covering every wire kind (bool, byte, i16, i32,
# i64, double, string, and a decimal rendered as a string), a NULL row,
# a non-ASCII string and an empty string
_ROWSET_COLUMNS = [
    ("b", "boolean"), ("t", "tinyint"), ("s", "smallint"), ("i", "int"),
    ("l", "bigint"), ("f", "float"), ("d", "double"), ("s2", "string"),
    ("m", "decimal(10,2)"),
]
_ROWSET_ROWS = [
    (True, -1, 300, -70000, 2 ** 40, 1.5, -2.25, "h\u00e9llo \u2713",
     Decimal("1.50")),
    (None,) * 9,
    (False, 127, -32768, 2 ** 31 - 1, -2 ** 63, 0.0, 1e300, "",
     Decimal("-0.01")),
]
_ROWSET_HEX = (
    "0a000100000000000000000f00020c000000000f00030c000000090c00010f00"
    "0102000000030100000b0002000000010200000c00020f00010300000003ff00"
    "7f0b0002000000010200000c00030f00010600000003012c000080000b000200"
    "0000010200000c00040f00010800000003fffeee90000000007fffffff0b0002"
    "000000010200000c00050f00010a000000030000010000000000000000000000"
    "000080000000000000000b0002000000010200000c00060f000104000000033f"
    "f8000000000000000000000000000000000000000000000b0002000000010200"
    "000c00060f00010400000003c00200000000000000000000000000007e37e43c"
    "8800759c0b0002000000010200000c00070f00010b000000030000000a68c3a9"
    "6c6c6f20e29c9300000000000000000b0002000000010200000c00070f00010b"
    "0000000300000004312e353000000000000000052d302e30310b000200000001"
    "02000000"
)
# the same columns with no rows: every column list is empty
_EMPTY_ROWSET_HEX = (
    "0a000100000000000000000f00020c000000000f00030c000000090c00010f00"
    "0102000000000b0002000000010000000c00020f000103000000000b00020000"
    "00010000000c00030f000106000000000b0002000000010000000c00040f0001"
    "08000000000b0002000000010000000c00050f00010a000000000b0002000000"
    "010000000c00060f000104000000000b0002000000010000000c00060f000104"
    "000000000b0002000000010000000c00070f00010b000000000b000200000001"
    "0000000c00070f00010b000000000b00020000000100000000"
)


def _encode(fields) -> bytes:
    w = _Writer()
    w.fields(fields)
    return w.bytes()


def test_tcli_rowset_wire_bytes_are_pinned():
    """The TRowSet bytes a FetchResults page carries, byte for byte:
    column lists, null bitmaps, the NULL row's defaults, UTF-8 string
    lengths, and empty lists."""
    assert _encode(TCLIFront._rowset(_ROWSET_COLUMNS, _ROWSET_ROWS)).hex() \
        == _ROWSET_HEX
    assert _encode(TCLIFront._rowset(_ROWSET_COLUMNS, [])).hex() \
        == _EMPTY_ROWSET_HEX


def test_tcli_rowset_round_trips_through_the_reader():
    """What ``_Writer`` encodes, ``_Reader`` decodes back to the same
    column values and null bitmaps over a real socket."""
    a, b = socket.socketpair()
    try:
        a.sendall(_encode(TCLIFront._rowset(_ROWSET_COLUMNS, _ROWSET_ROWS)))
        got = _Reader(b).struct()
    finally:
        a.close()
        b.close()
    assert got[1] == 0 and got[2] == []
    columns = [next(iter(col.values())) for col in got[3]]
    values = [col[1] for col in columns]
    assert [col[2] for col in columns] == [bytes([0b010])] * 9
    assert values[:7] == [
        [True, False, False], [-1, 0, 127], [300, 0, -32768],
        [-70000, 0, 2 ** 31 - 1], [2 ** 40, 0, -2 ** 63],
        [1.5, 0.0, 0.0], [-2.25, 0.0, 1e300],
    ]
    assert values[7] == ["h\u00e9llo \u2713".encode(), b"", b""]
    assert values[8] == [b"1.50", b"", b"-0.01"]


def test_update_widening_expression_keeps_column_type(spark, tmp_path):
    """``UPDATE t SET c = c * 1.1`` on an INT column writes the value
    cast back to INT (Hive UPDATE keeps the column type): the merged
    read right after the UPDATE, after MINOR and after MAJOR compaction
    all return it, and the copy-on-write path agrees."""
    from amplab_hive_spark import acid
    from amplab_hive_spark.engine import Engine

    eng = Engine(spark)
    want = [(1, 16), (2, 20)]  # 15 * 1.1 = 16.5, truncated like CAST
    mor, cow = "stmt_widen_mor", "stmt_widen_cow"
    for name, props in ((mor, "TBLPROPERTIES ('transactional'='true', "
                              "'merge_keys'='k')"), (cow, "")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"CREATE TABLE {name} (k INT, c INT) USING parquet "
                  f"LOCATION '{tmp_path}/{name}' {props}")
        spark.sql(f"INSERT INTO {name} VALUES (1, 15), (2, 20)")

    def read(name):
        df = eng.sql(f"SELECT k, c FROM {name} ORDER BY k")
        assert df.schema["c"].dataType == IntegerType()
        return [tuple(r) for r in df.collect()]

    try:
        assert eng.sql(f"UPDATE {mor} SET c = c * 1.1 WHERE k = 1") \
            .first()[0] == 1
        assert read(mor) == want
        eng.sql(f"ALTER TABLE {mor} COMPACT 'minor'")
        assert read(mor) == want
        eng.sql(f"ALTER TABLE {mor} COMPACT 'major'")
        assert read(mor) == want
        eng.sql(f"UPDATE {cow} SET c = c * 1.1 WHERE k = 1")
        assert read(cow) == want
    finally:
        acid.compact_mor(spark, mor, mode="major")
        acid.unpin_mor_keys(spark, mor)
        for name in (mor, cow):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
