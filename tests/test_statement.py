"""The statement rules both server fronts share (statement.py): one
per-connection session, one job group per execution, one result
cursor. The session and cancel cases run on the JSON service
(service.py) and the TCLIService front (tcli.py) alike, so a rule
that holds on one front and not the other fails here. The last test
pins the UPDATE projection both write paths share: the assigned value
keeps its column's type.

The cancel tests use a wide result whose partitions are slow to
compute: one row per partition, each row sleeping in the JVM
(``java_method('java.lang.Thread', 'sleep', ...)``), so pulling a
page runs one short Spark job per row and a page of 60 rows takes
many seconds unless it is cancelled."""

import os
import threading
import time

from pyspark.sql.types import IntegerType

from amplab_hive_spark.service import SqlClient, SqlService
from amplab_hive_spark.tcli import T_I32, T_I64, T_STRUCT, TCLIFront
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
