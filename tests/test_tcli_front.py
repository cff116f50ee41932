"""Python TCLIService front (tcli.py, round 12 — VERDICT r11 task 2):
HiveServer2's wire protocol with ExecuteStatement routed through
Engine.sql, so JDBC clients get the engine's FULL dialect (macros,
MOR UPDATE/DELETE/MERGE, authorization DDL) AND the enforcement gate
— the reference privilege-checks its JDBC path in SQLOperation.java;
after round 12 so do we. Unit tests drive the wire format with the
module's own codec (both directions exercised against a real socket);
the interop tests run the stock beeline binary bundled with pyspark —
genuine Hive JDBC TCLIService traffic against the python server."""

import socket

import pytest

from amplab_hive_spark import tcli
from amplab_hive_spark.tcli import (
    MSG_CALL,
    T_BOOL,
    T_I32,
    T_I64,
    T_STRING,
    T_STRUCT,
    TCLIFront,
    _Reader,
    _Writer,
)


class _Client:
    """Minimal TCLIService client over the module's own codec."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), 10)
        self.reader = _Reader(self.sock)
        self.seq = 0

    def call(self, name: str, fields: list) -> dict:
        self.seq += 1
        w = _Writer()
        w.message_begin(name, MSG_CALL, self.seq)
        w.fields([(1, T_STRUCT, fields)])
        self.sock.sendall(w.bytes())
        rname, mtype, rseq = self.reader.message_begin()
        assert rname == name and rseq == self.seq
        result = self.reader.struct()
        return result[0]  # field 0 = method success struct

    def open_session(self, user: str = "tester") -> dict:
        resp = self.call("OpenSession", [(1, T_I32, 9), (2, T_STRING, user)])
        assert resp[1][1] == 0, resp  # TStatus SUCCESS
        return resp[3]  # session handle struct

    def execute(self, handle: dict, sql: str) -> dict:
        return self.call("ExecuteStatement", [
            (1, T_STRUCT, _handle_fields(handle)),
            (2, T_STRING, sql),
        ])

    def close(self) -> None:
        self.sock.close()


def _handle_fields(handle_struct: dict) -> list:
    ident = handle_struct[1]
    return [(1, T_STRUCT, [(1, T_STRING, ident[1]), (2, T_STRING, ident[2])])]


def _op_fields(op_struct: dict) -> list:
    ident = op_struct[1]
    return [
        (1, T_STRUCT, [(1, T_STRING, ident[1]), (2, T_STRING, ident[2])]),
        (2, T_I32, op_struct.get(2, 0)),
        (3, T_BOOL, op_struct.get(3, True)),
    ]


@pytest.fixture()
def front(spark):
    f = TCLIFront(spark)
    f.start()
    yield f
    f.stop()


def test_select_roundtrip_types_and_nulls(spark, front):
    c = _Client(front.port)
    try:
        sess = c.open_session()
        resp = c.execute(sess, """
            SELECT 1 AS i, CAST(2 AS BIGINT) AS l, CAST(1.5 AS DOUBLE) AS d,
                   'txt' AS s, true AS b, CAST(NULL AS STRING) AS n,
                   CAST(3.14 AS DECIMAL(4,2)) AS dec,
                   DATE '2024-01-02' AS dt
        """)
        assert resp[1][1] == 0
        op = resp[2]
        # metadata: names + TTypeIds (decimal carries precision/scale)
        md = c.call("GetResultSetMetadata", [(1, T_STRUCT, _op_fields(op))])
        cols = md[2][1]
        names = [cd[1].decode() for cd in cols]
        assert names == ["i", "l", "d", "s", "b", "n", "dec", "dt"]
        type_ids = [cd[2][1][0][1][1] for cd in cols]
        assert type_ids == [3, 4, 6, 7, 0, 7, 15, 17]  # INT..DATE
        # fetch: columns-form rowset
        fr = c.call("FetchResults", [
            (1, T_STRUCT, _op_fields(op)), (2, T_I32, 0), (3, T_I64, 100),
        ])
        assert fr[1][1] == 0
        rowset = fr[3]
        colvals = rowset[3]
        assert colvals[0][4][1] == [1]          # i32 column
        assert colvals[1][5][1] == [2]          # i64 column
        assert colvals[2][6][1] == [1.5]        # double
        assert colvals[3][7][1] == [b"txt"]
        assert colvals[4][1][1] == [True]
        # the NULL string column: null bit set for row 0
        assert colvals[5][7][2][0] & 1
        assert colvals[6][7][1] == [b"3.14"]    # decimal as string
        assert colvals[7][7][1] == [b"2024-01-02"]  # date as string
        assert fr[2] is False  # no more rows
    finally:
        c.close()


def test_engine_dialect_over_the_wire(spark, front, tmp_path):
    """The point of the front: engine statements Spark SQL alone cannot
    run (macros, MOR UPDATE) work over TCLIService because they go
    through Engine.sql."""
    from amplab_hive_spark import acid

    name = "tcli_mor_t"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (k INT, v INT) USING parquet "
        f"LOCATION '{tmp_path}/tcli_mor_t' "
        f"TBLPROPERTIES ('transactional'='true', 'merge_keys'='k')"
    )
    spark.sql(f"INSERT INTO {name} VALUES (1, 10), (2, 20)")
    c = _Client(front.port)
    try:
        sess = c.open_session()
        # a macro created on THIS session is usable in a later statement
        assert c.execute(
            sess, "CREATE TEMPORARY MACRO twice(x INT) x * 2"
        )[1][1] == 0
        resp = c.execute(sess, "SELECT twice(21) AS a")
        fr = c.call("FetchResults", [
            (1, T_STRUCT, _op_fields(resp[2])), (2, T_I32, 0), (3, T_I64, 10),
        ])
        assert fr[3][3][0][4][1] == [42]
        # MOR UPDATE statement form (dml_text), not Spark SQL
        assert c.execute(sess, f"UPDATE {name} SET v = v + 5 WHERE k = 1")[1][1] == 0
        resp = c.execute(sess, f"SELECT v FROM {name} WHERE k = 1")
        fr = c.call("FetchResults", [
            (1, T_STRUCT, _op_fields(resp[2])), (2, T_I32, 0), (3, T_I64, 10),
        ])
        assert fr[3][3][0][4][1] == [15]
    finally:
        c.close()
        acid.compact_mor(spark, name)
        acid.unpin_mor_keys(spark, name)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_enforcement_applies_per_connection(spark, front):
    """The front ENFORCES: the OpenSession username is the principal,
    statements pass Engine.sql's gate."""
    from amplab_hive_spark import authorization as az
    from amplab_hive_spark.engine import Engine

    spark.sql("DROP TABLE IF EXISTS tcli_guarded")
    spark.range(3).write.saveAsTable("tcli_guarded")
    eng = Engine(spark)
    spark.conf.set("spark.sql.authz.enabled", "true")
    try:
        c = _Client(front.port)
        sess = c.open_session(user="tcli_alice")
        resp = c.execute(sess, "SELECT * FROM tcli_guarded")
        assert resp[1][1] == 3  # TStatus ERROR
        assert b"Permission denied" in resp[1][5]
        c.close()
        # grant (enforcement off for the bootstrap), retry
        spark.conf.set("spark.sql.authz.enabled", "false")
        eng.sql("GRANT SELECT ON tcli_guarded TO USER tcli_alice")
        spark.conf.set("spark.sql.authz.enabled", "true")
        c = _Client(front.port)
        sess = c.open_session(user="tcli_alice")
        resp = c.execute(sess, "SELECT count(*) AS n FROM tcli_guarded")
        assert resp[1][1] == 0
        fr = c.call("FetchResults", [
            (1, T_STRUCT, _op_fields(resp[2])), (2, T_I32, 0), (3, T_I64, 10),
        ])
        assert fr[3][3][0][5][1] == [3]
        c.close()
    finally:
        spark.conf.unset("spark.sql.authz.enabled")
        import os

        spark.sql("DROP TABLE IF EXISTS tcli_guarded")
        p = az._store_path(spark)
        if os.path.exists(p):
            os.remove(p)


def test_fetch_paging_and_session_close(spark, front):
    c = _Client(front.port)
    try:
        sess = c.open_session()
        resp = c.execute(sess, "SELECT id FROM range(25) ORDER BY id")
        op = resp[2]
        got, pages = [], 0
        while True:
            fr = c.call("FetchResults", [
                (1, T_STRUCT, _op_fields(op)), (2, T_I32, 0), (3, T_I64, 10),
            ])
            vals = fr[3][3][0][5][1]
            got.extend(vals)
            pages += 1
            if not fr[2]:
                break
        assert got == list(range(25))
        assert pages >= 3
        assert c.call("CloseOperation", [(1, T_STRUCT, _op_fields(op))])[1][1] == 0
        assert c.call("CloseSession", [(1, T_STRUCT, _handle_fields(sess))])[1][1] == 0
        # the handle is dead now
        resp = c.execute(sess, "SELECT 1")
        assert resp[1][1] == 3
    finally:
        c.close()


def test_sf_dir_attaches_testdata_per_connection(spark, sf_dir):
    """``cli --serve-tcli --sf-dir`` relies on this: every connection's
    session re-attaches the testdata temp views, so a plain region
    query answers all 5 rows, paged over several FetchResults calls."""
    c = None
    with TCLIFront(spark, sf_dir=sf_dir) as front:
        c = _Client(front.port)
        try:
            sess = c.open_session()
            resp = c.execute(
                sess,
                "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
            )
            assert resp[1][1] == 0, resp
            keys, names, pages = [], [], 0
            while True:
                fr = c.call("FetchResults", [
                    (1, T_STRUCT, _op_fields(resp[2])), (2, T_I32, 0),
                    (3, T_I64, 2),
                ])
                key_col, name_col = fr[3][3]
                keys.extend(next(iter(key_col.values()))[1])
                names.extend(name_col[7][1])
                pages += 1
                if not fr[2]:
                    break
        finally:
            c.close()
    assert keys == [0, 1, 2, 3, 4]
    assert names == [b"AFRICA", b"AMERICA", b"ASIA", b"EUROPE",
                     b"MIDDLE EAST"]
    assert pages >= 3


def test_start_on_a_held_port_raises_and_never_serves(spark):
    """A port a live listener holds is refused with OSError: the front
    neither binds behind the listener nor reports a port, and a client
    connecting there still reaches the original listener."""
    held = socket.socket()
    held.bind(("127.0.0.1", 0))
    held.listen(1)
    port = held.getsockname()[1]
    front = TCLIFront(spark, port=port)
    try:
        with pytest.raises(OSError):
            front.start()
        assert front.port is None and front._server is None
        probe = socket.create_connection(("127.0.0.1", port), 5)
        held.settimeout(5)
        conn, _ = held.accept()  # the original listener got it
        conn.close()
        probe.close()
    finally:
        front.stop()
        held.close()


def test_statement_error_surfaces(spark, front):
    c = _Client(front.port)
    try:
        sess = c.open_session()
        resp = c.execute(sess, "SELECT * FROM definitely_not_a_table_xyz")
        assert resp[1][1] == 3
        assert b"definitely_not_a_table_xyz" in resp[1][5]
        # the error is in band: the session serves the next statement
        resp = c.execute(sess, "SELECT 41 + 1 AS answer")
        assert resp[1][1] == 0
        fr = c.call("FetchResults", [
            (1, T_STRUCT, _op_fields(resp[2])), (2, T_I32, 0), (3, T_I64, 10),
        ])
        assert fr[3][3][0][4][1] == [42]
    finally:
        c.close()


def test_unsupported_rpc_is_graceful(spark, front):
    c = _Client(front.port)
    try:
        c.open_session()
        resp = c.call("RenewDelegationToken", [(1, T_I32, 0)])
        assert resp[1][1] == 3
        assert b"unsupported" in resp[1][5]
    finally:
        c.close()


# -- interop: the stock beeline binary (Hive JDBC 2.3) against the
#    python front — genuine TCLIService wire traffic. Each beeline
#    invocation costs a JVM start (~15s), so the three scenarios that
#    matter are packed tightly: plain SQL, the Engine dialect
#    (macro + MOR UPDATE), and enforcement (denial then grant). --------


def beeline_path() -> str:
    """Path of the beeline launcher bundled with this PySpark."""
    import os

    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "beeline")


def run_beeline(port: int, sql: "str | list[str]", timeout: float = 180.0,
                url_suffix: str = "", user: "str | None" = None):
    """One-shot beeline execution against the running front — the
    reference's own client binary over real Thrift wire traffic.
    ``sql`` may be a list (one -e per statement, one connection).
    ``url_suffix`` appends to the JDBC URL (e.g. ``/;auth=noSasl``);
    ``user`` sets -n, the client-asserted principal the front maps to
    ``user.name``. Returns (returncode, stdout, stderr)."""
    import os
    import subprocess

    import pyspark

    env = dict(os.environ, SPARK_HOME=os.path.dirname(pyspark.__file__))
    cmd = [beeline_path(), "-u",
           f"jdbc:hive2://localhost:{port}{url_suffix}", "--silent=false"]
    if user:
        cmd += ["-n", user]
    for stmt in ([sql] if isinstance(sql, str) else sql):
        cmd += ["-e", stmt]
    p = subprocess.run(
        cmd, capture_output=True, text=True, timeout=timeout, env=env,
    )
    return p.returncode, p.stdout, p.stderr


def test_beeline_select_roundtrip(spark, front):

    rc, out, err = run_beeline(
        front.port, "SELECT 1 AS one, 'hi' AS greeting",
        url_suffix="/;auth=noSasl",
    )
    assert rc == 0, err
    assert "one" in out and "hi" in out


def test_beeline_engine_dialect_mor_update_and_macro(spark, front, tmp_path):
    """VERDICT r11 task 2's 'Done' bar: beeline UPDATE-on-MOR green
    through an Engine-routed front."""
    from amplab_hive_spark import acid

    name = "tcli_bee_mor"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (k INT, v INT) USING parquet "
        f"LOCATION '{tmp_path}/tcli_bee_mor' "
        f"TBLPROPERTIES ('transactional'='true', 'merge_keys'='k')"
    )
    spark.sql(f"INSERT INTO {name} VALUES (1, 10), (2, 20)")
    try:
        rc, out, err = run_beeline(
            front.port,
            [
                "CREATE TEMPORARY MACRO bee_twice(x INT) x * 2",
                f"UPDATE {name} SET v = v + 5 WHERE k = 1",
                f"SELECT k, v, bee_twice(v) AS twice FROM {name} "
                f"WHERE k = 1",
            ],
            url_suffix="/;auth=noSasl",
        )
        assert rc == 0, err
        assert "15" in out and "30" in out  # merged read + macro call
    finally:
        acid.compact_mor(spark, name)
        acid.unpin_mor_keys(spark, name)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_beeline_enforcement_denial_then_grant(spark, front):
    """The reference privilege-checks JDBC (SQLOperation.java:71);
    through the front, so do we: beeline -n without a grant is denied,
    with a grant it reads."""
    import os

    from amplab_hive_spark import authorization as az
    from amplab_hive_spark.engine import Engine

    spark.sql("DROP TABLE IF EXISTS tcli_bee_guarded")
    spark.range(4).write.saveAsTable("tcli_bee_guarded")
    eng = Engine(spark)
    spark.conf.set("spark.sql.authz.enabled", "true")
    try:
        rc, out, err = run_beeline(
            front.port, "SELECT count(*) AS n FROM tcli_bee_guarded",
            url_suffix="/;auth=noSasl", user="bee_bob",
        )
        assert "Permission denied" in out + err
        spark.conf.set("spark.sql.authz.enabled", "false")
        eng.sql("GRANT SELECT ON tcli_bee_guarded TO USER bee_bob")
        spark.conf.set("spark.sql.authz.enabled", "true")
        rc, out, err = run_beeline(
            front.port, "SELECT count(*) AS n FROM tcli_bee_guarded",
            url_suffix="/;auth=noSasl", user="bee_bob",
        )
        assert rc == 0, err
        assert "4" in out
    finally:
        spark.conf.unset("spark.sql.authz.enabled")
        spark.sql("DROP TABLE IF EXISTS tcli_bee_guarded")
        p = az._store_path(spark)
        if os.path.exists(p):
            os.remove(p)


def test_open_session_use_database(spark, front):
    """Review r12: the JDBC URL's database arrives as
    configuration['use:database'] — dropping it ran every statement
    in 'default'."""
    spark.sql("CREATE DATABASE IF NOT EXISTS tcli_db12")
    spark.sql("DROP TABLE IF EXISTS tcli_db12.in_db")
    spark.range(7).write.saveAsTable("tcli_db12.in_db")
    c = _Client(front.port)
    try:
        from amplab_hive_spark.tcli import T_MAP

        resp = c.call("OpenSession", [
            (1, T_I32, 9), (2, T_STRING, "tester"),
            (4, T_MAP, (T_STRING, T_STRING, {"use:database": "tcli_db12"})),
        ])
        assert resp[1][1] == 0
        sess = resp[3]
        r2 = c.execute(sess, "SELECT count(*) AS n FROM in_db")  # unqualified
        assert r2[1][1] == 0
        fr = c.call("FetchResults", [
            (1, T_STRUCT, _op_fields(r2[2])), (2, T_I32, 0), (3, T_I64, 10),
        ])
        assert fr[3][3][0][5][1] == [7]
    finally:
        c.close()
        spark.sql("DROP TABLE IF EXISTS tcli_db12.in_db")
        spark.sql("DROP DATABASE IF EXISTS tcli_db12")


def test_dropped_connection_reaps_sessions(spark, front):
    """Review r12: a client that drops the socket without CloseSession
    must not leak its spark sub-session for the server's lifetime."""
    import time as _time

    c = _Client(front.port)
    c.open_session()
    c.open_session()
    assert len(front.sessions) >= 2
    before = len(front.sessions)
    c.close()
    for _ in range(50):  # handler reaps on its read loop exit
        if len(front.sessions) <= before - 2:
            break
        _time.sleep(0.1)
    assert len(front.sessions) <= before - 2
    # ...and a session closed PROPERLY is reaped exactly once (no
    # double-free of a foreign guid)
    c2 = _Client(front.port)
    sess = c2.open_session()
    assert c2.call("CloseSession", [(1, T_STRUCT, _handle_fields(sess))])[1][1] == 0
    c2.close()


def test_jdbc_metadata_operations(spark, front):
    """The DatabaseMetaData family (reference: service/cli/operation/
    Get*Operation.java): catalogs, schemas, tables, columns, functions
    and type info served as the fixed JDBC result-set shapes, with
    %/_ search patterns."""
    from amplab_hive_spark.tcli import T_LIST

    spark.sql("CREATE DATABASE IF NOT EXISTS tcli_meta_db")
    spark.sql("DROP TABLE IF EXISTS tcli_meta_db.meta_t")
    spark.createDataFrame([(1, "x")], "id bigint, name string") \
        .write.saveAsTable("tcli_meta_db.meta_t")
    spark.sql("CREATE OR REPLACE VIEW tcli_meta_db.meta_v AS "
              "SELECT id FROM tcli_meta_db.meta_t")
    c = _Client(front.port)

    def fetch_all(op):
        fr = c.call("FetchResults", [
            (1, T_STRUCT, _op_fields(op)), (2, T_I32, 0), (3, T_I64, 1000),
        ])
        assert fr[1][1] == 0
        return fr[3][3]  # TColumn list

    def strcol(cols, i):
        return [v.decode() for v in cols[i][7][1]]

    try:
        sess = c.open_session()
        # catalogs
        r = c.call("GetCatalogs", [(1, T_STRUCT, _handle_fields(sess))])
        assert strcol(fetch_all(r[2]), 0) == ["spark_catalog"]
        # schemas with a pattern
        r = c.call("GetSchemas", [
            (1, T_STRUCT, _handle_fields(sess)),
            (3, T_STRING, "tcli_meta%"),
        ])
        assert strcol(fetch_all(r[2]), 0) == ["tcli_meta_db"]
        # tables: view typed VIEW, table typed TABLE
        r = c.call("GetTables", [
            (1, T_STRUCT, _handle_fields(sess)),
            (3, T_STRING, "tcli_meta_db"), (4, T_STRING, "meta__"),
        ])
        cols = fetch_all(r[2])
        names = strcol(cols, 2)
        types = strcol(cols, 3)
        assert dict(zip(names, types)) == {"meta_t": "TABLE", "meta_v": "VIEW"}
        # tables filtered to VIEW only (field 5: tableTypes list)
        r = c.call("GetTables", [
            (1, T_STRUCT, _handle_fields(sess)),
            (3, T_STRING, "tcli_meta_db"), (4, T_STRING, "%"),
            (5, T_LIST, (T_STRING, ["VIEW"])),
        ])
        assert strcol(fetch_all(r[2]), 2) == ["meta_v"]
        # columns: JDBC 23-column shape, java.sql.Types codes
        r = c.call("GetColumns", [
            (1, T_STRUCT, _handle_fields(sess)),
            (3, T_STRING, "tcli_meta_db"), (4, T_STRING, "meta_t"),
            (5, T_STRING, "%"),
        ])
        md = c.call("GetResultSetMetadata", [(1, T_STRUCT, _op_fields(r[2]))])
        colnames = [cd[1].decode() for cd in md[2][1]]
        assert colnames[:6] == ["TABLE_CAT", "TABLE_SCHEM", "TABLE_NAME",
                                "COLUMN_NAME", "DATA_TYPE", "TYPE_NAME"]
        assert len(colnames) == 23
        cols = fetch_all(r[2])
        assert strcol(cols, 3) == ["id", "name"]
        assert cols[4][4][1] == [-5, 12]  # BIGINT, VARCHAR type codes
        # functions pattern
        r = c.call("GetFunctions", [
            (1, T_STRUCT, _handle_fields(sess)), (4, T_STRING, "substr%"),
        ])
        fns = strcol(fetch_all(r[2]), 2)
        assert "substring" in fns
        # type info is non-empty and carries DATA_TYPE codes
        r = c.call("GetTypeInfo", [(1, T_STRUCT, _handle_fields(sess))])
        cols = fetch_all(r[2])
        assert "BIGINT" in strcol(cols, 0)
    finally:
        c.close()
        spark.sql("DROP VIEW IF EXISTS tcli_meta_db.meta_v")
        spark.sql("DROP TABLE IF EXISTS tcli_meta_db.meta_t")
        spark.sql("DROP DATABASE IF EXISTS tcli_meta_db")


def test_beeline_metadata_commands(spark, front):
    """beeline !tables / !columns drive HiveDatabaseMetaData.getTables
    / getColumns — the genuine JDBC metadata round-trip against the
    python front."""

    spark.sql("DROP TABLE IF EXISTS bee_meta_tbl")
    spark.createDataFrame([(1, "x")], "id bigint, label string") \
        .write.saveAsTable("bee_meta_tbl")
    try:
        rc, out, err = run_beeline(
            front.port, ["!tables", "!columns bee_meta_tbl"],
            url_suffix="/;auth=noSasl",
        )
        assert rc == 0, err
        assert "bee_meta_tbl" in out
        assert "BIGINT" in out and "label" in out  # !columns shape
        assert "IS_AUTO_INCREMENT" in out  # the 23-column JDBC header
    finally:
        spark.sql("DROP TABLE IF EXISTS bee_meta_tbl")


def test_concurrent_sessions_isolated(spark, front):
    """HS2's session model under concurrency: two connections run
    statements in parallel on their own sub-sessions — macros and
    temp views do not leak across, results interleave correctly."""
    import threading

    results = {}

    def worker(tag, n):
        c = _Client(front.port)
        try:
            sess = c.open_session(user=f"conc_{tag}")
            c.execute(sess, f"CREATE TEMPORARY MACRO m_{tag}(x INT) x + {n}")
            c.execute(
                sess,
                f"CREATE OR REPLACE TEMPORARY VIEW conc_v AS "
                f"SELECT {n} AS v",  # same NAME in both sessions
            )
            out = []
            for _ in range(5):
                resp = c.execute(
                    sess, f"SELECT m_{tag}(10) AS a, (SELECT v FROM conc_v) AS b"
                )
                assert resp[1][1] == 0, resp
                fr = c.call("FetchResults", [
                    (1, T_STRUCT, _op_fields(resp[2])),
                    (2, T_I32, 0), (3, T_I64, 10),
                ])
                out.append((fr[3][3][0][4][1][0], fr[3][3][1][4][1][0]))
            # the OTHER session's macro must not resolve here
            other = "b" if tag == "a" else "a"
            resp = c.execute(sess, f"SELECT m_{other}(1) AS x")
            results[tag] = (out, resp[1][1])
        finally:
            c.close()

    ta = threading.Thread(target=worker, args=("a", 100))
    tb = threading.Thread(target=worker, args=("b", 200))
    ta.start(); tb.start(); ta.join(120); tb.join(120)
    assert results["a"][0] == [(110, 100)] * 5
    assert results["b"][0] == [(210, 200)] * 5
    assert results["a"][1] == 3 and results["b"][1] == 3  # foreign macro: error


class _SaslClient(_Client):
    """Wire client speaking TSaslTransport PLAIN + framed data mode."""

    def __init__(self, port: int, user: str = "sasl_user"):
        super().__init__(port)
        import struct as _s

        def send_msg(status, payload=b""):
            self.sock.sendall(bytes([status]) + _s.pack("!i", len(payload)) + payload)

        def read_msg():
            head = self.reader._recv_raw(5)
            ln = _s.unpack("!i", head[1:5])[0]
            return head[0], self.reader._recv_raw(ln)

        send_msg(1, b"PLAIN")                      # START
        send_msg(2, b"\x00" + user.encode() + b"\x00pw")  # OK + initial resp
        status, _ = read_msg()
        assert status == 5  # COMPLETE
        self.reader.framed = True

    def call(self, name, fields):
        import struct as _s

        from amplab_hive_spark.tcli import MSG_CALL, T_STRUCT, _Writer

        self.seq += 1
        w = _Writer()
        w.message_begin(name, MSG_CALL, self.seq)
        w.fields([(1, T_STRUCT, fields)])
        data = w.bytes()
        self.sock.sendall(_s.pack("!i", len(data)) + data)  # framed
        rname, mtype, rseq = self.reader.message_begin()
        assert rname == name and rseq == self.seq
        return self.reader.struct()[0]


def test_sasl_plain_negotiation_and_identity(spark, front):
    """TSaslTransport PLAIN (beeline's DEFAULT transport): negotiation
    + framed data mode work, and the SASL-asserted identity outranks
    TOpenSessionReq.username (HS2's rule)."""
    c = _SaslClient(front.port, user="sasl_alice")
    try:
        # OpenSession claims a DIFFERENT name in the request body
        resp = c.call("OpenSession", [(1, T_I32, 9), (2, T_STRING, "impostor")])
        assert resp[1][1] == 0
        sess = resp[3]
        r2 = c.execute(sess, "SET user.name")
        fr = c.call("FetchResults", [
            (1, T_STRUCT, _op_fields(r2[2])), (2, T_I32, 0), (3, T_I64, 10),
        ])
        key, value = fr[3][3][0][7][1][0], fr[3][3][1][7][1][0]
        assert key == b"user.name" and value == b"sasl_alice"
    finally:
        c.close()


def test_beeline_default_url_sasl(spark, front):
    """Stock beeline with the DEFAULT JDBC URL (no ;auth=noSasl) —
    SASL PLAIN over genuine wire traffic."""

    rc, out, err = run_beeline(front.port, "SELECT 41+1 AS answer")
    assert rc == 0, err
    assert "42" in out


def test_metadata_temp_views_once_and_escape_patterns(spark, front):
    """Review r12 pass 5: session temp views are schema-less — listed
    ONCE under the empty schema, never duplicated per database; and
    the JDBC escape character matches literal underscores."""
    spark.sql("CREATE DATABASE IF NOT EXISTS tcli_dup_db")
    spark.sql("DROP TABLE IF EXISTS esc_meta_tbl")
    spark.range(1).write.saveAsTable("esc_meta_tbl")
    c = _Client(front.port)
    try:
        sess = c.open_session()
        c.execute(sess, "CREATE OR REPLACE TEMPORARY VIEW tcli_tmpv AS SELECT 1 AS x")

        def fetch(op):
            fr = c.call("FetchResults", [
                (1, T_STRUCT, _op_fields(op)), (2, T_I32, 0), (3, T_I64, 1000),
            ])
            return fr[3][3]

        # match-all: the temp view appears exactly once, schema ""
        r = c.call("GetTables", [
            (1, T_STRUCT, _handle_fields(sess)), (4, T_STRING, "tcli_tmpv"),
        ])
        cols = fetch(r[2])
        names = [v.decode() for v in cols[2][7][1]]
        schems = [v.decode() for v in cols[1][7][1]]
        assert names == ["tcli_tmpv"] and schems == [""]
        # a concrete schema pattern excludes schema-less temp views
        r = c.call("GetTables", [
            (1, T_STRUCT, _handle_fields(sess)),
            (3, T_STRING, "tcli_dup_db"), (4, T_STRING, "tcli_tmpv"),
        ])
        assert fetch(r[2])[2][7][1] == []
        # escaped underscores (the getSearchStringEscape contract)
        r = c.call("GetTables", [
            (1, T_STRUCT, _handle_fields(sess)),
            (3, T_STRING, "default"), (4, T_STRING, "esc\\_meta\\_tbl"),
        ])
        assert [v.decode() for v in fetch(r[2])[2][7][1]] == ["esc_meta_tbl"]
        # unescaped _ stays a single-char wildcard
        r = c.call("GetTables", [
            (1, T_STRUCT, _handle_fields(sess)),
            (3, T_STRING, "default"), (4, T_STRING, "esc_meta_tb_"),
        ])
        assert [v.decode() for v in fetch(r[2])[2][7][1]] == ["esc_meta_tbl"]
    finally:
        c.close()
        spark.sql("DROP TABLE IF EXISTS esc_meta_tbl")
        spark.sql("DROP DATABASE IF EXISTS tcli_dup_db")


def test_metadata_table_types_and_empty_key_sets(spark, front):
    """GetTableTypes lists TABLE/VIEW; GetPrimaryKeys/GetCrossReference
    answer with EMPTY result sets in the JDBC shapes (the catalog has
    no PK/FK metadata) rather than errors that abort a BI client's
    metadata probe."""
    c = _Client(front.port)
    try:
        sess = c.open_session()
        r = c.call("GetTableTypes", [(1, T_STRUCT, _handle_fields(sess))])
        fr = c.call("FetchResults", [
            (1, T_STRUCT, _op_fields(r[2])), (2, T_I32, 0), (3, T_I64, 10),
        ])
        assert [v.decode() for v in fr[3][3][0][7][1]] == ["TABLE", "VIEW"]
        for rpc in ("GetPrimaryKeys", "GetCrossReference"):
            r = c.call(rpc, [(1, T_STRUCT, _handle_fields(sess))])
            assert r[1][1] == 0
            fr = c.call("FetchResults", [
                (1, T_STRUCT, _op_fields(r[2])), (2, T_I32, 0), (3, T_I64, 10),
            ])
            assert fr[2] is False  # empty, no more rows
    finally:
        c.close()


# -- round 13: handle hygiene + rowset fidelity (VERDICT r12 finding 2,
#    ADVICE r12) --------------------------------------------------------


def test_stolen_operation_guid_cross_session_refused(spark, front):
    """VERDICT r12 finding 2: an operation handle presented with the
    WRONG secret — or by a connection that only observed the guid —
    must be refused; results are scoped by the full HandleIdentifier,
    like HS2."""
    c1, c2 = _Client(front.port), _Client(front.port)
    try:
        s1 = c1.open_session()
        c2.open_session()
        r = c1.execute(s1, "SELECT 42 AS answer")
        assert r[1][1] == 0
        op = r[2]
        ident = op[1]
        # the thief: correct guid, zeroed secret, over another session's
        # connection
        stolen = [
            (1, T_STRUCT, [(1, T_STRING, ident[1]),
                           (2, T_STRING, b"\x00" * 16)]),
            (2, T_I32, 0), (3, T_BOOL, True),
        ]
        fr = c2.call("FetchResults", [
            (1, T_STRUCT, stolen), (2, T_I32, 0), (3, T_I64, 10),
        ])
        assert fr[1][1] != 0  # TStatus ERROR
        # the rightful owner still fetches
        fr = c1.call("FetchResults", [
            (1, T_STRUCT, _op_fields(op)), (2, T_I32, 0), (3, T_I64, 10),
        ])
        assert fr[1][1] == 0
        assert fr[3][3][0][4][1] == [42]
    finally:
        c1.close()
        c2.close()


def test_session_secret_mismatch_refused(spark, front):
    """A session handle with a guessed/zeroed secret is invalid for
    every RPC including CloseSession (a stranger must not be able to
    kill someone else's session by guid)."""
    c = _Client(front.port)
    try:
        sess = c.open_session()
        ident = sess[1]
        forged = [(1, T_STRUCT, [(1, T_STRING, ident[1]),
                                 (2, T_STRING, b"\x00" * 16)])]
        r = c.call("ExecuteStatement", [
            (1, T_STRUCT, forged), (2, T_STRING, "SELECT 1"),
        ])
        assert r[1][1] != 0
        r = c.call("CloseSession", [(1, T_STRUCT, forged)])
        assert r[1][1] != 0
        # the real handle still works
        r = c.execute(sess, "SELECT 1 AS one")
        assert r[1][1] == 0
    finally:
        c.close()


def test_pre_v6_protocol_refused_at_open(spark, front):
    """ADVICE r12: FetchResults only emits the column-based TRowSet
    (V6+); a V5 client must be refused at OpenSession, not handed a
    handshake it cannot use."""
    c = _Client(front.port)
    try:
        resp = c.call("OpenSession", [(1, T_I32, 4), (2, T_STRING, "old")])
        assert resp[1][1] != 0
        assert b"V6" in resp[1].get(5, b"") or "V6" in str(resp[1].get(5, ""))
        # serverProtocolVersion is a REQUIRED TOpenSessionResp field:
        # generated clients validate() it even on error, so the
        # refusal must carry it — at the CLIENT's own version, the
        # only enum value an old client's generated code can map
        # (review r13 pass 2)
        assert resp.get(2) == 4
    finally:
        c.close()


def test_operations_born_finished_sync_contract(spark, front):
    """The documented sync-execution posture (VERDICT r12 'what's
    missing' #2): ExecuteStatement runs the statement inline, so the
    returned handle is already FINISHED (state 2) — clients that poll
    GetOperationStatus see a terminal state on the first poll. This
    pins the async gap as a contract, not an accident."""
    c = _Client(front.port)
    try:
        sess = c.open_session()
        r = c.execute(sess, "SELECT 1 AS one")
        assert r[1][1] == 0
        st = c.call("GetOperationStatus", [(1, T_STRUCT, _op_fields(r[2]))])
        assert st[1][1] == 0
        assert st[2] == 2  # FINISHED_STATE, first poll
    finally:
        c.close()


def test_binary_and_complex_cells_serialize_like_hs2(spark, front):
    """ADVICE r12: BINARY cells arrive as the RAW bytes (not a python
    bytearray(...) repr); array/map/struct cells render as JSON, the
    HS2 complex-type output."""
    c = _Client(front.port)
    try:
        sess = c.open_session()
        r = c.execute(sess, """
            SELECT CAST('abc' AS BINARY) AS b,
                   array(1, 2) AS a,
                   map('k', 'v') AS m,
                   named_struct('x', 1, 'y', 'z') AS s,
                   array(DATE '2024-01-02') AS ad
        """)
        assert r[1][1] == 0, r
        fr = c.call("FetchResults", [
            (1, T_STRUCT, _op_fields(r[2])), (2, T_I32, 0), (3, T_I64, 10),
        ])
        assert fr[1][1] == 0
        colvals = fr[3][3]
        assert colvals[0][7][1] == [b"abc"]          # raw bytes
        assert colvals[1][7][1] == [b"[1,2]"]        # JSON array
        assert colvals[2][7][1] == [b'{"k":"v"}']    # JSON map
        assert colvals[3][7][1] == [b'{"x":1,"y":"z"}']  # JSON struct
        assert colvals[4][7][1] == [b'["2024-01-02"]']  # nested date
    finally:
        c.close()


def test_failed_close_keeps_session_reapable(spark, front):
    """review r13: a CloseSession REFUSED for a secret mismatch leaves
    the session alive — the connection's owned set must keep tracking
    it, so the socket-drop reaper still frees it (discarding on the
    failed close would leak the Engine + sub-session forever)."""
    import time as _time

    c = _Client(front.port)
    sess = c.open_session()
    ident = sess[1]
    forged = [(1, T_STRUCT, [(1, T_STRING, ident[1]),
                             (2, T_STRING, b"\x00" * 16)])]
    r = c.call("CloseSession", [(1, T_STRUCT, forged)])
    assert r[1][1] != 0  # refused
    guid = bytes(ident[1])
    assert guid in front.sessions  # still alive
    c.close()  # drop the socket without a proper close
    for _ in range(50):
        if guid not in front.sessions:
            break
        _time.sleep(0.1)
    assert guid not in front.sessions, "refused close orphaned the session"


# -- round 13: async operation lifecycle + operation logs (VERDICT r12
#    "what's missing" #2 — SQLOperation.java:71's pool model) ----------


def _poll_terminal(c, op, timeout_s=30.0):
    import time as _time

    deadline = _time.monotonic() + timeout_s
    while _time.monotonic() < deadline:
        st = c.call("GetOperationStatus", [(1, T_STRUCT, _op_fields(op))])
        assert st[1][1] == 0
        if st[2] in (2, 3, 4, 5):  # FINISHED/CANCELED/CLOSED/ERROR
            return st
        _time.sleep(0.05)
    raise AssertionError("operation never reached a terminal state")


def test_async_execute_poll_fetch_and_log(spark, front):
    """runAsync=true (what beeline sends by default): the handle is
    born non-terminal or already FINISHED, GetOperationStatus polls to
    FINISHED, rows fetch normally, and FetchResults fetch_type=1
    streams the operation log INCREMENTALLY (second fetch returns only
    new lines)."""
    c = _Client(front.port)
    try:
        sess = c.open_session()
        r = c.call("ExecuteStatement", [
            (1, T_STRUCT, _handle_fields(sess)),
            (2, T_STRING, "SELECT 6 * 7 AS a"),
            (4, T_BOOL, True),  # runAsync
        ])
        assert r[1][1] == 0
        op = r[2]
        st = _poll_terminal(c, op)
        assert st[2] == 2  # FINISHED
        md = c.call("GetResultSetMetadata", [(1, T_STRUCT, _op_fields(op))])
        assert [cd[1].decode() for cd in md[2][1]] == ["a"]
        fr = c.call("FetchResults", [
            (1, T_STRUCT, _op_fields(op)), (2, T_I32, 0), (3, T_I64, 10),
        ])
        assert fr[3][3][0][4][1] == [42]
        # operation log: lifecycle lines, served incrementally
        lg = c.call("FetchResults", [
            (1, T_STRUCT, _op_fields(op)), (2, T_I32, 0), (3, T_I64, 100),
            (4, T_I32, 1),
        ])
        lines = [v.decode() for v in lg[3][3][0][7][1]]
        assert any("Executing statement" in ln for ln in lines)
        assert any("Statement FINISHED" in ln for ln in lines)
        lg2 = c.call("FetchResults", [
            (1, T_STRUCT, _op_fields(op)), (2, T_I32, 0), (3, T_I64, 100),
            (4, T_I32, 1),
        ])
        assert lg2[3][3][0][7][1] == []  # already drained
    finally:
        c.close()


def test_async_error_surfaces_in_status(spark, front):
    """An async statement that fails must land in ERROR state with the
    message on GetOperationStatus (beeline's poll loop reads it from
    there) and FetchResults refusing with the same error."""
    c = _Client(front.port)
    try:
        sess = c.open_session()
        r = c.call("ExecuteStatement", [
            (1, T_STRUCT, _handle_fields(sess)),
            (2, T_STRING, "SELECT * FROM definitely_missing_async_tbl"),
            (4, T_BOOL, True),
        ])
        assert r[1][1] == 0  # the SUBMIT succeeds; the failure is async
        st = _poll_terminal(c, r[2])
        assert st[2] == 5  # ERROR
        assert b"definitely_missing_async_tbl" in st.get(5, b"")
        fr = c.call("FetchResults", [
            (1, T_STRUCT, _op_fields(r[2])), (2, T_I32, 0), (3, T_I64, 10),
        ])
        assert fr[1][1] != 0
    finally:
        c.close()


def test_running_operation_guards_and_cancel(spark, front):
    """While an async statement is RUNNING: row fetches and metadata
    refuse ('still running' — the schema is unknown until the worker
    finishes), GetOperationStatus reports RUNNING, and CancelOperation
    flips it to CANCELED (the worker's result is discarded). The
    RUNNING window is planted white-box — a real statement's window is
    too narrow to hit deterministically."""
    from amplab_hive_spark.tcli import _Operation

    c = _Client(front.port)
    try:
        sess_h = c.open_session()
        sess = front.sessions[bytes(sess_h[1][1])]
        op_guid, op_secret = b"R" * 16, b"S" * 16
        sess.operations[op_guid] = _Operation(secret=op_secret, running=True)
        op_fields = [
            (1, T_STRUCT, [(1, T_STRING, op_guid), (2, T_STRING, op_secret)]),
            (2, T_I32, 0), (3, T_BOOL, True),
        ]
        st = c.call("GetOperationStatus", [(1, T_STRUCT, op_fields)])
        assert st[2] == 1  # RUNNING
        fr = c.call("FetchResults", [
            (1, T_STRUCT, op_fields), (2, T_I32, 0), (3, T_I64, 10),
        ])
        assert fr[1][1] != 0 and b"still running" in fr[1][5]
        md = c.call("GetResultSetMetadata", [(1, T_STRUCT, op_fields)])
        assert md[1][1] != 0
        assert c.call("CancelOperation", [(1, T_STRUCT, op_fields)])[1][1] == 0
        st = c.call("GetOperationStatus", [(1, T_STRUCT, op_fields)])
        assert st[2] == 3  # CANCELED
        # canceled while RUNNING: no schema ever existed — the fetch
        # refuses (consistent with metadata) instead of inventing a
        # placeholder column (review r13 pass 6)
        fr = c.call("FetchResults", [
            (1, T_STRUCT, op_fields), (2, T_I32, 0), (3, T_I64, 10),
        ])
        assert fr[1][1] != 0 and b"canceled" in fr[1][5]
    finally:
        c.close()


def test_error_operation_metadata_refuses_and_cancel_never_masks(spark, front):
    """review r13 pass 3: GetResultSetMetadata on a FAILED async op
    serves the failure, not the placeholder schema; a cancel racing in
    AFTER the failure must not flip ERROR to CANCELED (that would turn
    an errored statement into a clean empty result)."""
    from amplab_hive_spark.tcli import _Operation

    c = _Client(front.port)
    try:
        sess_h = c.open_session()
        sess = front.sessions[bytes(sess_h[1][1])]
        op_guid, op_secret = b"E" * 16, b"F" * 16
        op = _Operation(secret=op_secret, running=True)
        with op.lock:
            op.error = "AnalysisException: boom"
            op.state = 5  # OP_ERROR
        sess.operations[op_guid] = op
        op_fields = [
            (1, T_STRUCT, [(1, T_STRING, op_guid), (2, T_STRING, op_secret)]),
            (2, T_I32, 0), (3, T_BOOL, True),
        ]
        md = c.call("GetResultSetMetadata", [(1, T_STRUCT, op_fields)])
        assert md[1][1] != 0 and b"boom" in md[1][5]
        # cancel AFTER the failure: state must stay ERROR
        assert c.call("CancelOperation", [(1, T_STRUCT, op_fields)])[1][1] == 0
        st = c.call("GetOperationStatus", [(1, T_STRUCT, op_fields)])
        assert st[2] == 5  # still ERROR, not CANCELED
        fr = c.call("FetchResults", [
            (1, T_STRUCT, op_fields), (2, T_I32, 0), (3, T_I64, 10),
        ])
        assert fr[1][1] != 0 and b"boom" in fr[1][5]
    finally:
        c.close()


def test_close_operation_cancels_running_async(spark, front):
    """review r13 pass 3: CloseOperation on a still-RUNNING async op
    cancels it first (HS2's close path) — popping alone would orphan
    an unstoppable in-flight statement."""
    from amplab_hive_spark.tcli import OP_CANCELED, _Operation

    c = _Client(front.port)
    try:
        sess_h = c.open_session()
        sess = front.sessions[bytes(sess_h[1][1])]
        op_guid, op_secret = b"C" * 16, b"D" * 16
        op = _Operation(secret=op_secret, running=True)
        sess.operations[op_guid] = op
        op_fields = [
            (1, T_STRUCT, [(1, T_STRING, op_guid), (2, T_STRING, op_secret)]),
            (2, T_I32, 0), (3, T_BOOL, True),
        ]
        assert c.call("CloseOperation", [(1, T_STRUCT, op_fields)])[1][1] == 0
        assert op_guid not in sess.operations
        assert op.state == OP_CANCELED  # the worker's result is discarded
    finally:
        c.close()


def test_beeline_drives_the_async_lifecycle(spark, front):
    """Stock beeline sends runAsync=true (HiveStatement's default), so
    genuine JDBC traffic exercises the r13 worker lifecycle — handle
    born RUNNING, beeline's waitForOperationToComplete poll loop, then
    the fetch. Pinned via the front's async counter so a future change
    that silently downgrades beeline to the sync path is caught."""

    before = front.async_statements
    rc, out, err = run_beeline(
        front.port, "SELECT 40 + 2 AS answer", url_suffix="/;auth=noSasl",
    )
    assert rc == 0, err
    assert "42" in out
    assert front.async_statements > before


def test_close_session_cancels_running_operations(spark, front):
    """review r13 pass 6: CloseSession (and the socket-drop reaper,
    which shares _drop_session) cancels a session's RUNNING async
    operations — HS2 closes a session's operations on session close;
    popping alone left orphaned workers driving unfetchable jobs."""
    from amplab_hive_spark.tcli import OP_CANCELED, _Operation

    c = _Client(front.port)
    try:
        sess_h = c.open_session()
        guid = bytes(sess_h[1][1])
        sess = front.sessions[guid]
        op = _Operation(secret=b"x" * 16, running=True)
        sess.operations[b"o" * 16] = op
        assert c.call("CloseSession",
                      [(1, T_STRUCT, _handle_fields(sess_h))])[1][1] == 0
        assert guid not in front.sessions
        assert op.state == OP_CANCELED and op.cancel_requested
    finally:
        c.close()


def test_dfs_command_over_jdbc(spark, front, tmp_path):
    """dfs is an ENGINE-surface command (reference: HiveServer2 serves
    DFS via the HiveCommand dispatch), so it works over TCLIService:
    the captured FsShell output comes back as the one-column
    'DFS Output' result set DfsProcessor declares."""
    c = _Client(front.port)
    try:
        sess = c.open_session()
        assert c.execute(sess, f"dfs -mkdir {tmp_path}/jdbc_made")[1][1] == 0
        assert (tmp_path / "jdbc_made").is_dir()
        r = c.execute(sess, f"dfs -ls {tmp_path}")
        assert r[1][1] == 0
        md = c.call("GetResultSetMetadata", [(1, T_STRUCT, _op_fields(r[2]))])
        assert [cd[1].decode() for cd in md[2][1]] == ["DFS Output"]
        fr = c.call("FetchResults", [
            (1, T_STRUCT, _op_fields(r[2])), (2, T_I32, 0), (3, T_I64, 100),
        ])
        lines = [v.decode() for v in fr[3][3][0][7][1]]
        assert any("jdbc_made" in ln for ln in lines)
        # failure surfaces as a statement error with the reference line
        r = c.execute(sess, f"dfs -test -e {tmp_path}/absent_path")
        assert r[1][1] != 0
        assert b"Command failed with exit code" in r[1][5]
    finally:
        c.close()
