"""``mor_service``: one ``SqlClient`` connection to an in-process
``SqlService``, running cycles of statements against a merge-on-read
copy of ``lineitem`` plus short statements on the dimension tables.

A cycle, all statements drawn from the seed and the cycle number:

- UPDATE of about 1% of rows, then DELETE of about 0.2%;
- an upsert from about 1,000 source rows, half matching and half new.
  ``MERGE INTO`` is refused on merge-on-read tables (``dml_text``), so
  the upsert runs as Hive decomposes it: an UPDATE of the matched
  keys, then an INSERT of the new rows, timed as one op;
- a merged GROUP BY read and a merged point read;
- short statements: point and range lookups on ``orders``,
  ``customer`` and ``part`` (1-50 rows), small aggregates, and
  ``SET hivevar:`` followed by a ``${hivevar:..}`` lookup;
- one wide scan of tens of thousands of rows, paged with ``fetch``;
- ``ALTER TABLE .. COMPACT 'minor'``, then ``'major'``.

Every write is applied to a DuckDB shadow table; write counts and
merged reads are compared with it, and the merged aggregate again
after each major compaction. Lookups are compared with pyarrow reads
of the parquet files.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import threading

import probe

AGG = ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
       "SUM(l_extendedprice) AS price FROM {T} GROUP BY l_returnflag, l_linestatus")
PK = {"orders": "o_orderkey", "customer": "c_custkey", "part": "p_partkey"}
PAGE = 5000
NEW_KEY_BASE = 10_000_000


def plan_round(seed: int, rnd: int, rows: dict[str, int]) -> list[tuple]:
    """The statement list of cycle ``rnd``: ``(kind, sql, arg)`` tuples,
    where ``{T}`` stands for the merge-on-read table."""
    rng = random.Random(seed * 7919 + rnd)
    n_ord, n_cust, n_part = rows["orders"], rows["customer"], rows["part"]
    out = [
        ("update", f"UPDATE {{T}} SET l_quantity = l_quantity + 1.0, l_returnflag = 'R' "
                   f"WHERE (l_orderkey * 7 + l_linenumber) % 100 = {rng.randrange(100)}", None),
        ("delete", f"DELETE FROM {{T}} WHERE (l_orderkey * 3 + l_linenumber) % 500 = "
                   f"{rng.randrange(500)}", None),
    ]
    matched = sorted(rng.sample(range(n_ord), 125))
    new = [NEW_KEY_BASE + rnd * 1000 + j for j in range(125)]
    values = ", ".join(
        f"({k}, {rng.randrange(n_part)}, {rng.randrange(1000)}, {ln}, "
        f"{rng.randint(1, 50)}.0, {rng.randint(90000, 10500000) / 100}, "
        f"{rng.randrange(11) / 100}, {rng.randrange(9) / 100}, 'N', 'O', "
        f"TIMESTAMP '1999-0{rng.randint(1, 9)}-1{rng.randrange(10)} 00:00:00')"
        for k in new for ln in range(1, 5))
    out.append(("upsert", (
        f"UPDATE {{T}} SET l_quantity = l_quantity + 2.0, l_discount = 0.0 "
        f"WHERE l_orderkey IN ({', '.join(map(str, matched))})",
        f"INSERT INTO {{T}} VALUES {values}"), None))
    out.append(("agg_read", AGG, None))
    point = rng.choice(matched + [rng.randrange(n_ord)])
    out.append(("point_read", f"SELECT * FROM {{T}} WHERE l_orderkey = {point}", None))
    sizes = {"orders": n_ord, "customer": n_cust, "part": n_part}
    short = [("lookup", t) for t in PK for _ in range(3)] + [("range", t) for t in PK]
    short += [("small_agg", None)] + [("set_var", None)] * 2
    rng.shuffle(short)
    for kind, table in short:
        if kind == "lookup":
            k = rng.randrange(sizes[table])
            out.append((kind, f"SELECT * FROM {table} WHERE {PK[table]} = {k}", (table, k, k)))
        elif kind == "range":
            k = rng.randrange(sizes[table] - 50)
            hi = k + rng.randrange(50)
            out.append((kind, f"SELECT * FROM {table} WHERE {PK[table]} BETWEEN {k} AND {hi}",
                        (table, k, hi)))
        elif kind == "small_agg":
            nation = rng.randrange(25)
            out.append((kind, "SELECT c_mktsegment, COUNT(*) AS n FROM customer "
                              f"WHERE c_nationkey = {nation} GROUP BY c_mktsegment", nation))
        else:
            k = rng.randrange(n_part)
            out.append((kind, f"SET hivevar:pk={k}", None))
            out.append(("var_lookup", "SELECT * FROM part WHERE p_partkey = ${hivevar:pk}",
                        ("part", k, k)))
    for _ in range(2):
        hi = n_ord // 2 + rng.randrange(n_ord // 4)
        out.append(("wide_scan", "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                                 f"WHERE o_orderkey < {hi}", hi))
    out.append(("compact_minor", "ALTER TABLE {T} COMPACT 'minor'", None))
    out.append(("compact_major", "ALTER TABLE {T} COMPACT 'major'", None))
    return out


class _Client:
    """``SqlClient`` that also counts the response bytes it reads."""

    def __init__(self, port):
        from amplab_hive_spark.service import SqlClient

        client = SqlClient("127.0.0.1", port)
        self.client = client
        self.bytes_in = 0
        rfile = client._rfile
        outer = self

        class Counting:
            def readline(self):
                line = rfile.readline()
                outer.bytes_in += len(line)
                return line

            def close(self):
                rfile.close()

        client._rfile = Counting()

    def close(self):
        self.client.close()


def setup(ctx, i):
    from amplab_hive_spark.service import SqlService

    name = f"li_mor_{i}"
    loc = os.path.join(ctx.work, "warehouse", name)
    # the generated lineitem file is the table's base; its schema is read
    # from the file
    os.makedirs(loc)
    shutil.copy(os.path.join(ctx.data_dir, "lineitem.parquet"),
                os.path.join(loc, "part-00000.parquet"))
    ctx.engine.sql(
        f"CREATE TABLE {name} USING parquet LOCATION '{loc}' "
        "TBLPROPERTIES ('transactional'='true', 'merge_keys'='l_orderkey,l_linenumber')")
    svc = SqlService(ctx.spark, sf_dir=ctx.data_dir)
    port = svc.start()
    client = _Client(port)
    resp = client.client.sql("SELECT 1")
    if not resp.get("ok"):
        raise RuntimeError(f"service did not answer: {resp}")
    return {"name": name, "loc": loc, "svc": svc, "client": client,
            "base_bytes": sum(probe.tree_files(loc).values())}


def teardown(ctx, state):
    state["client"].close()
    state["svc"].stop()
    ctx.spark.sql(f"DROP TABLE IF EXISTS {state['name']}")
    shutil.rmtree(state["loc"], ignore_errors=True)


def _expected_tables(ctx):
    import pyarrow.parquet as pq

    out = {}
    for table in PK:
        t = pq.read_table(os.path.join(ctx.data_dir, f"{table}.parquet"))
        cols = t.column_names
        rows = [[v.isoformat() if hasattr(v, "isoformat") else v for v in r.values()]
                for r in t.to_pylist()]
        out[table] = (cols, rows)
    return out


def prepare(ctx):
    """DuckDB shadow of the table and the expected lookup rows, built
    while the first set-up runs."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute("CREATE TABLE li AS SELECT * FROM read_parquet("
                f"'{os.path.join(ctx.data_dir, 'lineitem.parquet')}')")
    return con, _expected_tables(ctx)


def _rows_close(got, want) -> bool:
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


def _duck_rows(con, sql):
    rows = con.execute(sql.replace("{T}", "li")).fetchall()
    return sorted([v.isoformat() if hasattr(v, "isoformat") else v for v in r] for r in rows)


def _mor_files(state):
    return probe.tree_files(state["loc"])


def _live_deltas(state) -> int:
    d = os.path.join(state["loc"], "_delete_delta")
    if not os.path.isdir(d):
        return 0
    return sum(1 for f in os.listdir(d) if f.startswith(("txn", "delta-")))


def _delta_files(state) -> int:
    return sum(1 for f in _mor_files(state) if f.startswith("_delete_delta"))


def install_probes(ctx, state):
    """Spans around the engine, acid and the service's result fetch."""
    import amplab_hive_spark.acid as acid
    from amplab_hive_spark.engine import Engine
    from amplab_hive_spark.service import _Cursor
    from pyspark.sql.classic.dataframe import DataFrame

    tracer = ctx.tracer
    tracer.wrap(Engine, "sql", "engine.sql")
    tracer.wrap(_Cursor, "page", "svc.fetch")
    for fn in ("update_mor", "delete_mor", "read_mor", "compact_mor"):
        tracer.wrap(acid, fn, "acid." + fn)
    take = DataFrame.take

    def traced_take(self, num):
        # only the service handler's own take is the result fetch;
        # takes inside Engine.sql belong to the engine's span
        if threading.current_thread() is threading.main_thread() or tracer._stack():
            return take(self, num)
        with tracer.span("svc.fetch"):
            return take(self, num)

    DataFrame.take = traced_take


def _preparse(ctx, sql) -> float:
    """Engine.sql time minus raw spark.sql time for a plain SELECT."""
    import time

    with ctx.py4j.paused():
        t0 = time.perf_counter()
        ctx.spark.sql(sql)
        t1 = time.perf_counter()
        ctx.engine.sql(sql)
        return (time.perf_counter() - t1) - (t1 - t0)


def _page_all(client, resp, extra):
    rows, extra["pages"] = list(resp["rows"]), 0
    while resp.get("has_more"):
        resp = client.fetch(resp["handle"], n=PAGE)
        if not resp.get("ok"):
            raise RuntimeError(resp.get("error"))
        rows.extend(resp["rows"])
        extra["pages"] += 1
    return rows


def _check(kind, sql, arg, out, con, expect, extra):
    """None if ``out`` is right, else what is wrong. Writes are replayed
    on the DuckDB shadow here, so it follows the table."""
    if kind in ("update", "delete", "upsert"):
        write = sql[0] if kind == "upsert" else sql
        want = con.execute(write.replace("{T}", "li")).fetchone()[0]
        if kind == "upsert":
            con.execute(sql[1].replace("{T}", "li"))
            out = out[0]
        extra["changed"] = want + (500 if kind == "upsert" else 0)
        return None if out[0][0] == want else f"{out[0][0]} rows, shadow {want}"
    if kind in ("agg_read", "point_read"):
        return None if _rows_close(sorted(out), _duck_rows(con, sql)) else "differs from shadow"
    if kind in ("lookup", "range", "var_lookup"):
        table, lo, hi = arg
        want = expect[table][1][lo:hi + 1]  # primary keys are dense from 0
        return None if sorted(out) == sorted(want) else "differs from parquet"
    if kind == "small_agg":
        cols, rows = expect["customer"]
        ni, si = cols.index("c_nationkey"), cols.index("c_mktsegment")
        want: dict = {}
        for r in rows:
            if r[ni] == arg:
                want[r[si]] = want.get(r[si], 0) + 1
        return None if dict(map(tuple, out)) == want else "differs from parquet"
    if kind == "wide_scan":
        return None if sorted(r[0] for r in out) == list(range(arg)) else "rows differ"
    if kind.startswith("compact"):
        extra["folded"] = out[0][0]
    return None


def run_round(ctx, state):
    con, expect = ctx.prepared
    client = state["client"]
    T = state["name"]

    def send(sql, n=None):
        resp = client.client.sql(sql.replace("{T}", T), n=n)
        if not resp.get("ok"):
            raise RuntimeError(resp.get("error", "statement failed"))
        return resp

    plan = plan_round(ctx.seed, ctx.round, ctx.counts)
    if ctx.round == 0:  # the warm-up runs one statement of each kind
        seen: set = set()
        plan = [p for p in plan if not (p[0] in seen or seen.add(p[0]))]
    for kind, sql, arg in plan:
        writes = kind in ("update", "delete", "upsert", "compact_minor", "compact_major")
        before = _mor_files(state) if writes else None
        b0 = client.bytes_in
        extra: dict = {}
        if kind == "upsert":
            def fn(sql=sql):
                return [send(s)["rows"] for s in sql]
        elif kind == "wide_scan":
            def fn(sql=sql):
                return _page_all(client.client, send(sql, n=PAGE), extra)
        else:
            def fn(sql=sql):
                return send(sql)["rows"]

        out, rec = ctx.op(kind, fn, lambda out, kind=kind, sql=sql, arg=arg:
                          _check(kind, sql, arg, out, con, expect, extra))
        rec.update(extra)
        rec["bytes_out"] = client.bytes_in - b0
        rec["rows"] = len(out) if isinstance(out, list) and kind != "upsert" else 0
        if writes:
            after = _mor_files(state)
            rec["bytes_written"] = sum(s for f, s in after.items() if f not in before)
            rec["delta_files"] = _delta_files(state)
        if kind in ("agg_read", "point_read"):
            rec["live_deltas"] = _live_deltas(state)
            rec["space_amp"] = sum(_mor_files(state).values()) / state["base_bytes"]
        if ctx.traced and kind == "lookup":
            rec["preparse_s"] = _preparse(ctx, sql)
        if kind == "compact_major":
            ctx.checks += 1
            if not _rows_close(sorted(send(AGG)["rows"]), _duck_rows(con, AGG)):
                ctx.fail(f"merged aggregate after major compaction, round {ctx.round}")


def verify(ctx, state):
    """Every check runs inline, right after its op."""


def rows_per_s(measured):
    scans = [r for r in measured if r["kind"] == "wide_scan"]
    secs = sum(r["s"] for r in scans)
    return sum(r["rows"] for r in scans) / secs if secs else 0.0
