"""``olap_read``: repeated passes over the registry's ``bench=True``
queries, each built with its registry function and collected.

Each pass runs the queries in an order drawn from the seed. The warm-up
pass keeps every query's canonical result; each later pass must return
the same rows, and after the run the warm-up result is compared with
the query's DuckDB oracle (``amplab_hive_spark.testing``). This path
bypasses ``Engine.sql``, ``acid`` and ``service``.

A traced pass splits each query into build (the registry function),
plan (forcing ``executedPlan``), execution (a run to Spark's ``noop``
sink) and fetch (``collect`` minus the noop run).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import subprocess
import sys


def bench_specs():
    from amplab_hive_spark.registry import all_queries

    return sorted((s for s in all_queries().values() if s.bench), key=lambda s: s.name)


def setup(ctx, i):
    specs = bench_specs()
    return {"specs": specs, "ref": {}, "digest": {}}


def teardown(ctx, state):
    pass


def canonical(columns, rows):
    """Order-insensitive rendering, as the oracle harness compares."""
    from amplab_hive_spark.testing import _canon

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(columns), sorted([_canon(r[i]) for i in order] for r in rows)


def digest(canon) -> str:
    return hashlib.sha1(json.dumps(canon).encode()).hexdigest()


def _run_query(ctx, spec, layers):
    spark, d = ctx.spark, ctx.data_dir
    if not ctx.traced:
        df = spec.fn(spark, d)
        return df.columns, df.collect()
    tracer = ctx.tracer
    with tracer.span("build"):
        df = spec.fn(spark, d)
    with tracer.span("plan"):
        df._jdf.queryExecution().executedPlan()
    layers["build_jobs"] = ctx.jobs.take()["jobs"]
    with tracer.span("exec"):
        df.write.format("noop").mode("overwrite").save()
    ctx.jobs.take()  # the noop run's jobs; the op counts the collect's
    with tracer.span("collect"):
        rows = df.collect()
    return df.columns, rows


def prepare(ctx):
    """DuckDB oracle results of every query, computed in a child process
    (its memory stays out of ``memory_mb``) while the first set-up runs."""
    out = os.path.join(ctx.work, "oracle.json")
    subprocess.run([sys.executable, __file__, ctx.data_dir, out], check=True,
                   stdout=subprocess.DEVNULL)
    with open(out) as f:
        return {k: (v[0], v[1]) for k, v in json.load(f).items()}


def run_round(ctx, state):
    specs = list(state["specs"])
    if ctx.round > 0:
        random.Random(ctx.seed * 1000 + ctx.round).shuffle(specs)
    ref = state["ref"]
    for spec in specs:
        layers: dict = {}

        def check(out, spec=spec):
            canon = canonical(*out)
            if ctx.round == 0:
                ref[spec.name] = canon
                state["digest"][spec.name] = digest(canon)
                return None
            if digest(canon) != state["digest"].get(spec.name):
                return "result differs from the warm-up pass"
            return None

        out, rec = ctx.op(spec.name, lambda spec=spec: _run_query(ctx, spec, layers), check)
        rec["rows"] = len(out[1]) if out else 0
        rec.update(layers)


def verify(ctx, state):
    for spec in state["specs"]:
        ctx.checks += 1
        got, want = state["ref"].get(spec.name), ctx.prepared.get(spec.name)
        if got is None:
            continue  # its warm-up op already failed
        if want is None or got != (want[0], want[1]):
            ctx.fail(f"{spec.name}: differs from its DuckDB oracle")


def rows_per_s(measured):
    secs = sum(r["s"] for r in measured)
    return sum(r.get("rows", 0) for r in measured) / secs if secs else 0.0


if __name__ == "__main__":
    # python3 olap.py <data_dir> <out.json>: every oracle's canonical rows
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from amplab_hive_spark.testing import duckdb_connection, duckdb_rows

    con = duckdb_connection(sys.argv[1])
    con.execute("SET threads=2")
    with open(sys.argv[2], "w") as f:
        json.dump({spec.name: duckdb_rows(con, spec.oracle) for spec in bench_specs()}, f)
