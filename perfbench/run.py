"""Warehouse benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 5 --trace 0

Run it from the repository root. It generates the input tables from
``--seed`` (``datagen.py``), starts the engine's Spark session at
``local[<nproc>]``, sets up three times (the median is ``setup_s``),
warms up one round, then runs rounds until ``--seconds`` have passed
(at least one), checks every result, and prints two JSON lines: a
verbose record with every raw per-op sample, then the summary:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, whose times are CPU
seconds of the process tree (wall times stay in the verbose record);
``--trace 1`` the per-layer metrics (one untraced round first, so the
tracing overhead is measured in the same process). Metric definitions: README.md.
All files go under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (span dumps) in the current directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time

import probe

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))

WORKLOADS = ("olap_read", "mor_service")
SETUPS = 3
# 0.02 of TPC-H sf1 (120k lineitem rows): large enough that scans cost
# something, small enough that a run stays near one minute
SCALE = 0.02
DRIVER_MEM = "2g"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def p90(xs):
    """90th percentile, only when at least ten samples lie beyond it."""
    if len(xs) < 100:
        return None
    return statistics.quantiles(xs, n=10)[-1]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_info(spark, nproc):
    from bench import cpu_calibration

    return {
        "nproc": nproc,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "driver_memory": DRIVER_MEM,
        "cpu_calib_sec": cpu_calibration(),
    }


class Context:
    """What a workload sees: the session, the engine, the data, the
    probes, and ``op()`` to time one operation."""

    def __init__(self, args, work, data_dir, counts):
        self.seed = args.seed
        self.work = work
        self.data_dir = data_dir
        self.counts = counts
        self.spark = None
        self.engine = None
        self.tracer = None
        self.py4j = None
        self.jobs = None
        self.traced = False
        self.round = -1
        self.ops: list[dict] = []
        self.checks = 0
        self.prepared = None
        self.failures: list[str] = []
        self.pid = os.getpid()

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def op(self, kind: str, fn, check=None):
        """Time ``fn()`` as one op; ``check(result)`` (untimed) returns
        an error string or None. Returns (result, record)."""
        rec = {"kind": kind, "round": self.round, "traced": self.traced}
        op_id = len(self.ops)
        self.ops.append(rec)
        out, err = None, None
        if self.traced:
            self.jobs.take()
            p0 = self.py4j.n
        c0, st0 = probe.tree_cpu_s(self.pid), probe.steal_s()
        with self.tracer.op(op_id), self.tracer.span("op:" + kind):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # noqa: BLE001 - a failed op is data
                err = f"{type(e).__name__}: {str(e)[:300]}"
            rec["s"] = time.perf_counter() - t0
        rec["cpu_s"] = probe.tree_cpu_s(self.pid) - c0
        rec["steal_s"] = probe.steal_s() - st0
        if self.traced:
            rec["py4j"] = self.py4j.n - p0
            rec.update(self.jobs.take())
        if err is None and check is not None:
            err = check(out)
        rec["ok"] = err is None
        if err is not None:
            self.fail(f"{kind} round {self.round}: {err}")
        return out, rec


def start_session(ctx, nproc):
    from amplab_hive_spark.engine import Engine
    from amplab_hive_spark.session import get_spark

    t0 = time.perf_counter()
    ctx.spark = get_spark("perfbench", master=f"local[{nproc}]")
    t1 = time.perf_counter()
    ctx.engine = Engine(ctx.spark)
    ctx.engine.attach(ctx.data_dir)
    return t1 - t0, time.perf_counter() - t1


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    import datagen
    from layers import compute as layer_metrics

    nproc = len(os.sched_getaffinity(0))
    cwd = os.getcwd()
    if not os.path.isfile(os.path.join(ROOT, "amplab_hive_spark", "session.py")):
        print("perfbench: amplab_hive_spark not found next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(cwd, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(cwd, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # every file Spark, py4j and Python workers write stays in the work dir
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "tmp"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    os.chdir(work)
    load_start = os.getloadavg()
    ctx = prep = None
    try:
        t = time.perf_counter()
        data_dir = os.path.join(work, "data")
        counts = datagen.write(data_dir, args.seed, SCALE)
        datagen_s = time.perf_counter() - t
        ctx = Context(args, work, data_dir, counts)
        if args.workload == "olap_read":
            import olap as wl
        else:
            import mor_service as wl

        # the checks' reference data is built beside the first (cold)
        # set-up, which the setup_s median leaves out
        prep = threading.Thread(target=lambda: setattr(ctx, "prepared", wl.prepare(ctx)))
        prep.start()
        setups, setup_cpu, starts, attaches, fixtures = [], [], [], [], []
        state = None
        for i in range(SETUPS):
            if state is not None:
                prep.join()
                wl.teardown(ctx, state)
                ctx.spark.stop()
            c0, t0 = probe.tree_cpu_s(ctx.pid), time.perf_counter()
            s_start, s_attach = start_session(ctx, nproc)
            t1 = time.perf_counter()
            state = wl.setup(ctx, i)
            fixtures.append(time.perf_counter() - t1)
            setups.append(time.perf_counter() - t0)
            setup_cpu.append(probe.tree_cpu_s(ctx.pid) - c0)
            starts.append(s_start)
            attaches.append(s_attach)
        prep.join()
        ctx.py4j = probe.Py4jCounter(ctx.spark)
        ctx.jobs = probe.JobCounter(ctx.spark, ctx.py4j)
        ctx.tracer = probe.Tracer()
        if args.trace and hasattr(wl, "install_probes"):
            wl.install_probes(ctx, state)

        def round_time(rnd, key="s"):
            return sum(r[key] for r in ctx.ops if r["round"] == rnd)

        ctx.round = 0
        first_op_s = time.perf_counter() - T_PROCESS
        wl.run_round(ctx, state)  # warm-up round, checked, not measured
        warmup_s = round_time(0)

        # rounds until --seconds have passed, at least one; a traced run
        # measures one untraced round, then traced ones
        round_s, round_cpu, round_steal, round_traced = [], [], [], []
        t_measure = time.perf_counter()
        while True:
            ctx.round += 1
            ctx.traced = bool(args.trace) and bool(round_s)
            if ctx.traced:
                ctx.tracer.py4j = ctx.py4j
            wl.run_round(ctx, state)
            if ctx.traced:
                round_traced.append(round_time(ctx.round))
            else:
                round_s.append(round_time(ctx.round))
                round_cpu.append(round_time(ctx.round, "cpu_s"))
                round_steal.append(round_time(ctx.round, "steal_s"))
            if (round_traced or not args.trace) and \
                    time.perf_counter() - t_measure >= args.seconds:
                break
        measure_s = time.perf_counter() - t_measure
        py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm_rss = probe.jvm_peak_rss_mb(ctx.spark)
        jvm_retained = probe.jvm_retained_mb(ctx.spark)
        t = time.perf_counter()
        wl.verify(ctx, state)
        verify_s = time.perf_counter() - t
        host = host_info(ctx.spark, nproc)

        measured = [r for r in ctx.ops if r["round"] >= 1 and not r["traced"]]
        by_kind: dict[str, list[float]] = {}
        cpu_by_kind: dict[str, list[float]] = {}
        for r in measured:
            by_kind.setdefault(r["kind"], []).append(r["s"])
            cpu_by_kind.setdefault(r["kind"], []).append(r["cpu_s"])
        lat = [r["s"] for r in measured]
        e2e = {
            "setup_s": (median(setup_cpu), "s"),
            "memory_mb": (py_rss + sum(jvm_retained.values()), "MB"),
            "round_cpu_s": (median(round_cpu), "s"),
            "geomean_cpu_s": (geomean([median(v) for v in cpu_by_kind.values()]), "s"),
        }
        layers = {}
        if args.trace:
            layers = layer_metrics(ctx)
            layers["session.start_s"] = (median(starts), "s")
            layers["catalog.attach_s"] = (median(attaches), "s")
            layers["trace.overhead_s"] = (median(round_traced) - median(round_s), "s")
            ctx.tracer.dump(os.path.join(
                out_dir, f"{args.workload}-s{args.seed}-spans.jsonl"))
        wl.teardown(ctx, state)
        state = None

        attempted = len(ctx.ops) + ctx.checks
        failed = len(ctx.failures)
        verbose = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "scale": SCALE, "rows": counts, "host": host,
            "load_start": load_start, "load_end": os.getloadavg(),
            "datagen_s": datagen_s, "setup_runs_s": setups,
            "setup_cpu_runs_s": setup_cpu,
            "session_start_runs_s": starts, "attach_runs_s": attaches,
            "fixture_runs_s": fixtures, "first_op_after_s": first_op_s,
            "warmup_s": warmup_s, "warmup_cpu_s": round_time(0, "cpu_s"),
            "warmup_steal_s": round_time(0, "steal_s"),
            "measure_s": measure_s, "verify_s": verify_s,
            "round_s": round_s, "round_cpu_s": round_cpu, "round_steal_s": round_steal,
            "round_traced_s": round_traced,
            "py_peak_rss_mb": py_rss, "jvm_peak_rss_mb": jvm_rss,
            "jvm_retained_mb": jvm_retained,
            "kind_p50_s": {k: median(v) for k, v in by_kind.items()},
            "kind_cpu_p50_s": {k: median(v) for k, v in cpu_by_kind.items()},
            "geomean_s": geomean([median(v) for v in by_kind.values()]),
            "p50_s": median(lat), "p90_s": p90(lat), "n_samples": len(lat),
            "rows_per_s": wl.rows_per_s(measured),
            "failures": ctx.failures[:20], "ops": ctx.ops,
            "layers": {k: v[0] for k, v in layers.items()},
        }
        print(json.dumps(verbose, default=str))
        metrics = layers if args.trace else e2e
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if prep is not None:
            prep.join()
        if ctx is not None and ctx.spark is not None:
            ctx.spark.stop()
            from pyspark import SparkContext

            # the JVM exits when its stdin closes; wait for it
            proc = getattr(SparkContext._gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
