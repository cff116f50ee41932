"""Tests of the benchmark itself: seeded inputs, probes, layer sums,
and that traced counts repeat exactly for a seed.

    python3 -m pytest perfbench/tests -q

The last two tests run the benchmark four times (about five minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import mor_service  # noqa: E402
import probe  # noqa: E402

ROWS = {"orders": 15000, "customer": 1500, "part": 2000}


def test_datagen_is_a_function_of_the_seed():
    a, b, c = datagen.tables(5, 0.001), datagen.tables(5, 0.001), datagen.tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_datagen_lineitem_keys_are_unique():
    li = datagen.tables(3, 0.002)["lineitem"].to_pylist()
    keys = {(r["l_orderkey"], r["l_linenumber"]) for r in li}
    assert len(keys) == len(li)
    assert {r["l_linenumber"] for r in li} <= set(range(1, 8))


def test_statement_list_is_a_function_of_seed_and_round():
    assert mor_service.plan_round(1, 2, ROWS) == mor_service.plan_round(1, 2, ROWS)
    assert mor_service.plan_round(1, 2, ROWS) != mor_service.plan_round(2, 2, ROWS)
    assert mor_service.plan_round(1, 2, ROWS) != mor_service.plan_round(1, 3, ROWS)


def test_every_cycle_has_the_same_statement_mix():
    def mix(seed, rnd):
        return sorted(kind for kind, _sql, _arg in mor_service.plan_round(seed, rnd, ROWS))

    assert mix(1, 1) == mix(9, 4)
    kinds = mix(1, 1)
    lookups = sum(k in ("lookup", "range", "var_lookup") for k in kinds)
    other_short = sum(k in ("small_agg", "set_var") for k in kinds)
    assert lookups / (lookups + other_short) >= 0.8


def test_self_time_subtracts_children():
    tr = probe.Tracer()
    with tr.op(0), tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.03)
    own = layers.self_times(tr.spans)
    assert 0.015 < own["outer"] < 0.03
    assert own["inner"] >= 0.03
    assert tr.spans[1]["parent"] == tr.spans[0]["id"]


def test_tree_cpu_counts_running_and_reaped_children():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"
    me = os.getpid()
    c0 = probe.tree_cpu_s(me)
    child = subprocess.Popen([sys.executable, "-c", burn + "time.sleep(30)"])
    try:
        deadline = time.time() + 20
        while probe.tree_cpu_s(me) - c0 < 0.25 and time.time() < deadline:
            time.sleep(0.05)
        assert probe.tree_cpu_s(me) - c0 >= 0.25  # counted while it runs
    finally:
        child.kill()
        child.wait()
    c1 = probe.tree_cpu_s(me)
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert probe.tree_cpu_s(me) - c1 >= 0.25  # and once reaped


def test_round_layers_sums_by_layer():
    ops = [
        {"kind": "update", "s": 2.0, "jobs": 5, "py4j": 100, "changed": 10,
         "bytes_written": 500, "delta_files": 2, "bytes_out": 40},
        {"kind": "agg_read", "s": 1.0, "jobs": 2, "py4j": 30, "live_deltas": 3,
         "space_amp": 1.2, "rows": 6, "bytes_out": 300},
    ]
    spans = [
        {"id": 0, "name": "engine.sql", "parent": None, "start": 0.0, "end": 1.5,
         "py4j": 90, "op": 0},
        {"id": 1, "name": "acid.update_mor", "parent": 0, "start": 0.5, "end": 1.0, "op": 0},
        {"id": 2, "name": "svc.fetch", "parent": None, "start": 2.0, "end": 2.25, "op": 1},
    ]
    m = layers.round_layers(ops, spans)
    assert set(m) == set(layers.UNITS)
    assert m["exec.jobs"] == 7 and m["acid.write_jobs"] == 5 and m["acid.read_jobs"] == 2
    assert m["acid.bytes_written_per_row_changed"] == 50
    assert m["service.self_s"] == pytest.approx(3.0 - 1.5 - 0.25)
    assert m["engine.py4j"] == 90 and m["fetch.rows"] == 6
    assert m["engine.sql_s"] == pytest.approx(1.0)


def _traced_run(workload, seed):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) >= set(layers.UNITS)
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload,used", [
    ("olap_read", ("build.py4j", "exec.jobs", "exec.tasks", "fetch.rows")),
    ("mor_service", ("exec.jobs", "acid.delta_files", "acid.write_jobs",
                     "acid.compact_deltas_folded", "service.pages")),
])
def test_traced_counts_repeat_for_a_seed(workload, used):
    a, b = _traced_run(workload, 21), _traced_run(workload, 21)
    counts = [k for k, unit in layers.UNITS.items() if unit == "count"]
    assert {k: a[k] for k in counts} == {k: b[k] for k in counts}
    assert all(a[k] > 0 for k in used)
