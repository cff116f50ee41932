"""Per-layer metrics of a traced run, from its op records and spans.

Every workload reports every name, so a layer a workload bypasses
reads 0 there. Times are the median over traced rounds; counts come
from the first traced round, which makes them repeat exactly for a
given seed however many rounds fit in the run.
"""

from __future__ import annotations

import statistics

WRITES = ("update", "delete", "upsert")
READS = ("agg_read", "point_read")
COMPACTS = ("compact_minor", "compact_major")

UNITS = {
    "build.s": "s", "build.py4j": "count", "plan.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B", "fetch.s": "s", "fetch.rows": "count",
    "engine.sql_s": "s", "engine.py4j": "count", "engine.preparse_s": "s",
    "acid.write_jobs": "count", "acid.write_py4j": "count",
    "acid.delta_files": "count", "acid.bytes_written_per_row_changed": "B/row",
    "acid.read_live_deltas": "count", "acid.read_jobs": "count",
    "acid.read_py4j": "count", "acid.compact_s": "s",
    "acid.compact_bytes_rewritten": "B", "acid.compact_deltas_folded": "count",
    "acid.space_amp": "ratio", "service.self_s": "s", "service.pages": "count",
    "service.bytes_out": "B",
}


def self_times(spans) -> dict[str, float]:
    """Seconds per span name, less the part of each span that its child
    spans cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def _span_sum(spans, name, key=None, top_only=False):
    total = 0
    for s in spans:
        if s["name"] != name or (top_only and s["parent"] is not None):
            continue
        total += s.get(key, 0) if key else s["end"] - s["start"]
    return total


def round_layers(ops, spans) -> dict[str, float]:
    """Layer figures of one round, given its op records and spans."""
    def ops_of(kinds):
        return [r for r in ops if r["kind"] in kinds]

    def total(rs, key):
        return sum(r.get(key, 0) for r in rs)

    writes, reads, compacts = ops_of(WRITES), ops_of(READS), ops_of(COMPACTS)
    exec_s = _span_sum(spans, "exec")
    # per query, collect minus the noop run; clipped at 0 because the
    # noop sink's own commit can outweigh the transfer of a tiny result
    by_op: dict = {}
    for s in spans:
        if s["name"] in ("collect", "exec"):
            sign = 1 if s["name"] == "collect" else -1
            by_op[s["op"]] = by_op.get(s["op"], 0.0) + sign * (s["end"] - s["start"])
    collect_fetch = sum(max(0.0, v) for v in by_op.values())
    engine_s = _span_sum(spans, "engine.sql", top_only=True)
    svc_fetch_s = _span_sum(spans, "svc.fetch", top_only=True)
    changed = total(writes, "changed")
    on_service = [r for r in ops if "bytes_out" in r]
    m = {
        "build.s": _span_sum(spans, "build"),
        "build.py4j": _span_sum(spans, "build", "py4j"),
        "plan.s": _span_sum(spans, "plan"),
        "exec.s": exec_s,
        "exec.jobs": total(ops, "jobs") + total(ops, "build_jobs"),
        "exec.stages": total(ops, "stages"),
        "exec.tasks": total(ops, "tasks"),
        "exec.shuffle_write_bytes": total(ops, "shuffle_write_bytes"),
        "exec.spill_bytes": total(ops, "spill_bytes"),
        "fetch.s": collect_fetch + svc_fetch_s,
        "fetch.rows": total(ops, "rows"),
        "engine.sql_s": self_times(spans).get("engine.sql", 0.0),
        "engine.py4j": _span_sum(spans, "engine.sql", "py4j", top_only=True),
        "engine.preparse_s": total(ops, "preparse_s"),
        "acid.write_jobs": total(writes, "jobs"),
        "acid.write_py4j": total(writes, "py4j"),
        "acid.delta_files": max([r.get("delta_files", 0) for r in ops] or [0]),
        "acid.bytes_written_per_row_changed":
            total(writes, "bytes_written") / changed if changed else 0.0,
        "acid.read_live_deltas": max([r.get("live_deltas", 0) for r in reads] or [0]),
        "acid.read_jobs": total(reads, "jobs"),
        "acid.read_py4j": total(reads, "py4j"),
        "acid.compact_s": sum(r["s"] for r in compacts),
        "acid.compact_bytes_rewritten": total(compacts, "bytes_written"),
        "acid.compact_deltas_folded": total(compacts, "folded"),
        "acid.space_amp": max([r.get("space_amp", 0.0) for r in ops] or [0.0]),
        "service.self_s": (sum(r["s"] for r in on_service) - engine_s - svc_fetch_s)
        if on_service else 0.0,
        "service.pages": total(ops, "pages"),
        "service.bytes_out": total(ops, "bytes_out"),
    }
    return m


def compute(ctx) -> dict[str, tuple[float, str]]:
    traced = sorted({r["round"] for r in ctx.ops if r["traced"]})
    per_round = []
    for rnd in traced:
        ids = {i for i, r in enumerate(ctx.ops) if r["round"] == rnd}
        ops = [ctx.ops[i] for i in sorted(ids)]
        spans = [s for s in ctx.tracer.spans if s["op"] in ids]
        per_round.append(round_layers(ops, spans))
    out = {}
    for name, unit in UNITS.items():
        vals = [m[name] for m in per_round]
        if unit == "s":
            out[name] = (statistics.median(vals) if vals else 0.0, unit)
        else:
            out[name] = (vals[0] if vals else 0, unit)
    return out
