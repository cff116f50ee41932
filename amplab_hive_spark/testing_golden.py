"""Golden-file .q harness — the reference's primary test strategy
(SURVEY §5.1: QTestUtil runs clientpositive/*.q, diffs stdout
against checked-in .q.out goldens through SortPrintStream).

Faithful mechanics, Spark-first engine:
- a .q file holds one or more ``;``-separated statements
  (``sqltext.split_statements``, shared with the CLI), run in
  order through ``Engine.sql`` (so CREATE TEMPORARY MACRO etc.
  compose);
- the LAST statement's result is rendered Hive-style — tab-separated
  columns, ``NULL`` for null, timestamps as
  ``yyyy-MM-dd HH:mm:ss`` — then row-sorted (QTestUtil's
  SortPrintStream normalization, QTestUtil.java:801) so the golden
  is partitioning- and parallelism-independent;
- the rendered text is diffed against ``<name>.q.out``.

Goldens are generated by the engine itself and reviewed at
check-in, exactly like the reference's were (regenerate:
``python -m amplab_hive_spark.testing_golden tests/golden``). The
cross-engine correctness burden stays with the DuckDB-oracle gate;
goldens catch *regressions* — plan changes that silently alter
results, formatting drift, nondeterminism.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from decimal import Decimal

from pyspark.sql import DataFrame

from amplab_hive_spark.sqltext import split_statements


def render_value(v) -> str:
    """Hive CLI rendering (SURVEY §7.3 #6: normalize in the
    harness, not the engine)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):  # int(inf) raises; non-ANSI x/0.0 yields these
            return "Infinity" if v > 0 else "-Infinity"
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.1f}"  # Hive prints 4.0, not 4
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{render_value(k)}:{render_value(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def render_result(df: DataFrame) -> str:
    header = "\t".join(df.columns)
    rows = sorted("\t".join(render_value(v) for v in row) for row in df.collect())
    return "\n".join([header, *rows]) + "\n"


def run_q_file(engine, path: str) -> str:
    with open(path) as f:
        statements = split_statements(f.read())
    result = None
    for stmt in statements:
        result = engine.sql(stmt)
    assert result is not None, f"{path}: no statements"
    return render_result(result)


def regenerate(golden_dir: str, sf_dir: str) -> None:
    from amplab_hive_spark.engine import Engine
    from amplab_hive_spark.session import get_spark

    engine = Engine(get_spark("golden-regen"), sf_dir=sf_dir)
    for name in sorted(os.listdir(golden_dir)):
        if not name.endswith(".q"):
            continue
        out = run_q_file(engine, os.path.join(golden_dir, name))
        with open(os.path.join(golden_dir, name + ".out"), "w") as f:
            f.write(out)
        print(f"regenerated {name}.out ({out.count(chr(10)) - 1} rows)")


if __name__ == "__main__":
    import sys

    regenerate(
        sys.argv[1] if len(sys.argv) > 1 else "tests/golden",
        sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01",
    )
