"""End-to-end ACID merge-on-read lifecycle as an oracle-parity query.

The reference's contract is that EVERY SQL reader of a transactional
table sees merged rows at every point of the table's lifecycle —
AcidUtils.getAcidState picks the live base + deltas and
OrcRawRecordMerger folds them inside the input format
(ql/io/AcidUtils.java, ql/io/orc/OrcRawRecordMerger.java), and the
compactor (ql/txn/compactor/CompactorMR.java) changes the FILE layout
without ever changing the visible rows. This module certifies that
end-to-end against the DuckDB oracle: one registered query performs

    CREATE transactional table ← lineitem subset
    → UPDATE (delta write)  → DELETE (delete-delta write)
    → SELECT            (phase 'pre_compact': base + live deltas)
    → COMPACT 'minor'   → SELECT  (phase 'post_minor': txnc ranges)
    → COMPACT 'major'   → SELECT  (phase 'post_major': base only)

and returns the three per-phase summaries stacked. The oracle computes
the merged state ONCE, relationally (CASE for the update, a filter for
the delete), and expects the identical summary under all three phase
labels — any phase where a reader sees stale/unmerged/lost rows
hash-mismatches.

Each phase summary is one row per l_returnflag (3 at any SF), so the
driver-side materialization between lifecycle steps is bounded by the
group count, never the table size — the compactor deletes the delta
files the previous phase's lazy plan would re-scan, so each phase is
pinned before the next verb runs.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from amplab_hive_spark.catalog import tables
from amplab_hive_spark.registry import register
from amplab_hive_spark.session import local_rows

_SUMMARY_SCHEMA = "phase string, l_returnflag string, n_rows bigint, sum_qty double"

_ORACLE = """
WITH base AS (
  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
  FROM lineitem
  WHERE l_orderkey <= 100
),
merged AS (
  SELECT l_returnflag,
         CASE WHEN l_returnflag = 'R' THEN l_quantity + 100
              ELSE l_quantity END AS q
  FROM base
  WHERE l_linenumber <> 7
),
summary AS (
  SELECT l_returnflag,
         COUNT(*) AS n_rows,
         SUM(q)   AS sum_qty
  FROM merged
  GROUP BY l_returnflag
)
SELECT p.phase, s.l_returnflag, s.n_rows, s.sum_qty
FROM summary s
CROSS JOIN (VALUES ('pre_compact'), ('post_minor'), ('post_major')) AS p(phase)
"""


def _phase_summary(engine, name: str) -> list[tuple]:
    """Merged read via the SQL surface, pinned as plain tuples.

    Materialized per phase because the NEXT lifecycle verb (compaction)
    rewrites/deletes the very delta files this phase's lazy plan scans;
    the result is one row per l_returnflag, bounded by the flag
    cardinality (3), independent of SF.
    """
    rows = engine.sql(
        f"SELECT l_returnflag, COUNT(*) AS n_rows, SUM(l_quantity) AS sum_qty "
        f"FROM {name} GROUP BY l_returnflag"
    ).collect()
    return [(r.l_returnflag, r.n_rows, float(r.sum_qty)) for r in rows]


@register("acid_mor_lifecycle", oracle=_ORACLE, tags=("acid", "mor", "lifecycle"))
def acid_mor_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """write -> read -> minor compact -> read -> major compact -> read,
    every read through the engine's plain-SELECT surface."""
    from amplab_hive_spark.engine import Engine

    name = f"mor_lifecycle_{uuid.uuid4().hex[:10]}"
    loc = tempfile.mkdtemp(prefix="amplab_mor_lifecycle_")
    engine = Engine(spark)
    try:
        spark.sql(
            f"CREATE TABLE {name} ("
            f"l_orderkey BIGINT, l_linenumber INT, "
            f"l_quantity DOUBLE, l_returnflag STRING) USING parquet "
            f"LOCATION '{loc}/{name}' TBLPROPERTIES "
            f"('transactional'='true', 'merge_keys'='l_orderkey,l_linenumber')"
        )
        src = f"mor_lifecycle_src_{uuid.uuid4().hex[:10]}"
        (
            tables(spark, sf_dir).lineitem
            .filter("l_orderkey <= 100")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
            .createOrReplaceTempView(src)
        )
        try:
            spark.sql(f"INSERT INTO {name} SELECT * FROM {src}")
        finally:
            spark.catalog.dropTempView(src)

        engine.sql(
            f"UPDATE {name} SET l_quantity = l_quantity + 100 "
            f"WHERE l_returnflag = 'R'"
        )
        engine.sql(f"DELETE FROM {name} WHERE l_linenumber = 7")
        phases = [("pre_compact", _phase_summary(engine, name))]

        engine.sql(f"ALTER TABLE {name} COMPACT 'minor'")
        phases.append(("post_minor", _phase_summary(engine, name)))

        engine.sql(f"ALTER TABLE {name} COMPACT 'major'")
        phases.append(("post_major", _phase_summary(engine, name)))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(loc, ignore_errors=True)

    data = [
        (phase, flag, n, qty)
        for phase, summary in phases
        for flag, n, qty in summary
    ]
    return local_rows(spark, data, _SUMMARY_SCHEMA)
