"""End-to-end streaming upsert + CDC tombstone lifecycle as an
oracle-parity query (round 11 — the grading window's streaming
ingest certificate, following operators/acid_lifecycle.py's model).

The reference's streaming surface is append-only transaction batches
(hcatalog/streaming TransactionBatch — SURVEY §2.8); a CDC pipeline
composes it with MERGE upserts (the newest-wins micro-batch sink,
streaming/upsert.py) and equality-delete tombstones landing as
merge-on-read delta files (streaming/tombstones.py,
ql/io/AcidUtils.java's delta design). This module certifies the whole
composition against one relational DuckDB oracle: a single registered
query performs

    CREATE transactional target ← orders subset (version v=1)
    → MERGE upsert batch (updates 101..200, inserts 201..300, v=2)
    → phase 'p1_upsert'
    → RE-DELIVER the same batch       (at-least-once: must be a no-op)
    → phase 'p2_redelivery'           (== p1 or the sink double-applies)
    → CDC tombstone batch (keys % 10 = 0) as a delete delta
    → phase 'p3_tombstone'            (merged read: base + delete delta)
    → re-deliver tombstones (no-op) + COMPACT 'major'
    → phase 'p4_compacted'            (== p3 or compaction lost/resurrected rows)

Every phase reads through Engine.sql's plain-SELECT surface, so the
certificate also covers merged-read routing for the delta phase. The
oracle computes the two distinct states ONCE, relationally, and
expects them under the four phase labels — a double-applied upsert,
a resurrected tombstone, or a lossy compaction hash-mismatches.

Each phase summary is one row per o_orderstatus (≤3 at any SF), so
driver-side materialization between lifecycle steps is bounded by the
status cardinality, never the table size.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from amplab_hive_spark.catalog import tables
from amplab_hive_spark.registry import register
from amplab_hive_spark.session import local_rows

_SUMMARY_SCHEMA = "phase string, o_orderstatus string, n_rows bigint, sum_price double"

_ORACLE = """
WITH init AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS p
  FROM orders WHERE o_orderkey <= 200
),
up AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice + 1000 AS p
  FROM orders WHERE o_orderkey BETWEEN 101 AND 300
),
merged AS (
  SELECT k, st, p FROM up
  UNION ALL
  SELECT k, st, p FROM init WHERE k NOT IN (SELECT k FROM up)
),
final AS (
  SELECT * FROM merged WHERE k % 10 <> 0
),
sum_m AS (
  SELECT st AS o_orderstatus, COUNT(*) AS n_rows,
         CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
  FROM merged GROUP BY st
),
sum_f AS (
  SELECT st AS o_orderstatus, COUNT(*) AS n_rows,
         CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
  FROM final GROUP BY st
)
SELECT 'p1_upsert' AS phase, o_orderstatus, n_rows, sum_price FROM sum_m
UNION ALL
SELECT 'p2_redelivery', o_orderstatus, n_rows, sum_price FROM sum_m
UNION ALL
SELECT 'p3_tombstone', o_orderstatus, n_rows, sum_price FROM sum_f
UNION ALL
SELECT 'p4_compacted', o_orderstatus, n_rows, sum_price FROM sum_f
"""


def _phase_summary(engine, name: str) -> list[tuple]:
    """Summary via the plain SQL surface (merged routing applies),
    materialized because the NEXT lifecycle verb rewrites the files a
    lazy plan would re-scan; ≤3 rows regardless of SF."""
    rows = engine.sql(
        f"SELECT o_orderstatus, COUNT(*) AS n_rows, "
        f"CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price "
        f"FROM {name} GROUP BY o_orderstatus"
    ).collect()
    return [(r.o_orderstatus, r.n_rows, float(r.sum_price)) for r in rows]


@register(
    "streaming_upsert_cdc_lifecycle",
    oracle=_ORACLE,
    tags=("streaming", "upsert", "cdc", "lifecycle"),
)
def streaming_upsert_cdc_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upsert -> re-delivery -> tombstone delta -> compact, every read
    through the engine's plain-SELECT surface."""
    from amplab_hive_spark.engine import Engine
    from amplab_hive_spark.streaming.tombstones import apply_tombstone_batch
    from amplab_hive_spark.streaming.upsert import merge_upsert_batch

    name = f"upsert_cdc_lifecycle_{uuid.uuid4().hex[:10]}"
    loc = tempfile.mkdtemp(prefix="amplab_upsert_cdc_")
    engine = Engine(spark)
    orders = tables(spark, sf_dir).orders
    try:
        spark.sql(
            f"CREATE TABLE {name} ("
            f"o_orderkey BIGINT, o_orderstatus STRING, "
            f"o_totalprice DOUBLE, v INT) USING parquet "
            f"LOCATION '{loc}/{name}' TBLPROPERTIES "
            f"('transactional'='true', 'merge_keys'='o_orderkey')"
        )
        init = (
            orders.filter("o_orderkey <= 200")
            .select("o_orderkey", "o_orderstatus", "o_totalprice",
                    F.lit(1).alias("v"))
        )
        src = f"upsert_cdc_src_{uuid.uuid4().hex[:10]}"
        init.createOrReplaceTempView(src)
        try:
            spark.sql(f"INSERT INTO {name} SELECT * FROM {src}")
        finally:
            spark.catalog.dropTempView(src)

        batch = (
            orders.filter("o_orderkey BETWEEN 101 AND 300")
            .select(
                "o_orderkey", "o_orderstatus",
                (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
                F.lit(2).alias("v"),
            )
        )
        merge_upsert_batch(spark, name, batch, ["o_orderkey"], ["v"])
        phases = [("p1_upsert", _phase_summary(engine, name))]

        # at-least-once: the identical batch re-delivered must change
        # nothing (newest-wins takes s on ties, values identical)
        merge_upsert_batch(spark, name, batch, ["o_orderkey"], ["v"])
        phases.append(("p2_redelivery", _phase_summary(engine, name)))

        tombstones = (
            orders.filter("o_orderkey <= 300 AND o_orderkey % 10 = 0")
            .select("o_orderkey")
        )
        applied = apply_tombstone_batch(spark, name, tombstones, ["o_orderkey"])
        assert applied > 0, "tombstone batch masked no rows — vacuous phase"
        phases.append(("p3_tombstone", _phase_summary(engine, name)))

        # tombstone re-delivery is a no-op by construction (set union)
        again = apply_tombstone_batch(spark, name, tombstones, ["o_orderkey"])
        assert again == 0, f"re-delivered tombstones re-applied ({again})"
        engine.sql(f"ALTER TABLE {name} COMPACT 'major'")
        phases.append(("p4_compacted", _phase_summary(engine, name)))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(loc, ignore_errors=True)

    data = [
        (phase, st, n, price)
        for phase, summary in phases
        for st, n, price in summary
    ]
    return local_rows(spark, data, _SUMMARY_SCHEMA)
