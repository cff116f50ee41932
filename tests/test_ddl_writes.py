"""Write-path tests: CTAS, partitioned/bucketed tables, SMB join
without shuffle, multi-insert, MSCK, ANALYZE+CBO, copy-on-write
UPDATE/DELETE, TRANSFORM. Mirrors the reference's write-side q-tests
(dynamic partitions, bucketed tables — SURVEY §5.1).
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from amplab_hive_spark import ddl
from amplab_hive_spark.catalog import tables


@pytest.fixture(scope="module")
def wh(spark):
    d = tempfile.mkdtemp(prefix="warehouse_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
    for t in (
        "nation_ctas", "orders_part", "cust_bkt", "ord_bkt", "seg1", "seg2",
        "upd_tbl", "nation_merge", "nation_merge_app", "nation_merge_card",
        "region_merge", "nation_merge_insonly", "dim_scd2", "dim_scd2_nk",
        "compact_tgt", "compact_flat",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ctas_and_insert(spark, sf_dir, wh):
    t = tables(spark, sf_dir)
    ddl.create_table_as(spark, "nation_ctas", t.nation, f"{wh}/nation_ctas")
    assert spark.table("nation_ctas").count() == 25
    ddl.insert_into(spark, "nation_ctas", t.nation)
    assert spark.table("nation_ctas").count() == 50
    ddl.insert_into(spark, "nation_ctas", t.nation, overwrite=True)
    assert spark.table("nation_ctas").count() == 25


def test_dynamic_partition_write_and_pruning(spark, sf_dir, wh):
    t = tables(spark, sf_dir)
    src = t.orders.withColumn("o_year", F.year("o_orderdate"))
    ddl.create_table_as(spark, "orders_part", src, f"{wh}/orders_part", partition_by=["o_year"])
    got = spark.table("orders_part").filter("o_year = 1995")
    expected = src.filter("o_year = 1995").count()
    assert got.count() == expected
    # partition pruning: the scan must read only the o_year=1995 dir
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_year" in plan


def test_bucketed_smb_join_no_shuffle(spark, sf_dir, wh):
    """Bucket-map/SMB join (reference: SMBMapJoinOperator.java:57):
    two tables bucketed+sorted on the join key join WITHOUT any
    Exchange in the plan."""
    t = tables(spark, sf_dir)
    ddl.create_table_as(
        spark, "cust_bkt", t.customer, f"{wh}/cust_bkt",
        bucket_by=(8, ["c_custkey"]), sort_by=["c_custkey"],
    )
    ddl.create_table_as(
        spark, "ord_bkt", t.orders, f"{wh}/ord_bkt",
        bucket_by=(8, ["o_custkey"]), sort_by=["o_custkey"],
    )
    joined = spark.table("ord_bkt").join(
        spark.table("cust_bkt"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).groupBy("c_mktsegment").count()
    # force SMJ over broadcast to exercise the bucket path
    with_smj = spark.table("ord_bkt").hint("merge").join(
        spark.table("cust_bkt").hint("merge"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    plan = with_smj._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, f"bucketed SMB join must not shuffle:\n{plan}"
    # correctness vs direct join
    direct = t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey")).count()
    assert with_smj.count() == direct
    assert joined.count() == 5


def test_multi_insert(spark, sf_dir, wh):
    t = tables(spark, sf_dir)
    empty = t.customer.filter("1=0")
    ddl.create_table_as(spark, "seg1", empty, f"{wh}/seg1")
    ddl.create_table_as(spark, "seg2", empty, f"{wh}/seg2")
    ddl.multi_insert(
        spark,
        t.customer,
        [
            (lambda df: df.filter("c_mktsegment = 'BUILDING'"), "seg1"),
            (lambda df: df.filter("c_acctbal > 9000"), "seg2"),
        ],
    )
    assert spark.table("seg1").count() == t.customer.filter("c_mktsegment = 'BUILDING'").count()
    assert spark.table("seg2").count() == t.customer.filter("c_acctbal > 9000").count()


def test_analyze_feeds_cbo(spark, sf_dir, wh):
    ddl.analyze(spark, "nation_ctas", columns=["n_nationkey", "n_name"])
    stats = spark.sql("DESCRIBE EXTENDED nation_ctas n_nationkey").collect()
    info = {r["info_name"]: r["info_value"] for r in stats}
    assert info.get("distinct_count") not in (None, "NULL")


def test_update_delete_copy_on_write(spark, sf_dir, wh):
    t = tables(spark, sf_dir)
    ddl.create_table_as(spark, "upd_tbl", t.nation, f"{wh}/upd_tbl")
    n = ddl.update_table(
        spark, "upd_tbl", "n_regionkey = 0", {"n_name": "upper(concat(n_name, '!'))"}
    )
    assert n == 5
    bang = spark.table("upd_tbl").filter("n_name LIKE '%!'").count()
    assert bang == 5
    assert spark.table("upd_tbl").count() == 25
    d = ddl.delete_from(spark, "upd_tbl", "n_regionkey = 0")
    assert d == 5
    assert spark.table("upd_tbl").count() == 20
    assert spark.table("upd_tbl").filter("n_regionkey = 0").count() == 0


def test_transform_rows(spark, sf_dir):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    t = tables(spark, sf_dir)

    def script(batches):
        for pdf in batches:
            out = pdf[["n_nationkey"]].copy()
            out["shout"] = pdf["n_name"].str.upper() + "!"
            yield out

    schema = StructType(
        [StructField("n_nationkey", LongType()), StructField("shout", StringType())]
    )
    out = ddl.transform_rows(t.nation, script, schema).collect()
    assert len(out) == 25
    assert all(r["shout"].endswith("!") and r["shout"].isupper() for r in out)


def _partition_files(root: str) -> dict[str, set[tuple[str, float]]]:
    """partition dir -> {(filename, mtime)} for every data file."""
    import os

    out: dict[str, set[tuple[str, float]]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            rel = os.path.relpath(dirpath, root)
            out.setdefault(rel, set()).add(
                (f, os.path.getmtime(os.path.join(dirpath, f)))
            )
    return out


def test_partition_scoped_update_delete(spark, sf_dir, wh):
    """UPDATE/DELETE on a partitioned table must rewrite ONLY the
    partitions the condition touches (round-2 verdict task 6 —
    Hive's UpdateDeleteSemanticAnalyzer rewrites row-level ops into
    partition-scoped insert-overwrite; here it's dynamic partition
    overwrite). Untouched partitions' files stay byte-for-byte (same
    name, same mtime); a fully-emptied partition is dropped."""
    t = tables(spark, sf_dir)
    path = f"{wh}/nation_part"
    ddl.create_table_as(
        spark, "nation_part", t.nation, path, partition_by=["n_regionkey"]
    )
    before = _partition_files(path)
    untouched = {k: v for k, v in before.items() if "n_regionkey=0" not in k}
    assert len(untouched) >= 4

    n = ddl.update_table(
        spark, "nation_part", "n_regionkey = 0", {"n_name": "concat(n_name, '!')"}
    )
    assert n == 5
    after_update = _partition_files(path)
    for part, files in untouched.items():
        assert after_update[part] == files, f"untouched partition {part} rewritten"
    assert spark.table("nation_part").filter("n_name LIKE '%!'").count() == 5
    assert spark.table("nation_part").count() == 25

    # Delete PART of partition 1: partition 1 rewritten, others intact.
    expected = t.nation.filter("n_regionkey = 1 AND n_nationkey < 10").count()
    assert 1 <= expected < 5
    before_del = _partition_files(path)
    d = ddl.delete_from(spark, "nation_part", "n_regionkey = 1 AND n_nationkey < 10")
    assert d == expected
    after_del = _partition_files(path)
    for part, files in before_del.items():
        if "n_regionkey=1" not in part:
            assert after_del[part] == files, f"untouched partition {part} rewritten"
    assert spark.table("nation_part").filter("n_regionkey = 1").count() == 5 - d

    # Delete ALL of partition 0: the partition disappears entirely.
    d0 = ddl.delete_from(spark, "nation_part", "n_regionkey = 0")
    assert d0 == 5
    assert spark.table("nation_part").filter("n_regionkey = 0").count() == 0
    assert spark.table("nation_part").count() == 20 - d

    # No-match condition: zero partitions touched, zero rows matched.
    before_noop = _partition_files(path)
    assert ddl.delete_from(spark, "nation_part", "n_regionkey = 99") == 0
    assert _partition_files(path) == before_noop
    spark.sql("DROP TABLE IF EXISTS nation_part")


def test_update_rejects_partition_column_assignment(spark, sf_dir, wh):
    """UPDATE must refuse to reassign a partition column (Hive
    UPDATE_CANNOT_UPDATE_PART_VALUE): under dynamic overwrite the
    moved rows' source partition would keep its stale files, silently
    duplicating data."""
    t = tables(spark, sf_dir)
    ddl.create_table_as(
        spark, "nation_part_guard", t.nation, f"{wh}/nation_part_guard",
        partition_by=["n_regionkey"],
    )
    with pytest.raises(ValueError, match="partition column"):
        ddl.update_table(
            spark, "nation_part_guard", "n_regionkey = 0", {"n_regionkey": "1"}
        )
    # table untouched by the rejected statement
    assert spark.table("nation_part_guard").filter("n_regionkey = 0").count() == 5
    spark.sql("DROP TABLE IF EXISTS nation_part_guard")


def test_delete_drops_emptied_date_partition(spark, sf_dir, wh):
    """DROP PARTITION literal rendering must survive DATE partition
    values (the day-partitioned case the docstring advertises)."""
    t = tables(spark, sf_dir)
    src = t.orders.withColumn("o_day", F.to_date("o_orderdate")).filter(
        "o_orderkey < 400"
    )
    ddl.create_table_as(
        spark, "orders_by_day", src, f"{wh}/orders_by_day", partition_by=["o_day"]
    )
    days = sorted(r["o_day"] for r in spark.table("orders_by_day").select("o_day").distinct().collect())
    victim = days[0]
    before_total = spark.table("orders_by_day").count()
    victim_rows = spark.table("orders_by_day").filter(F.col("o_day") == victim).count()
    d = ddl.delete_from(spark, "orders_by_day", f"o_day = DATE '{victim}'")
    assert d == victim_rows
    assert spark.table("orders_by_day").count() == before_total - victim_rows
    assert spark.table("orders_by_day").filter(F.col("o_day") == victim).count() == 0
    spark.sql("DROP TABLE IF EXISTS orders_by_day")


def test_partition_scoped_delete_many_partitions_join_path(spark, sf_dir, wh):
    """When the condition touches more partitions than the OR-tree
    limit, membership switches to a broadcast semi-join — results
    must be identical."""
    from amplab_hive_spark import ddl as ddlmod

    t = tables(spark, sf_dir)
    src = t.orders.withColumn("o_bucket", F.col("o_orderkey") % 100).filter(
        "o_orderkey < 3000"
    )
    ddl.create_table_as(
        spark, "orders_bucketed_part", src, f"{wh}/orders_bucketed_part",
        partition_by=["o_bucket"],
    )
    expected = spark.table("orders_bucketed_part").filter("o_totalprice > 250000").count()
    total = spark.table("orders_bucketed_part").count()
    assert ddlmod._MEMBERSHIP_OR_LIMIT < 100  # condition touches ~100 partitions
    d = ddl.delete_from(spark, "orders_bucketed_part", "o_totalprice > 250000")
    assert d == expected
    assert spark.table("orders_bucketed_part").count() == total - expected
    assert spark.table("orders_bucketed_part").filter("o_totalprice > 250000").count() == 0
    spark.sql("DROP TABLE IF EXISTS orders_bucketed_part")


def test_update_unknown_and_case_insensitive_targets(spark, sf_dir, wh):
    """SET targets resolve case-insensitively (Spark identifier
    semantics); unknown columns raise (Hive INVALID_TARGET_COLUMN)
    instead of silently no-opping while reporting rows matched; and a
    case-mismatched partition column still trips the partition
    guard."""
    t = tables(spark, sf_dir)
    ddl.create_table_as(
        spark, "upd_case_tbl", t.nation, f"{wh}/upd_case_tbl",
        partition_by=["n_regionkey"],
    )
    try:
        with pytest.raises(ValueError, match="not in table"):
            ddl.update_table(spark, "upd_case_tbl", "n_nationkey = 1",
                             {"n_naem": "'typo'"})
        with pytest.raises(ValueError, match="partition column"):
            ddl.update_table(spark, "upd_case_tbl", "n_nationkey = 1",
                             {"N_REGIONKEY": "0"})
        n = ddl.update_table(spark, "upd_case_tbl", "n_nationkey = 1",
                             {"N_NAME": "'CASED'"})
        assert n == 1
        assert spark.table("upd_case_tbl").filter("n_name = 'CASED'").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS upd_case_tbl")


def test_delete_null_partition_fails_before_any_mutation(spark, wh):
    """Emptying the NULL partition must fail the whole statement UP
    FRONT (the spec is unrenderable) — not after the survivors'
    overwrite committed, which would half-apply the delete."""
    src = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, None), (5, "b")],
        ["id", "part"],
    )
    ddl.create_table_as(spark, "null_part_tbl", src, f"{wh}/null_part_tbl",
                        partition_by=["part"])
    try:
        before = sorted((r["id"], r["part"]) for r in spark.table("null_part_tbl").collect())
        with pytest.raises(ValueError, match="HIVE_DEFAULT_PARTITION"):
            # empties BOTH partition 'a' and the NULL partition
            ddl.delete_from(spark, "null_part_tbl", "part IS NULL OR part = 'a'")
        after = sorted((r["id"], r["part"]) for r in spark.table("null_part_tbl").collect())
        assert after == before, "failed delete must not have mutated the table"
        # a delete that leaves the NULL partition non-empty works fine
        d = ddl.delete_from(spark, "null_part_tbl", "part IS NULL AND id = 3")
        assert d == 1
        assert spark.table("null_part_tbl").filter("part IS NULL").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS null_part_tbl")


def test_drop_partition_literal_escaping():
    from amplab_hive_spark.ddl import _sql_partition_literal

    assert _sql_partition_literal("C:\\temp") == "'C:\\\\temp'"
    assert _sql_partition_literal("it's") == "'it\\'s'"
    assert _sql_partition_literal(True) == "true"
    import datetime
    assert _sql_partition_literal(datetime.date(2024, 1, 5)) == "'2024-01-05'"


def test_update_delete_reject_nondeterministic_condition(spark, sf_dir, wh):
    """Advice r4: the condition is evaluated in two separate scans
    (partition discovery, then the staged rewrite), so rand() could
    flag rows in partitions the discovery pass never selected. The
    obvious offenders are rejected before anything is read or
    written."""
    import pytest

    from amplab_hive_spark.ddl import delete_from, update_table

    spark.sql("DROP TABLE IF EXISTS nd_guard")
    spark.range(10).withColumnRenamed("id", "v").write.saveAsTable("nd_guard")
    try:
        with pytest.raises(ValueError, match="deterministic"):
            update_table(spark, "nd_guard", "rand() < 0.5", {"v": "v + 1"})
        with pytest.raises(ValueError, match="deterministic"):
            delete_from(spark, "nd_guard", "current_timestamp() > timestamp'1970-01-01'")
        # ANSI niladic forms (no parentheses) are the same offenders
        with pytest.raises(ValueError, match="deterministic"):
            delete_from(spark, "nd_guard", "current_timestamp > timestamp'1970-01-01'")
        with pytest.raises(ValueError, match="deterministic"):
            update_table(spark, "nd_guard", "current_date > date'1970-01-01'", {"v": "v"})
        # ...but the words inside a string literal are data, not calls
        from amplab_hive_spark.ddl import _reject_nondeterministic

        _reject_nondeterministic("note = 'ran at current_timestamp, call now() later'", "DELETE")
        # deterministic conditions still pass through untouched
        assert delete_from(spark, "nd_guard", "v >= 8") == 2
        assert spark.table("nd_guard").count() == 8
    finally:
        spark.sql("DROP TABLE IF EXISTS nd_guard")


def test_merge_upsert_partitioned(spark, sf_dir, wh):
    """MERGE with all three clauses on a partitioned target: deletes
    win over updates on matched rows, inserts create a brand-new
    partition via the append path, and partitions with no matched
    rows keep their files byte-identical. In the fixture
    n_regionkey = n_nationkey % 5, so keys 0/5 (update) and 10
    (delete) ALL live in partition 0 — region 0 is the only rewritten
    partition; the source row's rk=2 for the delete is irrelevant
    because scope comes from the TARGET row's partition."""
    t = tables(spark, sf_dir)
    path = f"{wh}/nation_merge"
    ddl.create_table_as(
        spark,
        "nation_merge",
        t.nation.withColumn("note", F.lit("orig")),
        path,
        partition_by=["n_regionkey"],
    )
    try:
        before = _partition_files(path)
        src = spark.createDataFrame(
            [
                (0, "RENAMED_0", 0, "upd"),
                (5, "RENAMED_5", 0, "upd"),
                (10, "IGNORED", 2, "del"),
                (99, "NEWLAND", 9, "ins"),
            ],
            "k INT, new_name STRING, rk INT, action STRING",
        )
        counts = ddl.merge_into(
            spark,
            "nation_merge",
            src,
            on="t.n_nationkey = s.k",
            matched_update={"n_name": "s.new_name"},
            matched_delete="s.action = 'del'",
            not_matched_insert={
                "n_nationkey": "s.k",
                "n_name": "s.new_name",
                "n_regionkey": "s.rk",
            },
        )
        assert counts == {"updated": 2, "deleted": 1, "inserted": 1}
        got = spark.table("nation_merge")
        assert got.count() == 25 - 1 + 1
        assert {
            r.n_name for r in got.filter("n_nationkey IN (0, 5)").collect()
        } == {"RENAMED_0", "RENAMED_5"}
        assert got.filter("n_nationkey = 10").count() == 0
        new = got.filter("n_regionkey = 9").collect()
        assert len(new) == 1 and new[0].n_name == "NEWLAND"
        assert new[0].note is None  # unspecified insert column -> NULL
        assert got.filter("note = 'orig'").count() == 24  # survivors keep theirs
        # every partition except the rewritten region 0: files untouched
        after = _partition_files(path)
        untouched = {k: v for k, v in before.items() if "n_regionkey=0" not in k}
        assert len(untouched) >= 4
        for part, files in untouched.items():
            assert after[part] == files, f"unmatched partition {part} rewritten"
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_merge")


def test_merge_insert_appends_into_unmatched_existing_partition(spark, sf_dir, wh):
    """The trap the append path exists for: an insert lands in an
    EXISTING partition that contained no matched rows. A naive
    dynamic-overwrite of the incoming data would replace that whole
    partition with the single new row; the append path must leave
    the original rows in place."""
    t = tables(spark, sf_dir)
    ddl.create_table_as(
        spark, "nation_merge_app", t.nation, f"{wh}/nation_merge_app",
        partition_by=["n_regionkey"],
    )
    try:
        src = spark.createDataFrame(
            [(0, "RENAMED_0", 0), (100, "EXTRA_IN_3", 3)],
            "k INT, new_name STRING, rk INT",
        )
        counts = ddl.merge_into(
            spark, "nation_merge_app", src, on="t.n_nationkey = s.k",
            matched_update={"n_name": "s.new_name"},
            not_matched_insert={
                "n_nationkey": "s.k", "n_name": "s.new_name", "n_regionkey": "s.rk",
            },
        )
        assert counts == {"updated": 1, "deleted": 0, "inserted": 1}
        reg3 = spark.table("nation_merge_app").filter("n_regionkey = 3")
        assert reg3.count() == 6, "append into existing partition must keep old rows"
        assert reg3.filter("n_name = 'EXTRA_IN_3'").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_merge_app")


def test_merge_cardinality_violation_rejected_before_write(spark, sf_dir, wh):
    """Two source rows matching one target row is the ANSI/Hive
    MERGE_CARDINALITY_VIOLATION; the merge must raise and leave the
    table untouched."""
    t = tables(spark, sf_dir)
    ddl.create_table_as(
        spark, "nation_merge_card", t.nation, f"{wh}/nation_merge_card",
        partition_by=["n_regionkey"],
    )
    try:
        src = spark.createDataFrame(
            [(0, "A"), (0, "B")], "k INT, new_name STRING"
        )
        with pytest.raises(ValueError, match="cardinality"):
            ddl.merge_into(
                spark, "nation_merge_card", src, on="t.n_nationkey = s.k",
                matched_update={"n_name": "s.new_name"},
            )
        assert spark.table("nation_merge_card").filter(
            "n_name LIKE 'NATION%'"
        ).count() == 25
        # insert-only merge with the SAME duplicate-key source must
        # NOT raise (ANSI: cardinality is defined only for WHEN
        # MATCHED clauses), must not rewrite matched partitions, and
        # inserts nothing since key 0 already exists.
        before = _partition_files(f"{wh}/nation_merge_card")
        counts = ddl.merge_into(
            spark, "nation_merge_card", src, on="t.n_nationkey = s.k",
            not_matched_insert={"n_nationkey": "s.k", "n_name": "s.new_name",
                                "n_regionkey": "0"},
        )
        assert counts == {"updated": 0, "deleted": 0, "inserted": 0}
        assert _partition_files(f"{wh}/nation_merge_card") == before, (
            "insert-only merge must not rewrite any partition"
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_merge_card")


def test_merge_unpartitioned_and_clause_validation(spark, sf_dir, wh):
    """Unpartitioned targets take the full-rewrite path; a MERGE with
    no WHEN clause, an unknown update target, or a partition-column
    update target is rejected up front."""
    t = tables(spark, sf_dir)
    spark.sql("DROP TABLE IF EXISTS region_merge")
    ddl.create_table_as(spark, "region_merge", t.region, f"{wh}/region_merge")
    try:
        src = spark.createDataFrame([(0, "ZERO"), (9, "NINE")], "k INT, nm STRING")
        counts = ddl.merge_into(
            spark, "region_merge", src, on="t.r_regionkey = s.k",
            matched_update={"r_name": "s.nm"},
            not_matched_insert={"r_regionkey": "s.k", "r_name": "s.nm"},
        )
        assert counts == {"updated": 1, "deleted": 0, "inserted": 1}
        got = spark.table("region_merge")
        assert got.count() == 6
        assert got.filter("r_regionkey = 0").collect()[0].r_name == "ZERO"
        with pytest.raises(ValueError, match="at least one WHEN"):
            ddl.merge_into(spark, "region_merge", src, on="t.r_regionkey = s.k")
        with pytest.raises(ValueError, match="not in table"):
            ddl.merge_into(
                spark, "region_merge", src, on="t.r_regionkey = s.k",
                matched_update={"nope": "s.nm"},
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS region_merge")


def test_merge_insert_only_appends_new_partition(spark, sf_dir, wh):
    """The insert-only fast path end-to-end: unmatched rows append
    (creating a new partition), matched rows are untouched, and no
    existing partition is rewritten."""
    t = tables(spark, sf_dir)
    path = f"{wh}/nation_merge_insonly"
    ddl.create_table_as(
        spark, "nation_merge_insonly", t.nation, path,
        partition_by=["n_regionkey"],
    )
    try:
        before = _partition_files(path)
        src = spark.createDataFrame(
            [(0, "EXISTS", 0), (200, "NEW_A", 7), (201, "NEW_B", 7)],
            "k INT, nm STRING, rk INT",
        )
        counts = ddl.merge_into(
            spark, "nation_merge_insonly", src, on="t.n_nationkey = s.k",
            not_matched_insert={
                "n_nationkey": "s.k", "n_name": "s.nm", "n_regionkey": "s.rk",
            },
        )
        assert counts == {"updated": 0, "deleted": 0, "inserted": 2}
        got = spark.table("nation_merge_insonly")
        assert got.count() == 27
        assert got.filter("n_nationkey = 0").collect()[0].n_name != "EXISTS"
        assert got.filter("n_regionkey = 7").count() == 2
        after = _partition_files(path)
        for part, files in before.items():
            assert after[part] == files, f"existing partition {part} rewritten"
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_merge_insonly")


def test_scd2_two_batches(spark, sf_dir, wh):
    """SCD Type 2 across two delta batches: changed keys close their
    current version and open a new one, new keys append, unchanged
    and absent keys are untouched, and the full history chain
    (valid_from/valid_to/is_current) is queryable."""
    from pyspark.sql import functions as F

    dim0 = spark.createDataFrame(
        [(1, "NY", "gold"), (2, "LA", "silver"), (3, "SF", "gold")],
        "cust_id INT, city STRING, tier STRING",
    ).select(
        "*",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    spark.sql("DROP TABLE IF EXISTS dim_scd2")
    ddl.create_table_as(spark, "dim_scd2", dim0, f"{wh}/dim_scd2")
    try:
        # batch 1: cust 1 moves city, cust 4 is new, cust 2 unchanged
        b1 = spark.createDataFrame(
            [(1, "BOS", "gold"), (2, "LA", "silver"), (4, "CHI", "bronze")],
            "cust_id INT, city STRING, tier STRING",
        )
        c1 = ddl.scd2_apply(
            spark, "dim_scd2", b1, ["cust_id"], ["city", "tier"], "2024-02-01"
        )
        assert c1 == {"closed": 1, "inserted": 2}
        tbl = spark.table("dim_scd2")
        assert tbl.count() == 5
        hist1 = tbl.filter("cust_id = 1").orderBy("valid_from").collect()
        assert [r.city for r in hist1] == ["NY", "BOS"]
        assert hist1[0].valid_to is not None and not hist1[0].is_current
        assert hist1[1].valid_to is None and hist1[1].is_current
        assert tbl.filter("cust_id = 2").count() == 1  # unchanged untouched
        assert tbl.filter("cust_id = 3 AND is_current").count() == 1  # absent

        # batch 2: cust 1 changes tier, cust 4 unchanged
        b2 = spark.createDataFrame(
            [(1, "BOS", "platinum"), (4, "CHI", "bronze")],
            "cust_id INT, city STRING, tier STRING",
        )
        c2 = ddl.scd2_apply(
            spark, "dim_scd2", b2, ["cust_id"], ["city", "tier"], "2024-03-01"
        )
        assert c2 == {"closed": 1, "inserted": 1}
        hist = spark.table("dim_scd2").filter("cust_id = 1").orderBy("valid_from")
        rows = hist.collect()
        assert [(r.city, r.tier, r.is_current) for r in rows] == [
            ("NY", "gold", False), ("BOS", "gold", False), ("BOS", "platinum", True),
        ]
        # history chain: each close date equals the successor's open date
        assert [str(r.valid_to) for r in rows[:2]] == ["2024-02-01", "2024-03-01"]

        # a duplicate-key batch is rejected before any write
        dup = spark.createDataFrame(
            [(1, "X", "a"), (1, "Y", "b")], "cust_id INT, city STRING, tier STRING"
        )
        with pytest.raises(ValueError, match="one row per key"):
            ddl.scd2_apply(
                spark, "dim_scd2", dup, ["cust_id"], ["city", "tier"], "2024-04-01"
            )
        assert spark.table("dim_scd2").count() == 6
    finally:
        spark.sql("DROP TABLE IF EXISTS dim_scd2")


def test_scd2_null_key_and_bad_date(spark, sf_dir, wh):
    """Two review regressions pinned: (1) a NULL key row MATCHES via
    the eqNullSafe join and must classify unchanged/changed — not
    'new' (the old cur[key].isNull() marker duplicated it); (2) a
    non-ISO batch_date must raise up front on BOTH paths — the
    append path's lit().cast('date') yields NULL under non-ANSI mode
    and would silently corrupt valid_from."""
    from pyspark.sql import functions as F

    dim0 = spark.createDataFrame(
        [(None, "NY"), (7, "LA")], "cust_id INT, city STRING"
    ).select(
        "*",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    spark.sql("DROP TABLE IF EXISTS dim_scd2_nk")
    ddl.create_table_as(spark, "dim_scd2_nk", dim0, f"{wh}/dim_scd2_nk")
    try:
        # identical NULL-key row: unchanged, nothing closes or opens
        same = spark.createDataFrame([(None, "NY")], "cust_id INT, city STRING")
        assert ddl.scd2_apply(
            spark, "dim_scd2_nk", same, ["cust_id"], ["city"], "2024-02-01"
        ) == {"closed": 0, "inserted": 0}
        assert spark.table("dim_scd2_nk").filter(
            "cust_id IS NULL AND is_current"
        ).count() == 1
        # changed NULL-key row: closes the old version, opens one
        moved = spark.createDataFrame([(None, "BOS")], "cust_id INT, city STRING")
        assert ddl.scd2_apply(
            spark, "dim_scd2_nk", moved, ["cust_id"], ["city"], "2024-03-01"
        ) == {"closed": 1, "inserted": 1}
        nk = spark.table("dim_scd2_nk").filter("cust_id IS NULL")
        assert nk.count() == 2
        assert nk.filter("is_current").collect()[0].city == "BOS"
        # malformed date: rejected before any write, even insert-only
        import pytest as _pytest

        with _pytest.raises(ValueError):
            ddl.scd2_apply(
                spark, "dim_scd2_nk",
                spark.createDataFrame([(9, "X")], "cust_id INT, city STRING"),
                ["cust_id"], ["city"], "02/01/2024",
            )
        assert spark.table("dim_scd2_nk").count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS dim_scd2_nk")


# --- round 7: small-file compaction (SURVEY §2 row 25,
# AbstractFileMergeOperator.java:41 / txn/compactor daemons) ----------
def _table_hash(spark, name):
    """(row_count, order-independent content hash) over every column."""
    df = spark.table(name)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns)).alias("h"),
    ).collect()[0]
    return (row.n, row.h)


def _files_by_partition(spark, name):
    """{relative partition dir: sorted [(filename, bytes)]}."""
    loc = ddl._table_location(spark, name)
    return {
        rel: sorted(files) for rel, files in ddl._list_data_files(spark, loc).items()
    }


def test_compact_table_after_upsert_batches(spark, wh):
    """N micro-batch MERGEs fragment the touched partitions into
    per-batch files; compact_table rewrites ONLY fragmented
    partitions down to the target file count with the table content
    hash unchanged, and an untouched partition keeps its exact file
    set (names AND sizes)."""
    import datetime as dt

    from amplab_hive_spark.streaming.upsert import merge_upsert_batch

    t0 = dt.datetime(2024, 6, 1)
    schema = "user_id INT, ts TIMESTAMP, val DOUBLE, grp STRING"
    seed = [(i, t0, float(i), "a" if i % 2 else "b") for i in range(40)]
    ddl.create_table_as(
        spark,
        "compact_tgt",
        spark.createDataFrame(seed, schema),
        f"{wh}/compact_tgt",
        partition_by=["grp"],
    )
    # the never-touched partition: written once, must survive
    # compaction byte-identical
    spark.createDataFrame(
        [(1000, t0, 0.0, "quiet")], schema
    ).write.insertInto("compact_tgt")

    # Insert-dominant micro-batches (all-new keys) — the streaming
    # fragmentation shape: each MERGE batch APPENDS its own file(s)
    # per partition (an update-heavy batch would consolidate via the
    # survivor overwrite instead, so it cannot fragment).
    for b in range(1, 5):
        batch = [
            (1000 * b + i, t0 + dt.timedelta(hours=b), float(100 * b + i),
             "a" if i % 2 else "b")
            for i in range(30)
        ]
        merge_upsert_batch(
            spark,
            "compact_tgt",
            spark.createDataFrame(batch, schema),
            key_cols=["user_id"],
            order_cols=["ts"],
        )

    before_hash = _table_hash(spark, "compact_tgt")
    before_files = _files_by_partition(spark, "compact_tgt")
    assert len(before_files["grp=a"]) > 1 and len(before_files["grp=b"]) > 1, (
        "precondition: the merge batches must actually fragment"
    )
    assert len(before_files["grp=quiet"]) == 1

    stats = ddl.compact_table(spark, "compact_tgt", target_mb=128)
    assert stats["partitions_compacted"] == 2
    assert stats["files_after"] == 2  # tiny data -> 1 file each
    assert stats["files_before"] == (
        len(before_files["grp=a"]) + len(before_files["grp=b"])
    )

    after_files = _files_by_partition(spark, "compact_tgt")
    assert len(after_files["grp=a"]) == 1
    assert len(after_files["grp=b"]) == 1
    assert after_files["grp=quiet"] == before_files["grp=quiet"], (
        "untouched partition must keep its exact files"
    )
    assert _table_hash(spark, "compact_tgt") == before_hash

    # idempotent: nothing left to compact
    again = ddl.compact_table(spark, "compact_tgt", target_mb=128)
    assert again["partitions_compacted"] == 0

    # partition-subset form: fragment both again, compact only grp=a
    for b in (10, 11):
        batch = [
            (10_000 * b + i, t0 + dt.timedelta(hours=b), float(b),
             "a" if i % 2 else "b")
            for i in range(40)
        ]
        merge_upsert_batch(
            spark, "compact_tgt", spark.createDataFrame(batch, schema),
            key_cols=["user_id"], order_cols=["ts"],
        )
    mid_hash = _table_hash(spark, "compact_tgt")
    mid_files = _files_by_partition(spark, "compact_tgt")
    assert len(mid_files["grp=b"]) > 1
    only_a = ddl.compact_table(
        spark, "compact_tgt", target_mb=128, partitions=[{"grp": "a"}]
    )
    assert only_a["partitions_compacted"] == 1
    sub_files = _files_by_partition(spark, "compact_tgt")
    assert len(sub_files["grp=a"]) == 1
    assert sub_files["grp=b"] == mid_files["grp=b"], (
        "partition outside the requested subset must be untouched"
    )
    assert _table_hash(spark, "compact_tgt") == mid_hash


def test_compact_table_unpartitioned_and_target_size(spark, wh):
    """Unpartitioned table: many small append files collapse to the
    byte-derived target count; a target small enough to need >1 file
    keeps >1; content hash invariant throughout."""
    ddl.create_table_as(
        spark,
        "compact_flat",
        spark.range(0, 1000).select(
            F.col("id"), (F.col("id") % 7).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        ),
        f"{wh}/compact_flat",
    )
    for i in range(5):  # fragment with small appends
        spark.range(1000 + i * 100, 1100 + i * 100).select(
            F.col("id"), (F.col("id") % 7).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        ).write.insertInto("compact_flat")

    before = _table_hash(spark, "compact_flat")
    n_before = sum(len(v) for v in _files_by_partition(spark, "compact_flat").values())
    assert n_before > 1

    stats = ddl.compact_table(spark, "compact_flat", target_mb=128)
    assert stats["partitions_compacted"] == 1
    n_after = sum(len(v) for v in _files_by_partition(spark, "compact_flat").values())
    assert n_after == 1
    assert _table_hash(spark, "compact_flat") == before


def test_compact_table_boolean_partition_subset(spark, wh):
    """Review finding: partitions=[{'flag': True}] must match the
    Hive directory rendering 'flag=true' (str(True) is 'True' — a
    plain str() comparison silently matched nothing)."""
    spark.sql("DROP TABLE IF EXISTS compact_bool")
    ddl.create_table_as(
        spark,
        "compact_bool",
        spark.createDataFrame(
            [(i, i % 2 == 0) for i in range(20)], "id INT, flag BOOLEAN"
        ),
        f"{wh}/compact_bool",
        partition_by=["flag"],
    )
    try:
        for _ in range(3):  # fragment both partitions with appends
            spark.createDataFrame(
                [(100, True), (101, False)], "id INT, flag BOOLEAN"
            ).write.insertInto("compact_bool")
        before = _files_by_partition(spark, "compact_bool")
        assert len(before["flag=true"]) > 1 and len(before["flag=false"]) > 1
        stats = ddl.compact_table(
            spark, "compact_bool", target_mb=128, partitions=[{"flag": True}]
        )
        assert stats["partitions_compacted"] == 1, (
            "boolean partition value must match its directory rendering"
        )
        after = _files_by_partition(spark, "compact_bool")
        assert len(after["flag=true"]) == 1
        assert after["flag=false"] == before["flag=false"]
    finally:
        spark.sql("DROP TABLE IF EXISTS compact_bool")


def test_compact_table_zero_row_files_cleaned(spark, wh):
    """Review finding: a partition holding only zero-row files must
    CONVERGE — the dead files are deleted (the Cleaner's case), not
    rewritten-by-empty-overwrite forever."""
    import os

    spark.sql("DROP TABLE IF EXISTS compact_zero")
    ddl.create_table_as(
        spark,
        "compact_zero",
        spark.createDataFrame([(1, "live")], "id INT, grp STRING"),
        f"{wh}/compact_zero",
        partition_by=["grp"],
    )
    try:
        # manufacture a partition dir of ONLY zero-row parquet files
        empty = spark.createDataFrame([], "id INT")
        dead_dir = f"{wh}/compact_zero/grp=dead"
        for _ in range(3):
            empty.coalesce(1).write.mode("append").parquet(f"{wh}/zero_stage")
        import shutil as _sh

        os.makedirs(dead_dir, exist_ok=True)
        n = 0
        for f in os.listdir(f"{wh}/zero_stage"):
            if f.endswith(".parquet"):
                _sh.copy(f"{wh}/zero_stage/{f}", f"{dead_dir}/{f}")
                n += 1
        assert n >= 2, "need multiple zero-row files to look fragmented"
        spark.sql("MSCK REPAIR TABLE compact_zero")

        stats = ddl.compact_table(spark, "compact_zero", target_mb=128)
        assert stats["partitions_compacted"] == 1
        assert stats["files_after"] == 0, "dead partition ends with no files"
        remaining = [
            f for f in os.listdir(dead_dir) if not f.startswith(("_", "."))
        ] if os.path.isdir(dead_dir) else []
        assert remaining == [], f"zero-row files must be deleted: {remaining}"
        # convergence: a second run finds nothing to do
        again = ddl.compact_table(spark, "compact_zero", target_mb=128)
        assert again["partitions_compacted"] == 0
        assert spark.table("compact_zero").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS compact_zero")


def test_update_delete_on_temp_view_shadowing_partitioned_table(spark, wh):
    """A temp view that shadows a partitioned table's name
    is what UPDATE/DELETE on that name read and write, so its partition
    columns (none) are the ones that count — the catalog fast path used
    the table's and rewrote the view's files partition-scoped, losing
    the rows outside the touched partitions."""
    from amplab_hive_spark.engine import Engine

    spark.sql("DROP TABLE IF EXISTS shadowed_part")
    spark.sql(
        f"CREATE TABLE shadowed_part (k INT, v STRING, p INT) USING parquet "
        f"PARTITIONED BY (p) LOCATION '{wh}/shadowed_part'"
    )
    spark.sql("INSERT INTO shadowed_part VALUES (9, 'table', 9)")
    rows = [(1, "a", 1), (2, "b", 2), (3, "c", 3)]
    spark.createDataFrame(rows, "k INT, v STRING, p INT").write.parquet(f"{wh}/shadow_view")
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW shadowed_part USING parquet "
        f"OPTIONS (path '{wh}/shadow_view')"
    )
    try:
        assert ddl._partition_columns(spark, "shadowed_part") == []
        eng = Engine(spark)
        assert eng.sql("UPDATE shadowed_part SET v = 'z' WHERE k = 1").first().updated == 1
        assert eng.sql("DELETE FROM shadowed_part WHERE k = 2").first().deleted == 1
        got = sorted(tuple(r) for r in spark.read.parquet(f"{wh}/shadow_view").collect())
        assert got == [(1, "z", 1), (3, "c", 3)]
    finally:
        spark.catalog.dropTempView("shadowed_part")
    assert [tuple(r) for r in spark.table("shadowed_part").collect()] == [(9, "table", 9)]
    spark.sql("DROP TABLE IF EXISTS shadowed_part")
