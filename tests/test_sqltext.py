"""The one SQL lexer the pre-parse shims share (sqltext.py), pinned on
the cases where the shims' former private scanners disagreed with
Spark's lexer: a backtick identifier, a double-quoted string, a
``--`` comment or a nested ``/* */`` comment. Pure Python except the
two ``Engine.sql`` round trips at the end (a leading-comment
UPDATE/DELETE, and a MERGE inserting a double-quoted literal)."""

import re

import pytest
from hypothesis import given, settings, strategies as st

from amplab_hive_spark.ddl import _reject_nondeterministic
from amplab_hive_spark.dml_text import _rewrite_alias, _split_where
from amplab_hive_spark.engine import Engine
from amplab_hive_spark.functions.macros import MacroRegistry


def test_split_statements_keeps_backtick_identifier_whole():
    from amplab_hive_spark.sqltext import split_statements

    assert split_statements("SELECT 1 AS `a;b`; SELECT 2") == [
        "SELECT 1 AS `a;b`", "SELECT 2",
    ]


def test_update_where_inside_double_quoted_string():
    assert _split_where('c = "x WHERE y" WHERE k = 1', "UPDATE") == (
        'c = "x WHERE y"', "k = 1",
    )


def test_update_where_inside_line_comment():
    assert _split_where("c = 'q' -- no WHERE here\n WHERE k = 2", "UPDATE") == (
        "c = 'q'", "k = 2",
    )


def test_merge_alias_inside_double_quoted_string_survives():
    assert _rewrite_alias('concat(src.a, "src.b")', "src", "s") == (
        'concat(s.a, "src.b")'
    )


def test_macro_argument_list_skips_line_comment():
    r = MacroRegistry()
    r.define("twice", ("x",), "x*2")
    assert r.expand("SELECT twice(-- )\n 3)") == "SELECT ((3)*2)"


def test_nondeterministic_check_ignores_comments_and_escaped_quotes():
    _reject_nondeterministic("k = 1 -- was now()", "DELETE")
    _reject_nondeterministic(r"note = 'it\'s now()'", "DELETE")
    with pytest.raises(ValueError, match="deterministic"):
        _reject_nondeterministic("k = 1 /* c */ AND ts < now()", "DELETE")


def test_nested_block_comment_and_leading_comment_strip():
    from amplab_hive_spark.sqltext import mask, strip_leading_comments

    text = "/* a /* b */ ; */ SELECT 1 -- x\n"
    assert strip_leading_comments(text) == "SELECT 1 -- x\n"
    assert mask(text) == " " * 18 + "SELECT 1" + " " * 5 + "\n"
    # unclosed: left for Spark's parser to report
    assert strip_leading_comments("  /* open") == "/* open"


_ALPHABET = "'\"`-/*\n()\\ a;"


@settings(max_examples=500, deadline=None)
@given(st.text(alphabet=_ALPHABET, max_size=60))
def test_mask_blanks_every_quote_and_comment(text):
    """mask keeps the length and the plain text, and no quote or
    comment opener survives outside a blanked span."""
    from amplab_hive_spark.sqltext import mask

    m = mask(text)
    assert len(m) == len(text)
    assert not re.search(r"['\"`]|--|/\*", m), (text, m)
    assert all(a == b or b in " #" for a, b in zip(text, m))


@pytest.fixture()
def eng(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS sqltext_t")
    spark.sql(
        f"CREATE TABLE sqltext_t (k INT, c STRING) USING parquet"
        f" LOCATION '{tmp_path}/sqltext_t'"
    )
    spark.sql("INSERT INTO sqltext_t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    yield Engine(spark=spark)
    spark.sql("DROP TABLE IF EXISTS sqltext_t")


def test_leading_comment_update_and_delete_round_trip(eng, spark):
    assert eng.sql(
        "-- note\nUPDATE sqltext_t SET c = 'z' WHERE k = 1"
    ).collect()[0].updated == 1
    assert eng.sql(
        "/* outer /* nested */ */ DELETE FROM sqltext_t WHERE k = 3"
    ).collect()[0].deleted == 1
    rows = sorted(tuple(r) for r in spark.table("sqltext_t").collect())
    assert rows == [(1, "z"), (2, "b")]


def test_merge_inserts_double_quoted_literal_verbatim(eng, spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS src")
    spark.sql("DROP TABLE IF EXISTS dst")
    try:
        spark.sql(f"CREATE TABLE dst (k INT, b STRING) USING parquet LOCATION '{tmp_path}/dst'")
        spark.sql(f"CREATE TABLE src (k INT, b STRING) USING parquet LOCATION '{tmp_path}/src'")
        spark.sql("INSERT INTO src VALUES (7, 'x')")
        out = eng.sql(
            "MERGE INTO dst USING src ON dst.k = src.k "
            'WHEN NOT MATCHED THEN INSERT VALUES (src.k, "src.b")'
        ).collect()
        assert out[0].inserted == 1
        assert [tuple(r) for r in spark.table("dst").collect()] == [(7, "src.b")]
    finally:
        spark.sql("DROP TABLE IF EXISTS src")
        spark.sql("DROP TABLE IF EXISTS dst")


def test_comment_between_head_keywords(eng, spark, tmp_path):
    """UPDATE/DELETE/COMPACT heads are matched on the mask, so a comment
    between their keywords is whitespace, as it is to Spark's lexer."""
    assert eng.sql(
        "UPDATE sqltext_t /* c */ SET c = 'z' WHERE k = 1"
    ).collect()[0].updated == 1
    assert eng.sql(
        "DELETE /* c */ FROM sqltext_t -- c\n WHERE k = 3"
    ).collect()[0].deleted == 1
    assert sorted(tuple(r) for r in spark.table("sqltext_t").collect()) == [
        (1, "z"), (2, "b"),
    ]
    spark.sql("DROP TABLE IF EXISTS sqltext_mor")
    try:
        spark.sql(
            f"CREATE TABLE sqltext_mor (k INT) USING parquet"
            f" LOCATION '{tmp_path}/sqltext_mor'"
            f" TBLPROPERTIES ('transactional'='true', 'merge_keys'='k')"
        )
        spark.sql("INSERT INTO sqltext_mor VALUES (1), (2)")
        eng.sql("DELETE FROM sqltext_mor WHERE k = 1")
        eng.sql("DELETE FROM sqltext_mor WHERE k = 2")
        assert eng.sql(
            "ALTER TABLE sqltext_mor /* c */ COMPACT 'minor'"
        ).collect()[0].compacted_deltas == 2
        assert eng.sql(
            "ALTER TABLE sqltext_mor -- c\n COMPACT /* c */ 'major' -- done"
        ).collect()[0].compacted_deltas == 1
        with pytest.raises(ValueError, match="'major' or 'minor'"):
            eng.sql("ALTER TABLE sqltext_mor COMPACT 'full'")
    finally:
        spark.sql("DROP TABLE IF EXISTS sqltext_mor")
