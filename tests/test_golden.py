"""Golden-file .q corpus runner (testing_golden.py — the QTestUtil
mechanism, SURVEY §5.1): every tests/golden/*.q runs through
Engine.sql and its sort-normalized rendering must byte-match the
checked-in .q.out."""

import difflib
import glob
import os

import pytest

from amplab_hive_spark.engine import Engine
from amplab_hive_spark.sqltext import split_statements
from amplab_hive_spark.testing_golden import run_q_file

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")
Q_FILES = sorted(glob.glob(os.path.join(GOLDEN_DIR, "*.q")))


def test_corpus_nonempty():
    assert len(Q_FILES) >= 9


@pytest.mark.parametrize("qfile", Q_FILES, ids=[os.path.basename(p) for p in Q_FILES])
def test_golden(spark, sf_dir, qfile):
    engine = Engine(spark, sf_dir=sf_dir)
    got = run_q_file(engine, qfile)
    with open(qfile + ".out") as f:
        want = f.read()
    if got != want:
        diff = "\n".join(
            difflib.unified_diff(want.splitlines(), got.splitlines(), "golden", "actual", lineterm="")
        )
        pytest.fail(f"{os.path.basename(qfile)} output drifted:\n{diff}")


def test_split_statements_respects_quotes_and_comments():
    stmts = split_statements(
        "SELECT 'a;b' AS x; -- trailing; comment\nSELECT 2 AS y;"
    )
    assert stmts == ["SELECT 'a;b' AS x", "SELECT 2 AS y"]
