"""The statement model both server fronts share — HiveServer2's
operation model (service/src/java/org/apache/hive/service/cli/
CLIService.java: a session per connection, an OperationHandle per
statement, cancelOperation, FETCH_NEXT paging), written once for the
JSON service (service.py) and the TCLI/beeline front (tcli.py).

- **Session.** ``open_session`` builds one connection's Engine over a
  ``spark.newSession()``: private temp views, SQLConf and macros over
  the shared catalog and executors. A runtime ``conf.set`` on the root
  session does not reach a new session's SQLConf, so the engine's
  session confs, the root's enforcement flag and the server's
  ``--hiveconf`` seeds are copied in explicitly, then the optional
  user (the session principal) and database.
- **Job group.** Every execution gets a fresh group (``new_group``):
  ``cancelJobGroupAndFutureJobs`` poisons a group id for good, so a
  reused id would cancel a retried statement. ``tagged`` sets the
  group around the call that runs the statement or opens its cursor,
  and clears it after — job-group properties are JVM-thread-local and
  py4j pools its threads, so a stale tag would ride unrelated work.
  ``cancel`` aborts the group's running jobs and every job it submits
  later, which also covers a cancel that lands before the first job.
- **Cursor.** ``Cursor`` pages rows with one look-ahead row, so
  ``page(n)`` reports ``has_more`` exactly. A DataFrame is served by
  ``toLocalIterator``, so the driver holds one partition, never the
  result. Its page jobs are submitted by the JVM thread serving the
  iterator, which inherits the job group set when the iterator was
  opened: a cursor opened inside ``tagged`` keeps its statement's
  group for its whole life, a page pull needs no tag of its own, and
  cancelling the statement's group aborts an in-flight page.
"""

from __future__ import annotations

import itertools
import uuid
from contextlib import contextmanager
from typing import Iterable, Iterator, Optional

from pyspark.sql import DataFrame


def open_session(spark, sf_dir: Optional[str] = None,
                 server_confs: "Optional[dict[str, str]]" = None,
                 user: Optional[str] = None,
                 database: Optional[str] = None):
    """One connection's Engine over a new session of ``spark``."""
    from amplab_hive_spark.authorization import _ENFORCE_CONF
    from amplab_hive_spark.catalog import ensure_session_confs
    from amplab_hive_spark.engine import Engine

    sub = spark.newSession()
    ensure_session_confs(sub)
    # an enforcing server stays enforcing on every connection
    flag = spark.conf.get(_ENFORCE_CONF, "")
    if flag:
        sub.conf.set(_ENFORCE_CONF, flag)
    for k, v in (server_confs or {}).items():
        sub.conf.set(k, v)
    if user:
        sub.conf.set("user.name", user)
    if database and database != "default":
        sub.catalog.setCurrentDatabase(database)
    # temp views are session-scoped: Engine attaches the testdata
    # catalog to this session (lazy, footer reads only)
    return Engine(sub, sf_dir=sf_dir)


def new_group(label: str) -> str:
    """A job-group id for one execution of a statement."""
    return f"{label}-{uuid.uuid4().hex[:8]}"


@contextmanager
def tagged(spark, group: str, description: str) -> Iterator[None]:
    """Run the body's Spark jobs, and those of any cursor it opens, in
    ``group``; interruptOnCancel so a cancel stops running tasks."""
    jsc = spark.sparkContext._jsc
    jsc.setJobGroup(group, description[:128], True)
    try:
        yield
    finally:
        jsc.clearJobGroup()


def cancel(spark, group: str) -> None:
    """Abort ``group``'s running jobs and any it submits later."""
    spark.sparkContext._jsc.sc().cancelJobGroupAndFutureJobs(group)


_END = object()


class Cursor:
    """Pages ``rows`` — a DataFrame (served by ``toLocalIterator``) or
    any iterable — forward only. ``close()`` releases the iterator
    eagerly, which closes the local-iterator socket and stops the JVM
    side serving the result."""

    def __init__(self, rows: "DataFrame | Iterable"):
        if isinstance(rows, DataFrame):
            rows = rows.toLocalIterator(prefetchPartitions=True)
        self._it: Iterator = iter(rows)
        self._peeked = _END

    def page(self, n: int) -> tuple[list, bool]:
        """Up to ``n`` rows, and whether more follow."""
        rows = [] if self._peeked is _END else [self._peeked]
        rows.extend(itertools.islice(self._it, max(n - len(rows), 0)))
        self._peeked = next(self._it, _END)
        return rows, self._peeked is not _END

    def close(self) -> None:
        it, self._it = self._it, iter(())
        self._peeked = _END
        close = getattr(it, "close", None)
        if close is not None:
            try:
                close()
            except Exception:  # noqa: BLE001 — already torn down
                pass
