"""SparkSession construction tuned for the engine.

The reference engine hand-implements partial aggregation, map-join
conversion, skew handling and vectorization (SURVEY.md §2.1, §4.3);
on Spark all of those are configuration, not code. Every knob set
here is the 100 TB-scale default — AQE re-plans partition counts and
skew joins at runtime, so the same session config serves local[32]
tests and a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Defaults match the driver harness: local[32], 32 shuffle partitions.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


# Cooperative cross-process writer locks: warehouse-path -> held fd.
# flock(2) releases automatically when the holder process dies, so a
# crashed writer never leaves a stale lock — the property the
# reference gets from DbTxnManager's lock heartbeat
# (ql/lockmgr/DbTxnManager.java:46).
_WRITER_LOCKS: dict[str, int] = {}


def _acquire_writer_lock(warehouse: str, lock_wait_s: float | None) -> None:
    """Advisory writer lock on ``<warehouse>/.writer.lock``.

    Every warehouse writer takes it (cooperatively — it guards our
    own API, while Derby's boot lock remains the backstop against
    non-cooperative processes). ``lock_wait_s=None`` keeps the
    original contract exactly: if the lock is held, fall through and
    let Derby fail loudly at metastore boot. With a number, poll up
    to that many seconds — the single-writer analogue of the
    reference's blocking lock acquisition (DbTxnManager waits on the
    metastore lock queue rather than erroring) — then TimeoutError.
    The lock lives for the process lifetime, matching the embedded
    Derby instance, and is reentrant within one process."""
    import fcntl
    import time

    key = os.path.abspath(warehouse)
    if key in _WRITER_LOCKS:
        return
    os.makedirs(key, exist_ok=True)
    fd = os.open(os.path.join(key, ".writer.lock"), os.O_CREAT | os.O_RDWR, 0o644)
    deadline = time.monotonic() + (lock_wait_s or 0)
    while True:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            _WRITER_LOCKS[key] = fd
            return
        except OSError:
            if lock_wait_s is None:
                os.close(fd)
                return  # preserve the loud Derby-boot failure path
            if time.monotonic() >= deadline:
                os.close(fd)
                raise TimeoutError(
                    f"warehouse {warehouse!r} is still held by another "
                    f"writer (embedded Derby metastore is single-process) "
                    f"after waiting {lock_wait_s}s; retry later or raise "
                    f"lock_wait_s"
                )
            time.sleep(0.25)


def get_spark(
    app_name: str = "amplab_hive_spark",
    master: str | None = None,
    warehouse: str | None = None,
    lock_wait_s: float | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-ready defaults.

    AQE is the linchpin: at 100 TB the right shuffle partition count
    is data-dependent, so we set a high initial parallelism and let
    ``coalescePartitions`` shrink it after each exchange. Skewed join
    keys are split by ``skewJoin`` instead of a hand-written skew
    resolver (reference: QL/exec/SkewJoinHandler.java:74).

    ``warehouse``: directory for a PERSISTENT catalog — managed-table
    metadata survives process restart, the single-node analogue of the
    reference's shared Thrift metastore (metastore/.../HiveMetaStore.
    java:232 — a separate service precisely so tables outlive any one
    client). Implemented as the Hive catalog backed by an embedded
    Derby metastore living under ``<warehouse>/metastore_db``; without
    it Spark's in-memory catalog forgets managed tables on exit even
    though their files remain. Must be passed on the FIRST session
    construction in a process (getOrCreate reuses the live session and
    ignores new confs); Derby allows one process at a time — the
    multi-client story stays ``newSession()`` off one SparkSession.

    ``lock_wait_s``: with the default ``None`` a second writer
    process fails loudly at Derby boot (the pinned single-writer
    contract); pass a number of seconds to instead WAIT for the
    current writer to exit (cooperative flock, see
    ``_acquire_writer_lock``) — the reference's DbTxnManager
    blocking-acquire behavior at warehouse granularity.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{_DEFAULT_CPUS}]")
        # -- driver heap: local mode runs every executor thread INSIDE
        #    the driver JVM, and Spark's 1g default is sized for a
        #    thin cluster driver, not a 32-thread local engine whose
        #    long sessions accumulate localCheckpoint blocks — the 1g
        #    default OOMed a full-suite run (~1200 tests) in the
        #    pointer-jumping checkpoints. Honored only on the FIRST
        #    session of the process (the JVM starts here); on a real
        #    cluster executors size their own heaps via submit confs.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # -- shuffle sizing: matched to local cores; on a cluster AQE
        #    coalesces from a deliberately-high initial number.
        .config("spark.sql.shuffle.partitions", _DEFAULT_CPUS)
        # -- AQE: runtime re-plan (partition coalescing, skew join,
        #    broadcast demotion). Replaces the reference's physical
        #    optimizer passes (SURVEY.md §4.3).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- broadcast small dimensions automatically (region/nation/
        #    supplier are KB-to-MB at any SF; reference does this via
        #    CommonJoinResolver auto map-join conversion).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # -- generated-class cache: the reference ships its vectorized
        #    expression classes precompiled (SURVEY.md §4.3); Catalyst
        #    compiles them with Janino into a JVM-wide cache of 100
        #    classes by default. The 11 headline queries generate ~220
        #    classes and a merge-on-read service cycle repeats ~75, so
        #    at 100 a repeated plan recompiled (~190-220 compiles per
        #    headline pass); at 1000 a warm repeat compiles none
        #    (PERF.md, "Generated-class cache"). A static conf, read
        #    when the JVM starts: every session shares it.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # -- deterministic timestamp semantics for oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # -- Arrow for the few pandas-UDF paths (LLM ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- quieter local runs; the driver collects results, not UI.
        .config("spark.ui.enabled", "false")
        # -- Hive-compatible non-ANSI coercions (string<->number casts,
        #    integer division semantics) per SURVEY.md §1.3.
        .config("spark.sql.ansi.enabled", "false")
        # -- the events table carries TIMESTAMP(NANOS) parquet values,
        #    which Spark only reads as raw longs; catalog.py converts
        #    them back to microsecond timestamps at scan time.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if warehouse is not None:
        # Only lock when a session will actually be BUILT: getOrCreate
        # reuses a live session and ignores new confs, so locking the
        # requested warehouse then would exclude other processes from
        # a metastore this one never boots (review finding r7).
        if SparkSession.getActiveSession() is None and \
                getattr(SparkSession, "_instantiatedSession", None) is None:
            _acquire_writer_lock(warehouse, lock_wait_s)
        # persistent-catalog confs ON TOP of the shared engine
        # defaults — a warehouse session must read the same files
        # (nanosAsLong, Arrow) and plan the same way (broadcast
        # threshold, AQE flags) as every other session.
        db = os.path.join(os.path.abspath(warehouse), "metastore_db")
        builder = (
            builder.config("spark.sql.warehouse.dir", os.path.abspath(warehouse))
            .config("spark.sql.catalogImplementation", "hive")
            .config(
                "spark.hadoop.javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={db};create=true",
            )
            .enableHiveSupport()
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows(spark: SparkSession, rows, schema: "StructType | str") -> DataFrame:
    """A small driver-side result set (a SET answer, a DML count, a
    SHOW listing) as a DataFrame whose plan is a ``LocalRelation``.

    HiveServer2 answers such statements with a row already in memory
    (``SQLOperation``); ``spark.createDataFrame(list, schema)`` does
    not: in Spark 4.1 classic it is ``parallelize`` plus a PythonRDD
    re-serialisation (plan ``Scan ExistingRDD``), so every ``take`` or
    ``collect`` of a one-row answer schedules Spark jobs whose tasks
    run in Python workers. Built from a ``pyarrow.Table`` instead, the
    frame is a ``LocalRelation``: ``take``/``collect`` execute a
    ``LocalTableScan`` on the driver and run no Spark job. Measured on
    a 4-core host at ``local[4]`` (median of 20, process-tree CPU):
    ``createDataFrame([(5,)], "n bigint").take(10001)`` ran 2 jobs in
    1.63 CPU-s (0.72 s wall); this form ran none in 0.085 CPU-s
    (0.05 s wall). Over one ``mor_service`` benchmark cycle (7 such
    answers) that was 14 of 94 Spark jobs.

    ``rows`` are tuples (or Rows/dicts) in ``schema`` order; ``schema``
    is a ``StructType`` or a DDL string. Values go through the same
    ``toInternal`` conversion ``createDataFrame(list)`` applies, so
    dates, naive timestamps and NULLs come back unchanged."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*(struct.toInternal(r) for r in rows))) or [()] * len(arrow)
    table = pa.table([pa.array(c, f.type) for c, f in zip(columns, arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)
