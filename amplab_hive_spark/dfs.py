"""The ``dfs`` command (reference: ql/processors/DfsProcessor.java):
Hadoop's REAL FsShell, run over py4j in the session JVM, its output
captured into a one-column result set named ``DFS Output`` — exactly
the schema DfsProcessor declares (DfsProcessor.java:44
DFS_RESULT_HEADER), which is how HiveServer2 serves ``dfs`` over JDBC
(HiveCommandOperation routes it via the HiveCommand enum). Living in
the Engine layer means every front — CLI, JSON service, tcli/JDBC —
speaks it, like the reference's CommandProcessorFactory dispatch.

Failure contract matched to the reference: a nonzero FsShell exit
raises with the 'Command failed with exit code = N' line
(CommandProcessorResponse rc != 0 fails the HS2 operation the same
way); an exception out of FsShell.run maps to exit code 1
(DfsProcessor.java:96). Under opt-in enforcement the command is
ADMIN-only — the reference authorizes DFS through
CommandUtil.authorizeCommand(HiveOperationType.DFS), and the SQL-std
authorizer restricts dfs to the admin role.

Output capture redirects the JVM-global System.out for the duration
of the run (DfsProcessor.java:80 does the same with the session
stream); a module lock serializes concurrent dfs runs so two
captures can never interleave. SQL queries are unaffected — they
never print to System.out.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

from amplab_hive_spark.session import local_rows

DFS_RESULT_HEADER = "DFS Output"  # DfsProcessor.java:44

_capture_lock = threading.Lock()


class DfsError(RuntimeError):
    """A dfs command failure carrying the FsShell exit code, so the
    CLI's error-abort policy can propagate the REAL code (review r13
    pass 8 — flattening to 1 lost FsShell's -1/255 distinctions)."""

    def __init__(self, message: str, code: int):
        super().__init__(message)
        self.code = code if code else 1


def run_dfs(spark: SparkSession, args_text: str) -> DataFrame:
    """Run ``args_text`` (the statement minus the ``dfs`` keyword,
    already variable-substituted by Engine.sql) through FsShell;
    return the captured output lines as a DataFrame."""
    from amplab_hive_spark.authorization import enforce_dfs

    enforce_dfs(spark)
    # DfsProcessor tokenizes with split("\\s+") — no quote handling
    argv = args_text.split()
    if not argv:
        # DfsProcessor passes the empty command through to FsShell,
        # which prints usage and returns -1 -> the failure line
        raise DfsError("Command failed with exit code = -1\n"
                       "Usage: dfs <FsShell arguments>", -1)
    sc = spark.sparkContext
    gw = sc._gateway
    jvm = gw.jvm
    jargs = gw.new_array(jvm.java.lang.String, len(argv))
    for i, a in enumerate(argv):
        jargs[i] = a
    with _capture_lock:
        old_out = jvm.java.lang.System.out
        ps = None
        try:
            # everything py4j-constructed sits inside the try: a
            # FsShell/PrintStream constructor failure must map to the
            # reference's exception line and leak nothing (pass 8)
            baos = jvm.java.io.ByteArrayOutputStream()
            ps = jvm.java.io.PrintStream(baos, True, "UTF-8")
            shell = jvm.org.apache.hadoop.fs.FsShell(
                sc._jsc.hadoopConfiguration())
            jvm.java.lang.System.setOut(ps)
            try:
                rc = shell.run(jargs)
            finally:
                jvm.java.lang.System.setOut(old_out)
                shell.close()
            out = baos.toString("UTF-8")
        except Exception as e:  # noqa: BLE001 — DfsProcessor.java:96
            raise DfsError(
                f"Exception raised from DFSShell.run {e}", 1) from e
        finally:
            if ps is not None:
                ps.close()
    lines = [(ln,) for ln in out.splitlines()]
    if rc != 0:
        tail = "\n".join(x[0] for x in lines[-5:])
        raise DfsError(
            f"Command failed with exit code = {rc}"
            + (f"\n{tail}" if tail else ""), rc)
    return local_rows(spark, lines, f"`{DFS_RESULT_HEADER}` string")
