"""Engine facade — the user-facing API surface.

Mirrors the reference's top-3 entry points (SURVEY.md §3.1: CLI,
HiveServer2, programmatic Driver.run) with a single programmatic
facade: ``Engine.sql`` replaces Driver.run's parse→analyze→optimize→
execute pipeline with Spark SQL end-to-end (reference:
ql/Driver.java:1041 → here: Catalyst).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Optional

from pyspark.sql import DataFrame, SparkSession

from amplab_hive_spark.catalog import load_tables
from amplab_hive_spark.session import get_spark, local_rows
from amplab_hive_spark.sqltext import strip_leading_comments


class Engine:
    """Thin session+catalog wrapper: ``sql``, ``table``,
    ``register_function``, ``append_batch``, ``explain``.
    """

    def __init__(self, spark: Optional[SparkSession] = None, sf_dir: Optional[str] = None):
        from amplab_hive_spark.functions.macros import MacroRegistry
        from amplab_hive_spark.variables import VariableRegistry

        self.spark = spark or get_spark()
        self.sf_dir = sf_dir
        self.macros = MacroRegistry()
        # session variable state (hivevar/system maps) — per-Engine,
        # so each service/tcli connection is isolated like a Hive
        # SessionState (ql/session/SessionState.java hiveVariables)
        self.variables = VariableRegistry()
        # Spark ships its OWN ${...} pass (spark.sql.variable.
        # substitute, on by default) that rewrites UNDEFINED
        # variables to the empty string — the opposite of the
        # reference's append-as-is rule (SystemVariables.java:139).
        # The engine's pre-parse pass is the dialect authority, so
        # the competing JVM pass is disabled on this session.
        self.spark.conf.set("spark.sql.variable.substitute", "false")
        if sf_dir:
            self.attach(sf_dir)

    def attach(self, sf_dir: str) -> "Engine":
        """Register the testdata tables under this session's catalog."""
        self.sf_dir = sf_dir
        load_tables(self.spark, sf_dir)
        return self

    def sql(self, text: str) -> DataFrame:
        """Run a SQL statement (Spark SQL dialect; HiveQL ~98%
        compatible). CREATE/DROP TEMPORARY MACRO statements are
        handled by the pre-parse shim (functions/macros.py,
        reference: ql/parse/MacroSemanticAnalyzer.java); macro calls
        in any other statement are inlined before Catalyst sees the
        text."""
        # variable substitution FIRST — the reference substitutes
        # every Driver/CLI statement before compilation
        # (ql/Driver.java compile -> VariableSubstitution.java:49;
        # honors hive.variable.substitute[.depth]); then the
        # PREFIXED SET forms (hivevar:/system:/hiveconf:/env:) that
        # Spark's native conf-only SET cannot serve
        # (ql/processors/SetProcessor.java:115)
        text = self.variables.substitute(self.spark, text)
        # leading comments go ONCE, here: every shim below matches its
        # statement head at the first token, as Spark's own parser
        # skips them (sqltext — the only home of the lexical rules)
        text = strip_leading_comments(text)
        set_df = self.variables.handle_set(self.spark, text)
        if set_df is not None:
            return set_df
        # dfs <FsShell args>: CommandProcessorFactory routes this to
        # DfsProcessor in the reference — BOTH for the CLI and for
        # HiveServer2's JDBC path — so it lives here on the Engine
        # surface, output as the one-column 'DFS Output' result set.
        # Admin-gated under enforcement (dfs.py / enforce_dfs).
        if text[:3].lower() == "dfs" and (
                text[3:4] in ("", ";") or text[3:4].isspace()):
            from amplab_hive_spark.dfs import run_dfs

            return run_dfs(self.spark, text[3:].strip().rstrip(";"))
        if self.macros.handle_statement(text):
            return local_rows(self.spark, [], "struct<>")  # empty result, DDL-style
        expanded = self.macros.expand(text)
        from amplab_hive_spark.authorization import handle as _auth_handle
        from amplab_hive_spark.dml_text import handle as _dml_handle

        # authorization DDL first: Spark SQL would misparse SET ROLE
        # as a conf assignment and has no GRANT/SHOW ROLES at all
        auth = _auth_handle(self.spark, expanded)
        if auth is not None:
            return auth
        # opt-in enforcement (spark.sql.authz.enabled=true): the
        # reference's SQLStdHiveAuthorizationValidator.checkPrivileges
        # gate, default off like hive.security.authorization.enabled
        from amplab_hive_spark.authorization import enforce as _authz_enforce

        # enforce returns its (root, tree) parse when enabled — reused
        # below so an enforced statement is py4j-parsed once, not twice
        parsed = _authz_enforce(self.spark, expanded)
        dml = _dml_handle(self.spark, expanded)
        if dml is not None:  # UPDATE/DELETE/MERGE statement forms
            return dml
        from amplab_hive_spark.acid import mor_statement_scope

        # merged READ routing for merge-on-read tables: the reference
        # merges deltas inside the input format for EVERY SQL reader
        # (ql/io/AcidUtils.java getAcidState + OrcRawRecordMerger), so
        # a SELECT after an UPDATE must return the updated rows; here
        # the statement scope shadows each referenced MOR table with
        # its merged plan for the duration of analysis (Spark analyzes
        # eagerly at spark.sql, so dropping the shadow right after is
        # safe — the plan is already inlined)
        with mor_statement_scope(self.spark, expanded, parsed=parsed):
            return self.spark.sql(expanded)

    def table(self, name: str) -> DataFrame:
        """Row-read of ``name``: merge-on-read tables resolve to their
        MERGED view (see acid.resolve_read), everything else to the
        raw catalog table — the reference's rule that only raw
        file-system tools ever see unmerged base files."""
        from amplab_hive_spark.acid import resolve_read

        return resolve_read(self.spark, name)

    def register_function(self, name: str, fn: Callable[..., Any], return_type: Any) -> None:
        """CREATE TEMPORARY FUNCTION equivalent (reference:
        ql/parse/FunctionSemanticAnalyzer.java)."""
        self.spark.udf.register(name, fn, return_type)

    def append_batch(self, rows: Iterable[Any] | DataFrame, table_path: str, schema=None) -> None:
        """Transactional micro-batch ingest (reference surface:
        hcatalog/streaming TransactionBatch). Delegates to
        streaming.ingest — atomic visibility via the Parquet
        file-commit protocol."""
        from amplab_hive_spark.authorization import enforce_path_write
        from amplab_hive_spark.streaming.ingest import append_batch

        enforce_path_write(self.spark, table_path)
        append_batch(self.spark, rows, table_path, schema=schema)

    def explain(self, df_or_sql: DataFrame | str, mode: str = "formatted") -> str:
        df = self.sql(df_or_sql) if isinstance(df_or_sql, str) else df_or_sql
        return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)  # type: ignore[attr-defined]

    # -- write-side surface (reference: DDLTask / FileSinkOperator /
    #    UpdateDeleteSemanticAnalyzer / ScriptOperator — ddl.py) -----

    def create_table_as(self, name: str, df: DataFrame, path: str, **kwargs) -> None:
        from amplab_hive_spark.ddl import create_table_as

        create_table_as(self.spark, name, df, path, **kwargs)

    # Every write verb below is privilege-gated when enforcement is
    # on (spark.sql.authz.enabled=true) — the reference checks its
    # only programmatic path (ql/Driver.java:1041 run →
    # checkPrivileges), so Engine's python verbs hit the same gate as
    # their SQL spellings (VERDICT r11 task 1). INSERT OVERWRITE
    # needs INSERT + DELETE, Hive's SQL-std rule
    # (Operation2Privilege.java: INSERT_OVERWRITE → INS_NOGRANT +
    # DEL_NOGRANT).

    def insert_into(self, name: str, df: DataFrame, overwrite: bool = False) -> None:
        from amplab_hive_spark.authorization import enforce_verb
        from amplab_hive_spark.ddl import insert_into

        enforce_verb(self.spark, name,
                     ("INSERT", "DELETE") if overwrite else ("INSERT",))
        insert_into(self.spark, name, df, overwrite=overwrite)

    def multi_insert(self, source: DataFrame, sinks) -> None:
        from amplab_hive_spark.authorization import enforce_verb
        from amplab_hive_spark.ddl import multi_insert

        # check every sink BEFORE the first write: a multi-insert is
        # one statement, a mid-statement denial must not leave a
        # half-written sink list
        for _, table in sinks:
            enforce_verb(self.spark, table, ("INSERT", "DELETE"))
        multi_insert(self.spark, source, sinks)

    def update(self, name: str, condition: str, assignments: dict[str, str]) -> int:
        from amplab_hive_spark.authorization import enforce_verb
        from amplab_hive_spark.ddl import update_table

        enforce_verb(self.spark, name, ("UPDATE",))
        return update_table(self.spark, name, condition, assignments)

    def delete(self, name: str, condition: str) -> int:
        from amplab_hive_spark.authorization import enforce_verb
        from amplab_hive_spark.ddl import delete_from

        enforce_verb(self.spark, name, ("DELETE",))
        return delete_from(self.spark, name, condition)

    # -- merge-on-read twins (acid.py: delta-file deletes, the
    #    reference's AcidUtils/compactor design) ------------------

    def delete_mor(self, name: str, condition: str, key_cols: list[str]) -> int:
        from amplab_hive_spark.acid import delete_mor
        from amplab_hive_spark.authorization import enforce_verb

        enforce_verb(self.spark, name, ("DELETE",))
        return delete_mor(self.spark, name, condition, key_cols)

    def update_mor(self, name: str, condition: str,
                   assignments: dict[str, str], key_cols: list[str]) -> int:
        from amplab_hive_spark.acid import update_mor
        from amplab_hive_spark.authorization import enforce_verb

        enforce_verb(self.spark, name, ("UPDATE",))
        return update_mor(self.spark, name, condition, assignments, key_cols)

    def pin_mor_keys(self, name: str, key_cols: list[str]) -> None:
        """Declare ``name`` merge-on-read: UPDATE/DELETE statements
        via ``sql()`` take the delta path from now on (the
        transactional=true analogue — see acid.pin_mor_keys)."""
        from amplab_hive_spark.acid import pin_mor_keys

        pin_mor_keys(self.spark, name, key_cols)

    def read_mor(self, name: str) -> DataFrame:
        from amplab_hive_spark.acid import read_mor

        return read_mor(self.spark, name)

    def compact_mor(self, name: str, mode: str = "major") -> int:
        from amplab_hive_spark.acid import compact_mor
        from amplab_hive_spark.authorization import enforce_maintenance

        enforce_maintenance(self.spark, name)
        return compact_mor(self.spark, name, mode=mode)

    def unpin_mor_keys(self, name: str) -> None:
        """Explicitly revert a pinned merge-on-read table to
        copy-on-write routing (compaction never unpins) — see
        acid.unpin_mor_keys."""
        from amplab_hive_spark.acid import unpin_mor_keys

        unpin_mor_keys(self.spark, name)

    def merge(
        self,
        name: str,
        source: DataFrame,
        on: str,
        matched_update: dict[str, str] | None = None,
        matched_update_cond: str | None = None,
        matched_delete: str | None = None,
        not_matched_insert: dict[str, str] | None = None,
        not_matched_cond: str | None = None,
    ) -> dict[str, int]:
        from amplab_hive_spark.authorization import enforce_verb
        from amplab_hive_spark.ddl import merge_into

        # clause-scoped privileges (Hive MergeSemanticAnalyzer emits
        # one privilege per rewritten branch): only the clauses this
        # MERGE actually carries are required
        privs = []
        if matched_update:
            privs.append("UPDATE")
        if matched_delete:
            privs.append("DELETE")
        if not_matched_insert:
            privs.append("INSERT")
        enforce_verb(self.spark, name, privs)  # clauseless MERGE is
        # merge_into's own ValueError — no privileges to demand
        return merge_into(
            self.spark, name, source, on,
            matched_update=matched_update,
            matched_update_cond=matched_update_cond,
            matched_delete=matched_delete,
            not_matched_insert=not_matched_insert,
            not_matched_cond=not_matched_cond,
        )

    def scd2_apply(
        self,
        name: str,
        source: DataFrame,
        key_cols: list[str],
        tracked_cols: list[str],
        batch_date: str,
    ) -> dict[str, int]:
        from amplab_hive_spark.authorization import enforce_verb
        from amplab_hive_spark.ddl import scd2_apply

        # SCD2 = MERGE(update the closing rows) + append(new versions)
        enforce_verb(self.spark, name, ("UPDATE", "INSERT"))
        return scd2_apply(self.spark, name, source, key_cols, tracked_cols, batch_date)

    def analyze(self, name: str, columns=()) -> None:
        from amplab_hive_spark.ddl import analyze

        analyze(self.spark, name, columns)

    def transform(self, df: DataFrame, fn, schema) -> DataFrame:
        from amplab_hive_spark.ddl import transform_rows

        return transform_rows(df, fn, schema)

    def partition_values(self, name: str) -> DataFrame:
        """Partition-column values from catalog metadata, no data
        scan (Hive MetadataOnlyOptimizer semantics, explicit — see
        ddl.partition_values for the empty-partition caveat)."""
        from amplab_hive_spark.ddl import partition_values

        return partition_values(self.spark, name)

    def read_avro(self, path: str, allow_evolution: bool = False) -> DataFrame:
        """Avro container files -> DataFrame (native distributed
        reader, sources/avro.py; reference SerDe serde2/avro/).
        ``allow_evolution`` accepts files missing nullable columns
        of the first file's schema (filled NULL) or carrying extra
        ones (dropped)."""
        from amplab_hive_spark.sources.avro import read_avro

        return read_avro(self.spark, path, allow_evolution=allow_evolution)

    def write_avro(self, df: DataFrame, path: str, codec: str = "deflate") -> int:
        """DataFrame -> one Avro container file per partition at
        ``path``; returns rows written."""
        from amplab_hive_spark.sources.avro import write_avro

        return write_avro(df, path, codec=codec)

    def read_avro_split(self, path: str, split_bytes: int = 32 << 20) -> DataFrame:
        """Span-parallel Avro reader for few huge files: byte spans
        carved from header+size, executors sync-scan into their span
        (sources/avro.py read_avro_split)."""
        from amplab_hive_spark.sources.avro import read_avro_split

        return read_avro_split(self.spark, path, split_bytes=split_bytes)

    def read_kvstore(
        self, path: str, columns: str, mapping: str, latest: bool = False
    ) -> DataFrame:
        """External key-value table -> DataFrame via the kvstore
        Python Data Source (sources/kvstore.py) — the storage-handler
        extension point (reference: hbase-handler/.../
        HBaseStorageHandler.java:80 + HBaseSerDe's
        hbase.columns.mapping). ``columns`` pairs positionally with
        ``mapping`` (``:key,fam:qual,...``); region-per-partition
        scan, row-key predicates pruned down to scan ranges.

        Default read returns EVERY committed version of a key (the
        store is append-only — an HBase raw scan over all VERSIONS);
        ``latest=True`` resolves each key to its newest committed put
        (HBase's default read semantics) via the connector's
        commit-order sequence column and one window shuffle on the
        key. Always returns a FRESH load — one query per load is the
        connector's reuse contract (sources/kvstore.py docstring)."""
        from pyspark.sql import Window, functions as F

        from amplab_hive_spark.sources import kvstore

        kvstore.register(self.spark)
        reader = (
            self.spark.read.format("kvstore")
            .option("path", path)
            .option("columns", columns)
            .option("columns.mapping", mapping)
            # pruning is safe under the documented one-query-per-load
            # contract (this method returns a FRESH load per call, so
            # callers who take one load per query never replan-reuse);
            # a caller who HOLDS this DataFrame across mixed
            # filtered/unfiltered actions re-enters the Spark 4.1
            # scan-reuse residual — call read_kvstore once per query.
            # Raw .load() defaults to pruning OFF (sources/kvstore.py)
            .option("region.pruning", "true")
        )
        if not latest:
            return reader.load()
        seq = "_kv_seq"
        df = reader.option("seq.column", seq).load()
        key_col = [
            c.strip() for c, m in zip(columns.split(","), mapping.split(","))
            if m.strip() == ":key"
        ][0]
        w = Window.partitionBy(key_col).orderBy(F.col(seq).desc())
        return (
            df.withColumn("_kv_rn", F.row_number().over(w))
            .where(F.col("_kv_rn") == 1)
            .drop("_kv_rn", seq)
        )

    def compact_kvstore(self, path: str, mode: str = "minor") -> dict:
        """Fold a kvstore table's regions (HBase compaction analogue;
        sources/kvstore.py compact_store — checkpoint-published,
        concurrent-writer safe). ``minor`` keeps every version,
        ``major`` keeps the newest per key. A kvstore dir usually
        backs no catalog table (then the path is plain filesystem
        space, ungated like raw df.write) — but if it sits UNDER a
        governed table's location, enforcement demands the
        UPDATE+DELETE maintenance bar, same as compact_mor
        (review r12 pass 6)."""
        from amplab_hive_spark.authorization import enforce_path_write
        from amplab_hive_spark.sources.kvstore import compact_store

        enforce_path_write(self.spark, path, privs=("UPDATE", "DELETE"))
        return compact_store(path, mode=mode)

    def vacuum_kvstore(self, path: str, min_age_s: float = 600.0) -> int:
        """Reclaim a kvstore table's superseded files (sources/
        kvstore.py vacuum_store; age-floor retention for in-flight
        jobs). Gated like compact_kvstore — vacuum after a major
        compaction destroys old versions."""
        from amplab_hive_spark.authorization import enforce_path_write
        from amplab_hive_spark.sources.kvstore import vacuum_store

        enforce_path_write(self.spark, path, privs=("UPDATE", "DELETE"))
        return vacuum_store(path, min_age_s=min_age_s)

    def read_sequencefile(self, path: str) -> DataFrame:
        """Hadoop SequenceFiles -> key/value DataFrame (native
        distributed reader, sources/seqfile.py; reference format
        ql/io/SequenceFileStorageFormatDescriptor.java)."""
        from amplab_hive_spark.sources.seqfile import read_sequencefile

        return read_sequencefile(self.spark, path)

    def read_rcfile(self, path: str, schema, columns=None) -> DataFrame:
        """Hive RCFiles -> DataFrame with columnar projection pushed
        into the decode (native distributed reader, sources/rcfile.py;
        reference format ql/io/RCFileStorageFormatDescriptor.java)."""
        from amplab_hive_spark.sources.rcfile import read_rcfile_table

        return read_rcfile_table(self.spark, path, schema, columns=columns)

    def write_rcfile(self, df: DataFrame, path: str, compress: bool = False) -> int:
        """DataFrame -> one RCFile container per partition at
        ``path`` (ColumnarSerDe text cells); returns rows written."""
        from amplab_hive_spark.sources.rcfile import write_rcfile_table

        return write_rcfile_table(df, path, compress=compress)

    def write_sequencefile(
        self, df: DataFrame, path: str, key_col: str | None = "key",
        value_col: str = "value", record_compress: bool = False,
    ) -> int:
        """DataFrame -> one SequenceFile container per partition at
        ``path``; returns rows written. ``key_col=None`` writes the
        Hive ignore-key layout (empty BytesWritable keys)."""
        from amplab_hive_spark.sources.seqfile import write_sequencefile

        return write_sequencefile(
            df, path, key_col=key_col, value_col=value_col,
            record_compress=record_compress,
        )
