"""CLI (cli.py — CliDriver parity): statement splitting must be
quote-aware, and one-shot flags must never fall through into the
stdin-blocking REPL."""

import io
import sys

from amplab_hive_spark.cli import main


def test_one_shot_e_with_semicolon_in_literal(spark, sf_dir, capsys):
    assert main(["-e", "SELECT ';' AS c; SELECT n_name FROM nation LIMIT 1",
                 "--sf-dir", sf_dir]) == 0
    out = capsys.readouterr().out
    assert ";" in out and "n_name" in out


def test_empty_e_is_a_noop_not_a_repl(spark, sf_dir, monkeypatch):
    """-e "" (e.g. an unset shell variable) must exit 0 immediately;
    falling into the REPL would block on stdin forever. stdin is
    rigged to raise if anything reads it."""

    class _Boom:
        def __iter__(self):
            raise AssertionError("REPL read stdin on empty -e")

    monkeypatch.setattr(sys, "stdin", _Boom())
    assert main(["-e", "", "--sf-dir", sf_dir]) == 0


def test_repl_buffers_multiline_literal(spark, sf_dir, monkeypatch, capsys):
    """A ';' inside a string literal spanning lines must not flush
    the buffer early — the statement runs once the quote closes."""
    monkeypatch.setattr(
        sys, "stdin",
        io.StringIO("SELECT 'a;\nb' AS multi;\nSELECT 2 AS two;\nquit;\n"),
    )
    assert main(["--sf-dir", sf_dir]) == 0
    out = capsys.readouterr().out
    assert "multi" in out and "two" in out


def test_cli_runs_dml_statements(spark, sf_dir, tmp_path, capsys):
    """UPDATE/DELETE statement text works through the CLI path (the
    dml_text shim sits in Engine.sql, which the CLI drives)."""
    spark.sql("DROP TABLE IF EXISTS cli_dml")
    spark.sql(
        f"CREATE TABLE cli_dml (id INT, v INT) USING parquet"
        f" LOCATION '{tmp_path}/cli_dml'"
    )
    try:
        spark.sql("INSERT INTO cli_dml VALUES (1, 10), (2, 20)")
        assert main([
            "-e",
            "UPDATE cli_dml SET v = 99 WHERE id = 1; DELETE FROM cli_dml WHERE id = 2",
            "--sf-dir", sf_dir,
        ]) == 0
        out = capsys.readouterr().out
        assert "updated" in out and "deleted" in out
        rows = sorted(tuple(r) for r in spark.table("cli_dml").collect())
        assert rows == [(1, 99)]
    finally:
        spark.sql("DROP TABLE IF EXISTS cli_dml")


def test_connect_client_roundtrip(spark, sf_dir, capsys):
    """r8: the --connect thin client (beeline analogue) runs one-shot
    statements over the wire, auto-paging wide results, without
    starting Spark in the client process (verified by max_rows=3 on
    the SERVICE forcing the cursor path)."""
    from amplab_hive_spark.cli import main as cli_main
    from amplab_hive_spark.service import SqlService

    with SqlService(spark, sf_dir=sf_dir, max_rows=3) as svc:
        rc = cli_main([
            "--connect", f"127.0.0.1:{svc.port}",
            "-e", "SELECT id FROM range(8) ORDER BY id",
            "--max-rows", "100",
        ])
        assert rc == 0
        out = capsys.readouterr().out
        assert "-- 8 row(s)" in out  # paged 3+3+2 to completion
        assert out.splitlines()[0] == "id"

        rc = cli_main([
            "--connect", f"127.0.0.1:{svc.port}",
            "-e", "SELECT * FROM definitely_missing_zzz",
        ])
        assert rc == 0  # statement errors are data, not exit codes
        err = capsys.readouterr().err
        assert "TABLE_OR_VIEW_NOT_FOUND" in err


def test_connect_bad_address_exits_2():
    from amplab_hive_spark.cli import main as cli_main

    assert cli_main(["--connect", "nonsense", "-e", "SELECT 1"]) == 2


def test_iter_statements_eof_comment_and_no_newline():
    """Review r8: a final ';'-terminated statement followed by a --
    comment (which swallows the sentinel) or missing its trailing
    newline must still be yielded."""
    import io

    from amplab_hive_spark.cli import _iter_statements

    got = list(_iter_statements(io.StringIO("SELECT 1; -- done")))
    assert len(got) == 1 and got[0].strip() == "SELECT 1"
    got = list(_iter_statements(io.StringIO("SELECT 1;\nSELECT 2")))
    assert [g.strip() for g in got] == ["SELECT 1", "SELECT 2"]
    # open literal across lines still buffers correctly
    got = list(_iter_statements(io.StringIO("SELECT 'a;\nb' AS s;\n")))
    assert len(got) == 1 and "a;\nb" in got[0]


def test_connect_client_bounds_fetch(spark, sf_dir, capsys):
    """Review r8: the thin client stops paging at --max-rows and
    closes the cursor instead of slurping the whole result."""
    from amplab_hive_spark.cli import main as cli_main
    from amplab_hive_spark.service import SqlService

    with SqlService(spark, sf_dir=sf_dir, max_rows=5) as svc:
        rc = cli_main([
            "--connect", f"127.0.0.1:{svc.port}",
            "-e", "SELECT id FROM range(1000) ORDER BY id",
            "--max-rows", "7",
        ])
        assert rc == 0
        out = capsys.readouterr().out
        lines = out.splitlines()
        assert lines[0] == "id"
        # 7 displayed rows + trailer; way fewer than 1000 fetched
        assert len([l for l in lines[1:] if l.isdigit()]) == 7
        assert "showing 7" in lines[-1]


def test_dfs_command_runs_real_fsshell(spark, sf_dir, tmp_path, capsys):
    """The 'dfs' command (DfsProcessor runs Hadoop's FsShell): the
    same FsShell runs here over py4j, on the ENGINE surface like the
    reference's CommandProcessorFactory dispatch — proven by side
    effects on the (local) filesystem, the captured 'DFS Output'
    rows, and the reference's exact failure line. The path argument
    is variable-substituted like every statement."""
    target = tmp_path / "dfs_made"
    assert main([
        "-e",
        f"SET hivevar:d={tmp_path};\n"
        f"dfs -mkdir ${{d}}/dfs_made;\n"
        f"dfs -test -e {target};\n"
        f"dfs -ls {tmp_path}",
        "--sf-dir", sf_dir,
    ]) == 0
    assert target.is_dir()
    out = capsys.readouterr().out
    assert "DFS Output" in out and "dfs_made" in out
    # nonzero FsShell exit -> the reference's error line, and the
    # one-shot run ABORTS with its code (hive.cli.errors.ignore
    # defaults false: CliDriver.processLine returns the first
    # failure; the trailing statement must NOT run)
    rc = main([
        "-e", f"dfs -test -e {tmp_path}/never_made; SELECT 1 AS ok",
        "--sf-dir", sf_dir,
    ])
    assert rc == 1
    out = capsys.readouterr()
    assert "Command failed with exit code" in out.err
    assert "ok" not in out.out


def test_shell_escape_command(spark, sf_dir, tmp_path, capfd):
    """CliDriver's '!' shell escape: ShellCmdExecutor execs the
    TOKENIZED command with NO shell (the bash -c wrapper is
    deliberately commented out in the reference), metacharacters pass
    through literally, and a nonzero exit prints the reference's
    error line then aborts the one-shot run."""
    marker = tmp_path / "shell_touched"
    rc = main([
        "-e",
        f"SET hivevar:m={marker};\n"
        f"! touch ${{m}};\n"
        f"! echo *;\n"
        f"! false;\n"
        f"SELECT 2 AS two",
        "--sf-dir", sf_dir,
    ])
    assert rc == 1
    assert marker.exists()
    out = capfd.readouterr()
    assert "Command failed with exit code = 1" in out.err
    # no shell: '*' is NOT globbed — /bin/echo prints it literally
    assert "*" in out.out
    assert "two" not in out.out  # aborted before the SELECT


def test_errors_ignore_conf_continues_past_failures(spark, sf_dir, capfd):
    """hive.cli.errors.ignore=true: the reference keeps processing
    after a failed command — both for '!' and for dfs."""
    try:
        assert main([
            "-e", "! false;\ndfs -test -e /definitely/not/here;\n"
                  "SELECT 3 AS three",
            "--hiveconf", "hive.cli.errors.ignore=true",
            "--sf-dir", sf_dir,
        ]) == 0
        out = capfd.readouterr()
        assert out.err.count("Command failed with exit code") >= 1
        assert "three" in out.out
    finally:
        spark.conf.unset("hive.cli.errors.ignore")


def test_split_statements_command_mode():
    """review r13 pass 7: command statements split RAW to ';' or
    newline — '--' long options are not SQL comments and an
    apostrophe does not open a SQL string inside a '!'/dfs/source
    statement (CliDriver's plain line.split(';'))."""
    from amplab_hive_spark.sqltext import split_statements

    assert split_statements("! tar --version; SELECT 1") == \
        ["! tar --version", "SELECT 1"]
    assert split_statements("! echo don't panic; SELECT 1") == \
        ["! echo don't panic", "SELECT 1"]
    assert split_statements("dfs -ls --color\nSELECT 1") == \
        ["dfs -ls --color", "SELECT 1"]
    assert split_statements("source a.sql;\nSELECT 'source ok' AS c;") == \
        ["source a.sql", "SELECT 'source ok' AS c"]
    # SQL containing the words mid-statement is untouched
    assert split_statements("SELECT 'dfs -ls' AS c; SELECT '!x' AS d") == \
        ["SELECT 'dfs -ls' AS c", "SELECT '!x' AS d"]


def test_split_statements_command_mode_after_block_comment():
    """review r13 pass 8: a LEADING /* */ block comment must not
    defeat command-mode ('--' eaten as SQL comment, apostrophe
    opening a string) — comments count as blank at statement start."""
    from amplab_hive_spark.sqltext import split_statements

    assert split_statements("/* note */ dfs -ls --color; SELECT 1") == \
        ["/* note */ dfs -ls --color", "SELECT 1"]
    assert split_statements("/* n */ ! echo don't stop; SELECT 1") == \
        ["/* n */ ! echo don't stop", "SELECT 1"]
    # and a comment before SQL still splits as SQL
    assert split_statements("/* c */ SELECT 'a;b' AS x; SELECT 2") == \
        ["/* c */ SELECT 'a;b' AS x", "SELECT 2"]


def test_source_failure_follows_abort_policy(spark, sf_dir, capsys):
    """review r13 pass 8: a missing source file prints once and
    aborts the one-shot run with code 1 — no raw traceback."""
    rc = main(["-e", "source /no/such/file.sql; SELECT 1 AS ok",
               "--sf-dir", sf_dir])
    assert rc == 1
    out = capsys.readouterr()
    assert "ERROR:" in out.err and "ok" not in out.out


def test_dfs_empty_args_propagates_real_code(spark, sf_dir, capsys):
    """review r13 pass 8: FsShell's real exit code travels out —
    'dfs;' is the usage/-1 case, not a flattened 1."""
    rc = main(["-e", "dfs", "--sf-dir", sf_dir])
    assert rc == -1
    assert "Command failed with exit code = -1" in capsys.readouterr().err


def test_split_statements_mid_statement_comment_and_comment_only():
    """review r13 pass 9 (pre-existing splitter gaps the blank flag
    made fixable): a ';' inside a mid-statement /* */ comment is not
    a boundary, and comment-only segments are never emitted as
    statements."""
    from amplab_hive_spark.sqltext import split_statements

    assert split_statements("SELECT /* a;b */ 1; SELECT 2") == \
        ["SELECT /* a;b */ 1", "SELECT 2"]
    assert split_statements("/* c */; SELECT 1") == ["SELECT 1"]
    assert split_statements("SELECT 1; /* trailing license */") == \
        ["SELECT 1"]
    assert split_statements("-- only a line comment\n") == []
