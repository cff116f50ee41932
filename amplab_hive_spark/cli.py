"""CLI entry point — reference parity for CliDriver (SURVEY §3.1:
cli/CliDriver.java processLine → Driver.run). One-shot ``-e`` /
``-f`` execution and an interactive REPL over Engine.sql.

Usage:
    python -m amplab_hive_spark.cli -e "SELECT ..." [--sf-dir DIR]
    python -m amplab_hive_spark.cli -f script.sql [--sf-dir DIR]
    python -m amplab_hive_spark.cli            # REPL
    python -m amplab_hive_spark.cli --serve [--port N]   # SQL service
    python -m amplab_hive_spark.cli --serve-tcli [--port N] [--sf-dir DIR]
        # the HiveServer2/JDBC front: beeline -u jdbc:hive2://host:N
    python -m amplab_hive_spark.cli --connect HOST:PORT [-e SQL]
        # beeline analogue: a THIN network client (no Spark in this
        # process) against a --serve instance; -e/-f one-shots or an
        # interactive REPL; wide results page via the cursor
        # protocol, BOUNDED by --max-rows
"""

from __future__ import annotations

import argparse
import os
import sys


def _iter_statements(stream):
    """Yield complete ';'-terminated statements from a line stream
    (CliDriver.processLine's accumulation rule): the buffer keeps
    growing while a string literal or the statement itself is open.
    At EOF any non-blank remainder is yielded too — a final statement
    whose ';' is followed by a '--' comment (which swallows the
    sentinel) or whose line lacks a trailing newline must still run
    (review r8: it was silently dropped)."""
    from amplab_hive_spark.sqltext import split_statements

    buf = ""
    for line in stream:
        buf += line
        # marker trick: append \x00 and split — if the buffer ends at
        # an unquoted ';', the marker comes back as its own final
        # segment; otherwise it rides at the end of the open tail,
        # which stays buffered for the next line.
        segs = split_statements(buf + "\x00")
        if segs and segs[-1] != "\x00":
            buf = segs[-1][:-1] if segs[-1].endswith("\x00") else segs[-1]
            complete = segs[:-1]
        else:
            buf = ""
            complete = segs[:-1] if segs else []
        yield from (s for s in complete if s.strip())
    tail = buf.replace("\x00", "").strip()
    if tail:
        for s in split_statements(tail):
            if s.strip():
                yield s


class CommandFailure(Exception):
    """A CLI command (dfs / ! / SQL) failed and the error-abort
    policy applies (CliDriver.processLine returns on the first
    nonzero result unless hive.cli.errors.ignore=true)."""

    def __init__(self, code: int):
        super().__init__(f"command failed with exit code = {code}")
        self.code = code or 1


def _maybe_abort(engine, rc: int) -> None:
    if engine.spark.conf.get(
            "hive.cli.errors.ignore", "false").lower() != "true":
        raise CommandFailure(rc)


def _run_statements(engine, text: str, max_rows: int,
                    _depth: int = 0) -> None:
    # quote- and comment-aware split (shared with the golden harness)
    # — a ';' inside a string literal or a -- comment is not a
    # statement boundary.
    from amplab_hive_spark.sqltext import split_statements, strip_leading_comments

    for stmt in split_statements(text):
        # SOURCE <file>: a CLI-layer command like the reference's
        # CliDriver.processCmd (cli/CliDriver.java "source" branch) —
        # the file's statements run inline on the SAME session, with
        # variable substitution applied to the path so
        # 'source ${hivevar:dir}/x.sql' works like hive's. Depth-capped
        # against a file sourcing itself. Leading comments are stripped
        # and the keyword split on ANY whitespace (review r13 pass 4:
        # split_statements keeps /* */ comments and CliDriver tokenizes
        # on tabs too — same interception-bypass class as SET's).
        head = strip_leading_comments(stmt).strip()
        tokens = head.split(None, 1)
        # ! <shell command>: CliDriver's shell escape (processCmd "!"
        # branch). ShellCmdExecutor execs the TOKENIZED command with
        # NO shell (CliDriver.java:144 shows the bash -c wrapper
        # deliberately commented out), so metacharacters pass through
        # literally; signal deaths report POSIX 128+N like
        # Process.waitFor; a nonzero exit prints the reference's
        # error line and aborts per hive.cli.errors.ignore.
        if head.startswith("!"):
            import subprocess

            try:
                argv = engine.variables.substitute(
                    engine.spark, head[1:].strip()).split()
            except ValueError as exc:  # substitution depth bound
                print(f"ERROR: {exc}", file=sys.stderr)
                _maybe_abort(engine, 1)
                continue
            try:
                rc = subprocess.call(argv) if argv else 1
            except OSError as e:  # missing binary etc.
                # the reference's catch prints ONLY the exception line
                # and sets ret=1 — no second failed-exit line (pass 8)
                print(f"Exception raised from Shell command {e}",
                      file=sys.stderr)
                _maybe_abort(engine, 1)
                continue
            if rc < 0:
                rc = 128 - rc  # python's -N for signal N
            if rc != 0:
                print(f"Command failed with exit code = {rc}",
                      file=sys.stderr)
                _maybe_abort(engine, rc)
            continue
        # (dfs is NOT handled here: it is an Engine-surface command —
        # engine.sql routes it to dfs.run_dfs, the same dispatch the
        # reference gives every front via CommandProcessorFactory —
        # so the fall-through below serves it and prints the
        # 'DFS Output' rows)
        if tokens and tokens[0].lower() == "source":
            try:
                if _depth >= 10:
                    raise ValueError("source nesting deeper than 10 "
                                     f"(a file sourcing itself?): {stmt!r}")
                path = engine.variables.substitute(
                    engine.spark,
                    tokens[1].strip() if len(tokens) > 1 else "")
                if not path:
                    raise ValueError("source: missing file path")
                with open(os.path.expanduser(path)) as fh:
                    body = fh.read()
            except (OSError, ValueError) as exc:
                # same print-once + abort-policy treatment every
                # other failure gets (pass 8: these escaped as raw
                # tracebacks in -e/-f)
                print(f"ERROR: {exc}", file=sys.stderr)
                _maybe_abort(engine, 1)
                continue
            _run_statements(engine, body, max_rows, _depth=_depth + 1)
            continue
        try:
            df = engine.sql(stmt)
        except CommandFailure:
            raise
        except Exception as exc:
            # failed statement: the reference's error-abort policy
            # (processLine returns ret on the first failure unless
            # hive.cli.errors.ignore=true) — print once, abort or
            # continue per the conf; a DfsError carries FsShell's
            # real exit code (pass 8)
            print(f"ERROR: {exc}", file=sys.stderr)
            _maybe_abort(engine, getattr(exc, "code", 1))
            continue
        df.show(max_rows, truncate=False)


def _render_remote(resp: dict, max_rows: int, truncated: bool = False) -> None:
    """Render a service response like beeline: a header row, tab-
    separated values, a row-count trailer; errors to stderr.
    ``truncated``: the cursor was closed with rows remaining
    server-side, so the fetched count is a LOWER BOUND — the trailer
    reads '-- 40+ row(s)', never presenting a partial count as the
    full result size."""
    if not resp.get("ok"):
        print(f"ERROR ({resp.get('error_class')}): {resp.get('error')}",
              file=sys.stderr)
        return
    cols = resp.get("columns") or []
    rows = resp.get("rows") or []
    if cols:
        print("\t".join(cols))
    for r in rows[:max_rows]:
        print("\t".join("NULL" if v is None else str(v) for v in r))
    shown = min(len(rows), max_rows)
    suffix = f" (showing {shown})" if truncated or shown < len(rows) else ""
    plus = "+" if truncated else ""
    print(f"-- {len(rows)}{plus} row(s){suffix}")


def _client_main(args) -> int:
    """The beeline analogue: statements go over the wire to a --serve
    instance; this process imports ONLY the stdlib client. Fetching
    is BOUNDED by --max-rows (pages stop at max_rows+1 and the cursor
    is closed server-side — the client never accumulates a huge
    result it will not display); a timed-out or broken connection is
    fatal for the whole session (the wire is desynchronized once a
    reply goes unread), reported once to stderr with exit 1."""
    from amplab_hive_spark.service import SqlClient
    from amplab_hive_spark.sqltext import split_statements

    host, _, port = args.connect.rpartition(":")
    if not host or not port.isdigit():
        print(f"--connect expects HOST:PORT, got {args.connect!r}",
              file=sys.stderr)
        return 2

    def run_one(client, stmt: str) -> None:
        resp = client.sql(stmt)
        while (resp.get("ok") and resp.get("has_more")
               and len(resp["rows"]) <= args.max_rows):
            nxt = client.fetch(resp["handle"])
            if not nxt.get("ok"):
                resp = nxt
                break
            resp["rows"].extend(nxt["rows"])
            resp["has_more"] = nxt["has_more"]
            resp["handle"] = resp.get("handle") or nxt.get("handle")
        truncated = bool(resp.get("ok") and resp.get("has_more"))
        if truncated:
            client.close_cursor(resp["handle"])  # free the cursor
        _render_remote(resp, args.max_rows, truncated=truncated)

    try:
        with SqlClient(host, int(port)) as client:
            def run(text: str) -> None:
                for stmt in split_statements(text):
                    if stmt.strip():
                        run_one(client, stmt)

            if args.e is not None:
                run(args.e)
                return 0
            if args.f is not None:
                with open(args.f) as fh:
                    run(fh.read())
                return 0
            print(f"connected to {host}:{port} — ';'-terminated "
                  f"statements, 'quit;' to exit")
            for stmt in _iter_statements(sys.stdin):
                if stmt.strip().lower() in ("quit", "exit"):
                    return 0
                run_one(client, stmt)
    except (ConnectionError, TimeoutError, OSError) as exc:
        print(f"connection lost: {exc}", file=sys.stderr)
        return 1
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="amplab-hive-spark")
    ap.add_argument("-e", metavar="SQL", help="run a SQL string and exit")
    ap.add_argument("-f", metavar="FILE", help="run a SQL script file and exit")
    ap.add_argument("-i", metavar="FILE",
                    help="initialization SQL file, run before -e/-f/REPL "
                         "(reference: cli/OptionsProcessor.java -i)")
    # variable-substitution flags (cli/OptionsProcessor.java:86-101:
    # --define and --hivevar fill the same map; --hiveconf sets conf)
    ap.add_argument("-d", "--define", action="append", default=[],
                    metavar="KEY=VALUE",
                    help="define a hivevar (same map as --hivevar)")
    ap.add_argument("--hivevar", action="append", default=[],
                    metavar="KEY=VALUE",
                    help="define a hivevar for ${hivevar:KEY}/${KEY} "
                         "substitution")
    ap.add_argument("--hiveconf", action="append", default=[],
                    metavar="KEY=VALUE",
                    help="set a session conf before any statement runs")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01", help="testdata dir to attach")
    ap.add_argument("--max-rows", type=int, default=100)
    ap.add_argument(
        "--serve", action="store_true",
        help="run the multi-client SQL service (HiveServer2 analogue) "
             "until interrupted",
    )
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=10000)
    ap.add_argument(
        "--connect", metavar="HOST:PORT",
        help="connect to a running --serve instance as a thin client "
             "(the beeline analogue; this process never starts Spark)",
    )
    ap.add_argument(
        "--serve-tcli", action="store_true",
        help="run the ENGINE-ROUTED TCLIService front (tcli.py) until "
             "interrupted: JDBC clients connect with the default "
             "jdbc:hive2://host:port (SASL PLAIN; ;auth=noSasl also "
             "served) and get the full engine dialect (macros, MOR "
             "UPDATE/DELETE/MERGE, authorization DDL) plus enforcement",
    )
    args = ap.parse_args(argv)

    # parse the k=v flags ONCE, before any role branches — a
    # malformed flag fails fast without paying Spark startup
    from amplab_hive_spark.variables import parse_kv_flags

    hivevars = parse_kv_flags(args.define, "-d/--define")
    hivevars.update(parse_kv_flags(args.hivevar, "--hivevar"))
    hiveconfs = parse_kv_flags(args.hiveconf, "--hiveconf")

    if args.serve or args.serve_tcli:
        # hivevars are per-connection session state (each connection
        # gets its own Engine + VariableRegistry): a server-wide
        # hivevar flag would be a silent no-op, so refuse it loudly.
        # --hiveconf IS meaningful server-wide and is seeded into each
        # connection's session inside the serve branches.
        if hivevars or args.i is not None:
            ap.error("-d/--hivevar/-i are client-session flags; in a "
                     "serve role, set variables per connection with "
                     "'SET hivevar:k=v'")
    if args.connect:
        # the thin client holds no Engine: variables live server-side
        # per connection — refuse rather than silently ignore
        # (review r13); use SET statements over the wire instead
        if hivevars or hiveconfs or args.i is not None:
            ap.error("-d/--hivevar/--hiveconf/-i need a local engine; "
                     "over --connect, send 'SET hivevar:k=v' / "
                     "'SET k=v' statements instead")

    def _apply_hiveconf(spark):
        for k, v in hiveconfs.items():
            spark.conf.set(k, v)
        return spark

    if args.serve_tcli:
        if args.e is not None or args.f is not None or args.serve \
                or args.connect:
            ap.error("--serve-tcli is a standalone role")
        from amplab_hive_spark.session import get_spark
        from amplab_hive_spark.tcli import TCLIFront

        spark = _apply_hiveconf(get_spark("tcli-service"))
        # temp views are session-scoped and every connection gets its
        # own sub-session, so the front re-attaches the catalog there
        front = TCLIFront(spark, host=args.host, port=args.port,
                          sf_dir=args.sf_dir, server_confs=hiveconfs)
        front.start()
        print(f"TCLIService front on jdbc:hive2://{args.host}:{front.port}",
              flush=True)
        try:
            import threading

            threading.Event().wait()
        except KeyboardInterrupt:
            front.stop()
        return 0

    if args.connect:
        if args.serve:
            ap.error("--connect and --serve are different roles")
        return _client_main(args)

    if args.serve:
        if args.e is not None or args.f is not None:
            ap.error("--serve cannot be combined with -e/-f (the statement "
                     "would silently never run)")
        from amplab_hive_spark.service import SqlService
        from amplab_hive_spark.session import get_spark

        svc = SqlService(
            _apply_hiveconf(get_spark("sql-service")),
            host=args.host, port=args.port,
            sf_dir=args.sf_dir, max_rows=args.max_rows,
            server_confs=hiveconfs,
        )
        port = svc.start()
        print(f"SQL service listening on {args.host}:{port}", flush=True)
        try:
            import threading

            threading.Event().wait()
        except KeyboardInterrupt:
            pass
        finally:
            svc.stop()
        return 0

    from amplab_hive_spark.engine import Engine

    engine = Engine(sf_dir=args.sf_dir)
    engine.variables.hivevars.update(hivevars)
    for k, v in hiveconfs.items():
        engine.spark.conf.set(k, v)
    # one-shot runs exit with the first failure's code (CliDriver's
    # processLine return unless hive.cli.errors.ignore=true; the
    # error line was already printed where the failure happened)
    if args.i is not None:
        # expanduser like the sibling SOURCE command (review r13
        # pass 6: '-i ~/init.sql' from a wrapper that quotes the
        # tilde must behave like 'source ~/init.sql;')
        try:
            with open(os.path.expanduser(args.i)) as fh:
                _run_statements(engine, fh.read(), args.max_rows)
        except CommandFailure as exc:
            return exc.code
    # `is not None`: an explicitly-passed empty string (-e "$UNSET")
    # must be a no-op one-shot run, not a silent fall-through into a
    # REPL that blocks the calling pipeline on stdin.
    if args.e is not None:
        try:
            _run_statements(engine, args.e, args.max_rows)
        except CommandFailure as exc:
            return exc.code
        return 0
    if args.f is not None:
        try:
            with open(args.f) as fh:
                _run_statements(engine, fh.read(), args.max_rows)
        except CommandFailure as exc:
            return exc.code
        return 0
    # REPL (CliDriver.processLine equivalent): statement accumulation
    # shared with the thin client (_iter_statements). Interactive mode
    # keeps the session alive across failures, like hive's shell.
    print("amplab-hive-spark CLI — ';'-terminated statements, 'quit;' to exit")
    for stmt in _iter_statements(sys.stdin):
        if stmt.strip().lower() in ("quit", "exit"):
            break
        try:
            _run_statements(engine, stmt, args.max_rows)
        except CommandFailure:
            pass  # already reported where it happened
        except Exception as exc:  # surface analyzer errors, keep REPL alive
            print(f"ERROR: {exc}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
