"""SQL-text front-end for UPDATE / DELETE / MERGE statements.

The reference accepts row-level DML as STATEMENTS —
``ql/parse/UpdateDeleteSemanticAnalyzer.java:76`` rewrites
``UPDATE t SET ... WHERE ...`` and ``DELETE FROM t WHERE ...`` into
``INSERT ... SELECT`` over the same table (and Hive 2.2's
MergeSemanticAnalyzer does the same for MERGE). This repo implements
the identical semantics as Python verbs (ddl.update_table /
delete_from / merge_into — partition-scoped copy-on-write); this
module closes the remaining STATEMENT-surface gap: a recognizer that
routes the three DML statement forms to those verbs, so
``Engine.sql("UPDATE ...")`` works the way a reference user expects.
Everything after recognition — discovery scans, partition scoping,
cardinality checks, crash-window semantics — is exactly the
documented verb behavior; this file contains no execution logic.

Grammar accepted (documented constraints, mirrored in tests):

- ``UPDATE <table> SET col = expr[, ...] [WHERE <cond>]``
- ``DELETE FROM <table> [WHERE <cond>]``
- ``MERGE INTO <table> [AS] [<talias>] USING (<subquery>)|<table>
  [AS] [<salias>] ON <cond>
  [WHEN MATCHED [AND <cond>] THEN DELETE]
  [WHEN MATCHED [AND <cond>] THEN UPDATE SET col = expr[, ...]]
  [WHEN NOT MATCHED [AND <cond>] THEN
     INSERT [(cols)] VALUES (exprs) | INSERT *]``

All keyword boundaries (WHERE, ON..WHEN, WHEN..WHEN, AND..THEN, the
USING source) are found at paren/CASE depth 0 on the statement's
``sqltext.mask``, never by bare regex over the raw text: what counts
as a string literal, quoted identifier or comment is decided by
``sqltext`` alone, Spark's lexical rules, so a keyword, comma or
``alias.`` prefix inside one never marks a boundary. Extracted
pieces are trimmed of surrounding whitespace and comments.
Aliases in MERGE expressions are normalized to the ``t.``/``s.``
convention merge_into uses via unique placeholder tokens in one
logical pass (a user alias literally named ``t`` or ``s`` — even
swapped — cannot collide with the canonical names), outside literals
and comments only, and a bare table name acts as a qualifier only
when that side has no explicit alias (standard SQL: the alias hides
the table name). Both MATCHED-clause orders are accepted with ANSI
first-matching-clause semantics, composed onto merge_into's fixed
delete-before-update evaluation: DELETE-first passes through
directly; UPDATE-first folds ``NOT <update guard>`` into the delete
condition. Hive 2.2's MergeSemanticAnalyzer rule is enforced either
way: when two MATCHED clauses are present the FIRST must carry AND
(the second would be unreachable otherwise). Statements that do not
start with one of the three keywords pass through untouched
(handle() returns None).

Write-path selection (r8): a merge-on-read table — pinned keys
(acid.pin_mor_keys) or TBLPROPERTIES ('transactional'='true',
'merge_keys'=...) — routes UPDATE/DELETE statements through
acid.update_mor/delete_mor (delta files, no base rewrite); other
tables take the copy-on-write verbs. Exactly how the reference picks
the ACID path off the table property (ql/io/AcidUtils.java). MERGE
is copy-on-write only and REFUSES a merge-on-read table (either
trigger) rather than mixing write models. One more statement form is
recognized: HiveQL's ``ALTER TABLE t COMPACT 'major'|'minor'`` runs
acid.compact_mor in that mode (major folds deltas into the base,
minor consolidates deltas without a base rewrite), and ``SHOW
COMPACTIONS`` lists the pending inline-compaction work per
merge-on-read table (acid.show_compactions); every other statement
passes through untouched (handle() returns None).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from amplab_hive_spark.session import local_rows
from amplab_hive_spark.sqltext import mask, strip, strip_leading_comments, top_level


def _split_top(s: str, sep: str) -> list[str]:
    """Split on ``sep`` at paren/CASE depth 0 outside literals and
    comments."""
    parts, start = [], 0
    for i in top_level(mask(s), re.escape(sep)):
        parts.append(s[start:i])
        start = i + 1
    parts.append(s[start:])
    return parts


def _find_keyword(s: str, word: str) -> int:
    """Index of the first top-level (depth-0, outside literals and
    comments) occurrence of ``word`` as a whole word; -1 if absent."""
    return next(top_level(mask(s), rf"\b{word}\b"), -1)


def _split_where(body: str, stmt: str) -> tuple[str, str | None]:
    """Split ``body`` at its top-level WHERE. A present-but-empty
    condition is a syntax error, never TRUE — 'DELETE ... WHERE ;'
    must not silently become delete-everything."""
    body = strip(strip(body).rstrip(";"))
    w = _find_keyword(body, "WHERE")
    if w < 0:
        return body, None
    cond = strip(body[w + 5 :])
    if not cond:
        raise ValueError(f"{stmt}: WHERE requires a condition")
    return strip(body[:w]), cond


def _assignments(text: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for piece in _split_top(text, ","):
        eq = mask(piece).find("=")
        col, expr = strip(piece[:eq]), strip(piece[eq + 1 :])
        if eq < 0 or not col or not expr:
            raise ValueError(f"malformed SET assignment: {piece.strip()!r}")
        # backtick-quoted target identifier (`case` = 1): the verb
        # layer resolves PLAIN names against the schema
        if len(col) >= 2 and col[0] == col[-1] == "`":
            col = col[1:-1]
        out[col] = expr
    return out


def _rewrite_alias(expr: str, alias: str | None, canonical: str) -> str:
    """Replace ``alias.`` qualifiers with ``canonical.`` outside
    literals and comments — a literal 'see src.example.com' or
    "src.b" must survive.
    The negative lookbehind keeps qualified tails intact: in
    ``db.tbl.col`` the ``tbl.`` is preceded by ``.`` and is NOT an
    alias use, so it must not be rewritten."""
    if not alias or alias.lower() == canonical:
        return expr
    pat = re.compile(rf"(?<![\w.]){re.escape(alias)}\s*\.", re.I)
    out, pos = [], 0
    for m in pat.finditer(mask(expr)):
        out += (expr[pos : m.start()], f"{canonical}.")
        pos = m.end()
    out.append(expr[pos:])
    return "".join(out)


# the head patterns below run on the statement's sqltext.mask, so a
# comment between keywords is blank and the mode literal is '#'s
_MASKED_HEADS = re.compile(r"\s*(?:ALTER|SHOW|UPDATE|DELETE)\b", re.I)
_COMPACT_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+COMPACT\s+(#+)\s*;?\s*$", re.I
)
_SHOW_COMPACTIONS_STMT = re.compile(r"^\s*SHOW\s+COMPACTIONS\s*;?\s*$", re.I)
_SHOW_TXNS_STMT = re.compile(r"^\s*SHOW\s+TRANSACTIONS\s*;?\s*$", re.I)
_SHOW_LOCKS_STMT = re.compile(
    r"^\s*SHOW\s+LOCKS(?:\s+(?!EXTENDED\b)([\w.]+))?(\s+EXTENDED)?\s*;?\s*$",
    re.I,
)
_UPDATE_HEAD = re.compile(r"^\s*UPDATE\s+([\w.]+)\s+SET\s+", re.I | re.S)
_DELETE_HEAD = re.compile(r"^\s*DELETE\s+FROM\s+([\w.]+)\s*", re.I | re.S)
_MERGE_INTO = re.compile(
    r"^\s*MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?\s+USING\s+",
    re.I | re.S,
)
_WHEN_MATCHED = re.compile(r"\s+(?:NOT\s+)?MATCHED\b", re.I)


def _split_when(rest: str) -> list[str]:
    """Split the post-ON text at every top-level (depth-0, unquoted)
    ``WHEN`` that introduces a ``[NOT] MATCHED`` clause — the
    scanner-found analogue of the regex split this module's docstring
    forbids. Element 0 is the ON condition text; each later element
    is one clause body (the text after its WHEN). A string literal
    containing 'WHEN MATCHED ...' in the ON condition or a SET
    expression never splits (r6 ADVICE finding)."""
    masked = mask(rest)
    bounds = [
        i for i in top_level(masked, r"\bWHEN\b")
        if _WHEN_MATCHED.match(masked, i + 4)
    ]
    pieces = [rest[: bounds[0]] if bounds else rest]
    for j, b in enumerate(bounds):
        end = bounds[j + 1] if j + 1 < len(bounds) else len(rest)
        pieces.append(rest[b + 4 : end])
    return pieces


def _parse_when_clause(clause: str) -> tuple[str, str | None, str]:
    """Parse one WHEN-clause body into (kind, guard, action_text)
    where kind ∈ {'matched', 'not_matched'}; guard is the optional
    AND condition; action_text follows THEN. The AND..THEN boundary
    is scanner-found, so a guard containing 'THEN' inside a string
    literal or parens survives."""
    m = re.match(r"^\s*(NOT\s+)?MATCHED\b", mask(clause), re.I)
    if not m:
        raise ValueError(f"unsupported MERGE WHEN clause: WHEN {clause.strip()[:60]}")
    kind = "not_matched" if m.group(1) else "matched"
    rest = clause[m.end() :]
    then_at = _find_keyword(rest, "THEN")
    if then_at < 0:
        raise ValueError(f"unsupported MERGE WHEN clause: WHEN {clause.strip()[:60]}")
    guard_text = strip(rest[:then_at])
    guard = None
    if guard_text:
        am = re.match(r"^AND\b", guard_text, re.I)
        if not am or not strip(guard_text[am.end() :]):
            raise ValueError(
                f"unsupported MERGE WHEN clause: WHEN {clause.strip()[:60]}"
            )
        guard = strip(guard_text[am.end() :])
    action = strip(strip(rest[then_at + 4 :]).rstrip(";"))
    return kind, guard, action


_INSERT_COLS_RE = re.compile(r"^INSERT\s*\(([^)]*)\)\s*VALUES\s*", re.I | re.S)
_INSERT_VALUES_RE = re.compile(r"^INSERT\s+VALUES\s*", re.I | re.S)


def _parse_insert_action(action: str) -> tuple[list[str] | None, list[str] | None]:
    """Parse ``INSERT *`` (returns (None, None)) or
    ``INSERT [(cols)] VALUES (exprs)`` (returns (cols-or-None,
    exprs)); the VALUES tuple is scanner-delimited so nested parens
    and quoted commas survive."""
    if re.fullmatch(r"INSERT\s*\*", action, re.I):
        return None, None
    cols = None
    m = _INSERT_COLS_RE.match(action)
    if m:
        cols = [c.strip() for c in m.group(1).split(",")]
        rest = action[m.end() :]
    else:
        m = _INSERT_VALUES_RE.match(action)
        if not m:
            raise ValueError(f"unsupported MERGE WHEN clause: WHEN ... THEN {action[:60]}")
        rest = action[m.end() :]
    rest = rest.lstrip()
    if not rest.startswith("("):
        raise ValueError("unsupported MERGE syntax — INSERT VALUES requires (...)")
    masked = mask(rest)
    i = next(top_level(masked, r"\)", 1), -1)
    if i < 0:
        raise ValueError("unsupported MERGE syntax — unbalanced ( in INSERT VALUES")
    if masked[i + 1 :].strip():
        raise ValueError(
            f"unsupported MERGE syntax — trailing text after INSERT "
            f"VALUES: {rest[i + 1 :].strip()[:40]!r}"
        )
    return cols, [strip(e) for e in _split_top(rest[1:i], ",")]


def _parse_using_source(rest: str) -> tuple[str, str]:
    """rest starts at the USING operand: a table name or a
    parenthesized subquery (arbitrary nesting, quote-aware). Returns
    (source_text, remainder)."""
    rest = strip_leading_comments(rest)
    if rest.startswith("("):
        i = next(top_level(mask(rest), r"\)", 1), -1)
        if i < 0:
            raise ValueError("unsupported MERGE syntax — unbalanced ( in USING")
        return rest[: i + 1], rest[i + 1 :]
    m = re.match(r"[\w.]+", rest)
    if not m:
        raise ValueError("unsupported MERGE syntax — expected USING <table|(subquery)>")
    return m.group(0), rest[m.end() :]


def handle(spark: SparkSession, text: str) -> DataFrame | None:
    """Route a DML statement to its verb; None if ``text`` is not an
    UPDATE/DELETE/MERGE/COMPACT statement. Returns a one-row count
    frame (the rows-affected answer a CLI prints).

    Write-path selection mirrors the reference: Hive routes
    statements against ``transactional=true`` tables through the
    ACID delta path and everything else through the rewrite path
    (ql/io/AcidUtils.java). Here a table with PINNED merge-on-read
    keys (acid.pin_mor_keys, or any prior *_mor write) takes
    acid.update_mor/delete_mor; unpinned tables take the
    copy-on-write ddl verbs. MERGE is copy-on-write only and raises
    on a pinned table (run acid.compact_mor first) — honest scope,
    same as the COW-verb guard."""
    from amplab_hive_spark.acid import compact_mor as _compact_mor
    from amplab_hive_spark.acid import delete_mor as _delete_mor
    from amplab_hive_spark.acid import mor_keys as _mor_keys
    from amplab_hive_spark.acid import update_mor as _update_mor
    from amplab_hive_spark.ddl import delete_from, merge_into, update_table

    # mask only a statement this shim may claim: an INSERT of many
    # literals never pays for the lexer here
    masked = mask(text) if _MASKED_HEADS.match(text) else text
    if _SHOW_COMPACTIONS_STMT.match(masked):
        # DDLTask.showCompactions: the queue listing — here the
        # PENDING inline-compaction work per merge-on-read table
        # (acid.show_compactions documents the column mapping)
        from amplab_hive_spark.acid import show_compactions

        return show_compactions(spark)

    if _SHOW_TXNS_STMT.match(masked):
        # DDLTask.showTxns: the open-transaction listing — empty by
        # design in an inline-commit engine (acid.show_transactions
        # documents the honest mapping)
        from amplab_hive_spark.acid import show_transactions

        return show_transactions(spark)

    m = _SHOW_LOCKS_STMT.match(masked)
    if m:
        # DDLTask.showLocks: live lock-manager state — here the
        # warehouse sidecar flocks, the only locks this inline engine
        # holds (acid.show_locks documents the honest mapping)
        from amplab_hive_spark.acid import show_locks

        return show_locks(spark, m.group(1))

    m = _COMPACT_STMT.match(masked)
    if m:
        # HiveQL's ALTER TABLE .. COMPACT 'major'|'minor'
        # (DDLSemanticAnalyzer -> compactor Worker): major folds the
        # deltas into the base; minor consolidates the deltas without
        # a base rewrite (CompactorMR's two modes).
        literal = text[m.start(2) : m.end(2)]
        mode = literal[1:-1].lower()
        if literal[0] not in "'\"" or mode not in ("major", "minor"):
            raise ValueError(
                f"COMPACT expects 'major' or 'minor' (got {literal})"
            )
        # COMPACT is not Spark grammar, so the parse-tree enforcement
        # gate never sees it — gate the file-rewriting verb here
        # (authorization.enforce_maintenance; no-op when disabled)
        from amplab_hive_spark.authorization import enforce_maintenance

        enforce_maintenance(spark, m.group(1))
        n = _compact_mor(spark, m.group(1), mode=mode)
        return local_rows(spark, [(n,)], "compacted_deltas bigint")

    m = _UPDATE_HEAD.match(masked)
    if m:
        set_text, cond = _split_where(text[m.end() :], "UPDATE")
        keys = _mor_keys(spark, m.group(1))
        if keys is not None:
            n = _update_mor(spark, m.group(1), cond or "true",
                            _assignments(set_text), keys)
        else:
            n = update_table(spark, m.group(1), cond or "true",
                             _assignments(set_text))
        return local_rows(spark, [(n,)], "updated bigint")

    m = _DELETE_HEAD.match(masked)
    if m:
        tail, cond = _split_where(text[m.end() :], "DELETE")
        if tail.strip():
            raise ValueError(f"unsupported DELETE syntax near: {tail.strip()[:40]!r}")
        keys = _mor_keys(spark, m.group(1))
        if keys is not None:
            n = _delete_mor(spark, m.group(1), cond or "true", keys)
        else:
            n = delete_from(spark, m.group(1), cond or "true")
        return local_rows(spark, [(n,)], "deleted bigint")

    if not re.match(r"^\s*MERGE\b", text, re.I):
        return None
    m = _MERGE_INTO.match(text)
    if not m:
        raise ValueError(
            "unsupported MERGE syntax — expected: MERGE INTO <table> [alias] "
            "USING <table|(subquery)> [alias] ON <cond> WHEN ..."
        )
    name, talias = m.group(1), m.group(2)
    src_text, rest = _parse_using_source(text[m.end() :])
    am = re.match(r"\s+(?:AS\s+)?(?!ON\b)(\w+)", rest, re.I)
    salias = am.group(1) if am else None
    rest = rest[am.end() :] if am else rest
    on_kw = _find_keyword(rest, "ON")
    if on_kw < 0:
        raise ValueError("unsupported MERGE syntax — missing ON condition")
    rest = rest[on_kw + 2 :]
    pieces = _split_when(rest)
    on = strip(pieces[0])
    if len(pieces) < 2:
        raise ValueError("MERGE requires at least one WHEN clause")
    if _mor_keys(spark, name) is not None:
        raise ValueError(
            f"MERGE on merge-on-read table {name} is not supported "
            f"(copy-on-write MERGE would mix write models); run "
            f"acid.compact_mor(spark, {name!r}) and unset the "
            f"transactional property, or decompose into UPDATE/DELETE "
            f"statements"
        )
    if talias and salias and talias.lower() == salias.lower():
        raise ValueError(
            f"MERGE target and source aliases collide: {talias!r} — every "
            f"qualified reference would be ambiguous"
        )
    # An alias on one side that equals the OTHER side's bare table
    # name is just as ambiguous (standard SQL: both qualifiers are in
    # scope): `MERGE INTO dst USING src AS dst` would silently bind
    # every `dst.` reference to the SOURCE. Reject loudly.
    if salias and talias is None and salias.lower() == name.split(".")[-1].lower():
        raise ValueError(
            f"MERGE source alias {salias!r} collides with the unaliased "
            f"target table name — qualified references would be ambiguous; "
            f"alias the target too"
        )
    if (
        talias
        and salias is None
        and not src_text.startswith("(")
        and talias.lower() == src_text.split(".")[-1].lower()
    ):
        raise ValueError(
            f"MERGE target alias {talias!r} collides with the unaliased "
            f"source table name — qualified references would be ambiguous; "
            f"alias the source too"
        )

    source = (
        spark.sql(src_text[1:-1]) if src_text.startswith("(") else spark.table(src_text)
    )

    _TGT_PH, _SRC_PH = "__merge_tgt_ph__", "__merge_src_ph__"

    def canon(expr: str) -> str:
        # Explicit aliases rewrite to UNIQUE placeholder qualifiers
        # first, so a user alias literally named 't' or 's' — even
        # swapped t/s aliases — can never be re-rewritten by a later
        # pass (the r6 ADVICE collision). A bare table short-name
        # qualifies a side only when that side has no explicit alias
        # (standard SQL: the alias hides the table name; Hive allows
        # `MERGE INTO tbl ... ON tbl.id = ...` only unaliased).
        expr = _rewrite_alias(expr, talias, _TGT_PH)
        expr = _rewrite_alias(expr, salias, _SRC_PH)
        if talias is None:
            expr = _rewrite_alias(expr, name.split(".")[-1], _TGT_PH)
        if salias is None and not src_text.startswith("("):
            expr = _rewrite_alias(expr, src_text.split(".")[-1], _SRC_PH)
        expr = _rewrite_alias(expr, _TGT_PH, "t")
        return _rewrite_alias(expr, _SRC_PH, "s")

    matched_update = matched_delete = not_matched_insert = None
    update_guard = insert_guard = None
    matched_order: list[str] = []  # textual order of the MATCHED clauses
    for clause in pieces[1:]:
        kind, guard, action = _parse_when_clause(clause)
        if kind == "matched":
            if re.match(r"^UPDATE\s+SET\s+", action, re.I):
                if matched_update is not None:
                    raise ValueError("duplicate WHEN MATCHED ... UPDATE clause")
                set_text = re.sub(r"^UPDATE\s+SET\s+", "", action, count=1, flags=re.I)
                matched_update = {
                    c: canon(e) for c, e in _assignments(set_text).items()
                }
                update_guard = canon(guard) if guard else None
                matched_order.append("update")
            elif re.fullmatch(r"DELETE", action, re.I):
                if matched_delete is not None:
                    raise ValueError("duplicate WHEN MATCHED ... DELETE clause")
                matched_delete = canon(guard) if guard else "true"
                matched_order.append("delete")
            else:
                raise ValueError(
                    f"unsupported MERGE WHEN clause: WHEN {clause.strip()[:60]}"
                )
        else:
            if not_matched_insert is not None:
                raise ValueError("duplicate WHEN NOT MATCHED clause")
            if not re.match(r"^INSERT\b", action, re.I):
                raise ValueError(
                    f"unsupported MERGE WHEN clause: WHEN {clause.strip()[:60]}"
                )
            cols, exprs = _parse_insert_action(action)
            if exprs is None:
                tcols = [f.name for f in spark.table(name).schema.fields]
                scols = {c.lower() for c in source.columns}
                not_matched_insert = {
                    c: f"s.{c}" for c in tcols if c.lower() in scols
                }
            else:
                if cols is None:
                    cols = [f.name for f in spark.table(name).schema.fields]
                if len(cols) != len(exprs):
                    raise ValueError(
                        f"MERGE INSERT arity mismatch: {len(cols)} columns, "
                        f"{len(exprs)} values"
                    )
                not_matched_insert = {c: canon(e) for c, e in zip(cols, exprs)}
            insert_guard = canon(guard) if guard else None

    # ANSI applies the FIRST matching MATCHED clause; merge_into
    # evaluates delete-before-update. DELETE-first passes through
    # unchanged (the verb runs the update guard only on non-deleted
    # rows); UPDATE-first folds NOT <update guard> into the delete
    # condition so a row firing the update can never also fire the
    # textually-later delete. Either way the FIRST of two MATCHED
    # clauses must carry AND (Hive 2.2 MergeSemanticAnalyzer rule:
    # the second clause is unreachable otherwise).
    if matched_update is not None and matched_delete is not None:
        if matched_order[0] == "delete":
            if matched_delete == "true":
                raise ValueError(
                    "WHEN MATCHED THEN DELETE followed by another MATCHED "
                    "clause must carry AND <cond> — the second clause is "
                    "unreachable otherwise"
                )
        else:
            if update_guard is None:
                raise ValueError(
                    "WHEN MATCHED THEN UPDATE followed by another MATCHED "
                    "clause must carry AND <cond> — the second clause is "
                    "unreachable otherwise"
                )
            not_u = f"NOT coalesce(({update_guard}), false)"
            matched_delete = (
                not_u
                if matched_delete == "true"
                else f"({matched_delete}) AND {not_u}"
            )

    stats = merge_into(
        spark,
        name,
        source,
        on=canon(on),
        matched_update=matched_update,
        matched_update_cond=update_guard,
        matched_delete=matched_delete,
        not_matched_insert=not_matched_insert,
        not_matched_cond=insert_guard,
    )
    return local_rows(
        spark, [(stats["updated"], stats["deleted"], stats["inserted"])],
        "updated bigint, deleted bigint, inserted bigint",
    )
