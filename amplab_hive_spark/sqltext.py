"""Spark SQL's lexical rules, in one place, for the pre-parse shims.

The reference runs every statement through one lexer (HiveLexer.g,
``Driver.compile`` -> ``ParseDriver.parse``) before any analyzer looks
at it. Here the shims ``Engine.sql`` runs before Catalyst (SET, dfs,
macros, authorization DDL, UPDATE/DELETE/MERGE) and the CLI/golden
statement splitter all ask this module where a literal or a comment
begins and ends, so they agree with each other and with Spark's
``SqlBaseLexer.g4``:

- ``'…'`` and ``"…"`` string literals with backslash escapes (a
  doubled quote is two adjacent literals, opaque either way);
  ``R'…'`` / ``R"…"`` raw literals, which have no escapes;
- ```…``` quoted identifiers (a doubled backtick, likewise);
- ``--`` comments to end of line (a backslash-newline continues one);
- ``/* */`` comments, NESTED (SPARK-28880). Hints (``/*+ … */``) are
  treated as comments too: no shim looks inside one.

An unterminated literal or comment runs to the end of the text, as
Spark's lexer reads it before reporting the error.

Callers never walk characters themselves. :func:`mask` returns a copy
of the same length with every literal and comment blanked, so a
caller runs its regexes and ``find`` calls on the mask and slices the
original at the same indices. The lexing is regex-driven: plain text
is skipped in C, and only a nested block comment needs a Python loop.
"""

from __future__ import annotations

import re
from typing import Iterator, Optional

_LINE_COMMENT = r"--(?:\\\n|[^\r\n])*"
_LEXEME = re.compile(
    rf"""(?P<lit>
          (?<!\w)[rR]'[^']*'? | (?<!\w)[rR]"[^"]*"?
        | '[^'\\]*(?:\\.[^'\\]*)*\\?'?
        | "[^"\\]*(?:\\.[^"\\]*)*\\?"?
        | `[^`]*`?
        )
      | (?P<line>{_LINE_COMMENT})
      | (?P<block>/\*)""",
    re.S | re.X,
)
_BLOCK_EDGE = re.compile(r"/\*|\*/")
_BLANK = re.compile(rf"(?:\s|{_LINE_COMMENT})*")

# what a masked literal becomes: not a word character (keywords next
# to a literal stay whole words) and not whitespace (a literal is not
# blank, a comment is)
_FILL = "#"


def _block_end(text: str, i: int) -> Optional[int]:
    """``text[i:]`` starts with ``/*``: the index just past its
    matching ``*/``, counting nested openers; None if unclosed."""
    depth = 0
    for m in _BLOCK_EDGE.finditer(text, i):
        depth += 1 if m.group() == "/*" else -1
        if not depth:
            return m.end()
    return None


def _lexemes(text: str) -> Iterator[tuple[str, int, int]]:
    """(kind, start, end) of every literal (``lit``), line comment
    (``line``) and block comment (``block``) in ``text``."""
    pos = 0
    while m := _LEXEME.search(text, pos):
        kind, start = m.lastgroup, m.start()
        end = m.end() if kind != "block" else (_block_end(text, start) or len(text))
        yield kind, start, end
        pos = end


def mask(text: str) -> str:
    """``text`` with every comment replaced by spaces and every string
    literal or quoted identifier by ``#``, quotes included.
    Same length; every other character is unchanged."""
    parts, pos = [], 0
    for kind, start, end in _lexemes(text):
        parts += (text[pos:start], (_FILL if kind == "lit" else " ") * (end - start))
        pos = end
    if not parts:
        return text
    parts.append(text[pos:])
    return "".join(parts)


def strip(text: str) -> str:
    """``text`` without leading and trailing whitespace and comments."""
    m = mask(text)
    return text[len(m) - len(m.lstrip()) : len(m.rstrip())]


def _skip_blank(text: str, pos: int) -> int:
    """Index of the first character at or after ``pos`` that is not
    whitespace or part of a comment. An unclosed block comment is not
    skipped, so Spark's parser gets to report it."""
    while True:
        pos = _BLANK.match(text, pos).end()
        end = _block_end(text, pos) if text.startswith("/*", pos) else None
        if end is None:
            return pos
        pos = end


def strip_leading_comments(text: str) -> str:
    """``text`` from its first token on: leading whitespace, ``--``
    and (nested) ``/* */`` comments removed, as Spark's parser skips
    them. Reads only the head, never the rest of the statement."""
    return text[_skip_blank(text, 0):]


def top_level(masked: str, target: str, pos: int = 0) -> Iterator[int]:
    """Start index of every match of the regex ``target`` in
    ``masked`` (a :func:`mask` result) from ``pos`` on that sits at
    nesting depth 0, the depth counted from ``pos``. Parentheses and
    ``CASE … END`` blocks nest: a CASE opens a scope like a paren, and
    END closes only an open CASE, so a column named ``end`` never
    drives the depth negative. A paren matched as ``target`` still
    moves the depth, after the test. Case-insensitive."""
    paren = case = 0
    pattern = re.compile(rf"(?P<t>{target})|[()]|\b(?:case|end)\b", re.I)
    for m in pattern.finditer(masked, pos):
        tok = m.group().lower()
        if m.lastgroup == "t" and paren + case == 0:
            yield m.start()
        if tok == "(":
            paren += 1
        elif tok == ")":
            paren -= 1
        elif tok == "case":
            case += 1
        elif tok == "end" and case:
            case -= 1


_CMD_HEAD = re.compile(r"(?:!|(?:dfs|source)(?=[\s;]|$))", re.IGNORECASE)


def _drop_line_comments(text: str) -> str:
    parts, pos = [], 0
    for kind, start, end in _lexemes(text):
        if kind == "line":
            parts.append(text[pos:start])
            pos = end
    parts.append(text[pos:])
    return "".join(parts)


def split_statements(text: str) -> list[str]:
    """Split a script on ``;`` outside literals and comments (there
    are no procedural blocks in HiveQL). ``--`` comments are dropped
    from the statements, ``/* */`` comments kept, and a statement that
    is only whitespace and comments is not emitted.

    A statement whose first token is a CLI command head (``!``,
    ``dfs``, ``source`` — CliDriver.processCmd's non-SQL branches)
    runs RAW to the next ``;`` or newline, with no literal or comment
    rules: the reference's processLine does a plain
    ``line.split(";")`` (CliDriver.java:358), so ``! tar --version``
    keeps its ``--version`` and an apostrophe in a shell command does
    not open a string. Hive .q scripts carry dfs/source lines too, so
    the golden harness shares the rule."""
    out: list[str] = []
    pos, n = 0, len(text)
    base, masked = 0, mask(text)  # masked == mask(text[base:])
    while pos < n:
        head = _skip_blank(text, pos)
        if _CMD_HEAD.match(text, head):
            stops = [x for x in (text.find(";", head), text.find("\n", head)) if x >= 0]
            end = min(stops, default=n)
            stmt = _drop_line_comments(text[pos:head]) + text[head:end]
            # the raw command may hold an unbalanced quote: lex afresh
            base, masked = end + 1, mask(text[end + 1 :])
        else:
            end = masked.find(";", pos - base)
            end = n if end < 0 else end + base
            stmt = _drop_line_comments(text[pos:end]) if head < end else ""
        if stmt := stmt.strip():
            out.append(stmt)
        pos = end + 1
    return out
