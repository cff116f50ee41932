"""SQL macros — CREATE TEMPORARY MACRO / DROP TEMPORARY MACRO.

Reference surface: HiveParser.g:220 (TOK_CREATEMACRO) analyzed by
QL/parse/MacroSemanticAnalyzer.java. A Hive macro is an
*expression-level text template* — unlike a UDF it is inlined into
the query at compile time, so it costs nothing at runtime and stays
inside Catalyst codegen. Spark has no macro construct, so this is a
pre-parse shim (SURVEY.md §7.2): expansion happens on the SQL text
before ``spark.sql``, producing a plain Catalyst expression.

Expansion rules:
- macro calls are expanded everywhere outside string literals,
  quoted identifiers and comments (``sqltext.mask``), with
  balanced-paren argument parsing (arguments may themselves contain
  calls, commas inside parens); each argument and the body are
  trimmed of surrounding whitespace and comments;
- each parameter is substituted as a whole identifier into the body,
  with the argument text wrapped in parens (call-by-name, like the
  reference: the macro body is an AST template, not a function);
- the whole expansion is wrapped in parens so operator precedence
  around the call site is preserved;
- macros may reference other macros (depth-capped at 16 — the
  reference rejects recursive macros at CREATE time; we reject at
  expansion time).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from amplab_hive_spark.sqltext import mask, strip, top_level

_MAX_DEPTH = 16

# Head only — the parameter list is parsed at paren depth
# (``_parse_args``) so Hive-legal parameterized types like
# ``m(x DECIMAL(10,2))`` aren't cut at the inner ')'.
_CREATE_RE = re.compile(
    r"^\s*CREATE\s+TEMPORARY\s+MACRO\s+(\w+)\s*\(",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+TEMPORARY\s+MACRO\s+(IF\s+EXISTS\s+)?(\w+)\s*$", re.IGNORECASE
)


@dataclass
class Macro:
    name: str
    params: tuple[str, ...]
    body: str


class MacroError(ValueError):
    pass


class MacroRegistry:
    """Per-engine macro namespace (the reference's are
    session-scoped temporary objects too)."""

    def __init__(self) -> None:
        self._macros: dict[str, Macro] = {}

    # -- DDL surface ------------------------------------------------

    def handle_statement(self, sql: str) -> bool:
        """If ``sql`` is a macro DDL statement, execute it and
        return True; otherwise return False (caller runs the SQL
        normally, after :meth:`expand`)."""
        stripped = sql.strip().rstrip(";")
        m = _CREATE_RE.match(stripped)
        if m:
            name = m.group(1)
            # Balanced scan from the '(' — commas inside DECIMAL(10,2)
            # etc. stay within their own parens (depth > 1).
            param_decls, after = self._parse_args(stripped, m.end() - 1)
            body = strip(stripped[after:])
            if not body:
                raise MacroError(f"macro {name} has an empty body")
            params = []
            for p in param_decls:
                # "x DOUBLE" / "x DECIMAL(10,2)" → x ; types are
                # documentation here (the expanded expression is typed
                # by Catalyst analysis).
                if not p.split():
                    # e.g. "m(, x INT)" — empty declaration slot.
                    raise MacroError(f"empty parameter declaration in macro {name}")
                params.append(p.split()[0])
            if len(set(params)) != len(params):
                raise MacroError(f"duplicate macro parameter in {name}")
            # every declared parameter must appear in the body — the
            # reference rejects unused parameters up front
            # (ql/parse/MacroSemanticAnalyzer.java, clientnegative/
            # macro_unused_parameter.q). A parameter named only inside
            # a literal or a comment is not used.
            masked_body = mask(body)
            unused = [
                p for p in params
                if not re.search(rf"\b{re.escape(p)}\b", masked_body, re.IGNORECASE)
            ]
            if unused:
                raise MacroError(
                    f"macro {name} declares unused parameter(s) "
                    f"{', '.join(unused)} (macro_unused_parameter.q)"
                )
            self._macros[name.lower()] = Macro(name.lower(), tuple(params), body)
            return True
        m = _DROP_RE.match(sql.strip().rstrip(";"))
        if m:
            dropped = self._macros.pop(m.group(2).lower(), None)
            # DROP without IF EXISTS on a missing macro is an error,
            # like the reference's FunctionTask drop path
            if dropped is None and not m.group(1):
                raise MacroError(f"macro {m.group(2)} does not exist")
            return True
        return False

    def define(self, name: str, params: list[str] | tuple[str, ...], body: str) -> None:
        self._macros[name.lower()] = Macro(name.lower(), tuple(params), body)

    # -- expansion --------------------------------------------------

    def expand(self, sql: str) -> str:
        if not self._macros:
            return sql
        for _ in range(_MAX_DEPTH):
            out = self._expand_once(sql)
            if out == sql:
                return out
            sql = out
        raise MacroError("macro expansion did not terminate (recursive macros?)")

    def _expand_once(self, sql: str) -> str:
        # a call is a macro name, not qualified ('t.f(1)'), then '('
        calls = re.compile(
            r"(?<![\w.])(" + "|".join(map(re.escape, self._macros)) + r")\s*\(",
            re.IGNORECASE,
        )
        if not calls.search(sql):  # raw prefilter: most text has no call
            return sql
        masked = mask(sql)
        out: list[str] = []
        done = 0
        while m := calls.search(masked, done):
            macro = self._macros[m.group(1).lower()]
            args, end = self._parse_args(sql, m.end() - 1)
            if len(args) != len(macro.params):
                raise MacroError(
                    f"macro {macro.name} expects {len(macro.params)} args, got {len(args)}"
                )
            out += (sql[done : m.start()], "(" + self._substitute(macro, args) + ")")
            done = end
        out.append(sql[done:])
        return "".join(out)

    @staticmethod
    def _parse_args(sql: str, open_paren: int) -> tuple[list[str], int]:
        """Parse a balanced argument list starting at ``(``; returns
        (args, index-after-close-paren). An empty last slot is not an
        argument (``m()`` has none)."""
        masked = mask(sql[open_paren:])
        args: list[str] = []
        start = 1
        for i in top_level(masked, r"[,)]", 1):
            arg = strip(sql[open_paren + start : open_paren + i])
            start = i + 1
            if masked[i] == ",":
                args.append(arg)
                continue
            if arg:
                args.append(arg)
            return args, open_paren + i + 1
        raise MacroError("unbalanced parentheses in macro call")

    @staticmethod
    def _substitute(macro: Macro, args: list[str]) -> str:
        if not macro.params:
            return macro.body
        # single-pass whole-identifier substitution: an argument text
        # that itself contains a parameter-named column must not be
        # re-substituted (macro hygiene). Case-INSENSITIVE, matching
        # HiveQL identifier semantics (body may spell a parameter in
        # a different case than its declaration), and applied only
        # outside the body's literals and comments — a parameter name
        # inside one of the body's own string literals is content,
        # not an identifier (Hive inlines at the AST level, so body
        # literals are never touched).
        mapping = {p.lower(): a for p, a in zip(macro.params, args)}
        pattern = re.compile(
            "|".join(
                rf"\b{re.escape(p)}\b"
                for p in sorted(macro.params, key=len, reverse=True)
            ),
            re.IGNORECASE,
        )

        body = macro.body
        out: list[str] = []
        pos = 0
        for m in pattern.finditer(mask(body)):
            out += (body[pos : m.start()], f"({mapping[m.group(0).lower()]})")
            pos = m.end()
        out.append(body[pos:])
        return "".join(out)


# -- driver-contract query: macro expansion feeding a real plan -----

def _register_macro_query() -> None:
    from pyspark.sql import DataFrame, SparkSession

    from amplab_hive_spark.registry import register

    oracle = """
SELECT l_returnflag,
       CAST(SUM(CAST(((CAST(l_extendedprice AS DECIMAL(18,2))) * (1 - (CAST(l_discount AS DECIMAL(6,2))))) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

    @register("macro_disc_price_revenue", tags=("macro", "agg"), oracle=oracle)
    def macro_disc_price_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
        """CREATE TEMPORARY MACRO inlined into an aggregate — the
        macro body lands inside Catalyst codegen (it is text, not a
        UDF), so this plan is identical to writing the expression by
        hand. Oracle is the hand-expanded SQL."""
        from amplab_hive_spark.engine import Engine

        e = Engine(spark, sf_dir=sf_dir)
        e.sql("CREATE TEMPORARY MACRO disc_price(p DECIMAL, d DECIMAL) p * (1 - d)")
        return e.sql(
            """
SELECT l_returnflag,
       CAST(SUM(CAST(disc_price(CAST(l_extendedprice AS DECIMAL(18,2)), CAST(l_discount AS DECIMAL(6,2))) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""
        )


_register_macro_query()
