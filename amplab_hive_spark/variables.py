"""Variable substitution + the prefixed SET command family.

The reference substitutes ``${...}`` references in EVERY CLI and
Driver statement before compilation (ql/parse/VariableSubstitution
.java:30 over conf/SystemVariables.java:107 substitute loop), with
session state fed by SetProcessor (ql/processors/SetProcessor.java:
115 setVariable) and the CLI's ``--hivevar``/``-d``/``--hiveconf``
flags (cli/OptionsProcessor.java:86-101). This module re-expresses
that pre-parse pass for Engine.sql.

Semantics matched to the reference:

- pattern ``\\$\\{[^}$\\u0020]+\\}`` — no ``}``, ``$`` or space
  inside the braces (SystemVariables.java:30 varPat);
- prefixes ``system:`` (session system-property map), ``env:``
  (process environment, read-only), ``hiveconf:`` (Spark session
  conf), ``hivevar:`` (session variable map); a BARE name resolves
  against the hivevar map ONLY — this Hive version does not fall
  back to conf for prefixless names (VariableSubstitution.java:35
  getSubstitute: super handles prefixes, else hiveVariables);
- undefined variables pass through verbatim (SystemVariables.java:
  139 "append as-is");
- nested substitution re-scans until a fixpoint, bounded by
  ``hive.variable.substitute.depth`` (default 40) iterations —
  exceeding it raises (SystemVariables.java:152);
- ``hive.variable.substitute=false`` disables the pass entirely
  (VariableSubstitution.java:52).

SET handling (SetProcessor.java:115):

- ``SET env:x=v``        -> error: env:* variables can not be set
- ``SET system:x=v``     -> session system map (value substituted)
- ``SET hivevar:x=v``    -> hivevar map       (value substituted)
- ``SET hiveconf:x=v``   -> Spark conf        (value substituted)
- ``SET x=v`` / ``SET x`` / ``SET`` / ``SET -v`` -> not handled
  here; the substituted text falls through to Spark SQL's native
  SET, which is already conf-backed (the reference's bare-name
  branch, SetProcessor.java:137 setConf).
"""

from __future__ import annotations

import os
import re
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from amplab_hive_spark.session import local_rows

# SystemVariables.java:30 — no '}', '$' or space inside the braces.
VARPAT = re.compile(r"\$\{[^}$ ]+\}")

ENV_PREFIX = "env:"
SYSTEM_PREFIX = "system:"
HIVECONF_PREFIX = "hiveconf:"
HIVEVAR_PREFIX = "hivevar:"

SUBSTITUTE_CONF = "hive.variable.substitute"
DEPTH_CONF = "hive.variable.substitute.depth"
DEFAULT_DEPTH = 40

# SET <name> = <value>: name may carry a prefix; value runs to end of
# statement (the reference splits on the FIRST '=', SetProcessor via
# CommandProcessorFactory/SetProcessor part[0]/part[1]).
_SET_STMT = re.compile(r"^\s*set\s+(?P<body>\S.*)$", re.IGNORECASE | re.DOTALL)


class VariableRegistry:
    """Per-Engine session variable state: the hivevar map and the
    session 'system property' map (the python stand-in for the JVM
    global System.getProperties the reference mutates)."""

    def __init__(self) -> None:
        self.hivevars: dict[str, str] = {}
        self.sysprops: dict[str, str] = {}

    # -- resolution (VariableSubstitution.java:35 getSubstitute) ----

    def _get_substitute(self, spark: SparkSession, var: str) -> Optional[str]:
        if var.startswith(SYSTEM_PREFIX):
            return self.sysprops.get(var[len(SYSTEM_PREFIX):])
        if var.startswith(ENV_PREFIX):
            return os.environ.get(var[len(ENV_PREFIX):])
        if var.startswith(HIVECONF_PREFIX):
            return spark.conf.get(var[len(HIVECONF_PREFIX):], None)
        if var.startswith(HIVEVAR_PREFIX):
            return self.hivevars.get(var[len(HIVEVAR_PREFIX):])
        # bare name: hivevar map only (no conf fallback in this
        # Hive version — VariableSubstitution.java:41)
        return self.hivevars.get(var)

    # -- the substitute loop (SystemVariables.java:129) -------------

    def substitute(self, spark: SparkSession, text: str) -> str:
        if text is None or "${" not in text:
            return text
        if spark.conf.get(SUBSTITUTE_CONF, "true").lower() == "false":
            return text
        try:
            depth = int(spark.conf.get(DEPTH_CONF, str(DEFAULT_DEPTH)))
        except ValueError:
            depth = DEFAULT_DEPTH
        eval_ = text
        for _ in range(depth + 1):
            found = False

            def _repl(m: re.Match) -> str:
                nonlocal found
                sub = self._get_substitute(spark, m.group()[2:-1])
                if sub is None:
                    return m.group()  # undefined: append as-is
                found = True
                return sub

            nxt = VARPAT.sub(_repl, eval_)
            if not found:
                return eval_
            eval_ = nxt
        raise ValueError(
            f"Variable substitution depth is deeper than {depth} "
            f"for expression {text}"
        )

    # -- SET interception (SetProcessor.java:115 setVariable) -------

    def handle_set(self, spark: SparkSession, text: str) -> Optional[DataFrame]:
        """Handle the PREFIXED SET forms; return None for everything
        else (incl. bare SET — Spark's native conf SET serves it).
        ``text`` arrives with its leading comments already stripped
        (Engine.sql, ``sqltext.strip_leading_comments``), so
        '/* banner */ SET hivevar:k=v' cannot bypass the
        interception into a conf named 'hivevar:k'.
        Returns Spark's native SET result shape (key, value strings)
        so CLI/JDBC clients render all forms identically."""
        stripped = text.strip().rstrip(";").strip()
        # dump forms, whitespace-tolerant ('SET   -v' is the same
        # statement to Spark's parser) but with '-v' CASE-SENSITIVE:
        # Spark 4 rejects 'SET -V' with INVALID_SET_SYNTAX, and the
        # interception must fall through to that error rather than
        # swallow it into a dump (review r13 pass 4)
        parts = stripped.split(None, 2)  # bounded: first two tokens decide
        if parts and parts[0].lower() == "set" and (
                len(parts) == 1 or (len(parts) == 2 and parts[1] == "-v")):
            # the dump forms: Spark's conf dump PLUS the session's
            # hivevar:/system: entries, like SetProcessor.dumpOptions
            # (which prints hivevar-prefixed lines into the same list)
            base = spark.sql(stripped)
            pad = [""] * (len(base.columns) - 2)  # SET -v adds 'meaning'
            extras = (
                [(HIVEVAR_PREFIX + k, v, *pad)
                 for k, v in sorted(self.hivevars.items())]
                + [(SYSTEM_PREFIX + k, v, *pad)
                   for k, v in sorted(self.sysprops.items())]
            )
            if not extras:
                return base
            # the dump is a command result, already on the driver
            return local_rows(spark, base.collect() + extras, base.schema)
        m = _SET_STMT.match(stripped)
        if not m:
            return None
        body = m.group("body").strip()
        name, eq, value = body.partition("=")
        name = name.strip()
        # prefix matching is CASE-SENSITIVE like the reference
        # (SetProcessor.java startsWith against lowercase constants):
        # 'SET HIVEVAR:x=1' falls through to the bare branch — Spark's
        # conf SET — and stores a conf literally named 'HIVEVAR:x',
        # the reference's exact behavior (review r13: a lowered match
        # here with case-sensitive resolution made the same spelling
        # set-able but never readable)
        prefixed = any(
            name.startswith(p)
            for p in (ENV_PREFIX, SYSTEM_PREFIX, HIVEVAR_PREFIX,
                      HIVECONF_PREFIX)
        )
        if not prefixed:
            return None  # bare SET [x[=v]] / SET -v: Spark serves it
        if not eq:
            # SET <prefixed-name> query form: print resolved value
            # (SetProcessor.getVariable)
            val = self._get_substitute(spark, name)
            shown = val if val is not None else "<undefined>"
            return local_rows(spark, [(name, shown)], "key string, value string")
        value = value.strip()
        if name.startswith(ENV_PREFIX):
            # SetProcessor.java:122: env:* variables can not be set
            raise ValueError("env:* variables can not be set.")
        # SetProcessor substitutes the VALUE before storing
        # (SetProcessor.java:127,133: new VariableSubstitution()
        # .substitute(conf, varvalue))
        value = self.substitute(spark, value)
        if name.startswith(SYSTEM_PREFIX):
            self.sysprops[name[len(SYSTEM_PREFIX):]] = value
        elif name.startswith(HIVEVAR_PREFIX):
            self.hivevars[name[len(HIVEVAR_PREFIX):]] = value
        else:  # hiveconf: strip the prefix, set the session conf
            key = name[len(HIVECONF_PREFIX):]
            # the restricted-conf gate ('SET spark.sql.authz.*' /
            # 'SET user.name' are admin-only under enforcement) guards
            # the parsed SetCommand tree — which this pre-parse path
            # returns before reaching, so it must invoke the gate
            # itself (review r13 pass 6: the prefixed spelling was a
            # privilege-escalation bypass)
            from amplab_hive_spark.authorization import (
                guard_prefixed_conf_set,
            )

            guard_prefixed_conf_set(spark, key)
            spark.conf.set(key, value)
        return local_rows(spark, [(name, value)], "key string, value string")


def parse_kv_flags(pairs: list[str], flag: str) -> dict[str, str]:
    """Parse CLI ``k=v`` flag values (OptionsProcessor.java:118
    getOptionProperties: split on the first '=')."""
    out: dict[str, str] = {}
    for p in pairs:
        k, eq, v = p.partition("=")
        if not eq or not k:
            raise SystemExit(f"{flag} expects KEY=VALUE, got: {p!r}")
        out[k] = v
    return out
