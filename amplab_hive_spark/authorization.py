"""Authorization DDL — roles, role grants, and object privileges.

Reference anchors:
- ql/parse/DDLSemanticAnalyzer.java (analyzeCreateRole/analyzeDropRole/
  analyzeGrant/analyzeRevoke/analyzeShowGrant/analyzeSetRole and the
  SHOW ROLES / SHOW CURRENT ROLES / SHOW ROLE GRANT branches)
- ql/security/authorization/plugin/sqlstd/SQLStdHiveAccessController.java
  (reserved role names, role cycles, the ADMIN/PUBLIC built-ins,
  grant/revoke bookkeeping)
- metastore's ROLES / ROLE_MAP / TBL_PRIVS tables (the persisted state
  this module's JSON store mirrors)

Scope, stated honestly: this is primarily the CATALOG surface —
statements parse, validate, persist, and SHOW back — with enforcement
OFF by default, Hive's own posture
(``hive.security.authorization.enabled=false``: grants are stored in
the metastore and surfaced by SHOW GRANT, but nothing blocks a
query). Since round 10 an enforcing deployment can opt in with
``spark.sql.authz.enabled=true``: Engine.sql then gates DML/query
statements on ``grants_for`` (see the enforcement section at the
bottom of this module for its documented minimal-SQL-std scope).
The SQL-standard authorizer's VALIDATION rules are implemented in
full, because they are catalog semantics, not enforcement:

- reserved role names (ALL / DEFAULT / NONE) cannot be created;
  ADMIN / PUBLIC are built-ins that cannot be created or dropped
- role names are case-insensitive; every user implicitly holds PUBLIC
- GRANT role TO ROLE builds a hierarchy; a grant that would close a
  CYCLE is rejected (SQLStdHiveAccessController.grantRole's
  reachability check)
- object privileges are the SQL-std set SELECT / INSERT / UPDATE /
  DELETE (+ ALL as shorthand for all four); anything else —
  ``GRANT INDEX ON ...`` — is rejected
  (clientnegative/authorization_invalid_priv_v2.q)
- duplicate grants and revokes of absent grants are errors
  ("Cannot find privilege to revoke")
- SET ROLE requires the role to exist AND be granted to the current
  user (clientnegative/authorization_set_role_neg1/neg2.q);
  SET ROLE ALL / NONE are the usual specials

Persistence: one JSON document ``_authz.json`` under the Spark SQL
warehouse dir (the metastore-tables analogue), read-modify-written
under a process lock — authorization DDL is metadata-rate, never
data-rate. Session state (current user, current roles) lives in the
session's SQLConf, so the SQL service's per-connection
``newSession()`` isolates it exactly like HS2 sessions; the Hive
test idiom ``SET user.name=alice`` works unchanged.

Output shapes match the reference so SHOW results line up with
beeline expectations: SHOW GRANT returns (database, table, partition,
column, principal_name, principal_type, privilege, grant_option,
grant_time, grantor); SHOW ROLE GRANT returns (role, grant_option,
grant_time, grantor); SHOW ROLES / SHOW CURRENT ROLES one ``role``
column; SHOW PRINCIPALS (principal_name, principal_type,
grant_option, grantor, grantor_type, grant_time).
"""

from __future__ import annotations

import getpass
import json
import os
import re
import threading
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from amplab_hive_spark.session import local_rows

_RESERVED = {"all", "default", "none"}
_BUILTIN = {"admin", "public"}
_PRIVS = ("SELECT", "INSERT", "UPDATE", "DELETE")
_PRINCIPAL_TYPES = ("USER", "ROLE", "GROUP")

_USER_CONF = "user.name"                      # the Hive test idiom
_ROLES_CONF = "spark.sql.authz.currentRoles"  # session's SET ROLE state
_ALL_SENTINEL = "\x00all"  # SET ROLE ALL: dynamic, never a snapshot

_LOCK = threading.Lock()

_GRANT_SCHEMA = (
    "database string, table string, partition string, column string, "
    "principal_name string, principal_type string, privilege string, "
    "grant_option boolean, grant_time bigint, grantor string"
)
_ROLE_GRANT_SCHEMA = (
    "role string, grant_option boolean, grant_time bigint, grantor string"
)
_PRINCIPALS_SCHEMA = (
    "principal_name string, principal_type string, grant_option boolean, "
    "grantor string, grantor_type string, grant_time bigint"
)


# -- store -------------------------------------------------------------
def _store_path(spark: SparkSession) -> str:
    wh = spark.conf.get("spark.sql.warehouse.dir")
    from urllib.parse import urlparse

    parsed = urlparse(wh)
    if parsed.scheme not in ("", "file"):
        raise NotImplementedError(
            f"authorization store implemented for local warehouses; got "
            f"{wh!r} (port _load/_save to the Hadoop FileSystem API)"
        )
    root = parsed.path or wh
    os.makedirs(root, exist_ok=True)
    return os.path.join(root, "_authz.json")


class _store_lock:
    """Guard for a read-modify-write of ``_authz.json``: the in-process
    threading lock PLUS an OS-level ``flock`` on a sidecar lockfile, so
    two engine processes sharing a warehouse (CLI + service is a real
    shape) cannot interleave _load/_save and silently lose grants
    (ADVICE r9 — the threading.Lock alone only serialized one
    process's threads)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.fh = None

    def __enter__(self):
        _LOCK.acquire()
        try:
            import fcntl

            self.fh = open(_store_path(self.spark) + ".lock", "a+")
            fcntl.flock(self.fh, fcntl.LOCK_EX)
        except ImportError:  # non-POSIX: thread lock only (documented)
            self.fh = None
        except Exception:
            _LOCK.release()
            raise
        return self

    def __exit__(self, *exc):
        try:
            if self.fh is not None:
                import fcntl

                fcntl.flock(self.fh, fcntl.LOCK_UN)
                self.fh.close()
        finally:
            _LOCK.release()
        return False


def _load(spark: SparkSession) -> dict:
    path = _store_path(spark)
    if not os.path.exists(path):
        return {"roles": {}, "role_grants": [], "privs": []}
    with open(path) as fh:
        return json.load(fh)


def _save(spark: SparkSession, store: dict) -> None:
    import uuid

    path = _store_path(spark)
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(store, fh)
    os.rename(tmp, path)  # atomic: readers see whole store or none


# -- session state -----------------------------------------------------
def current_user(spark: SparkSession) -> str:
    """The session user — ``SET user.name=alice`` (the reference's
    SessionStateConfigUserAuthenticator idiom) or the OS user.

    Conf reads pass an explicit default: an UNSET key read via the
    raising form costs a full py4j exception round-trip (~20 ms
    measured — 150x the defaulted read), and this function is on
    every enforced statement's path (review r10 pass 2)."""
    u = spark.conf.get(_USER_CONF, None)
    if u:
        return u
    try:
        return getpass.getuser()
    except Exception:  # noqa: BLE001 — no passwd entry (containers)
        return "anonymous"


def _user_roles(spark: SparkSession, store: dict, user: str) -> list[str]:
    """All roles ``user`` holds — direct grants expanded through
    role-to-role grants to the TRANSITIVE closure, exactly like the
    reference (SQLStdHiveAccessController.getRolesFromMS ->
    getAllRoleAncestors walks membership edges), plus the implicit
    PUBLIC membership every user holds. Transitivity here keeps SET
    ROLE / SHOW CURRENT ROLES consistent with grants_for, which
    already used the closure (ADVICE r9)."""
    direct = {
        g["role"] for g in store["role_grants"]
        if g["principal_type"] == "USER" and g["principal"] == user
    }
    edges = _role_edges(store)
    held = set(direct)
    for r in direct:
        held |= _reachable(edges, r)
    return (["public"] if "public" not in held else []) + sorted(held)


def current_roles(spark: SparkSession, store: dict | None = None) -> list[str]:
    """The session's active role set: SET ROLE's choice, defaulting to
    every granted role (Hive's default before any SET ROLE). SET ROLE
    ALL stores a sentinel, not a snapshot — the granted set is
    re-resolved on every read so roles granted AFTER the statement
    become active immediately, like the reference (review r9). Pass
    ``store`` to reuse an already-loaded store (the enforcement gates
    do — review r10 pass 3: the inlined copy and this function had
    already drifted once)."""
    raw = spark.conf.get(_ROLES_CONF, None)
    if raw is not None and raw != _ALL_SENTINEL:
        claimed = [r for r in raw.split(",") if r]
        if not claimed:
            return []  # SET ROLE NONE — no store read needed
        if store is None:
            store = _load(spark)
        granted = set(_user_roles(spark, store, current_user(spark)))
        # membership is re-validated at READ time, not only in
        # set_role: a raw conf write (`SET spark.sql.authz.
        # currentRoles=admin`) bypasses set_role's check, and a role
        # revoked after SET ROLE must fall out of the active set — the
        # reference resolves active roles against the metastore on
        # every check (ADVICE r10; SQLStdHiveAccessController
        # getCurrentRoles ∩ metastore membership).
        return [r for r in claimed if _norm_role(r) in granted]
    if store is None:
        store = _load(spark)
    return _user_roles(spark, store, current_user(spark))


# -- helpers -----------------------------------------------------------
def _norm_role(name: str) -> str:
    return name.lower()  # roles are case-insensitive in the reference


def _require_role(store: dict, role: str) -> str:
    r = _norm_role(role)
    if r not in store["roles"] and r not in _BUILTIN:
        raise ValueError(f"Role {role} does not exist")
    return r


def _role_edges(store: dict) -> dict[str, set[str]]:
    """principal-role -> set of roles granted TO it (membership
    edges for cycle/reachability checks)."""
    edges: dict[str, set[str]] = {}
    for g in store["role_grants"]:
        if g["principal_type"] == "ROLE":
            edges.setdefault(g["principal"], set()).add(g["role"])
    return edges


def _reachable(edges: dict[str, set[str]], start: str) -> set[str]:
    seen, stack = set(), [start]
    while stack:
        n = stack.pop()
        for m in edges.get(n, ()):
            if m not in seen:
                seen.add(m)
                stack.append(m)
    return seen


def _table_exists(spark: SparkSession, name: str) -> tuple[str, str]:
    from pyspark.errors import AnalysisException

    try:
        spark.table(name)
    except AnalysisException as ex:
        raise ValueError(f"Table not found {name}: {ex}") from ex
    if "." in name:
        db, _, tbl = name.rpartition(".")
    else:
        db, tbl = spark.catalog.currentDatabase(), name
    return db.lower(), tbl.lower()


def _now() -> int:
    return int(time.time())


def _split_names(seg: str) -> list[str]:
    return [s.strip() for s in seg.split(",") if s.strip()]


def _parse_principals(
    seg: str, allow_group: bool = False
) -> list[tuple[str, str]]:
    """'USER alice, ROLE r1' -> [(type, name), ...] — the grammar's
    principalSpecification. A bare name (the role-grant shorthand
    ``grant r1 to user2`` is NOT in the reference grammar; principals
    always carry a type keyword in DDLSemanticAnalyzer) is rejected
    with the list of valid types. GROUP principals parse but are
    REJECTED for GRANTS, exactly the SQL-standard authorizer
    (SQLStdHiveAccessController refuses group grants —
    clientnegative/authorization_grant_group.q); accepting and
    persisting a grant no membership lookup would ever follow
    (review r9) would be a silent no-op, the worst kind. REVOKE
    passes ``allow_group=True``: a legacy GROUP row persisted before
    the rejection existed must stay removable (second review pass —
    rejecting both directions made such rows immortal)."""
    out = []
    for part in _split_names(seg):
        m = re.match(r"(?i)^(USER|ROLE|GROUP)\s+([\w.@-]+)$", part)
        if not m:
            raise ValueError(
                f"invalid principal {part!r}: expected USER|ROLE|GROUP "
                f"<name>"
            )
        ptype = m.group(1).upper()
        if ptype == "GROUP" and not allow_group:
            raise ValueError(
                "Invalid principal type GROUP: SQL-standard "
                "authorization supports USER and ROLE grants only "
                "(authorization_grant_group.q contract)"
            )
        pname = m.group(2)
        out.append((ptype, _norm_role(pname) if ptype == "ROLE" else pname))
    return out


# -- verbs -------------------------------------------------------------
def create_role(spark: SparkSession, name: str) -> None:
    r = _norm_role(name)
    if r in _RESERVED:
        raise ValueError(
            f"Role name cannot be one of the reserved roles: "
            f"{sorted(x.upper() for x in _RESERVED)} (got {name})"
        )
    with _store_lock(spark):
        store = _load(spark)
        _require_role_admin(spark, store, [])  # admin-only verb
        if r in _BUILTIN or r in store["roles"]:
            raise ValueError(f"Role {name} already exists")
        store["roles"][r] = {
            "created_by": current_user(spark), "create_time": _now(),
        }
        _save(spark, store)


def drop_role(spark: SparkSession, name: str) -> None:
    r = _norm_role(name)
    if r in _BUILTIN:
        raise ValueError(
            f"Role {name} is a built-in role and cannot be dropped"
        )
    with _store_lock(spark):
        store = _load(spark)
        _require_role_admin(spark, store, [])  # admin-only verb
        if r not in store["roles"]:
            raise ValueError(f"Role {name} does not exist")
        del store["roles"][r]
        # metastore behavior: dropping a role drops its memberships
        # and the privileges granted TO it
        store["role_grants"] = [
            g for g in store["role_grants"]
            if g["role"] != r
            and not (g["principal_type"] == "ROLE" and g["principal"] == r)
        ]
        store["privs"] = [
            p for p in store["privs"]
            if not (p["principal_type"] == "ROLE" and p["principal"] == r)
        ]
        _save(spark, store)


def grant_roles(
    spark: SparkSession, roles: list[str],
    principals: list[tuple[str, str]], admin_option: bool = False,
) -> None:
    with _store_lock(spark):
        store = _load(spark)
        _require_role_admin(spark, store, roles)
        edges = _role_edges(store)
        for role in roles:
            r = _require_role(store, role)
            for ptype, pname in principals:
                if ptype == "ROLE":
                    _require_role(store, pname)
                    # cycle check: r (or anything r reaches) must not
                    # already include pname
                    if pname == r or pname in _reachable(edges, r):
                        raise ValueError(
                            f"Cannot grant role {role} to role {pname}: "
                            f"would create a role cycle"
                        )
                    edges.setdefault(pname, set()).add(r)
                dup = [
                    g for g in store["role_grants"]
                    if g["role"] == r and g["principal_type"] == ptype
                    and g["principal"] == pname
                ]
                if dup:
                    dup[0]["admin_option"] = dup[0]["admin_option"] or admin_option
                    continue  # idempotent re-grant (metastore upserts)
                store["role_grants"].append({
                    "role": r, "principal_type": ptype, "principal": pname,
                    "admin_option": bool(admin_option),
                    "grantor": current_user(spark), "grant_time": _now(),
                })
        _save(spark, store)


def revoke_roles(
    spark: SparkSession, roles: list[str],
    principals: list[tuple[str, str]], admin_option_only: bool = False,
) -> None:
    with _store_lock(spark):
        store = _load(spark)
        _require_role_admin(spark, store, roles)
        for role in roles:
            r = _require_role(store, role)
            for ptype, pname in principals:
                hit = [
                    g for g in store["role_grants"]
                    if g["role"] == r and g["principal_type"] == ptype
                    and g["principal"] == pname
                ]
                if not hit:
                    raise ValueError(
                        f"Cannot find role grant of {role} to "
                        f"{ptype.lower()} {pname} to revoke"
                    )
                if admin_option_only:
                    hit[0]["admin_option"] = False
                else:
                    store["role_grants"].remove(hit[0])
        _save(spark, store)


def _split_privs(seg: str) -> list[str]:
    """Split a privilege list on commas OUTSIDE parentheses — a
    column list like SELECT(a, b) holds commas of its own (review r9:
    a top-level split broke every multi-column grant)."""
    return [
        s.strip()
        for s in re.split(r",(?![^(]*\))", seg)
        if s.strip()
    ]


def _parse_priv_list(seg: str) -> list[tuple[str, Optional[str]]]:
    """'SELECT(k1, k2), INSERT' -> [('SELECT','k1'), ('SELECT','k2'),
    ('INSERT', None)]; ALL expands to the full SQL-std set; anything
    outside it raises
    (clientnegative/authorization_invalid_priv_v2.q)."""
    out: list[tuple[str, Optional[str]]] = []
    for part in _split_privs(seg):
        m = re.match(r"(?i)^(\w+)\s*(?:\(\s*([\w\s,]+?)\s*\))?$", part)
        if not m:
            raise ValueError(f"cannot parse privilege {part!r}")
        priv = m.group(1).upper()
        cols = (
            [c.lower() for c in _split_names(m.group(2))]
            if m.group(2) else [None]
        )
        if priv == "ALL":
            if m.group(2):
                raise ValueError("ALL does not take a column list")
            out.extend((p, None) for p in _PRIVS)
            continue
        if priv not in _PRIVS:
            raise ValueError(
                f"Unsupported privilege type {priv}; the SQL-standard "
                f"set is {', '.join(_PRIVS)} (or ALL)"
            )
        out.extend((priv, c) for c in cols)
    return out


def grant_privs(
    spark: SparkSession, privs: list[tuple[str, Optional[str]]],
    table: str, principals: list[tuple[str, str]],
    grant_option: bool = False,
) -> None:
    db, tbl = _table_exists(spark, table)
    with _store_lock(spark):
        store = _load(spark)
        _require_grant_authority(spark, store, db, tbl,
                                 sorted({p for p, _ in privs}))
        for ptype, pname in principals:
            if ptype == "ROLE":
                _require_role(store, pname)
            for priv, col in privs:
                dup = [
                    p for p in store["privs"]
                    if p["database"] == db and p["table"] == tbl
                    and p["column"] == col and p["privilege"] == priv
                    and p["principal_type"] == ptype
                    and p["principal"] == pname
                ]
                if dup:
                    raise ValueError(
                        f"{priv} on {table} is already granted to "
                        f"{ptype.lower()} {pname} "
                        f"(clientnegative/authorization_fail_1.q contract)"
                    )
                store["privs"].append({
                    "database": db, "table": tbl, "column": col,
                    "principal_type": ptype, "principal": pname,
                    "privilege": priv, "grant_option": bool(grant_option),
                    "grantor": current_user(spark), "grant_time": _now(),
                })
        _save(spark, store)


def revoke_privs(
    spark: SparkSession, privs: list[tuple[str, Optional[str]]],
    table: str, principals: list[tuple[str, str]],
    grant_option_only: bool = False,
) -> None:
    db, tbl = _table_exists(spark, table)
    with _store_lock(spark):
        store = _load(spark)
        _require_grant_authority(spark, store, db, tbl,
                                 sorted({p for p, _ in privs}))
        for ptype, pname in principals:
            for priv, col in privs:
                hit = [
                    p for p in store["privs"]
                    if p["database"] == db and p["table"] == tbl
                    and p["column"] == col and p["privilege"] == priv
                    and p["principal_type"] == ptype
                    and p["principal"] == pname
                ]
                if not hit:
                    raise ValueError(
                        f"Cannot find privilege to revoke: {priv} on "
                        f"{table} from {ptype.lower()} {pname}"
                    )
                if grant_option_only:
                    hit[0]["grant_option"] = False
                else:
                    store["privs"].remove(hit[0])
        _save(spark, store)


def set_role(spark: SparkSession, name: str) -> None:
    r = _norm_role(name)
    if r == "all":
        spark.conf.set(_ROLES_CONF, _ALL_SENTINEL)
        return
    if r == "none":
        spark.conf.set(_ROLES_CONF, "")
        return
    store = _load(spark)
    user = current_user(spark)
    granted = set(_user_roles(spark, store, user))
    if r not in store["roles"] and r not in _BUILTIN:
        raise ValueError(f"Role {name} does not exist")
    if r not in granted:
        raise ValueError(
            f"Current user {user} is not a member of role {name} "
            f"(clientnegative/authorization_set_role_neg2.q contract)"
        )
    spark.conf.set(_ROLES_CONF, r)


# -- SHOW verbs --------------------------------------------------------
def show_roles(spark: SparkSession) -> DataFrame:
    store = _load(spark)
    names = sorted(_BUILTIN | set(store["roles"]))
    return local_rows(spark, [(n,) for n in names], "role string")


def show_current_roles(spark: SparkSession) -> DataFrame:
    return local_rows(
        spark, [(r,) for r in sorted(current_roles(spark))], "role string"
    )


def show_role_grant(
    spark: SparkSession, ptype: str, pname: str
) -> DataFrame:
    store = _load(spark)
    if ptype == "ROLE":
        pname = _norm_role(pname)
    rows = [
        (g["role"], g["admin_option"], g["grant_time"], g["grantor"])
        for g in store["role_grants"]
        if g["principal_type"] == ptype and g["principal"] == pname
    ]
    # the implicit PUBLIC membership — unless public was also granted
    # explicitly (one row per role, never a duplicate — review r9)
    if ptype == "USER" and not any(r[0] == "public" for r in rows):
        rows.append(("public", False, 0, "hive"))
    return local_rows(spark, sorted(rows), _ROLE_GRANT_SCHEMA)


def show_principals(spark: SparkSession, role: str) -> DataFrame:
    store = _load(spark)
    r = _require_role(store, role)
    rows = [
        (g["principal"], g["principal_type"], g["admin_option"],
         g["grantor"], "USER", g["grant_time"])
        for g in store["role_grants"] if g["role"] == r
    ]
    return local_rows(spark, sorted(rows), _PRINCIPALS_SCHEMA)


def show_grant(
    spark: SparkSession,
    principal: Optional[tuple[str, str]] = None,
    table: Optional[str] = None,
    column: Optional[str] = None,
) -> DataFrame:
    store = _load(spark)
    rows = []
    want_db = want_tbl = None
    if table is not None:
        want_db, want_tbl = _table_exists(spark, table)
    for p in store["privs"]:
        if principal is not None and (
            p["principal_type"] != principal[0]
            or p["principal"] != principal[1]
        ):
            continue
        if table is not None and (
            p["database"] != want_db or p["table"] != want_tbl
        ):
            continue
        if column is not None and p["column"] != column.strip().lower():
            continue
        rows.append((
            p["database"], p["table"], None, p["column"],
            p["principal"], p["principal_type"], p["privilege"],
            p["grant_option"], p["grant_time"], p["grantor"],
        ))
    return local_rows(spark, sorted(rows, key=repr), _GRANT_SCHEMA)


def grants_for(
    spark: SparkSession, user: str, table: str
) -> list[str]:
    """The privileges ``user`` holds on ``table`` — directly, via any
    role reachable from the roles granted to them, or via PUBLIC.
    This is the hook an ENFORCING wrapper would call; provided (and
    tested) so the documented out-of-scope is one function, not a
    redesign."""
    store = _load(spark)
    db, tbl = _table_exists(spark, table)
    roles = set(_user_roles(spark, store, user))
    edges = _role_edges(store)
    for r in list(roles):
        roles |= _reachable(edges, r)
    # TABLE-LEVEL rows only, consistent with the enforcement gate:
    # a column-scoped grant is visible via SHOW GRANT but does not
    # confer (or report) the table privilege (review r10 pass 3 —
    # grants_for and _held_privs must agree, this is the public hook)
    out = set()
    for p in store["privs"]:
        if p["database"] != db or p["table"] != tbl or p.get("column"):
            continue
        if (p["principal_type"] == "USER" and p["principal"] == user) or (
            p["principal_type"] == "ROLE" and p["principal"] in roles
        ):
            out.add(p["privilege"])
    return sorted(out)


# -- statement front-end ------------------------------------------------
_CREATE_ROLE = re.compile(r"(?is)^\s*CREATE\s+ROLE\s+([\w-]+)\s*;?\s*$")
_DROP_ROLE = re.compile(r"(?is)^\s*DROP\s+ROLE\s+([\w-]+)\s*;?\s*$")
_SHOW_ROLES = re.compile(r"(?is)^\s*SHOW\s+ROLES\s*;?\s*$")
_SHOW_CURRENT = re.compile(r"(?is)^\s*SHOW\s+CURRENT\s+ROLES\s*;?\s*$")
_SHOW_ROLE_GRANT = re.compile(
    r"(?is)^\s*SHOW\s+ROLE\s+GRANT\s+(USER|ROLE|GROUP)\s+([\w.@-]+)\s*;?\s*$"
)
_SHOW_PRINCIPALS = re.compile(
    r"(?is)^\s*SHOW\s+PRINCIPALS\s+([\w-]+)\s*;?\s*$"
)
_SET_ROLE = re.compile(r"(?is)^\s*SET\s+ROLE\s+([\w-]+)\s*;?\s*$")
_GRANT_ROLE = re.compile(
    r"(?is)^\s*GRANT\s+(?:ROLE\s+)?([\w\s,-]+?)\s+TO\s+(.+?)"
    r"(\s+WITH\s+ADMIN\s+OPTION)?\s*;?\s*$"
)
_REVOKE_ROLE = re.compile(
    r"(?is)^\s*REVOKE\s+(ADMIN\s+OPTION\s+FOR\s+)?(?:ROLE\s+)?"
    r"([\w\s,-]+?)\s+FROM\s+(.+?)\s*;?\s*$"
)
_GRANT_PRIV = re.compile(
    r"(?is)^\s*GRANT\s+([\w\s,()]+?)\s+ON\s+(?:TABLE\s+)?([\w.]+)\s+TO\s+"
    r"(.+?)(\s+WITH\s+GRANT\s+OPTION)?\s*;?\s*$"
)
_REVOKE_PRIV = re.compile(
    r"(?is)^\s*REVOKE\s+(GRANT\s+OPTION\s+FOR\s+)?([\w\s,()]+?)\s+ON\s+"
    r"(?:TABLE\s+)?([\w.]+)\s+FROM\s+(.+?)\s*;?\s*$"
)
_SHOW_GRANT = re.compile(
    r"(?is)^\s*SHOW\s+GRANT(?:\s+(USER|ROLE|GROUP)\s+([\w.@-]+))?"
    r"(?:\s+ON\s+(?:TABLE\s+)?([\w.]+?)(?:\s*\(\s*([\w]+)\s*\))?)?\s*;?\s*$"
)


def _ok(spark: SparkSession) -> DataFrame:
    return local_rows(spark, [], "result string NOT NULL")


def handle(spark: SparkSession, text: str) -> DataFrame | None:
    """Route an authorization statement; None when ``text`` is not
    one (the dml_text.handle contract). SHOW verbs return their
    reference-shaped frames; mutating verbs return an empty
    DDL-style frame."""
    m = _CREATE_ROLE.match(text)
    if m:
        create_role(spark, m.group(1))
        return _ok(spark)
    m = _DROP_ROLE.match(text)
    if m:
        drop_role(spark, m.group(1))
        return _ok(spark)
    if _SHOW_ROLES.match(text):
        return show_roles(spark)
    if _SHOW_CURRENT.match(text):
        return show_current_roles(spark)
    m = _SHOW_ROLE_GRANT.match(text)
    if m:
        return show_role_grant(spark, m.group(1).upper(), m.group(2))
    m = _SHOW_PRINCIPALS.match(text)
    if m:
        return show_principals(spark, m.group(1))
    m = _SET_ROLE.match(text)
    if m:
        set_role(spark, m.group(1))
        return _ok(spark)
    m = _SHOW_GRANT.match(text)
    if m:
        principal = None
        if m.group(1):
            ptype = m.group(1).upper()
            pname = m.group(2)
            principal = (
                ptype, _norm_role(pname) if ptype == "ROLE" else pname
            )
        return show_grant(spark, principal, m.group(3), m.group(4))
    # GRANT/REVOKE: an ON clause means object privileges, otherwise
    # role grants (the reference grammar's same fork)
    m = _GRANT_PRIV.match(text)
    if m:
        grant_privs(
            spark, _parse_priv_list(m.group(1)), m.group(2),
            _parse_principals(m.group(3)), bool(m.group(4)),
        )
        return _ok(spark)
    m = _GRANT_ROLE.match(text)
    if m:
        grant_roles(
            spark, [_norm_role(r) for r in _split_names(m.group(1))],
            _parse_principals(m.group(2)), bool(m.group(3)),
        )
        return _ok(spark)
    m = _REVOKE_PRIV.match(text)
    if m:
        revoke_privs(
            spark, _parse_priv_list(m.group(2)), m.group(3),
            _parse_principals(m.group(4), allow_group=True),
            bool(m.group(1)),
        )
        return _ok(spark)
    m = _REVOKE_ROLE.match(text)
    if m:
        revoke_roles(
            spark, [_norm_role(r) for r in _split_names(m.group(2))],
            _parse_principals(m.group(3), allow_group=True),
            bool(m.group(1)),
        )
        return _ok(spark)
    return None


# -- opt-in enforcement ---------------------------------------------------
# The catalog surface above validates and persists grants; ENFORCING
# them is the reference's SQLStdHiveAuthorizationValidator
# .checkPrivileges (ql/security/authorization/plugin/sqlstd/
# SQLStdHiveAuthorizationValidator.java), active only when
# hive.security.authorization.enabled=true — Hive's own default is
# false, and so is this engine's. With the conf below set to true:
#
#   - Engine.sql checks grants_for-style privileges before executing
#     DML/query statements — resolved against the session's ACTIVE
#     role set (SET ROLE state, expanded transitively), matching
#     HiveAuthzSessionContext, not the full granted closure;
#   - grant ADMINISTRATION is gated too (SQLStdHiveAccessController
#     .grantRole/grantPrivileges): CREATE/DROP ROLE and GRANT/REVOKE
#     ROLE require the admin role (or ADMIN OPTION on each role);
#     GRANT/REVOKE object privileges require admin or GRANT OPTION
#     on each privilege. Without this, any user could grant
#     themselves admin and the read/write gate would be advisory
#     (review r10);
#   - privilege requirements are extracted from the PARSED plan
#     (Spark's own parser — see the extraction section below), so
#     every statement form that reads or writes a table is seen
#     exactly as the engine will execute it: CTAS / CREATE/ALTER VIEW
#     AS / CACHE TABLE AS check their query part's reads, TRUNCATE
#     needs DELETE, LOAD DATA needs INSERT, UPDATE/DELETE/MERGE and
#     INSERT targets carry the parser's own
#     __required_write_privileges__ annotations (review r10, three
#     passes — two rounds of text-regex scanning kept yielding
#     bypasses; the parse tree ended them).
#
# Documented simplifications (the minimal SQL-std model):
#   - table-level privileges only: column grants are catalog/SHOW
#     state — they neither open the whole table, nor confer
#     table-wide GRANT OPTION, nor appear in grants_for (review r10);
#   - TEMPORARY views are exempt as READ TARGETS — they are
#     session-private objects (their DEFINITION was checked at
#     CREATE time by the query-part extraction);
#   - metadata statements (DESCRIBE/ANALYZE/SHOW/DDL) and statements
#     outside Spark's grammar (the Engine's COMPACT/SHOW LOCKS shims)
#     carry no data privilege — maintenance stays open;
#   - a CTE alias colliding with a PROTECTED catalog table name fails
#     CLOSED (denial) — per-subquery CTE scope is not recoverable
#     from the flat plan string, and open-on-ambiguity was a bypass.
#
# Bootstrap: grants written while enforcement is DISABLED (the
# default) are unrestricted — an operator seeds the admin role and
# object grants first, then flips the conf, like Hive's
# hive.users.in.admin.role seeding.

_ENFORCE_CONF = "spark.sql.authz.enabled"

# ---- statement privilege extraction: the PARSED plan, not text ----
# The first two cuts of this gate scanned statement TEXT with regexes;
# two adversarial review passes kept finding bypasses (comment forms,
# alias forms, quoting forms, CTE scoping). The scan now walks the
# plan Spark's OWN parser produces — the same discipline acid.py's
# merged-read routing already trusts — so every reference the engine
# will execute is exactly a reference the gate sees:
#   - 'UnresolvedRelation [name], [attrs]: a table reference; Spark
#     annotates write targets with __required_write_privileges__=
#     UPDATE/DELETE/INSERT (UpdateTable/DeleteFromTable/MergeIntoTable/
#     InsertIntoStatement), everything else is a read (SELECT);
#   - 'UnresolvedTable [name], TRUNCATE TABLE|LOAD DATA: the two
#     exempt-looking commands that mutate table DATA → DELETE/INSERT;
#   - UnresolvedTableOrView/UnresolvedView/UnresolvedIdentifier nodes
#     (DESCRIBE/ANALYZE/SHOW/DDL) carry no data privilege — the
#     minimal SQL-std model leaves metadata open;
#   - statements Spark's parser rejects (ALTER TABLE .. COMPACT, the
#     SHOW COMPACTIONS/LOCKS shims) fall through unchecked to their
#     Engine handlers — they are metadata/maintenance verbs.
# CTE aliases are NOT suppressed: per-subquery CTE scoping cannot be
# recovered from the flat tree string, and a name collision between a
# CTE and a protected catalog table must fail CLOSED (a rare false
# denial — rename the CTE or hold SELECT) rather than open (the
# pass-2 scanner suppressed statement-globally and a subquery-scoped
# CTE could forge an exemption for the outer table — review r10
# pass 3). Tree-string grammar is Spark-version-specific, like
# acid.py's _REL_RE (pinned by the same test suite).

_REL_ATTR_RE = re.compile(
    r"'UnresolvedRelation \[([^\]]+)\](?:, \[([^\]]*)\])?"
)
_UNRESOLVED_TABLE_RE = re.compile(
    r"'UnresolvedTable \[([^\]]+)\], (TRUNCATE TABLE|LOAD DATA)"
)
_WRITE_PRIVS_RE = re.compile(r"__required_write_privileges__=([A-Z,]+)")


def enforcement_enabled(spark: SparkSession) -> bool:
    # defaulted read: the raising form on an unset key costs a ~20 ms
    # py4j exception round-trip, and this runs on EVERY Engine.sql
    # statement (review r10 pass 2)
    return (spark.conf.get(_ENFORCE_CONF, "") or "").lower() == "true"


def _quoted_multipart(inner: str) -> str:
    """An UnresolvedRelation's bracket content — ``prot`` or
    ``db, tbl`` — as a lookup string, each part backtick-quoted so
    names needing quoting (``weird-table``) resolve instead of being
    silently exempt (review r10 pass 3)."""
    parts = [p.strip() for p in inner.split(",") if p.strip()]
    return ".".join(f"`{p}`" for p in parts)


def parse_tree(spark: SparkSession, text: str):
    """``(root_class_name, tree_string)`` from Spark's OWN parser, or
    None for text Spark's grammar rejects (the Engine shims own those
    statements). The one py4j parse both consumers share: ``enforce``
    returns it so Engine.sql can hand it to ``acid.mor_statement_scope``
    instead of parsing the statement a second time (VERDICT r10
    task 5)."""
    try:
        jp = (
            spark._jsparkSession.sessionState().sqlParser().parsePlan(text)
        )
    except Exception:  # noqa: BLE001 — not Spark grammar
        return None
    return jp.getClass().getSimpleName(), jp.toString()


def _required_privs(tree: str) -> list[tuple[str, str]]:
    """(lookup-name, privilege) pairs the statement needs, extracted
    from the parsed plan's tree string."""
    pairs: list[tuple[str, str]] = []
    seen: set[tuple[str, str]] = set()

    def add(name: str, priv: str) -> None:
        key = (name.lower(), priv)
        if key not in seen:
            seen.add(key)
            pairs.append((name, priv))

    for inner, attrs in _REL_ATTR_RE.findall(tree):
        name = _quoted_multipart(inner)
        m = _WRITE_PRIVS_RE.search(attrs or "")
        if m:
            for priv in m.group(1).split(","):
                if priv in _PRIVS:
                    add(name, priv)
        else:
            add(name, "SELECT")
    for inner, verb in _UNRESOLVED_TABLE_RE.findall(tree):
        add(
            _quoted_multipart(inner),
            "DELETE" if verb == "TRUNCATE TABLE" else "INSERT",
        )
    return pairs


def _active_roles(spark: SparkSession, store: dict) -> set[str]:
    """The session's ACTIVE role set (SET ROLE state) expanded through
    role-to-role grants — what checkPrivileges resolves against. SET
    ROLE NONE therefore really drops role-derived privileges, unlike
    the full granted closure."""
    roles = set(current_roles(spark, store))
    edges = _role_edges(store)
    for r in list(roles):
        roles |= _reachable(edges, r)
    roles.add("public")
    return roles


def _held_privs(
    store: dict, user: str, roles: set[str], db: str, tbl: str
) -> set[str]:
    """TABLE-LEVEL privileges held on (db, tbl). Column-scoped grant
    rows are deliberately excluded: a column grant must not widen to
    the whole table (review r10 pass 2) — enforcement is table-level,
    so column grants are catalog/SHOW state only."""
    out = set()
    for p in store["privs"]:
        if p["database"] != db or p["table"] != tbl or p.get("column"):
            continue
        if (p["principal_type"] == "USER" and p["principal"] == user) or (
            p["principal_type"] == "ROLE" and p["principal"] in roles
        ):
            out.add(p["privilege"])
    return out


_EXEMPT = object()  # _candidate_enforceable: provably exempt, skip


def _candidate_enforceable(
    spark: SparkSession, name: str, for_write: bool = False
):
    """Metastore-free guess of the (db, tbl) ``name`` resolves to —
    the GRANTED fast path. ``spark.catalog.getTable`` costs ~6 ms of
    py4j+metastore per name (measured, experiments/authz_enforce_
    bench.py), so the gate first derives the candidate from the name
    shape alone (temp-view probe 0.3 ms + current-db 0.15 ms) and only
    falls back to the definitive ``_resolve_enforceable`` when the
    privilege is MISSING — opening on a held privilege for a candidate
    is sound (if no catalog table stands behind the name, the
    statement fails on its own; if one does, the candidate IS what the
    slow path resolves), while DENYING always re-confirms against the
    catalog so an absent table still falls through to its own
    resolution error. Returns (db, tbl), _EXEMPT (provably exempt:
    a session-private temp-view read), or None (unknown shape — caller
    must resolve definitively)."""
    parts = [p.strip("`") for p in name.split("`.`")]
    if len(parts) == 1:
        bare = parts[0].lower()
        from amplab_hive_spark.acid import _temp_view_exists

        if not for_write and _temp_view_exists(spark, bare):
            return _EXEMPT
        db = (
            spark._jsparkSession.sessionState().catalog()
            .getCurrentDatabase().lower()
        )
        return db, bare
    if len(parts) == 2:
        return parts[0].lower(), parts[1].lower()
    if len(parts) == 3 and parts[0].lower() == "spark_catalog":
        return parts[1].lower(), parts[2].lower()
    return None


def _resolve_enforceable(spark: SparkSession, name: str, for_write: bool = False):
    """The catalog (db, tbl) ``name`` resolves to for privilege
    checking, or None when nothing enforceable stands behind it
    (table functions, genuinely absent tables — those fall through to
    the statement's own resolution error rather than a misleading
    authz denial).

    A temp-view READ is exempt: the view is session-private and its
    definition was privilege-checked at CREATE time
    (test_enforcement_temp_view_laundering_blocked). A WRITE pierces
    any shadowing temp view to the catalog table of the same bare
    name, because the engine's write verbs (dml_text UPDATE/DELETE/
    MERGE resolve the CATALOG object by name; the reference's
    UpdateDeleteSemanticAnalyzer likewise binds the metastore table)
    mutate the real table regardless of the shadow (ADVICE r10)."""
    try:
        t = spark.catalog.getTable(name)
    except Exception:  # noqa: BLE001 — not a catalog object
        return None
    if not t.isTemporary:
        db = (t.database or spark.catalog.currentDatabase()).lower()
        return db, t.name.lower()
    # a temp view holds the name: a read of it is exempt, and only a
    # BARE single-part name can shadow a catalog table for a write
    # (_quoted_multipart joins parts with `.`, so multi-part lookups
    # contain the literal backtick-dot-backtick)
    if not for_write or "`.`" in name:
        return None
    bare = name.strip("`").lower()
    # db-qualified lookup: temp-view resolution cannot intercept it
    try:
        db = spark.catalog.currentDatabase()
        t2 = spark.catalog.getTable(f"`{db}`.`{bare}`")
    except Exception:  # noqa: BLE001 — no catalog object behind it
        return None
    if t2.isTemporary:
        return None
    return (t2.database or db).lower(), t2.name.lower()


# SET/RESET of these keys rewrites the enforcement session state
# itself (identity, active roles, the enable flag) — admin-only while
# enforcement is on, mirroring the reference's
# SQLStdHiveAccessController.applyAuthorizationConfigPolicy +
# hive.security.authorization.sqlstd.confwhitelist (ADVICE r10: a
# plain `SET spark.sql.authz.enabled=false` made the gate advisory).
# `SET key` (read) and `SET`/`SET -v` (listing) stay open; a bare
# RESET clears every conf including the enable flag, so it is gated
# too. (spark.sql.warehouse.dir, the store root, is a STATIC conf —
# Spark itself rejects SET on it.)
_SET_MUTATION_RE = re.compile(r"^SetCommand \(([^,]+),Some\(")
_RESET_KEY_RE = re.compile(r"^ResetCommand(?:\s+(\S+))?\s*$")


def _restricted_conf(key: str) -> bool:
    k = key.strip().strip("`").lower()
    return k == _USER_CONF or k.startswith("spark.sql.authz.")


def _guard_conf_mutation(spark: SparkSession, root: str, tree: str) -> None:
    key = None
    first = tree.splitlines()[0].strip() if tree else ""
    if root == "SetCommand":
        m = _SET_MUTATION_RE.match(first)
        if m:
            key = m.group(1)
    elif root == "ResetCommand":
        m = _RESET_KEY_RE.match(first)
        key = (m.group(1) if m and m.group(1) else "*")
    if key is None or (key != "*" and not _restricted_conf(key)):
        return
    _deny_restricted_unless_admin(spark, key)


def _require_admin(spark: SparkSession, denial: str) -> None:
    """Shared admin gate skeleton (review r13 pass 8: the restricted-
    conf and dfs gates each re-implemented role resolution + the
    Principal denial wording). ``denial`` is the clause after 'may
    not '."""
    store = _load(spark)
    if "admin" in _active_roles(spark, store):
        return
    user = current_user(spark)
    raise PermissionError(
        f"Permission denied: Principal [name={user}, type=USER] may "
        f"not {denial}"
    )


def _deny_restricted_unless_admin(spark: SparkSession, key: str) -> None:
    what = "all configuration (RESET)" if key == "*" else key.strip()
    _require_admin(
        spark,
        f"modify restricted configuration [{what}] while "
        f"authorization enforcement is enabled (admin only)",
    )


def enforce_dfs(spark: SparkSession) -> None:
    """The dfs command's gate: the reference authorizes DFS through
    CommandUtil.authorizeCommand(HiveOperationType.DFS)
    (ql/processors/DfsProcessor.java:73), and the SQL-std authorizer
    restricts it to ADMIN — raw filesystem verbs would bypass every
    table privilege otherwise. No-op when enforcement is off."""
    if not enforcement_enabled(spark):
        return
    _require_admin(
        spark,
        "run dfs commands while authorization enforcement is "
        "enabled (admin only — HiveOperationType.DFS)",
    )


def guard_prefixed_conf_set(spark: SparkSession, key: str) -> None:
    """The restricted-conf gate for the PRE-PARSE ``SET hiveconf:k=v``
    spelling (variables.handle_set), which returns from Engine.sql
    BEFORE the SetCommand tree guard above ever runs — without this,
    the prefixed spelling silently reopened the ADVICE-r10 hole
    ('SET spark.sql.authz.enabled=false' making the gate advisory)
    that _guard_conf_mutation closed (review r13 pass 6). No-op when
    enforcement is off, like every other gate."""
    if not enforcement_enabled(spark) or not _restricted_conf(key):
        return
    _deny_restricted_unless_admin(spark, key)


def enforce(spark: SparkSession, text: str):
    """Raise PermissionError unless the session user holds every
    privilege ``text`` requires; no-op when enforcement is disabled
    (the default, matching hive.security.authorization.enabled=false).

    Returns the ``parse_tree`` result — ``(root, tree)`` or None —
    when enforcement is enabled, so the caller can reuse the one py4j
    parse (Engine.sql hands it to acid.mor_statement_scope); always
    None when disabled (the default path stays zero-parse)."""
    if not enforcement_enabled(spark):
        return None
    parsed = parse_tree(spark, text)
    if parsed is None:
        return None
    root, tree = parsed
    if root in ("SetCommand", "ResetCommand"):
        _guard_conf_mutation(spark, root, tree)
        return parsed  # conf verbs carry no table privileges
    pairs = _required_privs(tree)
    if not pairs:
        return parsed
    user = current_user(spark)
    store = _load(spark)
    roles = _active_roles(spark, store)
    if "admin" in roles:
        return parsed
    _deny_missing(spark, store, user, roles, pairs)
    return parsed


def _deny_missing(spark, store, user, roles, pairs) -> None:
    """Raise unless every (name, priv) pair is held — the shared core
    of enforce() and enforce_maintenance()."""
    missing = []
    for name, priv in pairs:
        for_write = priv != "SELECT"
        cand = _candidate_enforceable(spark, name, for_write=for_write)
        if cand is _EXEMPT:
            continue
        if cand is not None and priv in _held_privs(store, user, roles, *cand):
            continue  # granted — no metastore round-trip needed
        resolved = _resolve_enforceable(spark, name, for_write=for_write)
        if resolved is None:
            continue
        db, tbl = resolved
        if priv not in _held_privs(store, user, roles, db, tbl):
            missing.append(f"[{priv}] on [{db}.{tbl}]")
    if missing:
        raise PermissionError(
            f"Permission denied: Principal [name={user}, type=USER] "
            f"does not have following privileges: " + ", ".join(missing)
        )


def enforce_maintenance(spark: SparkSession, name: str) -> None:
    """Gate for the engine's parse-rejected MAINTENANCE mutation shim,
    ``ALTER TABLE .. COMPACT`` (HiveQL the Spark parser rejects, so
    enforce()'s tree extractor never sees it — review r11 found the
    unguarded door). Compaction preserves visible rows but rewrites
    the base and DELETES delta files, so it requires the privileges
    whose deltas it folds: UPDATE and DELETE on the target (the
    reference gates ALTER TABLE COMPACT behind SQL-std ownership /
    admin — this minimal model has no ownership, UPDATE+DELETE is the
    closest faithful bar). dml_text's COMPACT handler calls this
    before touching any file."""
    enforce_verb(spark, name, ("UPDATE", "DELETE"))


def enforce_verb(
    spark: SparkSession, name: str, privs: "tuple[str, ...] | list[str]"
) -> None:
    """Gate for the PROGRAMMATIC Engine write verbs (VERDICT r11
    task 1): ``Engine.update/delete/merge/insert_into/multi_insert/
    compact_mor/...`` mutate catalog tables without going through
    ``Engine.sql``, so ``enforce()``'s plan-tree extractor never sees
    them. The reference's only programmatic entry point IS checked
    (ql/Driver.java:1041 run → Driver.compile →
    SQLStdHiveAuthorizationValidator.checkPrivileges) — one facade,
    one posture. Each verb knows its target table and the privileges
    its mutation implies; this routes them through the same
    ``_deny_missing`` core as the SQL gate. No-op when enforcement is
    disabled (the default)."""
    if not enforcement_enabled(spark):
        return
    user = current_user(spark)
    store = _load(spark)
    roles = _active_roles(spark, store)
    if "admin" in roles:
        return
    quoted = ".".join(f"`{p}`" for p in name.split("."))
    _deny_missing(
        spark, store, user, roles,
        [(quoted, p) for p in privs],
    )


def enforce_path_write(
    spark: SparkSession, path: str,
    privs: "tuple[str, ...]" = ("INSERT",),
) -> None:
    """Gate for PATH-addressed programmatic writes
    (``Engine.append_batch``): when ``path`` is the storage location
    of a catalog table — or a directory UNDER one, e.g. a partition
    directory (review r12: appending into ``loc/dt=2024-01-01`` is an
    insert into the table exactly like appending into ``loc``) — the
    append is an INSERT into that table and requires INSERT on it.
    The reference resolves a streaming endpoint to its metastore
    table+partition and privilege-checks that (hcatalog/streaming
    HiveEndPoint.newConnection → checkAuth). A path backing NO catalog
    table is plain filesystem I/O outside the privilege model (Hive's
    URI privileges are filesystem-ownership checks this minimal model
    does not carry — documented in README); nothing stops raw
    ``df.write`` either, so gating it here would be theater.

    Soundness over speed — a deliberate, twice-reviewed decision
    (review r12): pass 1 added a table-set-fingerprint location cache
    (a DROP+CREATE at a new location evaded it), pass 2 replaced it
    with a confirmed per-path hint (a table created LATER at a deeper
    nested location was permanently shadowed by the hinted shallow
    one). Both failed the same way — any memory of catalog layout can
    go stale under it — so this gate keeps NO state: every call is a
    fresh, complete catalog sweep and the DEEPEST (longest) covering
    root wins, the path's most specific table. The sweep is made
    affordable without state via BULK metadata (one externalCatalog
    getTablesByName round-trip per database — measured ~6 ms/sweep vs
    ~30 ms PER TABLE for the DESCRIBE form,
    experiments/authz_pathwrite_bench.py), paid only under
    enforcement by a non-admin caller on a path-addressed append; the
    reference's streaming endpoint likewise resolves its table
    against the live metastore per connection
    (HiveEndPoint.newConnection). Fails CLOSED on a metadata error —
    the caller can retry, an unauthorized write cannot be unwritten
    (review r12 pass 4)."""
    if not enforcement_enabled(spark):
        return
    user = current_user(spark)
    store = _load(spark)
    roles = _active_roles(spark, store)
    if "admin" in roles:
        return
    want = os.path.realpath(path)

    def _root_if_covers(loc: "str | None") -> "str | None":
        if loc is None:
            return None
        root = os.path.realpath(loc)
        if want == root or want.startswith(root + os.sep):
            return root
        return None

    best: "tuple[int, str, str] | None" = None
    try:
        for db, tbl, loc in _catalog_locations(spark):
            root = _root_if_covers(loc)
            if root is not None and (best is None or len(root) > best[0]):
                best = (len(root), db, tbl)
    except Exception as e:  # noqa: BLE001 — gate fails CLOSED
        raise RuntimeError(
            f"authorization gate could not enumerate catalog table "
            f"locations while resolving a path write; failing closed "
            f"({e})"
        ) from e
    if best is not None:
        _deny_missing(
            spark, store, user, roles,
            [(f"`{best[1]}`.`{best[2]}`", p) for p in privs],
        )


def _catalog_locations(spark: SparkSession):
    """Fresh (db, table, local-filesystem-location-or-None) triples
    for every PERSISTENT catalog table — the metastore fetch is one
    bulk ``externalCatalog().getTablesByName`` call per database
    (temp views live only in the session catalog and are not
    path-write subjects); the per-table ATTRIBUTE reads remain
    individual py4j calls, which is where the measured 114 ms at 100
    tables goes (experiments/authz_pathwrite_r12.json — still 25x
    under the per-table DESCRIBE form). Views and non-file schemes
    yield None. Locations come from ``URI.getPath()`` — the DECODED
    path — because ``toString()`` is percent-encoded and a location
    with a space would silently stop matching its own directory
    (review r12 pass 6: fail-open)."""
    ext = spark._jsparkSession.sessionState().catalog().externalCatalog()
    to_seq = spark._jvm.org.apache.spark.api.python.PythonUtils.toSeq
    dbs = ext.listDatabases()
    for i in range(dbs.size()):
        db = dbs.apply(i)
        names = ext.listTables(db)
        tables = ext.getTablesByName(
            db, to_seq([names.apply(j) for j in range(names.size())])
        )
        for k in range(tables.size()):
            ct = tables.apply(k)
            loc = None
            uri = ct.storage().locationUri()
            if ct.tableType().name() != "VIEW" and uri.isDefined():
                u = uri.get()
                if u.getScheme() in (None, "file"):
                    loc = u.getPath() or None
            yield db, ct.identifier().table(), loc


def _table_location(spark: SparkSession, db: str, tbl: str):
    """Local-filesystem location of a catalog table, or None (non-file
    scheme, or metadata without a location). Single-table DESCRIBE
    form; the path-write gate sweeps in bulk via _catalog_locations
    instead (measured 25x cheaper at 100 tables)."""
    try:
        rows = (
            spark.sql(f"DESCRIBE FORMATTED `{db}`.`{tbl}`")
            .where("col_name = 'Location'")
            .collect()
        )
    except Exception:  # noqa: BLE001 — concurrently dropped, etc.
        return None
    if not rows:
        return None
    loc = rows[0].data_type or ""
    if loc.startswith("file:"):
        loc = loc[len("file:"):]
    elif "://" in loc:
        return None  # non-local scheme — realpath comparison is moot
    return loc or None


def _require_role_admin(
    spark: SparkSession, store: dict, roles: list[str]
) -> None:
    """Gate for role administration under enforcement: the admin role,
    or ADMIN OPTION on every role being granted/revoked
    (SQLStdHiveAccessController.grantRole's check). ADMIN OPTION
    counts whether held directly or through an ACTIVE role
    (review r10 pass 2)."""
    if not enforcement_enabled(spark):
        return
    user = current_user(spark)
    active = _active_roles(spark, store)
    if "admin" in active:
        return
    if not roles:
        # CREATE/DROP ROLE have no per-role ADMIN OPTION escape hatch:
        # they are admin-only verbs in the reference
        raise PermissionError(
            f"Permission denied: Principal [name={user}, type=USER] "
            f"is not an admin; role DDL requires the admin role"
        )
    for role in roles:
        r = _norm_role(role)
        ok = any(
            g["role"] == r and g["admin_option"]
            and (
                (g["principal_type"] == "USER" and g["principal"] == user)
                or (g["principal_type"] == "ROLE" and g["principal"] in active)
            )
            for g in store["role_grants"]
        )
        if not ok:
            raise PermissionError(
                f"Permission denied: Principal [name={user}, type=USER] "
                f"is not an admin and has no ADMIN OPTION on role {r}"
            )


def _require_grant_authority(
    spark: SparkSession, store: dict, db: str, tbl: str,
    privs: list[str],
) -> None:
    """Gate for object-privilege administration under enforcement: the
    admin role, or TABLE-LEVEL GRANT OPTION on each privilege being
    granted/revoked (SQLStdHiveAccessController.grantPrivileges) —
    a column-scoped GRANT OPTION must not confer table-wide re-grant
    authority (review r10 pass 2)."""
    if not enforcement_enabled(spark):
        return
    user = current_user(spark)
    active = _active_roles(spark, store)
    if "admin" in active:
        return
    holds = {
        p["privilege"]
        for p in store["privs"]
        if p["database"] == db and p["table"] == tbl and p["grant_option"]
        and not p.get("column")
        and (
            (p["principal_type"] == "USER" and p["principal"] == user)
            or (p["principal_type"] == "ROLE" and p["principal"] in active)
        )
    }
    lacking = [p for p in privs if p not in holds]
    if lacking:
        raise PermissionError(
            f"Permission denied: Principal [name={user}, type=USER] "
            f"is not an admin and has no GRANT OPTION for "
            f"{', '.join(lacking)} on [{db}.{tbl}]"
        )
