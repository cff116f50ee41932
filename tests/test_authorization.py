"""Authorization DDL (SURVEY §2.9's role/grant surface; reference:
ql/parse/DDLSemanticAnalyzer.java role/grant analyzers +
SQLStdHiveAccessController). Catalog semantics — storage, validation,
SHOW — plus the opt-in ENFORCEMENT gate (spark.sql.authz.enabled,
r10; default off like hive.security.authorization.enabled=false) and
its r11 seam closures (conf-mutation guard, shadow piercing, Thrift
posture). Flows mirror clientpositive/authorization_1.q and
authorization_role_grant1.q; error classes mirror the clientnegative
authorization_* family (also exercised in tests/test_negative.py)."""

import os

import pytest

from amplab_hive_spark import authorization as az
from amplab_hive_spark.engine import Engine


@pytest.fixture()
def eng(spark):
    # a clean authz store + session state per test
    path = az._store_path(spark)
    if os.path.exists(path):
        os.remove(path)
    for key in (az._ROLES_CONF, az._USER_CONF):
        try:
            spark.conf.unset(key)
        except Exception:
            pass
    e = Engine(spark)
    yield e
    if os.path.exists(path):
        os.remove(path)
    for key in (az._ROLES_CONF, az._USER_CONF):
        try:
            spark.conf.unset(key)
        except Exception:
            pass


@pytest.fixture()
def tbl(spark):
    spark.sql("DROP TABLE IF EXISTS src_autho_test")
    spark.range(5).selectExpr("id AS key", "concat('v', id) AS value") \
        .write.saveAsTable("src_autho_test")
    yield "src_autho_test"
    spark.sql("DROP TABLE IF EXISTS src_autho_test")


def test_role_lifecycle_and_case_insensitivity(eng):
    """authorization_role_grant1.q: roles are case-insensitive; SHOW
    ROLES lists built-ins + created; DROP removes."""
    eng.sql("CREATE ROLE src_Role2")
    roles = [r.role for r in eng.sql("SHOW ROLES").collect()]
    assert roles == ["admin", "public", "src_role2"]
    # duplicate under different case
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE ROLE SRC_ROLE2")
    eng.sql("DROP ROLE sRc_roLe2")
    roles = [r.role for r in eng.sql("SHOW ROLES").collect()]
    assert roles == ["admin", "public"]
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("DROP ROLE src_role2")


def test_reserved_and_builtin_role_names(eng):
    """authorization_cannot_create_{all,default,none}_role.q +
    drop_admin_role.q."""
    for bad in ("all", "DEFAULT", "None"):
        with pytest.raises(ValueError, match="reserved"):
            eng.sql(f"CREATE ROLE {bad}")
    for builtin in ("admin", "PUBLIC"):
        with pytest.raises(ValueError, match="already exists"):
            eng.sql(f"CREATE ROLE {builtin}")
        with pytest.raises(ValueError, match="built-in"):
            eng.sql(f"DROP ROLE {builtin}")


def test_role_grant_revoke_and_show(eng, spark):
    eng.sql("CREATE ROLE src_role_wadmin")
    eng.sql("GRANT src_role_wadmin TO USER user2 WITH ADMIN OPTION")
    got = eng.sql("SHOW ROLE GRANT USER user2").collect()
    by_role = {r.role: r for r in got}
    assert set(by_role) == {"public", "src_role_wadmin"}
    assert by_role["src_role_wadmin"].grant_option is True
    # revoke just the admin option, membership stays
    eng.sql("REVOKE ADMIN OPTION FOR src_role_wadmin FROM USER user2")
    by_role = {r.role: r for r in
               eng.sql("SHOW ROLE GRANT USER user2").collect()}
    assert by_role["src_role_wadmin"].grant_option is False
    # revoke the role
    eng.sql("REVOKE src_role_wadmin FROM USER user2")
    roles = [r.role for r in eng.sql("SHOW ROLE GRANT USER user2").collect()]
    assert roles == ["public"]
    with pytest.raises(ValueError, match="Cannot find role grant"):
        eng.sql("REVOKE src_role_wadmin FROM USER user2")


def test_role_cycle_rejected(eng):
    """authorization_role_cycles1.q: role1 -> role2 then role2 ->
    role1 closes a cycle and is refused."""
    eng.sql("CREATE ROLE role1")
    eng.sql("CREATE ROLE role2")
    eng.sql("GRANT ROLE role1 TO ROLE role2")
    with pytest.raises(ValueError, match="cycle"):
        eng.sql("GRANT ROLE role2 TO ROLE role1")
    # deeper cycle (cycles2): role2 -> role3, then role3 -> ... role1
    eng.sql("CREATE ROLE role3")
    eng.sql("GRANT ROLE role2 TO ROLE role3")
    with pytest.raises(ValueError, match="cycle"):
        eng.sql("GRANT ROLE role3 TO ROLE role1")
    # self-grant is the degenerate cycle
    with pytest.raises(ValueError, match="cycle"):
        eng.sql("GRANT ROLE role1 TO ROLE role1")


def test_table_priv_grant_show_revoke(eng, tbl):
    """authorization_1.q's table + column grant/revoke flow, with the
    reference SHOW GRANT output shape."""
    eng.sql(f"GRANT SELECT ON TABLE {tbl} TO USER hive_test_user")
    got = eng.sql(f"SHOW GRANT USER hive_test_user ON TABLE {tbl}").collect()
    assert len(got) == 1
    g = got[0]
    assert (g.table, g.principal_name, g.principal_type, g.privilege,
            g.grant_option) == (tbl, "hive_test_user", "USER", "SELECT", False)
    assert g.column is None
    # column grant
    eng.sql(f"GRANT SELECT(key) ON TABLE {tbl} TO USER hive_test_user")
    cols = eng.sql(
        f"SHOW GRANT USER hive_test_user ON TABLE {tbl}(key)").collect()
    assert len(cols) == 1 and cols[0].column == "key"
    # revoke table-level; column grant remains
    eng.sql(f"REVOKE SELECT ON TABLE {tbl} FROM USER hive_test_user")
    left = eng.sql(f"SHOW GRANT USER hive_test_user ON TABLE {tbl}").collect()
    assert [r.column for r in left] == ["key"]
    eng.sql(f"REVOKE SELECT(key) ON TABLE {tbl} FROM USER hive_test_user")
    assert eng.sql(
        f"SHOW GRANT USER hive_test_user ON TABLE {tbl}").count() == 0


def test_all_expands_and_invalid_priv_rejected(eng, tbl):
    """ALL = the SQL-std four; GRANT INDEX raises
    (authorization_invalid_priv_v2.q)."""
    eng.sql(f"GRANT ALL ON TABLE {tbl} TO ROLE public")
    got = sorted(
        r.privilege
        for r in eng.sql(f"SHOW GRANT ROLE public ON TABLE {tbl}").collect()
    )
    assert got == ["DELETE", "INSERT", "SELECT", "UPDATE"]
    with pytest.raises(ValueError, match="Unsupported privilege"):
        eng.sql(f"GRANT INDEX ON TABLE {tbl} TO USER hive_test_user")
    with pytest.raises(ValueError, match="Unsupported privilege"):
        eng.sql(f"GRANT LOCK ON TABLE {tbl} TO USER hive_test_user")


def test_duplicate_grant_and_missing_revoke_raise(eng, tbl):
    """authorization_fail_1.q (duplicate grant) and the 'Cannot find
    privilege to revoke' contract."""
    eng.sql(f"GRANT SELECT ON TABLE {tbl} TO USER u1")
    with pytest.raises(ValueError, match="already granted"):
        eng.sql(f"GRANT SELECT ON TABLE {tbl} TO USER u1")
    with pytest.raises(ValueError, match="Cannot find privilege"):
        eng.sql(f"REVOKE INSERT ON TABLE {tbl} FROM USER u1")


def test_grant_on_missing_table_raises(eng):
    with pytest.raises(ValueError, match="Table not found"):
        eng.sql("GRANT SELECT ON TABLE no_such_table_az TO USER u1")


def test_grant_to_missing_role_raises(eng, tbl):
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql(f"GRANT SELECT ON TABLE {tbl} TO ROLE no_such_role")
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("GRANT no_such_role TO USER u1")


def test_set_role_and_current_roles(eng, spark):
    """authorization_set_role_neg1/neg2.q: SET ROLE requires existence
    AND membership; ALL/NONE specials; SET user.name switches the
    session user (SessionStateConfigUserAuthenticator idiom)."""
    spark.sql("SET user.name=alice")
    eng.sql("CREATE ROLE analyst")
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("SET ROLE nosuchroleexists")
    with pytest.raises(ValueError, match="not a member"):
        eng.sql("SET ROLE analyst")
    eng.sql("GRANT analyst TO USER alice")
    eng.sql("SET ROLE analyst")
    assert [r.role for r in eng.sql("SHOW CURRENT ROLES").collect()] \
        == ["analyst"]
    eng.sql("SET ROLE NONE")
    assert eng.sql("SHOW CURRENT ROLES").count() == 0
    eng.sql("SET ROLE ALL")
    assert [r.role for r in eng.sql("SHOW CURRENT ROLES").collect()] \
        == ["analyst", "public"]
    # another session user doesn't inherit alice's roles
    spark.sql("SET user.name=bob")
    spark.conf.unset(az._ROLES_CONF)
    assert [r.role for r in eng.sql("SHOW CURRENT ROLES").collect()] \
        == ["public"]


def test_drop_role_cascades_memberships_and_privs(eng, spark, tbl):
    eng.sql("CREATE ROLE doomed")
    eng.sql("GRANT doomed TO USER u1")
    eng.sql(f"GRANT SELECT ON TABLE {tbl} TO ROLE doomed")
    eng.sql("DROP ROLE doomed")
    assert [r.role for r in eng.sql("SHOW ROLE GRANT USER u1").collect()] \
        == ["public"]
    assert eng.sql(f"SHOW GRANT ON TABLE {tbl}").count() == 0


def test_show_principals(eng):
    eng.sql("CREATE ROLE team")
    eng.sql("GRANT team TO USER u1, USER u2 WITH ADMIN OPTION")
    got = eng.sql("SHOW PRINCIPALS team").collect()
    assert [(r.principal_name, r.principal_type, r.grant_option)
            for r in got] == [("u1", "USER", True), ("u2", "USER", True)]
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("SHOW PRINCIPALS no_such")


def test_grants_resolve_through_role_hierarchy(eng, spark, tbl):
    """authorization_rolehierarchy_privs.q: user1 -> role1 -> role2 ->
    role3; a privilege granted to role3 is visible to user1 via
    reachability (the hook an enforcing wrapper would call)."""
    for r in ("role1", "role2", "role3"):
        eng.sql(f"CREATE ROLE {r}")
    eng.sql("GRANT role1 TO USER user1")
    eng.sql("GRANT ROLE role2 TO ROLE role1")
    eng.sql("GRANT ROLE role3 TO ROLE role2")
    eng.sql(f"GRANT SELECT ON TABLE {tbl} TO ROLE role3")
    assert az.grants_for(spark, "user1", tbl) == ["SELECT"]
    assert az.grants_for(spark, "user2", tbl) == []
    # public grants reach everyone
    eng.sql(f"GRANT INSERT ON TABLE {tbl} TO ROLE public")
    assert az.grants_for(spark, "user2", tbl) == ["INSERT"]


def test_store_persists_across_engine_instances(eng, spark, tbl):
    eng.sql("CREATE ROLE keeper")
    eng.sql(f"GRANT SELECT ON TABLE {tbl} TO ROLE keeper")
    # a fresh Engine over a fresh Spark *session* sees the same store
    eng2 = Engine(spark.newSession())
    roles = [r.role for r in eng2.sql("SHOW ROLES").collect()]
    assert "keeper" in roles
    got = eng2.sql(f"SHOW GRANT ROLE keeper ON TABLE {tbl}").collect()
    assert [r.privilege for r in got] == ["SELECT"]


def test_grant_with_grant_option_and_revoke_option_only(eng, tbl):
    eng.sql(f"GRANT SELECT ON TABLE {tbl} TO USER u9 WITH GRANT OPTION")
    (g,) = eng.sql(f"SHOW GRANT USER u9 ON TABLE {tbl}").collect()
    assert g.grant_option is True
    eng.sql(f"REVOKE GRANT OPTION FOR SELECT ON TABLE {tbl} FROM USER u9")
    (g,) = eng.sql(f"SHOW GRANT USER u9 ON TABLE {tbl}").collect()
    assert g.grant_option is False and g.privilege == "SELECT"


# ---------------------------------------------------------------- r9
# review-pass regressions.


def test_multi_column_grant_parses(eng, tbl):
    """Review r9: a column list holds its own commas — SELECT(key,
    value) must not be split at the top level into garbage."""
    eng.sql(f"GRANT SELECT(key, value), INSERT ON TABLE {tbl} TO USER mc")
    got = sorted(
        (r.privilege, r.column)
        for r in eng.sql(f"SHOW GRANT USER mc ON TABLE {tbl}").collect()
    )
    assert got == [("INSERT", None), ("SELECT", "key"), ("SELECT", "value")]


def test_set_role_all_is_dynamic_not_snapshot(eng, spark):
    """Review r9: SET ROLE ALL must track the granted set — a role
    granted AFTER the statement is active immediately."""
    spark.sql("SET user.name=dyn_user")
    eng.sql("CREATE ROLE dyn_r1")
    eng.sql("GRANT dyn_r1 TO USER dyn_user")
    eng.sql("SET ROLE ALL")
    assert [r.role for r in eng.sql("SHOW CURRENT ROLES").collect()] \
        == ["dyn_r1", "public"]
    eng.sql("CREATE ROLE dyn_r2")
    eng.sql("GRANT dyn_r2 TO USER dyn_user")
    assert [r.role for r in eng.sql("SHOW CURRENT ROLES").collect()] \
        == ["dyn_r1", "dyn_r2", "public"]


def test_explicit_public_grant_not_duplicated(eng):
    """Review r9: SHOW ROLE GRANT must render ONE public row even
    when public was also granted explicitly."""
    eng.sql("GRANT public TO USER pub_user")
    rows = eng.sql("SHOW ROLE GRANT USER pub_user").collect()
    assert [r.role for r in rows] == ["public"]


def test_group_principals_rejected_sql_std(eng, tbl):
    """Review r9 / authorization_grant_group.q: the SQL-standard
    authorizer refuses GROUP grants at statement time — storing a
    grant no membership lookup would follow is a silent no-op."""
    with pytest.raises(ValueError, match="GROUP"):
        eng.sql(f"GRANT SELECT ON TABLE {tbl} TO GROUP eng_team")
    eng.sql("CREATE ROLE grp_r")
    with pytest.raises(ValueError, match="GROUP"):
        eng.sql("GRANT grp_r TO GROUP eng_team")


def test_legacy_group_grant_is_revocable(eng, spark, tbl):
    """Second review pass: GROUP is rejected at GRANT time, but a
    legacy GROUP row persisted before the rejection existed must stay
    REVOKABLE — rejecting both directions would make it immortal."""
    store = az._load(spark)
    store["privs"].append({
        "database": spark.catalog.currentDatabase(), "table": tbl,
        "column": None, "principal_type": "GROUP", "principal": "legacy_g",
        "privilege": "SELECT", "grant_option": False,
        "grantor": "old_release", "grant_time": 0,
    })
    az._save(spark, store)
    assert eng.sql(f"SHOW GRANT GROUP legacy_g ON TABLE {tbl}").count() == 1
    eng.sql(f"REVOKE SELECT ON TABLE {tbl} FROM GROUP legacy_g")
    assert eng.sql(f"SHOW GRANT GROUP legacy_g ON TABLE {tbl}").count() == 0


def test_transitive_role_membership(eng, spark):
    """ADVICE r10: roles held THROUGH role-to-role grants count as
    membership — SET ROLE accepts them and SHOW CURRENT ROLES lists
    them, matching SQLStdHiveAccessController.getRolesFromMS ->
    getAllRoleAncestors (and grants_for's closure)."""
    spark.sql("SET user.name=carol")
    eng.sql("CREATE ROLE t_outer")
    eng.sql("CREATE ROLE t_mid")
    eng.sql("CREATE ROLE t_inner")
    # carol -> t_outer -> t_mid -> t_inner
    eng.sql("GRANT ROLE t_mid TO ROLE t_outer")
    eng.sql("GRANT ROLE t_inner TO ROLE t_mid")
    eng.sql("GRANT t_outer TO USER carol")
    spark.conf.unset(az._ROLES_CONF)
    held = [r.role for r in eng.sql("SHOW CURRENT ROLES").collect()]
    assert held == ["public", "t_inner", "t_mid", "t_outer"]
    # SET ROLE accepts an INHERITED role, not just a direct grant
    eng.sql("SET ROLE t_inner")
    assert [r.role for r in eng.sql("SHOW CURRENT ROLES").collect()] \
        == ["t_inner"]
    spark.conf.unset(az._ROLES_CONF)

# -- opt-in enforcement (round 10: the r9 verdict's task 7) -------------
# Reference: ql/security/authorization/plugin/sqlstd/
# SQLStdHiveAuthorizationValidator.java checkPrivileges +
# SQLStdHiveAccessController.grantRole/grantPrivileges, active only
# under hive.security.authorization.enabled=true. Bootstrap follows
# Hive's hive.users.in.admin.role pattern: seed grants while
# enforcement is DISABLED (the default), then flip the conf.


@pytest.fixture()
def enforced(eng, spark):
    def _as(user):
        spark.conf.set("user.name", user)

    def _seed(*statements):
        """Run grant DDL with enforcement OFF (the operator bootstrap)."""
        spark.conf.set("spark.sql.authz.enabled", "false")
        for s in statements:
            eng.sql(s)
        spark.conf.set("spark.sql.authz.enabled", "true")

    spark.conf.set("spark.sql.authz.enabled", "true")
    yield eng, _as, _seed
    spark.conf.unset("spark.sql.authz.enabled")


def test_enforcement_default_off(eng, spark, tbl):
    """Default posture unchanged: no grants, no denials."""
    spark.conf.set("user.name", "nobody_at_all")
    assert eng.sql(f"SELECT count(*) AS n FROM {tbl}").first().n == 5


def test_enforcement_denies_then_grant_allows(enforced, spark, tbl):
    eng, _as, _seed = enforced
    _as("alice")
    with pytest.raises(PermissionError, match=r"\[SELECT\] on \[default.src_autho_test\]"):
        eng.sql(f"SELECT * FROM {tbl}")
    _seed(f"GRANT SELECT ON {tbl} TO USER alice")
    _as("alice")
    assert eng.sql(f"SELECT count(*) AS n FROM {tbl}").first().n == 5
    # SELECT alone does not cover writes
    with pytest.raises(PermissionError, match=r"\[INSERT\]"):
        eng.sql(f"INSERT INTO {tbl} VALUES (9, 'v9')")


def test_enforcement_write_verbs_and_role_path(enforced, spark, tbl):
    """UPDATE/DELETE need their own privileges, grantable via a role
    (resolved through the ACTIVE role set)."""
    eng, _as, _seed = enforced
    _as("carol")
    with pytest.raises(PermissionError, match=r"\[UPDATE\]"):
        eng.sql(f"UPDATE {tbl} SET value = 'x' WHERE key = 1")
    _seed(
        "CREATE ROLE writers",
        f"GRANT UPDATE, DELETE, SELECT ON {tbl} TO ROLE writers",
        "GRANT ROLE writers TO USER carol",
    )
    _as("carol")
    eng.sql(f"UPDATE {tbl} SET value = 'x' WHERE key = 1")
    assert eng.sql(f"SELECT value FROM {tbl} WHERE key = 1").first().value == "x"
    eng.sql(f"DELETE FROM {tbl} WHERE key = 0")
    assert eng.sql(f"SELECT count(*) AS n FROM {tbl}").first().n == 4


def test_enforcement_set_role_none_drops_privileges(enforced, spark, tbl):
    """SET ROLE state constrains checks (checkPrivileges resolves the
    CURRENT role set, not the full granted closure — review r10)."""
    eng, _as, _seed = enforced
    _seed(
        "CREATE ROLE readers10",
        f"GRANT SELECT ON {tbl} TO ROLE readers10",
        "GRANT ROLE readers10 TO USER erin10",
    )
    _as("erin10")
    assert eng.sql(f"SELECT count(*) AS n FROM {tbl}").first().n == 5
    eng.sql("SET ROLE NONE")
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"SELECT count(*) AS n FROM {tbl}")
    eng.sql("SET ROLE readers10")
    assert eng.sql(f"SELECT count(*) AS n FROM {tbl}").first().n == 5


def test_enforcement_admin_bypass_and_self_grant_blocked(enforced, spark, tbl):
    eng, _as, _seed = enforced
    # an unprivileged user cannot grant themselves admin (review r10:
    # grant administration is gated under enforcement)
    _as("mallory")
    with pytest.raises(PermissionError, match="not an admin"):
        eng.sql("GRANT ROLE admin TO USER mallory")
    with pytest.raises(PermissionError, match="not an admin"):
        eng.sql(f"GRANT SELECT ON {tbl} TO USER mallory")
    with pytest.raises(PermissionError, match="not an admin"):
        eng.sql("CREATE ROLE sneaky")
    # a seeded admin bypasses object checks AND may administer grants
    _seed("GRANT ROLE admin TO USER root_like")
    _as("root_like")
    assert eng.sql(f"SELECT count(*) AS n FROM {tbl}").first().n == 5
    eng.sql("CREATE ROLE ops10")
    eng.sql(f"GRANT SELECT ON {tbl} TO ROLE ops10")
    eng.sql("DROP ROLE ops10")


def test_enforcement_grant_option_authority(enforced, spark, tbl):
    """GRANT OPTION lets a non-admin re-grant exactly the privileges
    it covers (SQLStdHiveAccessController.grantPrivileges)."""
    eng, _as, _seed = enforced
    _seed(f"GRANT SELECT ON {tbl} TO USER delegator WITH GRANT OPTION")
    _as("delegator")
    eng.sql(f"GRANT SELECT ON {tbl} TO USER delegatee")
    with pytest.raises(PermissionError, match="no GRANT OPTION for UPDATE"):
        eng.sql(f"GRANT UPDATE ON {tbl} TO USER delegatee")
    _as("delegatee")
    assert eng.sql(f"SELECT count(*) AS n FROM {tbl}").first().n == 5


def test_enforcement_temp_view_laundering_blocked(enforced, spark, tbl):
    """CREATE TEMPORARY VIEW ... AS SELECT on a protected table is
    checked at definition time — the exempt CREATE head must not
    launder reads (review r10); reading an ALREADY-legal temp view
    stays exempt (session-private object)."""
    eng, _as, _seed = enforced
    _as("dave")
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"CREATE TEMPORARY VIEW launder_v AS SELECT * FROM {tbl}")
    # a temp view over session-local data is unrestricted
    spark.range(3).createOrReplaceTempView("authz_tmp_v")
    try:
        assert eng.sql("SELECT count(*) AS n FROM authz_tmp_v").first().n == 3
    finally:
        spark.catalog.dropTempView("authz_tmp_v")


def test_enforcement_ref_scanner_edges(enforced, spark, tbl):
    """The pre-parse ref scan handles backticks, comma-separated FROM
    lists, the TABLE form, string literals, and CTE aliases
    (review r10)."""
    eng, _as, _seed = enforced
    _as("frank10")
    # backtick-quoted protected table is still checked
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"SELECT * FROM `{tbl}`")
    # comma-joined second table is checked (with and without aliases)
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"SELECT 1 FROM region, {tbl}")
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"SELECT 1 FROM region r, {tbl} s")
    # bare TABLE form is checked
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"TABLE {tbl}")
    _seed(f"GRANT SELECT ON {tbl} TO USER frank10")
    _as("frank10")
    # a protected NAME inside a string literal is NOT a read
    df = eng.sql(
        f"SELECT count(*) AS n FROM {tbl} WHERE value <> 'ignore src_autho_test'"
    )
    assert df.first().n == 5
    # a CTE alias shadowing nothing is not demanded as a table
    q = f"WITH c AS (SELECT key FROM {tbl}) SELECT count(*) AS n FROM c"
    assert eng.sql(q).first().n == 5
    # metadata statements stay open
    eng.sql(f"SHOW GRANT ON TABLE {tbl}").collect()
    eng.sql("SHOW ROLES").collect()


def test_enforcement_scanner_bypass_fixes(enforced, spark, tbl):
    """Review r10 pass 2: AS-alias comma lists, block comments, the
    WINDOW clause, and fully backtick-qualified names must not hide a
    protected table from the scan."""
    eng, _as, _seed = enforced
    spark.range(2).createOrReplaceTempView("authz_free_v")  # unrestricted
    _as("gina")
    # AS alias in a comma FROM list: the protected table after it is checked
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"SELECT 1 FROM authz_free_v AS g, {tbl}")
    # block comment cannot hide the ref...
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"SELECT * FROM /* hop */ {tbl}")
    # ...nor forge a CTE alias that suppresses the check
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"SELECT * FROM {tbl} /* {tbl} AS ( */")
    # a named WINDOW clause is not a CTE
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(
            f"SELECT key, count(*) OVER {tbl} FROM {tbl} "
            f"WINDOW {tbl} AS (ORDER BY key)"
        )
    # fully backtick-qualified name resolves and is checked
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"SELECT * FROM `default`.`{tbl}`")


def test_enforcement_exempt_head_data_mutations_gated(enforced, spark, tbl, tmp_path):
    """Review r10 pass 2: TRUNCATE needs DELETE and LOAD DATA needs
    INSERT even though both are exempt-headed; CACHE TABLE AS and
    ALTER VIEW AS check their query part's reads."""
    eng, _as, _seed = enforced
    _as("harry")
    with pytest.raises(PermissionError, match=r"\[DELETE\]"):
        eng.sql(f"TRUNCATE TABLE {tbl}")
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"CACHE TABLE exfil10 AS SELECT * FROM {tbl}")
    # ALTER VIEW AS over a protected table is a read of that table
    _seed(f"GRANT SELECT ON {tbl} TO USER view_owner10")
    spark.conf.set("spark.sql.authz.enabled", "false")
    spark.sql("CREATE OR REPLACE VIEW authz_v10 AS SELECT 1 AS one")
    spark.conf.set("spark.sql.authz.enabled", "true")
    try:
        _as("harry")
        with pytest.raises(PermissionError, match=r"\[SELECT\]"):
            eng.sql(f"ALTER VIEW authz_v10 AS SELECT * FROM {tbl}")
        # TRUNCATE works once DELETE is granted
        _seed(f"GRANT DELETE ON {tbl} TO USER harry")
        _as("harry")
        eng.sql(f"TRUNCATE TABLE {tbl}")
        _seed(f"GRANT SELECT ON {tbl} TO USER harry")
        _as("harry")
        assert eng.sql(f"SELECT count(*) AS n FROM {tbl}").first().n == 0
    finally:
        spark.conf.set("spark.sql.authz.enabled", "false")
        spark.sql("DROP VIEW IF EXISTS authz_v10")
        spark.conf.set("spark.sql.authz.enabled", "true")


def test_enforcement_column_grants_do_not_widen(enforced, spark, tbl):
    """Review r10 pass 2: a column-scoped grant is catalog/SHOW state
    only — it neither opens the whole table nor confers table-wide
    re-grant authority."""
    eng, _as, _seed = enforced
    _seed(f"GRANT SELECT(key) ON {tbl} TO USER colleen",
          f"GRANT SELECT(key) ON {tbl} TO USER colleen_opt WITH GRANT OPTION")
    _as("colleen")
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"SELECT key FROM {tbl}")
    _as("colleen_opt")
    with pytest.raises(PermissionError, match="no GRANT OPTION"):
        eng.sql(f"GRANT SELECT ON {tbl} TO USER someone_else")


def test_enforcement_admin_option_via_role(enforced, spark, tbl):
    """Review r10 pass 2: ADMIN OPTION held through an active role
    authorizes re-granting that role (no false denial)."""
    eng, _as, _seed = enforced
    _seed(
        "CREATE ROLE project10",
        "CREATE ROLE leads10",
        "GRANT ROLE project10 TO ROLE leads10 WITH ADMIN OPTION",
        "GRANT ROLE leads10 TO USER amy",
    )
    _as("amy")
    eng.sql("GRANT ROLE project10 TO USER bob10")
    got = [r.role for r in eng.sql("SHOW ROLE GRANT USER bob10").collect()]
    assert "project10" in got


def test_enforcement_plan_based_extraction(enforced, spark, tbl):
    """Review r10 pass 3: privilege requirements come from the PARSED
    plan, so the text-scanner bypass classes are structurally gone —
    'AS TABLE t' laundering, a subquery as the first comma-FROM
    member, and an inner-scoped CTE forging an exemption for an
    outer read of the same-named table."""
    eng, _as, _seed = enforced
    _as("iris")
    # CREATE ... AS TABLE form reads the table
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"CREATE TEMPORARY VIEW launder2_v AS TABLE {tbl}")
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"CACHE TABLE launder2_c AS TABLE {tbl}")
    # subquery first, protected table after the comma
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"SELECT * FROM (SELECT 1) x, {tbl}")
    # an inner CTE named like the table does NOT exempt the outer read
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(
            f"SELECT * FROM {tbl} UNION ALL "
            f"(WITH {tbl} AS (SELECT 1 AS key, 'v' AS value) "
            f"SELECT key, value FROM {tbl})"
        )
    # LOAD DATA is gated on INSERT before any execution
    with pytest.raises(PermissionError, match=r"\[INSERT\]"):
        eng.sql(f"LOAD DATA INPATH '/nonexistent' INTO TABLE {tbl}")
    # fail-closed CTE collision: even WITH a top-level CTE shadowing
    # the protected name, the gate denies (documented conservative
    # posture — rename the CTE or hold SELECT)
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(
            f"WITH {tbl} AS (SELECT 1 AS key) SELECT * FROM {tbl}"
        )
    # ...and once granted, all of those forms run
    _seed(f"GRANT SELECT ON {tbl} TO USER iris")
    _as("iris")
    assert eng.sql(
        f"WITH {tbl} AS (SELECT 1 AS key) SELECT * FROM {tbl}"
    ).first().key == 1


def test_enforcement_fully_qualified_references(enforced, spark, tbl):
    """Review r10 pass 3: two- and three-part (catalog-qualified)
    references, quoted or not, resolve and are checked — the plan
    extractor quotes each bracket part at lookup. (A name that would
    REQUIRE quoting, like 'weird-table', cannot exist in this catalog
    at all: INVALID_SCHEMA_OR_RELATION_NAME at CREATE — so the
    silently-exempt scenario has no instance here.)"""
    eng, _as, _seed = enforced
    _as("kara")
    for ref in (f"default.{tbl}", f"spark_catalog.default.{tbl}",
                f"`spark_catalog`.`default`.`{tbl}`"):
        with pytest.raises(PermissionError, match=r"\[SELECT\]"):
            eng.sql(f"SELECT * FROM {ref}")
    _seed(f"GRANT SELECT ON {tbl} TO USER kara")
    _as("kara")
    assert eng.sql(
        f"SELECT count(*) AS n FROM spark_catalog.default.{tbl}"
    ).first().n == 5


def test_grants_for_is_table_level(eng, spark, tbl):
    """Review r10 pass 3: grants_for (the public enforcement hook)
    agrees with the gate — a column-scoped grant does not report the
    table privilege; the table-level grant does."""
    eng.sql(f"GRANT SELECT(key) ON {tbl} TO USER colgrant_user")
    assert az.grants_for(spark, "colgrant_user", tbl) == []
    eng.sql(f"GRANT SELECT ON {tbl} TO USER colgrant_user")
    assert az.grants_for(spark, "colgrant_user", tbl) == ["SELECT"]


# -- round 11: enforcement seams (VERDICT r10 task 1, ADVICE r10) -------
# Reference: SQLStdHiveAccessController.applyAuthorizationConfigPolicy
# + hive.security.authorization.sqlstd.confwhitelist (a session under
# SQL-std authorization may not rewrite the authorization confs), and
# HiveServer2's SQLOperation.java privilege-checking its JDBC path.


def test_enforcement_restricted_conf_set_blocked(enforced, spark, tbl):
    """ADVICE r10 (high): `SET spark.sql.authz.enabled=false` and
    friends made the gate self-disabling. Non-admin SET/RESET of
    user.name / spark.sql.authz.* is denied; reads and unrelated keys
    stay open; admin may still flip."""
    eng, _as, _seed = enforced
    _as("mallory")
    for stmt in (
        "SET spark.sql.authz.enabled=false",
        "SET spark.sql.authz.enabled = false",
        "SET user.name=somebody_else",
        "SET spark.sql.authz.currentRoles=admin",
        "RESET spark.sql.authz.enabled",
        "RESET user.name",
        "RESET",  # clears every conf, enable flag included
    ):
        with pytest.raises(PermissionError, match="restricted configuration"):
            eng.sql(stmt)
    # enforcement is still on and the identity unchanged
    assert spark.conf.get("spark.sql.authz.enabled") == "true"
    assert az.current_user(spark) == "mallory"
    # reads of the same keys, and writes of unrelated keys, are open
    assert eng.sql("SET spark.sql.authz.enabled").count() == 1
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        eng.sql(f"SET spark.sql.shuffle.partitions={before}")  # no-op write
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    # an admin session may administer the gate
    _seed("GRANT ROLE admin TO USER root_op")
    _as("root_op")
    eng.sql("SET ROLE admin")
    eng.sql("SET spark.sql.authz.enabled=true")  # no-op flip, allowed
    spark.conf.unset(az._ROLES_CONF)


def test_enforcement_raw_currentroles_injection_ignored(enforced, spark, tbl):
    """ADVICE r10 (high): current_roles validates membership at READ
    time — a raw conf write claiming admin (bypassing set_role) confers
    nothing, and a role revoked after SET ROLE falls out."""
    eng, _as, _seed = enforced
    _as("mallory")
    spark.conf.set(az._ROLES_CONF, "admin")  # direct injection
    assert az.current_roles(spark) == []     # not a member -> filtered
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"SELECT * FROM {tbl}")
    spark.conf.unset(az._ROLES_CONF)
    # revocation after SET ROLE drops the active role too
    _seed(
        "CREATE ROLE ephemeral_r",
        f"GRANT SELECT ON {tbl} TO ROLE ephemeral_r",
        "GRANT ROLE ephemeral_r TO USER mallory",
    )
    _as("mallory")
    eng.sql("SET ROLE ephemeral_r")
    assert eng.sql(f"SELECT count(*) AS n FROM {tbl}").first().n == 5
    _seed("REVOKE ROLE ephemeral_r FROM USER mallory")
    _as("mallory")
    assert az.current_roles(spark) == []
    with pytest.raises(PermissionError, match=r"\[SELECT\]"):
        eng.sql(f"SELECT * FROM {tbl}")
    spark.conf.unset(az._ROLES_CONF)


def test_enforcement_write_pierces_temp_view_shadow(enforced, spark, tbl):
    """ADVICE r10 (high): dml_text's UPDATE/DELETE and
    InsertIntoStatement mutate the CATALOG table even when a temp view
    shadows its name, so the write check resolves past the shadow —
    shadowing a protected table no longer launders writes."""
    eng, _as, _seed = enforced
    _as("mallory")
    spark.range(3).selectExpr(
        "cast(id AS int) AS key", "concat('s', id) AS value"
    ).createOrReplaceTempView(tbl)
    try:
        with pytest.raises(PermissionError, match=r"\[UPDATE\]"):
            eng.sql(f"UPDATE {tbl} SET value = 'x' WHERE key = 1")
        with pytest.raises(PermissionError, match=r"\[DELETE\]"):
            eng.sql(f"DELETE FROM {tbl} WHERE key = 1")
        with pytest.raises(PermissionError, match=r"\[INSERT\]"):
            eng.sql(f"INSERT INTO {tbl} VALUES (9, 'v9')")
        # the shadowed READ stays exempt: SELECT through the user's own
        # temp view reads the view, not the table
        assert eng.sql(f"SELECT count(*) AS n FROM {tbl}").first().n == 3
    finally:
        spark.catalog.dropTempView(tbl)


def test_enforcement_mor_merged_read_requires_select(
    enforced, spark, tbl, tmp_path
):
    """A merged read of a merge-on-read table with live deltas is a read
    of the catalog table: the gate checks SELECT on it before the
    statement scope installs its merged-read shadow view, so the shadow
    never turns the read into an exempt temp-view read."""
    eng, _as, _seed = enforced
    name = "authz_mor_read_t"
    spark.conf.set("spark.sql.authz.enabled", "false")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (k INT, v INT) USING parquet "
        f"LOCATION '{tmp_path}/authz_mor_read_t' "
        f"TBLPROPERTIES ('transactional'='true', 'merge_keys'='k')"
    )
    spark.sql(f"INSERT INTO {name} VALUES (1, 10), (2, 20)")
    eng.sql(f"UPDATE {name} SET v = 11 WHERE k = 1")  # live delta
    spark.conf.set("spark.sql.authz.enabled", "true")
    try:
        _as("mallory")
        with pytest.raises(PermissionError, match=r"\[SELECT\].*authz_mor_read_t"):
            eng.sql(f"SELECT * FROM {name}")
        _seed(f"GRANT SELECT ON {name} TO USER mallory")
        _as("mallory")
        rows = {r.k: r.v for r in eng.sql(f"SELECT k, v FROM {name}").collect()}
        assert rows == {1: 11, 2: 20}  # merged read, privilege held
    finally:
        spark.conf.set("spark.sql.authz.enabled", "false")
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.conf.set("spark.sql.authz.enabled", "true")


def test_enforcement_compact_shim_gated(enforced, spark, tmp_path):
    """Review r11: ALTER TABLE .. COMPACT is not Spark grammar, so the
    parse-tree gate never sees it — the dml_text shim must gate the
    file-rewriting verb itself (UPDATE + DELETE on the target; the
    privileges whose delta files compaction folds)."""
    eng, _as, _seed = enforced
    name = "authz_compact_t"
    spark.conf.set("spark.sql.authz.enabled", "false")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (k INT, v INT) USING parquet "
        f"LOCATION '{tmp_path}/authz_compact_t' "
        f"TBLPROPERTIES ('transactional'='true', 'merge_keys'='k')"
    )
    spark.sql(f"INSERT INTO {name} VALUES (1, 10), (2, 20)")
    eng.sql(f"UPDATE {name} SET v = 11 WHERE k = 1")  # a delta to fold
    spark.conf.set("spark.sql.authz.enabled", "true")
    try:
        _as("mallory")
        with pytest.raises(PermissionError, match=r"\[(UPDATE|DELETE)\]"):
            eng.sql(f"ALTER TABLE {name} COMPACT 'major'")
        _seed(f"GRANT UPDATE, DELETE ON {name} TO USER mallory")
        _as("mallory")
        n = eng.sql(f"ALTER TABLE {name} COMPACT 'major'").first()
        assert n.compacted_deltas >= 1
    finally:
        spark.conf.set("spark.sql.authz.enabled", "false")
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.conf.set("spark.sql.authz.enabled", "true")


# -- round 12: programmatic Engine write verbs gated (VERDICT r11
#    task 1). The reference privilege-checks its only programmatic
#    entry (ql/Driver.java:1041 run -> Driver.compile ->
#    SQLStdHiveAuthorizationValidator.checkPrivileges); Engine's
#    python verbs must hit the same gate as their SQL spellings. One
#    denial + one granted-success per verb. ----------------------------


def test_enforcement_programmatic_update_delete(enforced, spark, tbl):
    eng, _as, _seed = enforced
    _as("prog_upd")
    with pytest.raises(PermissionError, match=r"\[UPDATE\] on \[default.src_autho_test\]"):
        eng.update(tbl, "key = 1", {"value": "'xx'"})
    with pytest.raises(PermissionError, match=r"\[DELETE\] on \[default.src_autho_test\]"):
        eng.delete(tbl, "key = 0")
    _seed(f"GRANT UPDATE, DELETE ON {tbl} TO USER prog_upd")
    _as("prog_upd")
    assert eng.update(tbl, "key = 1", {"value": "'xx'"}) == 1
    assert eng.delete(tbl, "key = 0") == 1
    spark.conf.set("spark.sql.authz.enabled", "false")
    assert spark.table(tbl).where("value = 'xx'").count() == 1
    assert spark.table(tbl).count() == 4
    spark.conf.set("spark.sql.authz.enabled", "true")


def test_enforcement_programmatic_insert_and_overwrite(enforced, spark, tbl):
    """INSERT needs INSERT; INSERT OVERWRITE needs INSERT + DELETE
    (Hive Operation2Privilege: INSERT_OVERWRITE -> INS + DEL)."""
    eng, _as, _seed = enforced
    batch = spark.createDataFrame([(7, "v7")], "key bigint, value string")
    _as("prog_ins")
    with pytest.raises(PermissionError, match=r"\[INSERT\]"):
        eng.insert_into(tbl, batch)
    _seed(f"GRANT INSERT ON {tbl} TO USER prog_ins")
    _as("prog_ins")
    eng.insert_into(tbl, batch)
    # overwrite: INSERT alone is not enough
    with pytest.raises(PermissionError, match=r"\[DELETE\]"):
        eng.insert_into(tbl, batch, overwrite=True)
    _seed(f"GRANT DELETE ON {tbl} TO USER prog_ins")
    _as("prog_ins")
    eng.insert_into(tbl, batch, overwrite=True)
    spark.conf.set("spark.sql.authz.enabled", "false")
    assert spark.table(tbl).count() == 1  # overwrite landed
    spark.conf.set("spark.sql.authz.enabled", "true")


def test_enforcement_programmatic_multi_insert_all_sinks_checked_first(
    enforced, spark, tbl
):
    """A multi-insert denied on ANY sink writes to NO sink — the
    privilege sweep runs before the first write."""
    eng, _as, _seed = enforced
    for t in ("authz_mi_a", "authz_mi_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.createDataFrame([(99, "seed")], "key bigint, value string") \
            .write.saveAsTable(t)
    try:
        _seed(
            "GRANT INSERT, DELETE ON authz_mi_a TO USER prog_multi",
            f"GRANT SELECT ON {tbl} TO USER prog_multi",
        )
        _as("prog_multi")
        src = spark.table(tbl)
        sinks = [
            (lambda d: d.limit(1), "authz_mi_a"),
            (lambda d: d.limit(1), "authz_mi_b"),  # not granted
        ]
        with pytest.raises(PermissionError, match=r"authz_mi_b"):
            eng.multi_insert(src, sinks)
        spark.conf.set("spark.sql.authz.enabled", "false")
        # the GRANTED first sink was not half-written either
        assert spark.table("authz_mi_a").collect()[0].value == "seed"
        spark.conf.set("spark.sql.authz.enabled", "true")
        _seed("GRANT INSERT, DELETE ON authz_mi_b TO USER prog_multi")
        _as("prog_multi")
        eng.multi_insert(src, sinks)
        spark.conf.set("spark.sql.authz.enabled", "false")
        assert spark.table("authz_mi_a").count() == 1
        assert spark.table("authz_mi_b").count() == 1
        spark.conf.set("spark.sql.authz.enabled", "true")
    finally:
        spark.conf.set("spark.sql.authz.enabled", "false")
        for t in ("authz_mi_a", "authz_mi_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.conf.set("spark.sql.authz.enabled", "true")


def test_enforcement_programmatic_merge_clause_scoped(enforced, spark, tbl):
    """MERGE demands only the privileges its clauses imply (Hive
    MergeSemanticAnalyzer: one rewritten branch per clause)."""
    eng, _as, _seed = enforced
    src = spark.createDataFrame([(100, "new")], "k bigint, v string")
    _as("prog_merge")
    with pytest.raises(PermissionError, match=r"\[INSERT\]"):
        eng.merge(tbl, src, on="t.key = s.k",
                  not_matched_insert={"key": "s.k", "value": "s.v"})
    _seed(f"GRANT INSERT ON {tbl} TO USER prog_merge")
    _as("prog_merge")
    # insert-only MERGE now runs WITHOUT UPDATE or DELETE
    counts = eng.merge(tbl, src, on="t.key = s.k",
                       not_matched_insert={"key": "s.k", "value": "s.v"})
    assert counts["inserted"] == 1
    # an update clause raises the bar to UPDATE
    with pytest.raises(PermissionError, match=r"\[UPDATE\]"):
        eng.merge(tbl, src, on="t.key = s.k",
                  matched_update={"value": "s.v"})
    with pytest.raises(PermissionError, match=r"\[DELETE\]"):
        eng.merge(tbl, src, on="t.key = s.k",
                  matched_delete="s.v = 'new'")


def test_enforcement_programmatic_mor_verbs(enforced, spark, tbl):
    """update_mor/delete_mor/compact_mor gate like their SQL routes
    (compact = UPDATE + DELETE, the enforce_maintenance bar)."""
    from amplab_hive_spark import acid

    eng, _as, _seed = enforced
    spark.conf.set("spark.sql.authz.enabled", "false")
    acid.pin_mor_keys(spark, tbl, ["key"])
    spark.conf.set("spark.sql.authz.enabled", "true")
    try:
        _as("prog_mor")
        with pytest.raises(PermissionError, match=r"\[UPDATE\]"):
            eng.update_mor(tbl, "key = 1", {"value": "'mm'"}, ["key"])
        with pytest.raises(PermissionError, match=r"\[DELETE\]"):
            eng.delete_mor(tbl, "key = 2", ["key"])
        with pytest.raises(PermissionError, match=r"\[UPDATE\].*\[DELETE\]|\[DELETE\].*\[UPDATE\]"):
            eng.compact_mor(tbl)
        _seed(f"GRANT UPDATE, DELETE ON {tbl} TO USER prog_mor")
        _as("prog_mor")
        assert eng.update_mor(tbl, "key = 1", {"value": "'mm'"}, ["key"]) == 1
        assert eng.delete_mor(tbl, "key = 2", ["key"]) == 1
        assert eng.compact_mor(tbl) >= 1
        spark.conf.set("spark.sql.authz.enabled", "false")
        got = {r.key: r.value for r in eng.table(tbl).collect()}
        assert got[1] == "mm" and 2 not in got
        spark.conf.set("spark.sql.authz.enabled", "true")
    finally:
        spark.conf.set("spark.sql.authz.enabled", "false")
        acid.unpin_mor_keys(spark, tbl)
        spark.conf.set("spark.sql.authz.enabled", "true")


def test_enforcement_programmatic_scd2(enforced, spark, tmp_path):
    """scd2_apply = MERGE(close) + append(open): UPDATE + INSERT."""
    from pyspark.sql import functions as F

    from amplab_hive_spark import ddl

    eng, _as, _seed = enforced
    spark.conf.set("spark.sql.authz.enabled", "false")
    spark.sql("DROP TABLE IF EXISTS authz_scd2")
    dim0 = spark.createDataFrame(
        [(1, "NY")], "cust_id INT, city STRING"
    ).select(
        "*",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    ddl.create_table_as(spark, "authz_scd2", dim0, str(tmp_path / "authz_scd2"))
    spark.conf.set("spark.sql.authz.enabled", "true")
    try:
        batch = spark.createDataFrame([(1, "BOS")], "cust_id INT, city STRING")
        _as("prog_scd2")
        with pytest.raises(PermissionError, match=r"\[UPDATE\]|\[INSERT\]"):
            eng.scd2_apply("authz_scd2", batch, ["cust_id"], ["city"], "2024-02-01")
        _seed("GRANT UPDATE, INSERT, DELETE ON authz_scd2 TO USER prog_scd2")
        _as("prog_scd2")
        counts = eng.scd2_apply(
            "authz_scd2", batch, ["cust_id"], ["city"], "2024-02-01"
        )
        assert counts == {"closed": 1, "inserted": 1}
    finally:
        spark.conf.set("spark.sql.authz.enabled", "false")
        spark.sql("DROP TABLE IF EXISTS authz_scd2")
        spark.conf.set("spark.sql.authz.enabled", "true")


def test_enforcement_programmatic_append_batch_path(enforced, spark, tmp_path):
    """append_batch to a path BACKING a catalog table is an INSERT
    into that table; a path backing no table is filesystem I/O
    outside the privilege model (raw df.write is ungateable anyway —
    documented posture, README)."""
    eng, _as, _seed = enforced
    loc = str(tmp_path / "authz_append_tbl")
    spark.conf.set("spark.sql.authz.enabled", "false")
    spark.sql("DROP TABLE IF EXISTS authz_append_tbl")
    spark.createDataFrame([(1,)], "id bigint") \
        .write.option("path", loc).saveAsTable("authz_append_tbl")
    spark.conf.set("spark.sql.authz.enabled", "true")
    try:
        batch = spark.createDataFrame([(2,)], "id bigint")
        _as("prog_append")
        with pytest.raises(PermissionError, match=r"\[INSERT\] on \[default.authz_append_tbl\]"):
            eng.append_batch(batch, loc)
        _seed("GRANT INSERT ON authz_append_tbl TO USER prog_append")
        _as("prog_append")
        eng.append_batch(batch, loc)
        # uncataloged path: exempt (no catalog object to protect)
        eng.append_batch(batch, str(tmp_path / "plain_dir"))
        spark.conf.set("spark.sql.authz.enabled", "false")
        spark.catalog.refreshTable("authz_append_tbl")
        assert spark.table("authz_append_tbl").count() == 2
        spark.conf.set("spark.sql.authz.enabled", "true")
    finally:
        spark.conf.set("spark.sql.authz.enabled", "false")
        spark.sql("DROP TABLE IF EXISTS authz_append_tbl")
        spark.conf.set("spark.sql.authz.enabled", "true")


def test_enforcement_append_batch_partition_subdir_gated(
    enforced, spark, tmp_path
):
    """Review r12: appending into a PARTITION directory under a
    governed table's location is an insert into that table — the gate
    must match path prefixes, not only the table root."""
    eng, _as, _seed = enforced
    loc = str(tmp_path / "authz_part_tbl")
    spark.conf.set("spark.sql.authz.enabled", "false")
    spark.sql("DROP TABLE IF EXISTS authz_part_tbl")
    spark.createDataFrame([(1, "2024-01-01")], "id bigint, dt string") \
        .write.partitionBy("dt").option("path", loc) \
        .saveAsTable("authz_part_tbl")
    spark.conf.set("spark.sql.authz.enabled", "true")
    try:
        batch = spark.createDataFrame([(2,)], "id bigint")
        _as("prog_part")
        with pytest.raises(PermissionError, match=r"\[INSERT\] on \[default.authz_part_tbl\]"):
            eng.append_batch(batch, f"{loc}/dt=2024-01-01")
        _seed("GRANT INSERT ON authz_part_tbl TO USER prog_part")
        _as("prog_part")
        eng.append_batch(batch, f"{loc}/dt=2024-01-01")
    finally:
        spark.conf.set("spark.sql.authz.enabled", "false")
        spark.sql("DROP TABLE IF EXISTS authz_part_tbl")
        spark.conf.set("spark.sql.authz.enabled", "true")


def test_enforcement_append_batch_recreated_table_still_gated(
    enforced, spark, tmp_path
):
    """Review r12 pass 2: DROP + CREATE of the same table name at a
    NEW location must still be gated — every path decision rests on
    live metadata (the reverted location cache keyed on the table-name
    set would have missed this)."""
    eng, _as, _seed = enforced
    loc_a = str(tmp_path / "authz_move_a")
    loc_b = str(tmp_path / "authz_move_b")
    spark.conf.set("spark.sql.authz.enabled", "false")
    spark.sql("DROP TABLE IF EXISTS authz_move_tbl")
    spark.createDataFrame([(1,)], "id bigint") \
        .write.option("path", loc_a).saveAsTable("authz_move_tbl")
    spark.conf.set("spark.sql.authz.enabled", "true")
    batch = spark.createDataFrame([(2,)], "id bigint")
    try:
        _as("prog_move")
        with pytest.raises(PermissionError):
            eng.append_batch(batch, loc_a)
        # recreate the SAME name at a NEW location
        spark.conf.set("spark.sql.authz.enabled", "false")
        spark.sql("DROP TABLE authz_move_tbl")
        spark.createDataFrame([(1,)], "id bigint") \
            .write.option("path", loc_b).saveAsTable("authz_move_tbl")
        spark.conf.set("spark.sql.authz.enabled", "true")
        _as("prog_move")
        with pytest.raises(PermissionError, match=r"authz_move_tbl"):
            eng.append_batch(batch, loc_b)  # the new location is live
        # ...and the OLD location is now ungoverned filesystem space
        eng.append_batch(batch, loc_a)
    finally:
        spark.conf.set("spark.sql.authz.enabled", "false")
        spark.sql("DROP TABLE IF EXISTS authz_move_tbl")
        spark.conf.set("spark.sql.authz.enabled", "true")


def test_enforcement_append_batch_nested_locations_deepest_wins(
    enforced, spark, tmp_path
):
    """Review r12 pass 2: with nested table locations the DEEPEST root
    governs the path — INSERT on the inner table must suffice and the
    outer table's privileges must not be consulted."""
    eng, _as, _seed = enforced
    outer = str(tmp_path / "outer")
    inner = f"{outer}/inner"
    spark.conf.set("spark.sql.authz.enabled", "false")
    for t in ("authz_outer_t", "authz_inner_t"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.createDataFrame([(1,)], "id bigint") \
        .write.option("path", outer).saveAsTable("authz_outer_t")
    spark.createDataFrame([(1,)], "id bigint") \
        .write.option("path", inner).saveAsTable("authz_inner_t")
    spark.conf.set("spark.sql.authz.enabled", "true")
    batch = spark.createDataFrame([(2,)], "id bigint")
    try:
        _seed("GRANT INSERT ON authz_inner_t TO USER prog_nest")
        _as("prog_nest")
        eng.append_batch(batch, inner)  # inner grant suffices
        with pytest.raises(PermissionError, match=r"authz_outer_t"):
            eng.append_batch(batch, outer)  # outer still gated
    finally:
        spark.conf.set("spark.sql.authz.enabled", "false")
        for t in ("authz_outer_t", "authz_inner_t"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.conf.set("spark.sql.authz.enabled", "true")


def test_enforcement_append_batch_later_inner_table_governs(
    enforced, spark, tmp_path
):
    """Review r12 pass 3: a table created LATER at a deeper location
    must govern subsequent appends into its path — the gate keeps no
    memory of earlier resolutions (the reverted per-path hint
    permanently shadowed a later inner table with the outer one)."""
    eng, _as, _seed = enforced
    outer = str(tmp_path / "late_outer")
    inner = f"{outer}/late_inner"
    spark.conf.set("spark.sql.authz.enabled", "false")
    spark.sql("DROP TABLE IF EXISTS authz_late_outer")
    spark.sql("DROP TABLE IF EXISTS authz_late_inner")
    spark.createDataFrame([(1,)], "id bigint") \
        .write.option("path", outer).saveAsTable("authz_late_outer")
    spark.conf.set("spark.sql.authz.enabled", "true")
    batch = spark.createDataFrame([(2,)], "id bigint")
    try:
        _seed("GRANT INSERT ON authz_late_outer TO USER prog_late")
        _as("prog_late")
        eng.append_batch(batch, inner)  # resolves to outer today
        # NOW an inner table appears at that very path (plain CREATE:
        # the directory is non-empty from the append above)
        spark.conf.set("spark.sql.authz.enabled", "false")
        spark.sql(
            f"CREATE TABLE authz_late_inner (id BIGINT) USING parquet "
            f"LOCATION '{inner}'"
        )
        spark.conf.set("spark.sql.authz.enabled", "true")
        _as("prog_late")
        with pytest.raises(PermissionError, match=r"authz_late_inner"):
            eng.append_batch(batch, inner)  # outer INSERT no longer enough
    finally:
        spark.conf.set("spark.sql.authz.enabled", "false")
        spark.sql("DROP TABLE IF EXISTS authz_late_outer")
        spark.sql("DROP TABLE IF EXISTS authz_late_inner")
        spark.conf.set("spark.sql.authz.enabled", "true")


def test_dfs_admin_only_under_enforcement(spark, tmp_path):
    """dfs is gated like the reference (DfsProcessor authorizes
    HiveOperationType.DFS; the SQL-std authorizer restricts it to
    admin): raw filesystem verbs would bypass every table privilege
    otherwise. Ungated when enforcement is off."""
    import os as _os

    from amplab_hive_spark import authorization as az
    from amplab_hive_spark.engine import Engine

    eng = Engine(spark)
    # off: works
    eng.sql(f"dfs -mkdir {tmp_path}/ungated_ok")
    assert (tmp_path / "ungated_ok").is_dir()
    spark.conf.set("spark.sql.authz.enabled", "true")
    spark.conf.set("user.name", "dfs_mallory")
    try:
        with pytest.raises(PermissionError, match="dfs"):
            eng.sql(f"dfs -mkdir {tmp_path}/gated_no")
        assert not (tmp_path / "gated_no").exists()
    finally:
        spark.conf.unset("spark.sql.authz.enabled")
        spark.conf.unset("user.name")
        p = az._store_path(spark)
        if _os.path.exists(p):
            _os.remove(p)
