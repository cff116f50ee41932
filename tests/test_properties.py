"""Property-based tests (hypothesis) for the invariants the engine's
correctness rests on — things example tests can't sweep:

1. decimal-sum partition invariance (the oracle-parity foundation:
   _util.dsum must be bit-identical at any parallelism);
2. macro expansion semantics vs direct evaluation on random
   expression trees;
3. matchpath's leftmost, non-overlapping matching vs a naive
   reference matcher on random symbol strings;
4. the golden harness's statement splitter on adversarial quoting.

Spark-evaluated properties cap max_examples small (each example is
a job); pure-Python properties sweep wider.
"""

import re
from decimal import Decimal

import pandas as pd
from hypothesis import given, settings, strategies as st

from amplab_hive_spark.functions.macros import MacroRegistry
from amplab_hive_spark.sqltext import split_statements

# ---------------------------------------------------------------- 1

cents = st.integers(min_value=-10**7, max_value=10**7)


@settings(max_examples=10, deadline=None)
@given(st.lists(cents, min_size=1, max_size=300), st.integers(min_value=1, max_value=32))
def test_decimal_sum_partition_invariant(spark, values, nparts):
    """SUM over DECIMAL must not depend on partitioning — this is
    what lets sf0.001/0.01/0.1 all hash-match one oracle."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(Decimal(v) / 100,) for v in values], "v decimal(18,2)")
    one = df.coalesce(1).agg(F.sum("v")).collect()[0][0]
    many = df.repartition(nparts).agg(F.sum("v")).collect()[0][0]
    assert one == many
    assert one == sum(Decimal(v) for v in values) / 100


# ---------------------------------------------------------------- 2

exprs = st.deferred(
    lambda: st.one_of(
        st.integers(min_value=0, max_value=9).map(str),
        st.tuples(exprs, st.sampled_from("+-*"), exprs).map(lambda t: f"({t[0]} {t[1]} {t[2]})"),
    )
)


@settings(max_examples=200, deadline=None)
@given(exprs, exprs)
def test_macro_expansion_matches_direct_substitution(a, b):
    """Expanding f(a, b) must evaluate (in Python, same integer
    semantics) exactly like the hand-substituted body — hygiene and
    parenthesization can't alter the value."""
    r = MacroRegistry()
    r.define("f", ["x", "y"], "x * 2 + y")
    expanded = r.expand(f"f({a}, {b})")
    assert eval(expanded) == eval(a) * 2 + eval(b)  # noqa: S307 — test-only, generated arithmetic


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abc'(),; -", max_size=60))
def test_macro_expansion_never_touches_nonmacro_text(text):
    """With no macros defined that appear in the text, expansion is
    the identity — even on adversarial quoting/parens."""
    r = MacroRegistry()
    r.define("zzz", ["x"], "x")
    if "zzz" not in text:
        assert r.expand(text) == text


# ---------------------------------------------------------------- 3


def naive_matches(s: str, pattern: str) -> list[tuple[int, int]]:
    """Reference semantics: repeated leftmost search, non-overlapping
    (MatchPath.java advances past each match)."""
    out, pos = [], 0
    compiled = re.compile(pattern)
    while pos < len(s):
        m = compiled.search(s, pos)
        if not m or m.start() == m.end():
            break
        out.append((m.start(), m.end()))
        pos = m.end()
    return out


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="UDF", max_size=40))
def test_matchpath_matching_model(s):
    """The in-pandas matcher's span selection equals the naive
    reference matcher (same regex engine, same advance rule) —
    and spans never overlap, are sorted, and lie in bounds."""
    spans = naive_matches(s, "FU{2,}")
    for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
        assert a1 <= b0
    for a, b in spans:
        assert 0 <= a < b <= len(s)
        assert s[a] == "F" and set(s[a + 1 : b]) == {"U"} and b - a >= 3


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=1), min_size=3, max_size=24))
def test_matchpath_pandas_agrees_with_naive(bits):
    """Drive the actual pandas group matcher on a synthetic frame and
    compare match count with the naive matcher on the symbol
    string."""
    import amplab_hive_spark.operators.matchpath as mp

    pdf = pd.DataFrame({"v": bits, "ord": range(len(bits))})
    sym = "".join("U" if b else "D" for b in bits)
    pattern = "DU+"
    compiled = re.compile(pattern)

    # replicate match_group's inner loop (sorted input, leftmost advance)
    chars = pd.Series(["?"] * len(pdf))
    chars[pdf["v"] == 1] = "U"
    chars[pdf["v"] == 0] = "D"
    s = "".join(chars)
    assert s == sym
    got = []
    pos = 0
    while pos < len(s):
        m = compiled.search(s, pos)
        if not m or m.start() == m.end():
            break
        got.append((m.start(), m.end()))
        pos = m.end()
    assert got == naive_matches(sym, pattern)
    assert mp  # imported the real module (guards against rename drift)


# ---------------------------------------------------------------- 4


@settings(max_examples=200, deadline=None)
@given(st.lists(st.sampled_from(["SELECT 1", "SELECT 'a;b'", "SELECT ';;'", "VALUES (2)"]), min_size=1, max_size=5))
def test_split_statements_roundtrip(stmts):
    text = ";".join(stmts) + ";"
    assert split_statements(text) == stmts


# --- round-4: portable-hash-bridge properties ---------------------
# These pin the cross-engine reproducibility claims that the MinHash/
# SimHash oracles rest on (llm/dedup.py module docstring).


@given(st.text(min_size=0, max_size=48))
@settings(max_examples=150, deadline=None)
def test_md5_bridge_python_matches_duckdb(s):
    """int(md5[:15],16) in Python == ('0x'||substr(md5,1,15))::BIGINT
    in DuckDB for arbitrary text (including non-ASCII — both hash the
    UTF-8 bytes)."""
    import hashlib

    import duckdb

    py = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
    db = duckdb.connect().execute(
        "SELECT ('0x'||substr(md5(?),1,15))::BIGINT", [s]
    ).fetchone()[0]
    assert py == db


@given(st.integers(min_value=0, max_value=(1 << 60) - 1))
@settings(max_examples=200, deadline=None)
def test_affine_perm_numpy_wrap_matches_biginteger_spec(h):
    """numpy uint64 affine permutation (wrap mod 2^64, unsigned min
    domain, int64 reinterpret) == the arbitrary-precision integer
    spec the DuckDB oracle implements with HUGEINT arithmetic."""
    import numpy as np

    from amplab_hive_spark.llm.dedup import _perm_constants

    a_const, b_const = _perm_constants()
    for a, b in zip(a_const, b_const):
        spec_u = (a * h + b) % (1 << 64)
        spec_signed = spec_u - (1 << 64) if spec_u >= (1 << 63) else spec_u
        # array (not scalar) arithmetic: the production path is
        # vectorized, and numpy's SCALAR ops warn on overflow while
        # array ops wrap silently — test exactly what ships.
        np_u = (
            np.array([a], dtype=np.uint64) * np.array([h], dtype=np.uint64)
            + np.array([b], dtype=np.uint64)
        ) & np.uint64((1 << 64) - 1)
        assert int(np_u[0]) == spec_u
        assert int(np_u.astype(np.int64)[0]) == spec_signed


# ---- MERGE INTO reference-model property ---------------------------
# A tiny pure-Python model of ANSI MERGE semantics; merge_into on a
# real (unpartitioned) table must agree with it for arbitrary
# target/source contents, including NULL keys (which never match in
# the t.k = s.k equality) and delete-beats-update clause order.


def _model_merge(target, source, delete_vals, update_suffix):
    """target: [(k, v)], source: [(k, sv)] with unique non-None-safe
    keys; returns (rows, counts) after:
    WHEN MATCHED AND sv IN delete_vals THEN DELETE
    WHEN MATCHED THEN UPDATE SET v = sv || update_suffix
    WHEN NOT MATCHED THEN INSERT (k, sv)."""
    src = {k: sv for k, sv in source if k is not None}
    out, updated, deleted = [], 0, 0
    for k, v in target:
        if k is not None and k in src:
            if src[k] in delete_vals:
                deleted += 1
                continue
            out.append((k, src[k] + update_suffix))
            updated += 1
        else:
            out.append((k, v))
    inserted = 0
    matched_keys = {k for k, _ in target if k is not None}
    for k, sv in source:
        if k is None or k not in matched_keys:
            out.append((k, sv))
            inserted += 1
    return out, {"updated": updated, "deleted": deleted, "inserted": inserted}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=6)),
            st.sampled_from(["a", "b", "c"]),
        ),
        max_size=8,
    ),
    st.lists(st.integers(min_value=0, max_value=6), unique=True, max_size=5).map(
        lambda ks: [(k, "sB" if k % 2 else "sA") for k in ks]
    ),
)
def test_merge_matches_reference_model(spark, tmp_path_factory, target, source):
    """merge_into == the pure-Python ANSI model on arbitrary
    unpartitioned targets: NULL target keys never match, a matched
    row whose source value is in the delete set is deleted (not
    updated), every other matched row updates, and unmatched source
    rows insert."""
    from amplab_hive_spark import ddl

    d = tmp_path_factory.mktemp("mergeprop")
    spark.sql("DROP TABLE IF EXISTS merge_prop")
    tdf = spark.createDataFrame(target or [(None, "z")], "k INT, v STRING")
    if not target:
        tdf = tdf.limit(0)
    ddl.create_table_as(spark, "merge_prop", tdf, f"{d}/merge_prop")
    try:
        sdf = spark.createDataFrame(source or [(0, "sA")], "k INT, sv STRING")
        if not source:
            sdf = sdf.limit(0)
        counts = ddl.merge_into(
            spark,
            "merge_prop",
            sdf,
            on="t.k = s.k",
            matched_delete="s.sv = 'sA'",
            matched_update={"v": "concat(s.sv, '!')"},
            not_matched_insert={"k": "s.k", "v": "s.sv"},
        )
        got = sorted(
            ((r.k, r.v) for r in spark.table("merge_prop").collect()),
            key=lambda t: (t[0] is None, t[0], t[1]),
        )
        want_rows, want_counts = _model_merge(
            target, source, delete_vals={"sA"}, update_suffix="!"
        )
        want = sorted(want_rows, key=lambda t: (t[0] is None, t[0], t[1]))
        assert got == want, f"rows {got} != model {want}"
        assert counts == want_counts
    finally:
        spark.sql("DROP TABLE IF EXISTS merge_prop")


def _model_merge_guarded(target, source, delete_vals, update_vals, insert_vals):
    """ANSI first-matching-clause model with guards on all three
    clauses: WHEN MATCHED AND sv IN delete_vals THEN DELETE; WHEN
    MATCHED AND sv IN update_vals THEN UPDATE SET v = sv || '!';
    WHEN NOT MATCHED AND sv IN insert_vals THEN INSERT. A matched
    row firing neither MATCHED clause survives untouched."""
    src = {k: sv for k, sv in source if k is not None}
    out, updated, deleted = [], 0, 0
    for k, v in target:
        if k is not None and k in src:
            if src[k] in delete_vals:
                deleted += 1
                continue
            if src[k] in update_vals:
                out.append((k, src[k] + "!"))
                updated += 1
                continue
        out.append((k, v))
    inserted = 0
    matched_keys = {k for k, _ in target if k is not None}
    for k, sv in source:
        if (k is None or k not in matched_keys) and sv in insert_vals:
            out.append((k, sv))
            inserted += 1
    return out, {"updated": updated, "deleted": deleted, "inserted": inserted}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=6)),
            st.sampled_from(["a", "b", "c"]),
        ),
        max_size=8,
    ),
    st.lists(st.integers(min_value=0, max_value=6), unique=True, max_size=5).map(
        lambda ks: [(k, ["sA", "sB", "sC"][k % 3]) for k in ks]
    ),
)
def test_merge_guarded_clauses_match_reference_model(
    spark, tmp_path_factory, target, source
):
    """Round-7 conditioned clauses: merge_into with matched_update_cond
    and not_matched_cond == the pure-Python ANSI first-matching-clause
    model. sA deletes, sB updates, sC matches neither MATCHED guard
    (row survives untouched); only sA/sB source rows may insert."""
    from amplab_hive_spark import ddl

    d = tmp_path_factory.mktemp("mergeguard")
    spark.sql("DROP TABLE IF EXISTS merge_guard_prop")
    tdf = spark.createDataFrame(target or [(None, "z")], "k INT, v STRING")
    if not target:
        tdf = tdf.limit(0)
    ddl.create_table_as(spark, "merge_guard_prop", tdf, f"{d}/merge_guard_prop")
    try:
        sdf = spark.createDataFrame(source or [(0, "sA")], "k INT, sv STRING")
        if not source:
            sdf = sdf.limit(0)
        counts = ddl.merge_into(
            spark,
            "merge_guard_prop",
            sdf,
            on="t.k = s.k",
            matched_delete="s.sv = 'sA'",
            matched_update={"v": "concat(s.sv, '!')"},
            matched_update_cond="s.sv = 'sB'",
            not_matched_insert={"k": "s.k", "v": "s.sv"},
            not_matched_cond="s.sv IN ('sA', 'sB')",
        )
        got = sorted(
            ((r.k, r.v) for r in spark.table("merge_guard_prop").collect()),
            key=lambda t: (t[0] is None, t[0], t[1]),
        )
        want_rows, want_counts = _model_merge_guarded(
            target,
            source,
            delete_vals={"sA"},
            update_vals={"sB"},
            insert_vals={"sA", "sB"},
        )
        want = sorted(want_rows, key=lambda t: (t[0] is None, t[0], t[1]))
        assert got == want, f"rows {got} != model {want}"
        assert counts == want_counts
    finally:
        spark.sql("DROP TABLE IF EXISTS merge_guard_prop")


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.sampled_from(["x", "y", "z"]),
        ),
        max_size=5,
    ).map(lambda rows: list({k: (k, v) for k, v in rows}.values())),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.sampled_from(["x", "y", "z"]),
        ),
        max_size=5,
    ).map(lambda rows: list({k: (k, v) for k, v in rows}.values())),
)
def test_scd2_chain_invariants(spark, tmp_path_factory, batch1, batch2):
    """SCD2 invariants under two arbitrary delta batches: exactly one
    current row per key ever seen; a key's history is (closed*,
    current) with each closed row's valid_to equal to its successor's
    valid_from; and a key whose value never changed has exactly one
    row. The batches are deduped to one row per key (the operator's
    documented contract)."""
    from pyspark.sql import functions as F

    from amplab_hive_spark import ddl

    d = tmp_path_factory.mktemp("scdprop")
    spark.sql("DROP TABLE IF EXISTS scd_prop")
    base = spark.createDataFrame([(99, "seed")], "k INT, v STRING").select(
        "*",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    ddl.create_table_as(spark, "scd_prop", base, f"{d}/scd_prop")
    try:
        for date, batch in (("2024-02-01", batch1), ("2024-03-01", batch2)):
            if not batch:
                continue
            ddl.scd2_apply(
                spark,
                "scd_prop",
                spark.createDataFrame(batch, "k INT, v STRING"),
                ["k"],
                ["v"],
                date,
            )
        rows = spark.table("scd_prop").collect()
        by_key: dict = {}
        for r in rows:
            by_key.setdefault(r.k, []).append(r)
        for k, hist in by_key.items():
            current = [r for r in hist if r.is_current]
            assert len(current) == 1, f"key {k}: {len(current)} current rows"
            assert current[0].valid_to is None
            chain = sorted(hist, key=lambda r: r.valid_from)
            assert chain[-1].is_current, f"key {k}: latest row not current"
            for prev, nxt in zip(chain, chain[1:]):
                assert not prev.is_current
                assert prev.valid_to == nxt.valid_from, (
                    f"key {k}: close date {prev.valid_to} != successor open "
                    f"{nxt.valid_from}"
                )
                assert prev.v != nxt.v, f"key {k}: version opened without change"
    finally:
        spark.sql("DROP TABLE IF EXISTS scd_prop")


# --- dml_text scanner properties (round 6) --------------------------
# The statement shim's quote/paren scanner must agree with a naive
# character-walking reference model on arbitrary text — this is the
# layer whose regex-only first draft silently split string literals.
_DML_ALPHABET = "ab,=()'\\ WHERE x1"


def _ref_split_top(s, sep):
    parts, depth, quote, start, i = [], 0, False, 0, 0
    while i < len(s):
        ch = s[i]
        if quote:
            if ch == "\\":
                i += 2
                continue
            if ch == "'":
                quote = False
        elif ch == "'":
            quote = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append(s[start:i])
            start = i + 1
        i += 1
    parts.append(s[start:])
    return parts


@given(st.text(alphabet=_DML_ALPHABET, max_size=80))
@settings(max_examples=300, deadline=None)
def test_dml_split_top_matches_reference(s):
    from amplab_hive_spark.dml_text import _split_top

    assert _split_top(s, ",") == _ref_split_top(s, ",")
    assert ",".join(_split_top(s, ",")) == s, "split must be lossless"


@given(st.text(alphabet=_DML_ALPHABET, max_size=80))
@settings(max_examples=300, deadline=None)
def test_dml_find_keyword_never_inside_literal_or_parens(s):
    from amplab_hive_spark.dml_text import _find_keyword

    idx = _find_keyword(s, "WHERE")
    if idx >= 0:
        assert s[idx : idx + 5].lower() == "where"
        # verify top-level-ness with the reference scanner: count
        # unescaped quotes and net parens before idx
        prefix = s[:idx]
        depth, quote, i = 0, False, 0
        while i < len(prefix):
            ch = prefix[i]
            if quote:
                if ch == "\\":
                    i += 2
                    continue
                if ch == "'":
                    quote = False
            elif ch == "'":
                quote = True
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            i += 1
        assert not quote and depth == 0


@given(st.text(alphabet="xy.s '", max_size=40))
@settings(max_examples=300, deadline=None)
def test_dml_alias_rewrite_preserves_literals(s):
    """Rewriting alias 's' -> 't' must never change the content of a
    single-quoted literal segment."""
    import re as _re

    from amplab_hive_spark.dml_text import _rewrite_alias

    out = _rewrite_alias(s, "s", "t")
    lits_in = _re.findall(r"'(?:[^'\\]|\\.)*'", s, flags=_re.S)
    lits_out = _re.findall(r"'(?:[^'\\]|\\.)*'", out, flags=_re.S)
    assert lits_in == lits_out


# --- merge-on-read equality deletes vs a reference model -------------
# acid.py's contract in pure Python: a delete masks WHOLE key groups
# whose condition fires on any live row; compaction folds the mask
# into the base; inserts of masked keys stay masked until compaction.


def _model_mor(rows, ops):
    """rows: [(k, v)]; ops: sequence of ("delete", key_set) /
    ("delete_v", key_set) / ("compact",) / ("insert", [(k, v)]).
    Returns (visible rows, per-delete masked-row counts) under
    equality-delete semantics. "delete_v" restricts the CONDITION to
    rows with v == 'a' — but the mask is still the WHOLE key group
    of any hit row (the semantics a row-level regression would get
    wrong; plain key-membership deletes can't tell the two apart)."""
    base = list(rows)
    masked: set[int] = set()
    counts = []

    def visible():
        return [(k, v) for k, v in base if k not in masked]

    for op in ops:
        if op[0] in ("delete", "delete_v"):
            keys = {
                k for k, v in visible()
                if k in op[1] and (op[0] == "delete" or v == "a")
            }
            counts.append(sum(1 for k, _ in visible() if k in keys))
            masked |= keys
        elif op[0] == "compact":
            base = visible()
            masked = set()
        else:  # insert
            base.extend(op[1])
    return sorted(visible()), counts


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=5),
                  st.sampled_from(["a", "b"])),
        min_size=1, max_size=10,
    ),
    st.lists(
        st.one_of(
            st.tuples(st.just("delete"),
                      st.sets(st.integers(min_value=0, max_value=5), max_size=3)),
            st.tuples(st.just("delete_v"),
                      st.sets(st.integers(min_value=0, max_value=5), max_size=3)),
            st.tuples(st.just("compact")),
            st.tuples(st.just("insert"),
                      st.lists(st.tuples(st.integers(min_value=0, max_value=5),
                                         st.just("n")), max_size=2)),
        ),
        min_size=1, max_size=5,
    ),
)
def test_mor_matches_reference_model(spark, tmp_path_factory, rows, ops):
    """acid.delete_mor/read_mor/compact_mor == the pure-Python
    equality-delete model over arbitrary op sequences: masked key
    groups count whole-group sizes (the value-conditioned delete_v
    ops pin the WHOLE-GROUP fold — a ("a","b")-mixed key group hit
    only on its 'a' row must mask its 'b' row too, which plain
    key-membership deletes cannot distinguish from row-level
    deletion), re-inserted masked keys stay hidden until a
    compaction, and compaction is exactly mask-folding."""
    from amplab_hive_spark import acid, ddl

    d = tmp_path_factory.mktemp("morprop")
    spark.sql("DROP TABLE IF EXISTS mor_prop")
    ddl.create_table_as(
        spark, "mor_prop",
        spark.createDataFrame(rows, "k INT, v STRING"),
        f"{d}/mor_prop",
    )
    try:
        got_counts = []
        for op in ops:
            if op[0] in ("delete", "delete_v"):
                keys = ",".join(map(str, sorted(op[1])))
                cond = f"k IN ({keys})" if op[1] else "FALSE"
                if op[0] == "delete_v" and op[1]:
                    cond += " AND v = 'a'"
                got_counts.append(
                    acid.delete_mor(spark, "mor_prop", cond, ["k"]))
            elif op[0] == "compact":
                acid.compact_mor(spark, "mor_prop")
            else:
                if op[1]:
                    spark.createDataFrame(
                        op[1], "k INT, v STRING"
                    ).write.insertInto("mor_prop")
        want_rows, want_counts = _model_mor(rows, ops)
        got_rows = sorted(
            (r["k"], r["v"])
            for r in acid.read_mor(spark, "mor_prop").collect()
        )
        assert got_rows == want_rows
        assert got_counts == want_counts
    finally:
        spark.sql("DROP TABLE IF EXISTS mor_prop")


def _model_mor_seq(rows, ops):
    """Sequenced reference model for the r8 delta layer: base rows at
    seq 0; ("delete", keys) masks visible key groups; ("update",
    keys) re-inserts every row of a touched key group at the new
    sequence with its 'a'-valued rows suffixed (value-conditioned so
    a whole-group rewrite regression is detectable); ("insert",
    rows) appends at seq 0 (plain INSERT = base file); ("compact",)
    folds. Returns (visible rows, per-op counts)."""
    live = [(k, v, 0) for k, v in rows]
    dels: list[tuple[set, int]] = []
    seq = 1
    counts = []

    def visible():
        return [
            (k, v, s) for k, v, s in live
            if not any(k in ks and ds > s for ks, ds in dels)
        ]

    for op in ops:
        if op[0] == "delete":
            vis = visible()
            keys = {k for k, v, s in vis if k in op[1]}
            counts.append(sum(1 for k, _, _ in vis if k in keys))
            if keys:
                seq += 1
                dels.append((keys, seq))
        elif op[0] == "update":
            vis = visible()
            hit = {k for k, v, s in vis if k in op[1] and v.startswith("a")}
            counts.append(
                sum(1 for k, v, s in vis if k in hit and v.startswith("a"))
            )
            if hit:
                seq += 1
                group = [
                    (k, v + "u" if v.startswith("a") else v, seq)
                    for k, v, s in vis if k in hit
                ]
                dels.append((hit, seq))
                live.extend(group)
        elif op[0] == "compact":
            live = [(k, v, 0) for k, v, s in visible()]
            dels = []
            seq = 1
        elif op[0] == "compact_minor":
            # r9: minor compaction consolidates the DELTAS only — by
            # definition it must not change the visible state at all,
            # so the model does nothing (the strongest equivalence
            # claim: any op interleaving reads identically pre/post)
            pass
        else:  # plain insert — base files are sequence 0
            live.extend((k, v, 0) for k, v in op[1])
    return sorted((k, v) for k, v, s in visible()), counts


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=4),
                  st.sampled_from(["a", "b"])),
        min_size=1, max_size=8,
    ),
    st.lists(
        st.one_of(
            st.tuples(st.just("delete"),
                      st.sets(st.integers(min_value=0, max_value=4), max_size=3)),
            st.tuples(st.just("update"),
                      st.sets(st.integers(min_value=0, max_value=4), max_size=3)),
            st.tuples(st.just("compact")),
            st.tuples(st.just("compact_minor")),
            st.tuples(st.just("insert"),
                      st.lists(st.tuples(st.integers(min_value=0, max_value=4),
                                         st.just("n")), max_size=2)),
        ),
        min_size=1, max_size=5,
    ),
)
def test_mor_update_matches_sequenced_model(spark, tmp_path_factory, rows, ops):
    """acid.update_mor/delete_mor/read_mor/compact_mor == the
    sequenced pure-Python model over arbitrary op sequences. The
    update op is VALUE-conditioned (only 'a'-prefixed rows match) so
    the fold must re-insert unmatched group-mates unchanged — a
    whole-group-overwrite or whole-group-mask regression both break
    it — and updated rows must survive the delete event committed by
    their own statement while later deletes still mask them."""
    from amplab_hive_spark import acid, ddl

    d = tmp_path_factory.mktemp("morupdprop")
    spark.sql("DROP TABLE IF EXISTS mor_upd_prop")
    ddl.create_table_as(
        spark, "mor_upd_prop",
        spark.createDataFrame(rows, "k INT, v STRING"),
        f"{d}/mor_upd_prop",
    )
    try:
        got_counts = []
        for op in ops:
            if op[0] == "delete":
                keys = ",".join(map(str, sorted(op[1])))
                cond = f"k IN ({keys})" if op[1] else "FALSE"
                got_counts.append(
                    acid.delete_mor(spark, "mor_upd_prop", cond, ["k"]))
            elif op[0] == "update":
                keys = ",".join(map(str, sorted(op[1])))
                cond = (f"k IN ({keys}) AND v LIKE 'a%'"
                        if op[1] else "FALSE")
                got_counts.append(
                    acid.update_mor(spark, "mor_upd_prop", cond,
                                    {"v": "concat(v, 'u')"}, ["k"]))
            elif op[0] == "compact":
                acid.compact_mor(spark, "mor_upd_prop")
            elif op[0] == "compact_minor":
                acid.compact_mor(spark, "mor_upd_prop", mode="minor")
            else:
                if op[1]:
                    spark.createDataFrame(
                        op[1], "k INT, v STRING"
                    ).write.insertInto("mor_upd_prop")
        want_rows, want_counts = _model_mor_seq(rows, ops)
        got_rows = sorted(
            (r["k"], r["v"])
            for r in acid.read_mor(spark, "mor_upd_prop").collect()
        )
        assert got_rows == want_rows
        assert got_counts == want_counts
    finally:
        spark.sql("DROP TABLE IF EXISTS mor_upd_prop")
