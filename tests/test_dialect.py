"""The SQLite-dialect rewriter (sqawk_spark/dialect.py): pure string
rewrites, checked (a) unit-style on the rewrite output and (b) for
semantic parity against the real SQLite library, which is the
reference's actual query engine (lib/classes/sqawk.tcl:216)."""

from __future__ import annotations

import sqlite3

import pytest

from sqawk_spark.dialect import (
    glob_to_regex,
    lower_group_concat,
    rewrite_glob,
    rewrite_regex_calls,
    rewrite_statement,
)


def _lower_only(stmt: str) -> str:
    """The GLOB and group_concat lowering passes without the JVM
    regex-call lift, over a table ``a`` whose row counter is ``anr``."""
    return lower_group_concat(rewrite_glob(stmt), {"a": "anr"})


@pytest.mark.parametrize(
    "src,expected",
    [
        # infix GLOB — SQLite expr grammar, X GLOB Y == glob(Y, X)
        (
            "select a1 from a where a1 GLOB '*.txt'",
            "select a1 from a where glob('*.txt', a1)",
        ),
        (
            "select a1 from a where a1 NOT GLOB 'x[0-9]'",
            "select a1 from a where NOT glob('x[0-9]', a1)",
        ),
        (
            "select a1 from a where lower(a1) glob 'abc*'",
            "select a1 from a where glob('abc*', lower(a1))",
        ),
        # function-call form untouched, incl. after NOT and in args
        ("select glob('a*', a1) from a", "select glob('a*', a1) from a"),
        ("where not glob('p', a1)", "where not glob('p', a1)"),
        (
            "select f(x, glob('a', a1)) from a",
            "select f(x, glob('a', a1)) from a",
        ),
        # quoted text untouched
        ("select 'a GLOB b' from a", "select 'a GLOB b' from a"),
        # parenthesized operands on either side
        ("select (a1) GLOB a2 from a", "select glob(a2, (a1)) from a"),
        (
            "select max(a1, a2) GLOB '1*' from a",
            "select glob('1*', max(a1, a2)) from a",
        ),
        # several operators in one predicate
        (
            "where a1 GLOB 'p' or a2 GLOB 'q'",
            "where glob('p', a1) or glob('q', a2)",
        ),
        # group_concat → listagg in scan order, both arities
        (
            "select group_concat(a1) from a",
            "select listagg(CAST(a1 AS STRING), ',')"
            " WITHIN GROUP (ORDER BY a.anr) from a",
        ),
        (
            "select group_concat(a1, '-') from a",
            "select listagg(CAST(a1 AS STRING), '-')"
            " WITHIN GROUP (ORDER BY a.anr) from a",
        ),
        (
            "select group_concat(coalesce(a1, 'x'), ';'), group_concat(a2) from a",
            "select listagg(CAST(coalesce(a1, 'x') AS STRING), ';')"
            " WITHIN GROUP (ORDER BY a.anr),"
            " listagg(CAST(a2 AS STRING), ',')"
            " WITHIN GROUP (ORDER BY a.anr) from a",
        ),
        (
            "select 'group_concat(a,b)' from a",
            "select 'group_concat(a,b)' from a",
        ),
    ],
)
def test_rewrite(src, expected):
    assert _lower_only(src) == expected


@pytest.mark.parametrize(
    "src,expected",
    [
        # literal-pattern regexp → JVM RLIKE (NULL-as-empty preserved)
        (
            "select * from a where regexp('^a', a1)",
            "select * from a where (coalesce(a1, '') RLIKE '^a')",
        ),
        (
            "select * from a where NOT REGEXP('x$', lower(a1))",
            "select * from a where NOT (coalesce(lower(a1), '') RLIKE 'x$')",
        ),
        # literal regsub with a plain replacement → regexp_replace
        (
            "select regsub('a+', a1, 'X') from a",
            "select regexp_replace(coalesce(a1, ''), 'a+', 'X') from a",
        ),
        # replacement metacharacters → dialect differs, keep the UDF
        (
            r"select regsub('(a)', a1, '\1') from a",
            r"select regsub('(a)', a1, '\1') from a",
        ),
        ("select regsub('a', a1, '&') from a", "select regsub('a', a1, '&') from a"),
        # dynamic pattern → keep the UDF
        ("select regexp(a2, a1) from a", "select regexp(a2, a1) from a"),
        # Python-only regex constructs → keep the UDF
        (
            "select regexp('(?P<g>a)', a1) from a",
            "select regexp('(?P<g>a)', a1) from a",
        ),
        # glob() with a literal pattern → translated anchored RLIKE
        (
            "select glob('a*', a1) from a",
            "select (a1 RLIKE '(?s)^(?:a.*)$') from a",
        ),
        # glob() with a dynamic pattern stays a UDF call
        ("select glob(a2, a1) from a", "select glob(a2, a1) from a"),
        # names inside quotes / longer identifiers untouched
        ("select 'regexp(a, b)' from a", "select 'regexp(a, b)' from a"),
        ("select my_regexp('p', a1) from a", "select my_regexp('p', a1) from a"),
    ],
)
def test_rewrite_regex_calls(src, expected):
    assert rewrite_regex_calls(src) == expected


@pytest.mark.parametrize(
    "src,expected",
    [
        # full pipeline: infix GLOB lowers to glob() then lifts to RLIKE
        (
            "select a1 from a where a1 GLOB 'a?z'",
            "select a1 from a where (a1 RLIKE '(?s)^(?:a.z)$')",
        ),
        # doubled-quote escape in the left operand scans correctly
        (
            "select 'it''s' GLOB 'it*' from a",
            "select ('it''s' RLIKE '(?s)^(?:it.*)$') from a",
        ),
        # compound operands (|| binds tighter than GLOB in SQLite):
        # left unrewritten rather than silently regrouped
        (
            "select a1 || a2 GLOB 'p' from a",
            "select a1 || a2 GLOB 'p' from a",
        ),
        (
            "where a1 GLOB 'p' || 'q'",
            "where a1 GLOB 'p' || 'q'",
        ),
    ],
)
def test_rewrite_statement_pipeline(src, expected):
    assert rewrite_statement(src) == expected


def test_glob_to_regex_matches_sqlite():
    """The compile-time GLOB→regex translation must agree with
    SQLite's infix GLOB, including literal backslash inside [...]."""
    import re as _re

    rows = ["file.txt", "FILE.TXT", "a1z", "abz", "a\\z", "adz", "b2", ""]
    pats = ["*.txt", "a[0-9]z", "a[^0-9]z", "?2", "*", "", "a[\\d]z"]
    con = sqlite3.connect(":memory:")
    con.execute("create table g (x text)")
    con.executemany("insert into g values (?)", [(r,) for r in rows])
    for p in pats:
        want = [r[0] for r in con.execute("select x from g where x GLOB ?", (p,))]
        rx = _re.compile(glob_to_regex(p))
        got = [r for r in rows if rx.search(r)]
        assert got == want, p


def test_double_quoted_identifier_fallback():
    from sqawk_spark.dialect import rewrite_double_quoted_idents as rw

    cols = {"a1", "a column with a long name"}
    assert (
        rw('select "a column with a long name" from a', cols)
        == "select `a column with a long name` from a"
    )
    # unresolvable stays a literal
    assert rw('select "nope" from a', cols) == 'select "nope" from a'
    # inside single quotes untouched
    assert rw("select '\"a1\"' from a", cols) == "select '\"a1\"' from a"
    # doubled-quote escape resolves against the unescaped name
    assert rw('select "a""b" from a', {'a"b'}) == "select `a\"b` from a"


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _sql_texts = st.text(
        alphabet=st.sampled_from(
            list("abcdefgXYZ0123456789 _.,*=<>()'\"`%+-|;\n\t")
        ),
        max_size=60,
    )

    @given(_sql_texts)
    @settings(max_examples=300, deadline=None)
    def test_rewrite_identity_without_dialect_tokens(s):
        """Statements that never mention GLOB or group_concat must
        pass through byte-identical — the rewriter may not disturb
        arbitrary SQL, quoting included."""
        if "glob" in s.lower() or "group_concat" in s.lower():
            return
        assert rewrite_statement(s) == s

    @given(_sql_texts, st.sampled_from([" GLOB ", " NOT GLOB "]))
    @settings(max_examples=300, deadline=None)
    def test_rewrite_is_idempotent(prefix, op):
        """Rewriting twice equals rewriting once (the function-call
        forms produced by pass one must not be re-rewritten)."""
        s = f"select a1 from a where a1{op}'{prefix.replace(chr(39), '')}*'"
        once = rewrite_statement(s)
        assert rewrite_statement(once) == once

except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


def _sqlite(sql: str, rows):
    con = sqlite3.connect(":memory:")
    con.execute("create table a (a1 text, a2 text)")
    con.executemany("insert into a values (?, ?)", rows)
    return [tuple(r) for r in con.execute(sql)]


def test_glob_semantics_match_sqlite():
    """The rewrite target glob(Y, X) must agree with SQLite's infix
    GLOB on representative patterns (case sensitivity, classes,
    negated classes)."""
    rows = [
        ("file.txt", "x"), ("FILE.TXT", "y"), ("a1z", "z"),
        ("abz", "w"), ("b2", "v"), ("", "u"),
    ]
    pats = ["*.txt", "a[0-9]z", "a[^0-9]z", "?2", "*", ""]
    # reference behavior straight from SQLite
    for p in pats:
        want = _sqlite(f"select a1 from a where a1 GLOB '{p}'", rows)
        got = _sqlite(f"select a1 from a where glob('{p}', a1)", rows)
        assert got == want, p


def test_group_concat_two_arg_semantics_match_sqlite(spark):
    """SQLite: separator precedes each value after the first and is
    taken from the current row's second argument (NULL → ''). The
    lowered SQL must agree in Spark, in scan-key order even when the
    rows reach Spark in another order."""
    rows = [
        (1, "a", "-", 1), (1, "b", "+", 2), (1, None, "*", 3),
        (1, "c", "/", 4), (1, "d", None, 5), (2, None, "-", 6),
        (3, "e", "-", 7),
    ]
    con = sqlite3.connect(":memory:")
    con.execute("create table t (g int, x text, s text, tnr int)")
    con.executemany("insert into t values (?, ?, ?, ?)", rows)
    q = "select g, group_concat(x, s) from t group by g order by g"
    want = con.execute(q).fetchall()
    spark.createDataFrame(
        rows[::-1], "g int, x string, s string, tnr int"
    ).repartition(3).createOrReplaceTempView("t")
    got = spark.sql(rewrite_statement(q, scan_keys={"t": "tnr"})).collect()
    assert [tuple(r) for r in got] == want
    assert want == [(1, "a+b/cd"), (2, None), (3, "e")]


def test_date_call_lowering_matches_udf_and_sqlite(spark):
    """rewrite_date_calls lowers modifier-free strftime/date/datetime/
    time onto JVM date_format; the lowered expression must agree with
    the Python UDF path AND with the system SQLite on every time-value
    shape the UDF handles (ISO with/without T and fraction, julian
    day numbers, out-of-range julians, garbage, NULL)."""
    from sqawk_spark.dialect import rewrite_date_calls
    from sqawk_spark.functions import register_udfs

    register_udfs(spark)
    vals = [
        "2024-02-29 12:30:45",
        "2024-01-01",
        "2024-01-02T03:04:05",
        "2024-03-01 01:02:03.456",
        " 2024-07-04 08:09:10 ",
        "2451545.0",   # J2000 noon
        "2451544.5",   # 2000-01-01 00:00
        "1721425.5",   # year 1 lower bound
        "0",           # below datetime range -> NULL
        "1e20",        # overflow -> NULL
        "-2451545",    # negative -> NULL
        "garbage",
        "",
        None,
    ]
    spark.createDataFrame([(v,) for v in vals], "v string").createOrReplaceTempView(
        "dtvals"
    )
    calls = [
        "strftime('%Y-%m-%d', v)",
        "strftime('%H:%M:%f', v)",
        "strftime('%Y/%j week%%', v)",
        "date(v)",
        "datetime(v)",
        "time(v)",
    ]
    udf_rows = spark.sql(
        "select " + ", ".join(f"{c} as c{i}" for i, c in enumerate(calls))
        + " from dtvals"
    ).collect()
    lowered_sql = (
        "select "
        + ", ".join(
            f"{rewrite_date_calls(c)} as c{i}" for i, c in enumerate(calls)
        )
        + " from dtvals"
    )
    assert "strftime(" not in lowered_sql and "date(v)" not in lowered_sql
    jvm_rows = spark.sql(lowered_sql).collect()

    import sqlite3

    con = sqlite3.connect(":memory:")
    for v, u, j in zip(vals, udf_rows, jvm_rows):
        for i, c in enumerate(calls):
            assert u[f"c{i}"] == j[f"c{i}"], (
                f"UDF vs JVM mismatch for {c} on {v!r}: "
                f"{u[f'c{i}']!r} vs {j[f'c{i}']!r}"
            )
        if v is not None and v == v.strip():
            # ground truth: system SQLite on the same literal. Skipped
            # where the engine deliberately diverges: padded values
            # (the UDF trims, SQLite doesn't) and time values outside
            # the Python datetime domain (years 1-9999 — SQLite's
            # julian range reaches -4713; the engine NULLs those, and
            # the JVM path pins the UDF's behavior).
            for i, c in enumerate(calls):
                if u[f"c{i}"] is None:
                    continue
                lit = "'" + v.replace("'", "''") + "'"
                want = con.execute(
                    f"select {c.replace(', v', f', {lit}').replace('(v)', f'({lit})')}"
                ).fetchone()[0]
                assert j[f"c{i}"] == want, (
                    f"JVM vs SQLite mismatch for {c} on {v!r}: "
                    f"{j[f'c{i}']!r} vs {want!r}"
                )


def test_date_call_lowering_keeps_plan_jvm_side(spark):
    """VERDICT r04 done-criterion: a lowered strftime plan must contain
    no BatchEvalPython stage (the UDF fallback only runs for modifier
    chains / exotic tokens, which must STILL resolve via the UDF)."""
    from sqawk_spark.dialect import rewrite_statement
    from sqawk_spark.functions import register_udfs

    register_udfs(spark)
    spark.createDataFrame(
        [("2024-01-15 10:20:30",)], "a1 string"
    ).createOrReplaceTempView("dtplan")
    lowered = spark.sql(
        rewrite_statement("select strftime('%Y-%m-%d', a1) as d from dtplan")
    )
    p = lowered._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p
    # modifier chain keeps the Python fallback and still runs
    fallback = spark.sql(
        rewrite_statement(
            "select datetime(a1, '+1 month', 'start of month') as d from dtplan"
        )
    )
    assert fallback.collect()[0]["d"] == "2024-02-01 00:00:00"
    assert "BatchEvalPython" in (
        fallback._jdf.queryExecution().executedPlan().toString()
    )


def test_limit_comma_rewrite():
    from sqawk_spark.dialect import rewrite_limit_comma as r

    assert (
        r("select a1 from a order by a1 limit 1, 2").strip()
        == "select a1 from a order by a1 limit 2 OFFSET 1"
    )
    # plain LIMIT and LIMIT/OFFSET pass through untouched
    assert r("select a1 from a limit 5") == "select a1 from a limit 5"
    assert (
        r("select a1 from a limit 3 offset 1")
        == "select a1 from a limit 3 offset 1"
    )
    # only the top-level clause is rewritten; a parenthesized subquery
    # limit keeps Spark's loud parse error (never a silent swap)
    s = "select * from (select a1 from a limit 1, 2) t"
    assert "limit 1, 2" in r(s)


def test_bare_minmax_leaves_alias_and_ordinal_group_by_untouched():
    """GROUP BY may reference a select item by alias or 1-based
    ordinal (Spark's groupByAliases/groupByOrdinal, SQLite likewise);
    rewriting such an item into max_by would turn the grouping key
    into an aggregate and break a previously-valid query (ADVICE r05)."""
    from sqawk_spark.dialect import rewrite_bare_minmax_columns as r

    # alias-grouped item stays a plain column → nothing to rewrite
    s = "select a as x, max(b) from t group by x"
    assert r(s) == s
    # ordinal-grouped likewise
    s = "select a, max(b) from t group by 1"
    assert r(s) == s
    # qualified item grouped by ordinal
    s = "select t.a, max(t.b) from t group by 1"
    assert r(s) == s
    # a genuinely bare column NEXT TO an alias-grouped one still
    # rewrites (SQLite bare-column semantics)
    assert (
        r("select a as x, c, max(b) from t group by x")
        == "select a as x, max_by(c, b) AS c, max(b) from t group by x"
    )


def test_filter_clause_distinct_any_whitespace():
    """'count(DISTINCT\\nx) FILTER (...)' is valid SQLite — the
    DISTINCT keyword may be followed by any whitespace, not just one
    space (ADVICE r05)."""
    from sqawk_spark.dialect import rewrite_filter_clause as r

    assert (
        r("select count(distinct\nv) filter (where k > 0) from t")
        == "select count(DISTINCT CASE WHEN k > 0 THEN v END) from t"
    )
    assert (
        r("select count(distinct\t v) filter (where k > 0) from t")
        == "select count(DISTINCT CASE WHEN k > 0 THEN v END) from t"
    )
    # an identifier that merely STARTS with 'distinct' is an argument,
    # not the keyword
    assert (
        r("select count(distinctive) filter (where k > 0) from t")
        == "select count(CASE WHEN k > 0 THEN distinctive END) from t"
    )


# ---------------------------------------------------------------------------
# round 9: scalar-library exactness (substr / upper / lower / typeof /
# nullif) — each probed for semantic parity against real SQLite
# ---------------------------------------------------------------------------


def test_substr_rewrite_arity_and_scope():
    from sqawk_spark.dialect import rewrite_substr_calls

    assert (
        rewrite_substr_calls("select substr(a1, 0, 2) from a")
        == "select sqlite_substr3(a1, 0, 2) from a"
    )
    assert (
        rewrite_substr_calls("select substring(a1, -2) from a")
        == "select sqlite_substr2(a1, -2) from a"
    )
    # SQL-standard FROM/FOR form has no top-level comma: stays native
    q = "select substring(a1 from 2 for 3) from a"
    assert rewrite_substr_calls(q) == q
    # fast path: positive literal Y / non-negative literal Z — Spark's
    # substring is already exact there, so the call stays JVM-side
    q = "select substr(a1, 2, 3), substr(a1, 1) from a"
    assert rewrite_substr_calls(q) == q
    # string literals containing 'substr(' are untouched
    q = "select 'substr(x, 0)' from a"
    assert rewrite_substr_calls(q) == q


def test_substr_udf_grid_vs_sqlite(spark):
    """The registered UDF walks func.c exactly — grid over the corner
    space (position 0, negative Y, negative Z, 2-arg) vs sqlite3."""
    from sqawk_spark.functions import register_udfs

    register_udfs(spark)
    con = sqlite3.connect(":memory:")
    cases = []
    for s in ("'abc'", "'abcdef'", "''"):
        for y in (-7, -2, -1, 0, 1, 2, 4):
            for z in (-3, -1, 0, 1, 3, None):
                cases.append((s, y, z))
    sel_sq = ", ".join(
        f"substr({s}, {y}{'' if z is None else f', {z}'})"
        for s, y, z in cases
    )
    want = list(con.execute(f"select {sel_sq}").fetchone())
    sel_sp = ", ".join(
        f"sqlite_substr{2 if z is None else 3}"
        f"({s}, {y}{'' if z is None else f', {z}'})"
        for s, y, z in cases
    )
    got = list(spark.sql(f"select {sel_sp}").collect()[0])
    assert got == want


def test_upper_lower_ascii_only(spark):
    from sqawk_spark.dialect import rewrite_upper_lower

    q = rewrite_upper_lower("select upper('straße'), lower('ÄBC')")
    row = spark.sql(q).collect()[0]
    con = sqlite3.connect(":memory:")
    assert tuple(row) == con.execute(
        "select upper('straße'), lower('ÄBC')"
    ).fetchone()


def test_typeof_rewrite_class_aware():
    from sqawk_spark.dialect import rewrite_typeof_calls

    cl = {"t": "text", "n": "none", "l": "long", "d": "dynamic"}
    r = rewrite_typeof_calls("select typeof(t), typeof(l) from a", cl)
    assert "'text'" in r and "'integer'" in r and "typeof" not in r
    r = rewrite_typeof_calls("select typeof(d) from a", cl)
    assert "RLIKE" in r and "typeof" not in r
    # unclassifiable argument keeps the UDF fallback
    r = rewrite_typeof_calls("select typeof(t || l) from a", cl)
    assert "typeof" in r


def test_nullif_no_affinity_vs_sqlite(spark):
    """nullif compares WITHOUT affinity conversion: nullif(a, '7')
    over INTEGER a returns 7 though a = '7' is TRUE; numerics DO
    compare across classes (nullif(7, 7.0) is NULL)."""
    from sqawk_spark.dialect import rewrite_statement as rw

    con = sqlite3.connect(":memory:")
    con.execute("create table t (a integer, b text)")
    con.executemany(
        "insert into t values (?,?)",
        [("7", "7"), ("0", "x"), ("7.5", "0"), (None, None)],
    )
    # engine-side: canonicalized strings, a dynamic / b text ('7.0'
    # under numeric affinity canonicalizes to '7', so the real-class
    # row uses a non-integral value)
    spark.createDataFrame(
        [("7", "7"), ("0", "x"), ("7.5", "0"), (None, None)],
        "a string, b string",
    ).createOrReplaceTempView("t")
    cl = {"a": "dynamic", "b": "text"}
    for q in [
        "select nullif(a, '7') from t",
        "select nullif(a, 7) from t",
        "select nullif(b, 7) from t",
        "select nullif(b, '7') from t",
        "select nullif(a, 7.0) from t",
        "select nullif(a, 7.5) from t",
        "select nullif(a, null) from t",
    ]:
        want = [r[0] for r in con.execute(q).fetchall()]
        got = [
            None if r[0] is None else str(r[0])
            for r in spark.sql(rw(q, classes=cl)).collect()
        ]
        want = [None if v is None else str(v) for v in want]
        assert got == want, q


def test_round_udf_vs_sqlite(spark):
    """sqlite_round walks func.c roundFunc: decimal-shortest-repr
    half-away-from-zero for Y>0 (2.675 → 2.68 where binary HALF_UP
    says 2.67), the ±0.5 int64 truncation for Y=0, prefix coercion
    for text, Y clamped to [0, 30]."""
    from sqawk_spark.functions import register_udfs

    register_udfs(spark)
    con = sqlite3.connect(":memory:")
    cases = [
        "round(2.675, 2)", "round(2.35, 1)", "round(2.5)",
        "round(-2.5)", "round(-0.4)", "round(-0.04, 1)",
        "round(25.0, -1)", "round(2.44, 1.9)", "round('3abc')",
        "round('x')", "round('  3.5 ', 0)", "round(1e300)",
        "round('-0.0')", "round(0.5)", "round(1.5)", "round(-1.5)",
    ]
    want = list(con.execute("select " + ", ".join(cases)).fetchone())
    sp = ", ".join(
        c.replace("round(", "sqlite_round2(", 1)
        if "," in c
        else c.replace("round(", "sqlite_round1(", 1)
        for c in cases
    )
    got = list(spark.sql("select " + sp).collect()[0])
    import math

    assert got == want and all(
        math.copysign(1, g) == math.copysign(1, w)
        for g, w in zip(got, want)
    )


def test_compound_order_by_class_keys_vs_sqlite(spark):
    """Compound ORDER BY is class-exact through the wrapper
    (_wrap_ordered_compound): '007' from a TEXT branch sorts as text
    AFTER every number, positional ORDER BY 1 keys like an alias, a
    NOCASE marker folds the text component, and under distinct set
    ops the key columns reproduce SQLite's class-aware row identity
    (TEXT '7' and INTEGER 7 render alike but are distinct rows)."""
    con = sqlite3.connect(":memory:")
    con.execute("create table t (d numeric, s text)")
    # no NOCASE-fold ties ('ABX' vs 'ab'): order among fold-equal
    # strings is unspecified in both engines
    rows = [
        ("7", "007"), ("0.5", "xx"), ("-3", "7"), ("ab", "ABX"),
        ("2.25", "12"), (None, "ab"), ("12", "0.5"),
    ]
    con.executemany("insert into t values (?,?)", rows)
    # engine-side canonical strings: d numeric-affinity canonical,
    # s TEXT verbatim (d '0.5'→'0.5', '7'→'7', '2.25'→'2.25')
    spark.createDataFrame(rows, "d string, s string").createOrReplaceTempView("t")
    cl = {"d": "dynamic", "s": "text"}
    from sqawk_spark.dialect import rewrite_statement as rw

    for q in [
        "select d as c0 from t union select s from t order by 1",
        "select d as c0 from t union all select s from t order by c0 desc",
        "select s as c0 from t union select s from t order by 1",
        "select d as c0 from t intersect select s from t order by 1",
        "select d as c0 from t except select s from t order by 1",
        "select d as c0 from t union select s from t"
        " order by c0 collate nocase",
        "select d as c0, s as c1 from t union all"
        " select s, d from t order by 2, 1 desc limit 9",
    ]:
        want = [
            tuple("" if v is None else str(v) for v in r)
            for r in con.execute(q).fetchall()
        ]
        got = [
            tuple("" if v is None else str(v) for v in r)
            for r in spark.sql(rw(q, classes=cl)).collect()
        ]
        assert got == want, f"{q}\ngot {got}\nwant {want}"


def test_sign_and_format_vs_sqlite(spark):
    """sign(): INTEGER -1/0/+1 via a WHOLE-string numeric parse (NULL
    for '7x'/''/'inf' — no prefix coercion); format() is the printf
    alias."""
    con = sqlite3.connect(":memory:")
    q = (
        "select sign('7'), sign(' -7.5 '), sign('7x'), sign(''),"
        " sign(0.0), sign('1e2'), sign(null),"
        " format('%d|%s', 4.9, 'a'),"
        " unixepoch('2024-03-01 12:00:00'),"
        " unixepoch('2024-03-01', '+1 day'), unixepoch('nope')"
    )
    want = list(con.execute(q).fetchone())
    from sqawk_spark.dialect import rewrite_statement as rw
    from sqawk_spark.functions import register_udfs

    register_udfs(spark)
    got = list(spark.sql(rw(q)).collect()[0])
    assert got == want


# --- round 10: numeric-as-boolean coercion (lang_expr.html §16) ----------


def test_boolean_contexts_vs_sqlite(spark):
    """SQLite truth in WHERE/HAVING/WHEN/AND/OR/NOT: numeric nonzero,
    text numeric-prefix, NULL propagates.  Differential vs the real
    library on a typed table (the CLI surface is covered by
    tests/probe_bool.py and the composed fuzzer's condition shapes)."""
    con = sqlite3.connect(":memory:")
    con.execute("create table t(i INTEGER, s TEXT, r REAL)")
    con.executemany(
        "insert into t values (?,?,?)",
        [
            (1, "x", 0.5),
            (0, "y", 0.0),
            (-3, "3abc", 2.0),
            (2, "", None),
            (None, "0.0", 1.5),
        ],
    )
    spark.sql(
        "select * from values (1L,'x',0.5D),(0L,'y',0.0D),"
        "(-3L,'3abc',2.0D),(2L,'',CAST(NULL AS DOUBLE)),"
        "(CAST(NULL AS BIGINT),'0.0',1.5D) as t(i,s,r)"
    ).createOrReplaceTempView("t")
    cl = {"i": "long", "s": "text", "r": "long"}
    for q in [
        "select i from t where i order by i",
        "select i from t where s order by i",
        "select i from t where r order by i",
        "select i from t where not i order by i",
        "select i from t where not s order by i",
        "select i from t where i and s order by i",
        "select i from t where i or r order by i",
        "select i from t where i and (s or r) order by i",
        "select i from t where not (i or s) order by i",
        "select i from t where i > 0 and r order by i",
        "select i, case when s then 1 else 0 end as c from t order by i",
        "select 1 and 2, not 0.5, 7 or null, 0 or null, 0 and null",
        "select iif(2, 'y', 'n'), iif(0, 'y', 'n'), iif('3x', 'y', 'n')",
        "select i from t where '  2x' order by i",
        "select i from t where i - 1 order by i",
        "select count(*) as n from t group by s having count(*) - 1",
    ]:
        want = [
            tuple("" if v is None else str(v) for v in r)
            for r in con.execute(q).fetchall()
        ]
        got = [
            tuple(
                ""
                if v is None
                else (("1" if v else "0") if isinstance(v, bool) else str(v))
                for v in r
            )
            for r in spark.sql(rewrite_statement(q, classes=cl)).collect()
        ]
        assert got == want, f"{q}\ngot {got}\nwant {want}"


def test_boolify_idempotent():
    """Re-running the boolean passes on their own output is identity —
    the in-pass fixpoint loop relies on it."""
    from sqawk_spark.dialect import (
        rewrite_boolean_contexts,
        rewrite_boolean_select_items,
    )

    cl = {"a1": "dynamic", "a2": "text", "anr": "long"}
    for q in [
        "select a1 from a where a1",
        "select a1 from a where not (a1 or a2) and anr > 2",
        "select 1 and 2 as x, not 0.5 as y from a",
        "select case when a2 then a1 else 0 end from a where a1",
    ]:
        once = rewrite_boolean_contexts(
            rewrite_boolean_select_items(q, cl), cl
        )
        twice = rewrite_boolean_contexts(
            rewrite_boolean_select_items(once, cl), cl
        )
        assert once == twice, q


# --- round 10: expression-collation propagation (datatype3.html §7.1) ----


def test_collate_propagation_vs_sqlite(spark):
    """COLLATE NOCASE anywhere in a select item's subtree governs the
    item's collation: ORDER BY over its alias sorts nocase; DISTINCT
    folds nocase with the first-arrival representative."""
    con = sqlite3.connect(":memory:")
    con.execute(
        "create table t(tnr INTEGER PRIMARY KEY, a1 TEXT, a2 TEXT)"
    )
    con.executemany(
        "insert into t values (?,?,?)",
        [
            (1, "aB", "x"),
            (2, "AB", "y"),
            (3, "Q", "z"),
            (4, "zz", "w"),
            (5, "ab", "v"),
        ],
    )
    spark.sql(
        "select * from values (1L,'aB','x'),(2L,'AB','y'),(3L,'Q','z'),"
        "(4L,'zz','w'),(5L,'ab','v') as t(tnr,a1,a2)"
    ).createOrReplaceTempView("t")
    cl = {"tnr": "long", "a1": "text", "a2": "text"}
    for q in [
        "select distinct case when a1 <> 'z' collate nocase then a1"
        " else '' end as c0 from t order by c0",
        "select distinct a1 collate nocase as c0 from t order by c0",
        "select a1 collate nocase as c0 from t order by c0, tnr",
        "select case when a1 > 'b' collate nocase then a1 else a2 end"
        " as c0 from t order by c0, tnr",
        "select distinct a1 collate nocase as c0 from t order by c0 desc",
        "select distinct a1 collate nocase as c0, a2 as c1 from t"
        " order by c0, c1",
        # GROUP BY keys fold with the first-arrival representative
        "select case when a1 <> 'z' collate nocase then a1 else ''"
        " end as g, count(*) as n from t group by 1 order by g",
        "select a1 collate nocase as g, count(*) as n from t"
        " group by g order by g",
        # comparison collation propagates out of the CASE subtree
        "select a1 from t where case when a1 <> 'z' collate nocase"
        " then a1 else '' end = 'ab' order by tnr",
        "select a1 from t where 'ab' = (case when a1 <> 'z'"
        " collate nocase then a1 else '' end) order by tnr",
    ]:
        want = [
            tuple("" if v is None else str(v) for v in r)
            for r in con.execute(q).fetchall()
        ]
        got = [
            tuple("" if v is None else str(v) for v in r)
            for r in spark.sql(rewrite_statement(q, classes=cl)).collect()
        ]
        assert got == want, f"{q}\ngot {got}\nwant {want}"


# --- round 10: literal branches in distinct set ops ----------------------


def test_literal_setop_branches_vs_sqlite(spark):
    """`select 7 union select '7'` keeps TWO rows — INTEGER and TEXT
    are distinct classes even when the rendering matches."""
    con = sqlite3.connect(":memory:")
    con.execute("create table t(d INTEGER, s TEXT)")
    con.executemany(
        "insert into t values (?,?)", [(7, "7"), (2, "x")]
    )
    spark.sql(
        "select * from values ('7','7'),('2','x') as t(d,s)"
    ).createOrReplaceTempView("t")
    cl = {"d": "dynamic", "s": "text"}
    for q in [
        "select count(*) as n from (select 7 as v union select '7')",
        "select count(*) as n from (select 5 as v intersect select '5')",
        "select count(*) as n from (select 5 as v except select '5')",
        "select count(*) as n from (select d from t union select '7')",
        "select count(*) as n from (select 'x' as v union select 'x')",
        "select count(*) as n from"
        " (select 1 as v union select 1.5 union select '1')",
    ]:
        want = [
            tuple(str(v) for v in r) for r in con.execute(q).fetchall()
        ]
        got = [
            tuple(str(v) for v in r)
            for r in spark.sql(rewrite_statement(q, classes=cl)).collect()
        ]
        assert got == want, f"{q}\ngot {got}\nwant {want}"


# --- round 10: deterministic scan order for the CLI text surface ---------


def test_append_scan_order_shapes():
    from sqawk_spark.dialect import append_scan_order

    nr = {"a": "anr", "b": "bnr", "c": "cnr"}
    # join without ORDER BY: keys appended as a new clause
    assert append_scan_order(
        "select a1, b1 from a join b on a1 = b1", nr
    ).endswith("order by a.anr, b.bnr")
    # existing ORDER BY: keys appended as trailing tiebreaks
    out = append_scan_order(
        "select a1, b1 from a join b on a1 = b1 order by b1 limit 3", nr
    )
    assert "order by b1, a.anr, b.bnr limit 3" in out
    # aliases qualify the counter; comma joins count
    out = append_scan_order("select * from a x, b y where x.a1 = y.b1", nr)
    assert out.endswith("order by x.anr, y.bnr")
    # three-way
    out = append_scan_order(
        "select a1 from a join b on a1=b1 join c on a1=c1", nr
    )
    assert out.endswith("order by a.anr, b.bnr, c.cnr")
    # GROUP BY without ORDER BY: SQLite's sorter emits the groups in
    # group-key order, so the GROUP BY terms become the ORDER BY
    # (ahead of a LIMIT)
    assert append_scan_order(
        "select a1 from a join b on a1=b1 group by a1", nr
    ) == "select a1 from a join b on a1=b1 group by a1 order by a1"
    assert append_scan_order(
        "select a1, count(*) from a group by a1 having count(*) > 1 limit 3", nr
    ) == (
        "select a1, count(*) from a group by a1 having count(*) > 1"
        " order by a1 limit 3"
    )
    # bails: single table, aggregates, grouped with ORDER BY or
    # DISTINCT, distinct, set ops, derived tables, unknown counter
    for q in [
        "select a1 from a",
        "select count(*) from a join b on a1=b1",
        "select min(a1) from a join b on a1=b1",
        "select a1, count(*) from a group by 1 order by 2",
        "select distinct a1 from a group by a1, a2",
        "select distinct a1 from a join b on a1=b1",
        "select a1 from a union select b1 from b",
        "select a1 from (select a1 from a) join b on a1=b1",
        "select a1 from a join d on a1=d1",
    ]:
        assert append_scan_order(q, nr) == q, q
    # window aggregates do NOT bail (cardinality-preserving)
    out = append_scan_order(
        "select a1, sum(a1) over (order by a1) as w from a join b on a1=b1",
        nr,
    )
    assert out == (
        "select a1, sum(a1) over (order by a1) as w from a join b on a1=b1"
    ) or out.endswith("order by a.anr, b.bnr")


# --- round 10: bare-column rules (lang_select.html §bare_columns) ---------


def test_bare_group_columns_vs_sqlite(spark):
    """No-min/max aggregate queries give bare non-grouped columns the
    FIRST row of the group in scan order (probed deterministic); a
    single min/max keeps the winning row even next to count()/sum()."""
    con = sqlite3.connect(":memory:")
    con.execute(
        "create table t(tnr INTEGER PRIMARY KEY, g TEXT, v TEXT)"
    )
    con.executemany(
        "insert into t(g,v) values (?,?)",
        [("a", "v1"), ("b", "v2"), ("a", "v3"), ("b", "v4"), ("a", "v5")],
    )
    spark.sql(
        "select * from values (1L,'a','v1'),(2L,'b','v2'),(3L,'a','v3'),"
        "(4L,'b','v4'),(5L,'a','v5') as t(tnr,g,v)"
    ).createOrReplaceTempView("t")
    from sqawk_spark.functions import register_udfs

    register_udfs(spark)  # total() rendering uses py_real_repr
    cl = {"tnr": "long", "g": "text", "v": "text"}
    for q in [
        "select v, g from t group by g order by g",
        "select v, g, count(*) as n from t group by g order by g",
        "select v, count(*) as n from t",
        "select v, g, max(tnr) as m, count(*) as n from t group by g"
        " order by g",
        "select v, g, sum(tnr) as s from t where tnr > 1 group by g"
        " order by g",
        "select v, g, total(tnr) as s from t group by g order by g",
    ]:
        want = [
            tuple("" if x is None else str(x) for x in r)
            for r in con.execute(q).fetchall()
        ]
        got = [
            tuple("" if x is None else str(x) for x in r)
            for r in spark.sql(rewrite_statement(q, classes=cl)).collect()
        ]
        assert got == want, f"{q}\ngot {got}\nwant {want}"
