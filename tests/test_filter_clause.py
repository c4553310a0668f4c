"""FILTER (WHERE ...) aggregate-clause lowering: the rewrite must
match real SQLite across aggregates, DISTINCT, multi-arg
group_concat, window-function use, and HAVING placement. Seeded
randomized cross-check plus targeted string-level cases."""

from __future__ import annotations

import random
import sqlite3

from sqawk_spark.dialect import rewrite_filter_clause, rewrite_statement
from sqawk_spark.functions import register_udfs


def test_filter_rewrite_string_forms():
    r = rewrite_filter_clause
    assert (
        r("select count(*) filter (where a1 > 1) from a")
        == "select count(CASE WHEN a1 > 1 THEN 1 END) from a"
    )
    assert (
        r("select total(a2) FILTER (WHERE a1 = 'x') from a")
        == "select total(CASE WHEN a1 = 'x' THEN a2 END) from a"
    )
    assert r(
        "select count(distinct a1) filter (where a2>0) from a"
    ) == ("select count(DISTINCT CASE WHEN a2>0 THEN a1 END) from a")
    # 2-arg group_concat: condition wraps the value, separator intact
    # (the group_concat lowering renders the value as TEXT)
    assert r(
        "select group_concat(a1, ',') filter (where a2 > 1) from a"
    ) == (
        "select group_concat(CASE WHEN a2 > 1 THEN a1 END, ',') from a"
    )
    # window suffix survives after the replaced span
    assert r(
        "select sum(v) filter (where v > 0) over (order by k) from t"
    ) == ("select sum(CASE WHEN v > 0 THEN v END) over (order by k) from t")
    # not a FILTER clause: string literal, identifier, missing WHERE
    assert r("select 'FILTER (WHERE x)' from a").startswith("select '")
    assert r("select filtered from a") == "select filtered from a"
    assert (
        r("select count(*) filter (whatever) from a")
        == "select count(*) filter (whatever) from a"
    )


FUNCS = [
    ("sum(v)", "v"),
    ("count(*)", None),
    ("count(v)", "v"),
    ("avg(v)", "v"),
    ("min(v)", "v"),
    ("max(v)", "v"),
    ("total(v)", "v"),
    ("count(distinct v)", "v"),
]
CONDS = ["k > 3", "p = 1", "v < 0", "k % 2 = 0", "v > 10 and k < 6"]


def test_filter_clause_randomized_vs_sqlite(spark):
    register_udfs(spark)  # any SQLite function the rewrite emits
    rng = random.Random(11)
    rows = [
        (rng.randint(0, 2), rng.randint(0, 8), rng.randint(-5, 50))
        for _ in range(60)
    ]
    con = sqlite3.connect(":memory:")
    con.execute("create table t (p int, k int, v int)")
    con.executemany("insert into t values (?,?,?)", rows)
    spark.createDataFrame(rows, "p int, k int, v int").createOrReplaceTempView(
        "t"
    )
    for _ in range(25):
        fn, _ = rng.choice(FUNCS)
        cond = rng.choice(CONDS)
        q = (
            f"select p, {fn} filter (where {cond}) as s from t "
            f"group by p order by p"
        )
        want = con.execute(q).fetchall()
        rewritten = rewrite_statement(q)
        assert "filter" not in rewritten.lower().replace(
            "filtered", ""
        ), rewritten
        got = [tuple(r) for r in spark.sql(rewritten).collect()]
        norm = lambda rs: [  # noqa: E731
            tuple(
                round(x, 6) if isinstance(x, float) else x for x in row
            )
            for row in rs
        ]
        assert norm(got) == norm(want), f"{q}\nrewritten: {rewritten}"


def test_filter_group_concat_vs_sqlite_as_multiset(spark):
    """group_concat is concatenation-order-sensitive and neither
    engine guarantees input order after a group shuffle, so equality
    holds on the separator-split token MULTISET — which still proves
    the FILTER condition selected the same values and ints render
    without the float-coercion '.0' (the reason the lowering
    stringifies JVM-side)."""
    register_udfs(spark)
    rng = random.Random(17)
    rows = [
        (rng.randint(0, 2), rng.randint(0, 8), rng.randint(-5, 50))
        for _ in range(60)
    ]
    con = sqlite3.connect(":memory:")
    con.execute("create table t (p int, k int, v int)")
    con.executemany("insert into t values (?,?,?)", rows)
    spark.createDataFrame(rows, "p int, k int, v int").createOrReplaceTempView(
        "t"
    )
    q = (
        "select p, group_concat(v, ';') filter (where v < 0) as s "
        "from t group by p order by p"
    )
    want = {
        p: sorted(s.split(";")) if s is not None else None
        for p, s in con.execute(q).fetchall()
    }
    rewritten = rewrite_statement(q)
    got = {
        r[0]: sorted(r[1].split(";")) if r[1] is not None else None
        for r in spark.sql(rewritten).collect()
    }
    assert got == want, rewritten


def test_filter_over_window_vs_sqlite(spark):
    rng = random.Random(13)
    rows = [
        (rng.randint(0, 2), i, rng.randint(-5, 50)) for i in range(40)
    ]
    con = sqlite3.connect(":memory:")
    con.execute("create table t (p int, k int, v int)")
    con.executemany("insert into t values (?,?,?)", rows)
    spark.createDataFrame(rows, "p int, k int, v int").createOrReplaceTempView(
        "t"
    )
    q = (
        "select p, k, count(*) filter (where v > 10) over "
        "(partition by p order by k rows between 2 preceding and "
        "current row) as c from t order by p, k"
    )
    want = con.execute(q).fetchall()
    rewritten = rewrite_statement(q)
    got = [tuple(r) for r in spark.sql(rewritten).collect()]
    assert got == want, rewritten


def test_bare_minmax_columns_randomized_vs_sqlite(spark):
    """SQLite's bare-column min/max rule must match the max_by/min_by
    lowering. Extreme values are made unique per group (ties are
    arbitrary-row in BOTH engines, so only unique extremes define a
    comparable answer)."""
    rng = random.Random(23)
    # v unique per (p) group => unique extreme; w is the bare payload
    rows = []
    for p in range(4):
        vs = rng.sample(range(-50, 200), 12)
        for k, v in enumerate(vs):
            rows.append((p, k, v, rng.randint(0, 99)))
    con = sqlite3.connect(":memory:")
    con.execute("create table t (p int, k int, v int, w int)")
    con.executemany("insert into t values (?,?,?,?)", rows)
    spark.createDataFrame(
        rows, "p int, k int, v int, w int"
    ).createOrReplaceTempView("t")
    queries = [
        "select p, k, w, max(v) as m from t group by p order by p",
        "select p, k, w, min(v) as m from t group by p order by p",
        "select k, w, max(v) as m from t",
        "select k, min(v) as m from t where p < 2",
        "select p, w as payload, max(v) as m from t group by p order by p",
    ]
    for q in queries:
        want = con.execute(q).fetchall()
        rewritten = rewrite_statement(q)
        assert ("max_by" in rewritten) or ("min_by" in rewritten), q
        got = [tuple(r) for r in spark.sql(rewritten).collect()]
        assert got == want, f"{q}\nrewritten: {rewritten}"


def test_is_equality_randomized_vs_sqlite(spark):
    """SQLite's general X IS Y null-safe equality must match the
    IS [NOT] DISTINCT FROM lowering, including NULL operands."""
    rng = random.Random(29)
    rows = [
        (
            rng.choice([None, 0, 1, 2]),
            rng.choice([None, 0, 1, 2]),
        )
        for _ in range(40)
    ]
    con = sqlite3.connect(":memory:")
    con.execute("create table t (x int, y int)")
    con.executemany("insert into t values (?,?)", rows)
    spark.createDataFrame(rows, "x int, y int").createOrReplaceTempView("t")
    for q in [
        "select count(*) as n from t where x is y",
        "select count(*) as n from t where x is not y",
        "select count(*) as n from t where x is 1",
        "select count(*) as n from t where x is not 2",
        "select count(*) as n from t where x is null",
        "select count(*) as n from t where x is not null",
    ]:
        want = con.execute(q).fetchall()
        rewritten = rewrite_statement(q)
        got = [tuple(r) for r in spark.sql(rewritten).collect()]
        assert got == want, f"{q}\nrewritten: {rewritten}"


def test_collate_nocase_order_by_vs_sqlite(spark):
    """ORDER BY ... COLLATE NOCASE must sort exactly like SQLite's
    ASCII-only fold — including non-ASCII rows, which lower() would
    move (SQLite NOCASE leaves them unfolded). Unique secondary key
    makes the total order comparable."""
    rows = [
        (i, s)
        for i, s in enumerate(
            ["b", "A", "a", "B", "Z", "é", "É", "x", "_", "9", "aB", "Ab"]
        )
    ]
    con = sqlite3.connect(":memory:")
    con.execute("create table t (k int, s text)")
    con.executemany("insert into t values (?,?)", rows)
    spark.createDataFrame(rows, "k int, s string").createOrReplaceTempView(
        "t"
    )
    for q in [
        "select k, s from t order by s collate nocase, k",
        "select k, s from t order by s collate nocase desc, k",
    ]:
        want = con.execute(q).fetchall()
        rewritten = rewrite_statement(q)
        assert "translate(" in rewritten, rewritten
        got = [tuple(r) for r in spark.sql(rewritten).collect()]
        assert got == want, f"{q}\nrewritten: {rewritten}"


def test_collate_nocase_comparison_vs_sqlite(spark):
    """``X <op> Y COLLATE NOCASE`` (and the LHS-attached spelling)
    folds BOTH operands with SQLite's ASCII-only NOCASE — including
    non-ASCII rows, which lower() would fold differently. Ground
    truth from real SQLite over a mixed-case corpus."""
    rows = [
        (i, s)
        for i, s in enumerate(
            ["b", "A", "a", "B", "Z", "é", "É", "x", "_", "9",
             "aB", "Ab", "AB", "ab", "Zz", "zZ"]
        )
    ]
    con = sqlite3.connect(":memory:")
    con.execute("create table t (k int, s text)")
    con.executemany("insert into t values (?,?)", rows)
    spark.createDataFrame(rows, "k int, s string").createOrReplaceTempView(
        "t"
    )
    for q in [
        "select k, s from t where s = 'ab' collate nocase order by k",
        "select k, s from t where s = 'É' collate nocase order by k",
        "select k, s from t where s collate nocase = 'Ab' order by k",
        "select k, s from t where s != 'ab' collate nocase order by k",
        "select k, s from t where s < 'b' collate nocase order by k",
        "select k, s from t where s >= 'aB' collate nocase order by k",
        "select k from t a, t b where a.s = b.s collate nocase"
        " and a.k < b.k order by 1" if False else
        "select a.k as k from t a join t b on a.s = b.s collate nocase"
        " where a.k < b.k order by k",
    ]:
        want = con.execute(q).fetchall()
        rewritten = rewrite_statement(q)
        assert "translate(" in rewritten, rewritten
        got = [tuple(r) for r in spark.sql(rewritten).collect()]
        assert got == want, f"{q}\nrewritten: {rewritten}"


def test_collate_nocase_comparison_string_forms():
    # the comparison pass emits NOCASE markers; with no classed
    # columns the full pipeline strips them to the ASCII translate
    from sqawk_spark.dialect import (
        rewrite_collate_nocase_comparison as r,
        rewrite_statement,
    )

    U = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    L = "abcdefghijklmnopqrstuvwxyz"
    assert (
        rewrite_statement("select * from t where a = b collate nocase")
        == f"select * from t where  translate(a, '{U}', '{L}')"
        f" = translate(b, '{U}', '{L}')"
    )
    # LHS-attached; function-call operand on the right
    assert (
        rewrite_statement(
            "select * from t where a collate nocase = trim(b)"
        )
        == f"select * from t where  translate(a, '{U}', '{L}')"
        f" = translate(trim(b), '{U}', '{L}')"
    )
    # ORDER BY occurrences are NOT this rewrite's business
    s = "select * from t order by a collate nocase"
    assert r(s) == s
    # non-comparison placement keeps the loud error (untouched)
    s = "select a in ('x' collate nocase) from t"
    assert r(s) == s
