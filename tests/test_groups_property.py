"""Randomized GROUPS-frame property test: the dialect rewrite must
match real SQLite across frame bounds, partitions, and WHERE filters
(frames evaluate on the post-WHERE rowset — the ADVICE r03 high
finding). Seeded, so failures reproduce."""

from __future__ import annotations

import random
import sqlite3

from sqawk_spark.dialect import rewrite_statement

FUNCS = ["sum(v)", "count(*)", "min(v)", "max(v)"]
FRAMES = [
    "between 1 preceding and current row",
    "between 2 preceding and 1 following",
    "between current row and 2 following",
    "between unbounded preceding and 1 following",
    "between 1 following and 2 following",
    "between 2 preceding and 1 preceding",
    "between unbounded preceding and unbounded following",
]
PARTS = ["", "partition by p "]
WHERES = ["", " where k <> 3", " where v > 0", " where p = 1 and k < 7"]


def test_groups_frame_randomized_vs_sqlite(spark):
    rng = random.Random(7)
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
    for _ in range(30):
        q = (
            f"select p, k, v, {rng.choice(FUNCS)} over "
            f"({rng.choice(PARTS)}order by k groups {rng.choice(FRAMES)}) "
            f"as s from t{rng.choice(WHERES)} order by p, k, v, s"
        )
        want = con.execute(q).fetchall()
        rewritten = rewrite_statement(q)
        assert rewritten != q, f"not rewritten: {q}"
        got = [tuple(r) for r in spark.sql(rewritten).collect()]
        assert got == want, f"{q}\nrewritten: {rewritten}"


# total(v) is tested separately (test_groups_exclude_total_vs_sqlite)
EX_FUNCS = ["sum(v)", "count(*)", "count(v)", "avg(v)"]
EX_KINDS = ["exclude current row", "exclude group", "exclude ties",
            "exclude no others"]


def test_groups_exclude_randomized_vs_sqlite(spark):
    """EXCLUDE emulation (sum-subtraction over the peer-group window)
    vs real SQLite, including NULL values in the aggregate argument,
    frames that don't contain the current group (EXCLUDE = no-op), and
    all four EXCLUDE forms."""
    rng = random.Random(11)
    rows = [
        (
            rng.randint(0, 2),
            rng.randint(0, 8),
            None if rng.random() < 0.2 else rng.randint(-5, 50),
        )
        for _ in range(60)
    ]
    con = sqlite3.connect(":memory:")
    con.execute("create table tx (p int, k int, v int)")
    con.executemany("insert into tx values (?,?,?)", rows)
    spark.createDataFrame(rows, "p int, k int, v int").createOrReplaceTempView(
        "tx"
    )
    for _ in range(40):
        fn = rng.choice(EX_FUNCS)
        q = (
            f"select p, k, v, {fn} over "
            f"({rng.choice(PARTS)}order by k groups {rng.choice(FRAMES)} "
            f"{rng.choice(EX_KINDS)}) "
            f"as s from tx{rng.choice(WHERES)} order by p, k, v, s"
        )
        want = con.execute(q).fetchall()
        rewritten = rewrite_statement(q)
        assert rewritten != q, f"not rewritten: {q}"
        got = [tuple(r) for r in spark.sql(rewritten).collect()]
        # float compare for avg/total
        norm = lambda rs: [  # noqa: E731
            tuple(
                round(x, 9) if isinstance(x, float) else x for x in r
            )
            for r in rs
        ]
        assert norm(got) == norm(want), f"{q}\nrewritten: {rewritten}"


def test_groups_exclude_total_vs_sqlite(spark):
    """total(v) with an in-frame EXCLUDE lowers fully onto sum() —
    SQLite parity incl. NULLs (total of an empty remainder is 0.0)."""
    rng = random.Random(13)
    rows = [
        (rng.randint(0, 6), None if rng.random() < 0.3 else rng.randint(-5, 9))
        for _ in range(30)
    ]
    con = sqlite3.connect(":memory:")
    con.execute("create table tt (k int, v int)")
    con.executemany("insert into tt values (?,?)", rows)
    spark.createDataFrame(rows, "k int, v int").createOrReplaceTempView("tt")
    for kind in ("exclude current row", "exclude group", "exclude ties"):
        for frame in FRAMES:
            if _frame_contains(frame) is not True:
                continue
            q = (
                f"select k, v, total(v) over (order by k groups {frame}"
                f" {kind}) as s from tt order by k, v, s"
            )
            want = con.execute(q).fetchall()
            got = [tuple(r) for r in spark.sql(rewrite_statement(q)).collect()]
            assert got == want, q


def _frame_contains(frame: str):
    from sqawk_spark.dialect import _frame_contains_current_group

    return _frame_contains_current_group("between " + frame.split("between ")[1])


def test_groups_exclude_minmax_vs_sqlite(spark):
    """min/max EXCLUDE GROUP/TIES/CURRENT ROW lower to the
    directional decomposition (preceding/following-groups RANGE
    sub-frames, plus — for CURRENT ROW — the peer-partition
    before-self/after-self ROWS sub-frames) via NULL-skipping
    least/greatest; parity vs real SQLite incl. NULLs, duplicate
    (p, k, v) rows, and frames that reduce to a single direction or
    to just the current row."""
    rng = random.Random(17)
    rows = [
        (
            rng.randint(0, 2),
            rng.randint(0, 8),
            None if rng.random() < 0.2 else rng.randint(-5, 50),
        )
        for _ in range(60)
    ]
    con = sqlite3.connect(":memory:")
    con.execute("create table tm (p int, k int, v int)")
    con.executemany("insert into tm values (?,?,?)", rows)
    spark.createDataFrame(rows, "p int, k int, v int").createOrReplaceTempView(
        "tm"
    )
    for fn in ("min(v)", "max(v)"):
        for frame in FRAMES:
            for kind in ("exclude group", "exclude ties",
                         "exclude current row"):
                for part in PARTS:
                    q = (
                        f"select p, k, v, {fn} over ({part}order by k"
                        f" groups {frame} {kind}) as s from tm"
                        f" order by p, k, v, s"
                    )
                    want = con.execute(q).fetchall()
                    rewritten = rewrite_statement(q)
                    assert rewritten != q, f"not rewritten: {q}"
                    got = [tuple(r) for r in spark.sql(rewritten).collect()]
                    assert got == want, f"{q}\nrewritten: {rewritten}"


def test_groups_exclude_group_concat_vs_sqlite(spark):
    """group_concat EXCLUDE lowers to the directional run
    decomposition (preceding-groups / self-or-peers / following-groups
    sub-frame concats joined by the separator). Exact whenever the
    window ORDER BY key is unique per partition — concatenation order
    among tied keys is unspecified in both engines, so the fuzz keys
    are distinct; both the 1-arg (',' separator) and literal 2-arg
    forms, NULL values, and EXCLUDE-as-no-op frames are covered."""
    rng = random.Random(19)
    rows = []
    for p in range(2):
        ks = rng.sample(range(40), 14)
        rows += [
            (
                p,
                k,
                None if rng.random() < 0.25 else rng.choice(
                    ["a", "b", "", "x y", "0", "-7"]
                ),
            )
            for k in ks
        ]
    from sqawk_spark.functions import register_udfs

    register_udfs(spark)  # any SQLite function the rewrite emits
    con = sqlite3.connect(":memory:")
    con.execute("create table tg (p int, k int, v text)")
    con.executemany("insert into tg values (?,?,?)", rows)
    spark.createDataFrame(
        rows, "p int, k int, v string"
    ).createOrReplaceTempView("tg")
    for fn in ("group_concat(v)", "group_concat(v, '-')",
               "group_concat(v, '')"):
        for frame in FRAMES:
            for kind in ("exclude group", "exclude ties",
                         "exclude current row"):
                for part in PARTS:
                    q = (
                        f"select p, k, v, {fn} over ({part}order by k"
                        f" groups {frame} {kind}) as s from tg"
                        f" order by p, k, v, s"
                    )
                    want = con.execute(q).fetchall()
                    rewritten = rewrite_statement(q)
                    assert rewritten != q, f"not rewritten: {q}"
                    got = [tuple(r) for r in spark.sql(rewritten).collect()]
                    assert got == want, f"{q}\nrewritten: {rewritten}"


def test_groups_exclude_group_concat_ties_multiset(spark):
    """With tied ORDER BY keys the element ORDER within a run is
    engine-chosen, but the element MULTISET is exact — compare the
    split-and-sorted concatenations (precedent:
    test_filter_clause.py's multiset comparison)."""
    from sqawk_spark.functions import register_udfs

    register_udfs(spark)
    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "d"), (2, "e"), (3, "f")]
    con = sqlite3.connect(":memory:")
    con.execute("create table tt2 (k int, v text)")
    con.executemany("insert into tt2 values (?,?)", rows)
    spark.createDataFrame(rows, "k int, v string").createOrReplaceTempView(
        "tt2"
    )
    for kind in ("exclude group", "exclude ties", "exclude current row"):
        q = (
            f"select k, v, group_concat(v) over (order by k groups"
            f" between 1 preceding and 1 following {kind}) as s"
            f" from tt2 order by k, v"
        )
        want = [
            (k, v, tuple(sorted(s.split(","))) if s is not None else None)
            for k, v, s in con.execute(q)
        ]
        got = [
            (k, v, tuple(sorted(s.split(","))) if s is not None else None)
            for k, v, s in spark.sql(rewrite_statement(q)).collect()
        ]
        assert got == want, q


def test_groups_exclude_unsupported_still_bails():
    """A non-literal group_concat separator has per-row semantics that
    don't compose across sub-frame runs — the statement must pass
    through untouched so Spark raises a hard error rather than a
    silent wrong answer."""
    q = (
        "select group_concat(v, s) over (order by k groups between"
        " 1 preceding and 1 following exclude group) from t"
    )
    # the GROUPS frame must survive unlowered so Spark still raises
    # its parse error
    assert "groups between" in rewrite_statement(q)


# ---------------------------------------------------------------------------
# round 9: EXCLUDE on plain ROWS/RANGE frames (rewrite_plain_frame_excludes)
# ---------------------------------------------------------------------------

ROWS_FRAMES_R9 = [
    "between 1 preceding and current row",
    "between 2 preceding and 1 following",
    "between current row and 2 following",
    "between unbounded preceding and current row",
    "between unbounded preceding and 1 following",
    "between 1 following and 2 following",
    "between 2 preceding and 1 preceding",
    "between unbounded preceding and unbounded following",
]
RANGE_FRAMES_R9 = [
    "between 1 preceding and current row",
    "between 2 preceding and 1 following",
    "between current row and 2 following",
    "between unbounded preceding and current row",
    "between current row and unbounded following",
    "between 1 following and 2 following",
    "between 2 preceding and 1 preceding",
    "between unbounded preceding and unbounded following",
]
R9_CLASSES = {"p": "integer", "k": "integer", "v": "integer"}


def _r9_fixture(spark, name, seed, null_p=0.2):
    rng = random.Random(seed)
    rows = [
        (
            rng.randint(0, 2),
            rng.randint(0, 8),
            None if rng.random() < null_p else rng.randint(-5, 50),
        )
        for _ in range(60)
    ]
    con = sqlite3.connect(":memory:")
    con.execute(f"create table {name} (p int, k int, v int)")
    con.executemany(f"insert into {name} values (?,?,?)", rows)
    spark.createDataFrame(rows, "p int, k int, v int").createOrReplaceTempView(
        name
    )
    return con, rng


def test_rows_exclude_current_row_vs_sqlite(spark):
    """ROWS + EXCLUDE CURRENT ROW decomposes exactly (frame ⊖ self for
    sum/count/avg, the two directional ROWS sub-frames for min/max)
    for every frame, partition, and WHERE; ties in k are present, but
    the row sets these shapes aggregate are tie-order-invariant."""
    con, rng = _r9_fixture(spark, "tr9a", 23)
    for fn in ("sum(v)", "count(*)", "count(v)", "avg(v)", "min(v)", "max(v)"):
        for frame in ROWS_FRAMES_R9:
            q = (
                f"select p, k, v, {fn} over ({rng.choice(PARTS)}order by"
                f" k, v rows {frame} exclude current row) as s from tr9a"
                f"{rng.choice(WHERES)} order by p, k, v, s"
            )
            want = con.execute(q).fetchall()
            # no classes: ROWS mode needs none, and the avg/total
            # class pass would emit the py_real_repr UDF, which a
            # bare dialect test has no session registration for
            rewritten = rewrite_statement(q)
            assert "exclude" not in rewritten.lower(), q
            got = [tuple(r) for r in spark.sql(rewritten).collect()]
            norm = lambda rs: [  # noqa: E731
                tuple(
                    round(x, 9) if isinstance(x, float) else x for x in r
                )
                for r in rs
            ]
            assert norm(got) == norm(want), f"{q}\nrewritten: {rewritten}"


def test_range_exclude_vs_sqlite(spark):
    """RANGE frames (integer offsets over the integer key k) with all
    four EXCLUDE forms: the GROUPS algebra applies with k itself as
    the rank — peers are RANGE CURRENT ROW..CURRENT ROW over k, and
    the directional sub-frames step over the peer run because k is
    INTEGER-classed. Frame membership is value-based, so results are
    deterministic even with tied keys."""
    con, rng = _r9_fixture(spark, "tr9b", 29)
    for fn in ("sum(v)", "count(*)", "count(v)", "avg(v)", "min(v)", "max(v)"):
        for frame in RANGE_FRAMES_R9:
            for kind in ("exclude current row", "exclude group",
                         "exclude ties", "exclude no others"):
                q = (
                    f"select p, k, v, {fn} over ({rng.choice(PARTS)}order"
                    f" by k range {frame} {kind}) as s from tr9b"
                    f"{rng.choice(WHERES)} order by p, k, v, s"
                )
                want = con.execute(q).fetchall()
                # classes only where they gate the rewrite: the
                # integer key class unlocks min/max directional
                # sub-frames; avg must stay unwrapped (py_real_repr
                # is a session UDF the bare dialect test lacks)
                cl = R9_CLASSES if fn.split("(")[0] in ("min", "max") else {}
                rewritten = rewrite_statement(q, classes=cl)
                assert "exclude" not in rewritten.lower(), q
                got = [tuple(r) for r in spark.sql(rewritten).collect()]
                norm = lambda rs: [  # noqa: E731
                    tuple(
                        round(x, 9) if isinstance(x, float) else x
                        for x in r
                    )
                    for r in rs
                ]
                assert norm(got) == norm(want), f"{q}\nrewritten: {rewritten}"


def test_rows_range_exclude_desc_and_real_key(spark):
    """Direction-agnosticism: the decompositions are written in
    frame-relative units, so DESC keys work unchanged for both ROWS ⊖
    self and the RANGE value algebra (SQLite: N PRECEDING walks toward
    the sort start)."""
    con, _ = _r9_fixture(spark, "tr9c", 31, null_p=0.0)
    for q in [
        "select p, k, v, sum(v) over (order by k desc, v rows between"
        " 2 preceding and 1 following exclude current row) as s"
        " from tr9c order by p, k, v, s",
        "select p, k, v, sum(v) over (order by k desc range between"
        " 1 preceding and 1 following exclude group) as s"
        " from tr9c order by p, k, v, s",
        "select p, k, v, min(v) over (order by k desc range between"
        " 2 preceding and current row exclude ties) as s"
        " from tr9c order by p, k, v, s",
    ]:
        want = con.execute(q).fetchall()
        cl = R9_CLASSES if "min(" in q else {}
        rewritten = rewrite_statement(q, classes=cl)
        assert "exclude" not in rewritten.lower(), q
        got = [tuple(r) for r in spark.sql(rewritten).collect()]
        assert got == want, f"{q}\nrewritten: {rewritten}"


def test_rows_range_exclude_bails_loudly():
    """Shapes with no deterministic answer (ROWS GROUP/TIES over a
    bounded edge) or no unit gap (REAL key under min/max) pass through
    untouched so Spark raises on the EXCLUDE keyword."""
    for q, classes in [
        # ROWS + GROUP: peer-run membership is tie-order-dependent
        ("select sum(v) over (order by k rows between 1 preceding and"
         " current row exclude group) from t", R9_CLASSES),
        # ROWS + TIES: same
        ("select sum(v) over (order by k rows between 2 preceding and"
         " 1 following exclude ties) from t", R9_CLASSES),
        # REAL key: min/max directional sub-frames need an open interval
        ("select min(v) over (order by r range between 1 preceding and"
         " 1 following exclude group) from t",
         {"r": "real", "v": "integer"}),
    ]:
        assert "exclude" in rewrite_statement(q, classes=classes).lower(), q


def test_range_exclude_whole_group_frames_swap_to_groups(spark):
    """RANGE frames whose bounds are only UNBOUNDED/CURRENT ROW span
    whole peer groups, so they lower through the GROUPS dense-rank
    machinery — including min/max EXCLUDE GROUP, which has no
    subtraction inverse and genuinely needs the rank."""
    con, _ = _r9_fixture(spark, "tr9d", 37)
    for fn in ("sum(v)", "min(v)", "max(v)", "count(v)"):
        for frame in (
            "between unbounded preceding and current row",
            "between current row and unbounded following",
            "between unbounded preceding and unbounded following",
        ):
            for kind in ("exclude group", "exclude ties",
                         "exclude current row"):
                q = (
                    f"select p, k, v, {fn} over (partition by p order"
                    f" by k range {frame} {kind}) as s from tr9d"
                    f" order by p, k, v, s"
                )
                want = con.execute(q).fetchall()
                rewritten = rewrite_statement(q)
                assert "exclude" not in rewritten.lower(), q
                got = [tuple(r) for r in spark.sql(rewritten).collect()]
                assert got == want, f"{q}\nrewritten: {rewritten}"
