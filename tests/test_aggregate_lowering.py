"""SQLite's aggregates on JVM aggregates: every ``group_concat`` form
and ``total`` (dialect.lower_group_concat and
rewrite_affinity_aggregates) mixed with count/sum/min/max, FILTER,
global aggregates and GROUP BY, run through the CLI on 64-byte file
splits (many partitions, so Spark merges many partial aggregation
buffers) and compared with stdlib sqlite3 in sqawk's table layout.

group_concat concatenates in SQLite's scan order, which only the scan
key reproduces: the 1,000-group and join cases below come out in
another order when the lowering drops it.
"""

from __future__ import annotations

import io
import sqlite3

import pytest
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st

import sqawk_spark.cli as cli
from tests import sqlite_layout

# a1: group key; a2: text with case-folded and exact duplicates; a3:
# per-row separator (missing on short rows: NULL); a4: numbers, with
# text that total()/sum() coerce by numeric prefix
WORDS = ["pear", "Pear", "fig", "FIG", "kiwi", "pear", "lime", "Kiwi"]
SEPS = ["-", "+", "~", "::"]
NUMS = ["3", "-2", "1.5", "0.25", "7", "3abc", "x", "-0.5"]
ROWS = "".join(
    f"{i % 5} {WORDS[i * 3 % 8]} {SEPS[i % 4]} {NUMS[i * 5 % 8]}\n"
    if i % 7
    else f"{i % 5} {WORDS[i % 8]}\n"
    for i in range(60)
)
AGGS = [
    "group_concat(a2)",
    "group_concat(a2, ';')",
    "group_concat(a2, a3)",
    "group_concat(distinct a2)",
    "group_concat(distinct a2 collate nocase)",
    "group_concat(a4)",
    "total(a4)",
    "total(a2)",
    "count(*)",
    "count(a3)",
    "sum(a4)",
    "min(a2)",
    "max(a4)",
]
CONDS = ["a4 > 0", "a1 % 2 = 0", "a2 like 'p%'", "a3 is not null"]


@pytest.fixture
def small_splits(spark):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    yield
    spark.conf.set(key, old)


def _check(tmp_path, script: list[str], tables: dict[str, str]) -> None:
    """The CLI's output for the statements of ``script`` equals
    sqlite3's, line for line."""
    con = sqlite3.connect(":memory:")
    argv = [";\n".join(script)]
    for name, text in tables.items():
        p = tmp_path / name
        p.write_text(text)
        argv.append(str(p))
        sqlite_layout.load(con, name, sqlite_layout.awk_records(text))
    want = [
        line
        for sql in script
        for line in sqlite_layout.render(con.execute(sql).fetchall()).splitlines()
    ]
    out = io.StringIO()
    assert cli.run(argv, out=out) == 0
    assert out.getvalue().splitlines() == want


@st.composite
def statements(draw) -> str:
    items = []
    for agg in draw(st.lists(st.sampled_from(AGGS), min_size=2, max_size=4)):
        cond = draw(st.one_of(st.none(), st.sampled_from(CONDS)))
        items.append(agg + (f" filter (where {cond})" if cond else ""))
    where = draw(st.sampled_from(["", " where a1 <> 3", " where a4 > 1"]))
    if draw(st.booleans()):
        return f"select {', '.join(items)} from a{where}"
    return (
        f"select a1, {', '.join(items)} from a{where}"
        " group by a1 order by a1"
    )


@seed(20261017)
@settings(
    max_examples=12,
    deadline=None,
    database=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(statements(), min_size=3, max_size=3))
def test_aggregate_mix_matches_sqlite(tmp_path, small_splits, script):
    _check(tmp_path, script, {"a": ROWS})


def test_thousand_groups_keep_scan_order(tmp_path, small_splits):
    """1,013 groups of two rows each, spread over ~400 partitions."""
    rows = "".join(
        f"{i * 389 % 1013} w{i} {SEPS[i % 4]} {i % 11}\n" for i in range(2026)
    )
    _check(
        tmp_path,
        [
            "select a1, count(*), group_concat(a2), max(a4) from a"
            " group by a1 order by a1",
            "select a1, group_concat(a2, a3), total(a4) from a"
            " group by a1 order by a1",
            "select a1, group_concat(distinct a4) filter (where a4 > 2)"
            " from a group by a1 order by a1",
        ],
        {"a": rows},
    )


def test_join_concatenates_in_nested_loop_order(tmp_path, small_splits):
    """With no index to probe, SQLite scans the join in FROM order: each
    group's values follow a's record order, then b's."""
    a = "".join(f"{i % 3} k{i % 4}\n" for i in range(24))
    b = "".join(f"k{i % 4} v{i} {i % 5}\n" for i in range(20))
    _check(
        tmp_path,
        [
            "select a1, group_concat(b2), count(*), min(b2) from a"
            " join b on a1 < b3 group by a1 order by a1",
            "select group_concat(a2 || b2, '/'), total(b3) from a"
            " join b on a1 < b3 where a2 <> 'k3'",
        ],
        {"a": a, "b": b},
    )


def test_windowed_group_concat_in_frame_order(tmp_path, small_splits):
    """A windowed call concatenates its frame in frame order: a ROWS
    frame, a per-row separator over a partitioned running frame, and
    a named window."""
    _check(
        tmp_path,
        [
            "select anr, group_concat(a2) over (order by anr"
            " rows between 2 preceding and current row) from a order by anr",
            "select anr, group_concat(a2, a3) over (partition by a1"
            " order by anr) from a order by anr",
            "select group_concat(a4, '/') over w from a window w as"
            " (order by anr rows between current row and 1 following)"
            " order by anr",
        ],
        {"a": ROWS},
    )
