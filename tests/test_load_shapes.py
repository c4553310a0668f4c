"""Load-shape battery: the table builder (sources/base.py) against
stdlib sqlite3 loaded in sqawk's table layout, one shape per case, each
run once on default file splits and once on 64-byte splits so every
shape also loads from many partitions. Plus a pin on the Spark jobs a
text table's load costs, so a reintroduced load-time probe fails.
"""

from __future__ import annotations

import io
import sqlite3
import uuid

import pytest

import sqawk_spark.cli as cli
from sqawk_spark.sources import PARSERS
from sqawk_spark.sources.base import TableLoader
from tests import sqlite_layout

RAGGED = "x y\n1 2\n3 4 5 6\n7\n"
# records wider than NF=10: column 12 all integers (promoted), column
# 13 mixed, column 11 integers with a NULL
WIDE = (
    "1 2 3\n"
    "4 5 6 7 8 9 10 11 12 13 14 15 q\n"
    "q 2 3 4 5 6 7 8 9 10 11 -3 7\n"
    "9 8 7 6 5 4 3 2 1 0 -1 22 zz\n"
)
TWELVE = "".join(
    " ".join(str((r * 7 + c) % 11) for c in range(12)) + "\n"
    for r in range(6)
)
MIXED = "001 1.5 c 7\n2 2.0 2e3 x\n+3 1e3 -0 -4\n4 x 12 5.5\n"
LOG = "".join(
    f"{i} {i * 7 % 13} w{i % 5} {i * 3 % 17}.25\n" for i in range(120)
)
CSV = "name,val,year\nx,1,2020\ny,2.5,2021\nz,,2019\nw,-4,\n"

# (id, [(file text, per-file options)], statement)
CASES = [
    ("empty", [("", {})], "select count(*), max(anr), max(anf) from a"),
    ("empty_rows", [("", {})], "select * from a"),
    ("header_empty", [("", {"header": "1"})], "select count(*) from a"),
    ("header_only", [("x y z\n", {"header": "1"})], "select * from a"),
    (
        "header_only_count",
        [("x y z\n", {"header": "1"})],
        "select count(*), max(anr) from a",
    ),
    ("header_ragged", [(RAGGED, {"header": "1"})], "select * from a"),
    (
        "header_ragged_named",
        [(RAGGED, {"header": "1"})],
        "select anr, anf, x, y, a3, a4 from a order by a4, x",
    ),
    ("mnf_expand", [(WIDE, {})], "select * from a"),
    (
        "mnf_expand_grown_order",
        [(WIDE, {})],
        "select a11, a12, a13 from a order by a12",
    ),
    (
        "mnf_expand_grown_cmp",
        [(WIDE, {})],
        "select anr from a where a13 > 5 and a11 < 12 order by anr",
    ),
    ("mnf_expand_nf2", [(WIDE, {"NF": "2"})], "select * from a"),
    ("mnf_crop", [(WIDE, {"MNF": "crop"})], "select * from a"),
    ("mnf_crop_nf2", [(WIDE, {"MNF": "crop", "NF": "2"})], "select * from a"),
    ("nf_12", [(TWELVE, {"NF": "12"})], "select * from a"),
    ("nf_12_order", [(TWELVE, {"NF": "12"})], "select a12 from a order by a12, anr"),
    (
        "append_two_files",
        [(RAGGED, {"table": "a"}), (MIXED, {"table": "a"})],
        "select anr, anf, a1, a2, a3 from a",
    ),
    (
        "append_two_files_order",
        [(LOG, {"table": "a"}), (WIDE, {"table": "a"})],
        "select anr, a1, a12 from a where anr % 9 = 1 or anr > 118 order by anr",
    ),
    (
        "datatypes_text_real_integer",
        [(MIXED, {"datatypes": "text,real,integer"})],
        "select * from a",
    ),
    (
        "datatypes_real_text_real_numeric",
        [(MIXED, {"datatypes": "real,text,real,numeric"})],
        "select a1, a2, a3, a4 from a order by a4, anr",
    ),
    (
        "datatypes_integer_order",
        [(MIXED, {})],
        "select a1, a2, a3, a4 from a order by a3, anr",
    ),
    (
        "all_null_columns",
        [("1 2\n3 4\n", {})],
        "select a3, a10, typeof(a3), a3 is null, a10 + 1 from a",
    ),
    ("log", [(LOG, {})], "select * from a where anr % 11 = 3"),
    (
        "log_aggregates",
        [(LOG, {})],
        "select count(*), max(anr), sum(a2), max(a4), min(a3) from a",
    ),
    (
        "log_header",
        [("k v w z\n" + LOG, {"header": "1"})],
        "select count(*), max(anr), max(v), min(z) from a",
    ),
    ("csv_header", [(CSV, {"format": "csv", "header": "1"})], "select * from a"),
    (
        "csv_header_order",
        [(CSV, {"format": "csv", "header": "1"})],
        "select name, val, year from a order by val, anr",
    ),
]

SPLITS = {"default_splits": None, "64_byte_splits": "64"}


@pytest.fixture(params=list(SPLITS), scope="module")
def split_bytes(request, spark):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    if SPLITS[request.param]:
        spark.conf.set(key, SPLITS[request.param])
    yield request.param
    spark.conf.set(key, old)


def _argv(tmp_path, files) -> list[str]:
    argv = []
    for i, (text, opts) in enumerate(files):
        p = tmp_path / f"f{i}"
        p.write_text(text)
        argv += [f"{k}={v}" for k, v in opts.items()] + [str(p)]
    return argv


def _sqlite(files, sql: str) -> list[str]:
    con = sqlite3.connect(":memory:")
    records: dict[str, list] = {}
    first_opts: dict[str, dict] = {}
    for i, (text, opts) in enumerate(files):
        table = opts.get("table", "abcdefghij"[i])
        split = (
            sqlite_layout.csv_records
            if opts.get("format") == "csv"
            else sqlite_layout.awk_records
        )
        records.setdefault(table, []).extend(split(text))
        first_opts.setdefault(table, opts)
    for table, recs in records.items():
        opts = first_opts[table]
        sqlite_layout.load(
            con,
            table,
            recs,
            nf=int(opts.get("NF", 10)),
            mnf=opts.get("MNF", "expand"),
            header=opts.get("header") == "1",
            datatypes=opts["datatypes"].split(",") if "datatypes" in opts else (),
        )
    return sqlite_layout.render(con.execute(sql).fetchall()).splitlines()


@pytest.mark.parametrize("case", CASES, ids=[c[0] for c in CASES])
def test_load_shape_matches_sqlite(tmp_path, split_bytes, case):
    _, files, sql = case
    out = io.StringIO()
    assert cli.run([sql] + _argv(tmp_path, files), out=out) == 0
    assert out.getvalue().splitlines() == _sqlite(files, sql)


@pytest.mark.parametrize("nf", ["3", "12"])
def test_mnf_error(tmp_path, split_bytes, capsys, nf):
    argv = _argv(tmp_path, [(WIDE, {"MNF": "error", "NF": nf})])
    rc = cli.main(["select count(*) from a"] + argv)
    try:
        sqlite_layout.load(
            sqlite3.connect(":memory:"),
            "a",
            sqlite_layout.awk_records(WIDE),
            nf=int(nf),
            mnf="error",
        )
        want = (0, "")
    except ValueError as e:
        want = (1, f"error: {e}\n")
    assert (rc, capsys.readouterr().err) == want


def _finalize_jobs(spark, argv: list[str]) -> tuple[int, int]:
    """(Spark jobs TableLoader.finalize submits, tables it builds)."""
    opts, _, files = cli.parse_args(["select 1"] + argv)
    loader = TableLoader(spark)
    tables: set[str] = set()
    for fopts, fname in files:
        spec, table = cli.build_spec(opts, fopts, len(tables))
        tables.add(table)
        loader.add(PARSERS[spec.format](spark, spec, fname), spec, table)
    sc = spark.sparkContext
    group = f"finalize-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load-shape job pin")
    try:
        loader.finalize()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), len(tables)


# one per-partition aggregation per text table: a shuffle-map job and
# its result job under AQE; a record wider than NF adds one more
# aggregation for the grown columns
@pytest.mark.parametrize(
    "files, extra",
    [
        ([(LOG, {})], 0),
        ([(RAGGED, {"header": "1"})], 0),
        ([(CSV, {"format": "csv", "header": "1"})], 0),
        ([(LOG, {"table": "a"}), (MIXED, {"table": "a"})], 0),
        ([(LOG, {}), (MIXED, {}), (CSV, {"format": "csv"})], 0),
        ([(WIDE, {})], 2),
    ],
    ids=["awk", "header", "csv_header", "append", "three_tables", "grown"],
)
def test_finalize_job_count(spark, split_bytes, tmp_path, files, extra):
    jobs, tables = _finalize_jobs(spark, _argv(tmp_path, files))
    assert 1 <= jobs <= 2 * tables + extra
