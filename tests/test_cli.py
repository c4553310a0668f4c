"""CLI golden tests ported from the reference's tests.tcl — same
black-box shape: run the CLI, exact-compare stdout.

Runs in-process (sqawk_spark.cli.run with a StringIO) so one Spark
session serves all cases; the process boundary itself is exercised in
the verify flow, not per-golden. Each test names the reference test
it ports (tests.tcl line refs in comments).
"""

from __future__ import annotations

import io
import os
import sqlite3

import pytest

import sqawk_spark.cli as cli
from tests import sqlite_layout


@pytest.fixture(scope="module", autouse=True)
def _warm_session(spark):
    # cli.run calls get_session() which reuses this active session
    yield


def pysqawk(*argv: str, stdin: str | None = None, monkeypatch=None) -> str:
    out = io.StringIO()
    if stdin is not None:
        import sys

        old = sys.stdin
        sys.stdin = io.StringIO(stdin)
        try:
            rc = cli.run(list(argv), out=out)
        finally:
            sys.stdin = old
    else:
        rc = cli.run(list(argv), out=out)
    assert rc == 0
    # exec-style trailing-newline strip: exactly one, like tcltest
    got = out.getvalue()
    return got[:-1] if got.endswith("\n") else got


def write(tmp_path, name: str, content: str) -> str:
    p = tmp_path / name
    p.write_text(content)
    return str(p)


# --- fs-* (tests.tcl:110-148) -------------------------------------------


def test_fs_global_comma(tmp_path):
    f = write(tmp_path, "f", "a,b\nc,d\ne,f\n")
    assert pysqawk("-FS", ",", "select a1, a2 from a", f) == "a b\nc d\ne f"


def test_fs_global_at(tmp_path):
    f = write(tmp_path, "f", "a@b\nc@d\ne@f\n")
    assert pysqawk("-FS", "@", "select a1, a2 from a", f) == "a b\nc d\ne f"


def test_fs_pipe_distinct(tmp_path):
    f = write(tmp_path, "f", "Yama Yama|Yamasuki\n")
    assert (
        pysqawk(
            "-FS", r"\|", "select distinct a1 as title,a2 as artist from a", f
        )
        == "Yama Yama Yamasuki"
    )


def test_one_flag(tmp_path):
    # fs-2.1: -1 keeps the whole record in a1; a2 is NULL → empty
    f = write(tmp_path, "f", "a b\nc d\ne f\n")
    assert (
        pysqawk("-1", "-OFS", ",", "select a1, a2 from a", f)
        == "a b,\nc d,\ne f,"
    )


def test_fs_empty_match_rejected(tmp_path):
    # fs-3.1: FS regex matching "" would loop forever in the reference
    f = write(tmp_path, "f", "x\n")
    assert cli.main(["-FS", "|", "select a1 from a", f]) == 1


# --- join (tests.tcl:164-189, examples golden files) --------------------


def _fixture(*parts: str) -> str:
    return os.path.join(os.path.dirname(__file__), "fixtures", *parts)


def _sqlite_golden(sql: str, tables: dict[str, list]) -> list[str]:
    """sql's rows from stdlib sqlite3 with ``tables`` (name → records)
    loaded in sqawk's table layout, rendered as the awk serializer
    prints them."""
    con = sqlite3.connect(":memory:")
    for name, records in tables.items():
        sqlite_layout.load(con, name, records)
    return sqlite_layout.render(con.execute(sql).fetchall()).splitlines()


def test_join_hp_examples():
    # F3 (FIXTURES.md): MD5SUMS x du-bytes, same shape as the
    # reference's examples/hp, with ties in b1 and unmatched names on
    # both sides. EXACT equality: ORDER BY b1 leaves ties unordered in
    # SQL, but SQLite emits them in nested-loop scan order and the CLI
    # pins that via trailing row-counter sort keys (append_scan_order).
    sql = (
        "select a1, b1, a2 from a inner join b on a2 = b2"
        " where b1 < 10000 order by b1"
    )
    md5, du = _fixture("hp", "MD5SUMS"), _fixture("hp", "du-bytes")
    golden = _sqlite_golden(
        sql,
        {
            "a": sqlite_layout.awk_records(open(md5).read()),
            "b": sqlite_layout.awk_records(open(du).read()),
        },
    )
    assert len(golden) > 5
    assert pysqawk(sql, md5, du).splitlines() == golden


def test_join_three_files():
    # F4: three id,letter files; the second names FS twice and the
    # later FS=, wins
    sql = (
        "select a1, a2, b2, c2 from a inner join b on a1 = b1"
        " inner join c on a1 = c1"
    )
    paths = [_fixture("three-files", n) for n in ("1", "2", "3")]
    golden = _sqlite_golden(
        sql,
        {
            t: sqlite_layout.awk_records(open(p).read(), ",")
            for t, p in zip("abc", paths)
        },
    )
    got = pysqawk("-FS", ",", sql, paths[0], "FS=_", "FS=,", *paths[1:])
    # EXACT golden equality: no ORDER BY, but the CLI pins SQLite's
    # nested-loop scan order (append_scan_order row-counter keys)
    assert got.splitlines() == golden


# --- table= / prefix= (tests.tcl:191-223) -------------------------------


def test_custom_table_names(tmp_path):
    f1 = write(tmp_path, "f1", "foo 1\nfoo 2\nfoo 3")
    f2 = write(tmp_path, "f2", "bar 4\nbar 5\nbar 6")
    got = pysqawk(
        "select foo2 from foo; select b2 from b", "table=foo", f1, f2
    )
    assert got == "1\n2\n3\n4\n5\n6"


def test_custom_table_and_prefix(tmp_path):
    f1 = write(tmp_path, "f1", "foo 1\nfoo 2\nfoo 3")
    f2 = write(tmp_path, "f2", "bar 4\nbar 5\nbar 6")
    got = pysqawk(
        "select foo.x2 from foo; select baz2 from bar",
        "table=foo",
        "prefix=x",
        f1,
        "table=bar",
        "prefix=baz",
        f2,
    )
    assert got == "1\n2\n3\n4\n5\n6"


def test_same_table_several_files(tmp_path):
    # table-1.3: anr continues across files
    f1 = write(tmp_path, "f1", "a\nb\nc")
    f2 = write(tmp_path, "f2", "x\ny")
    f3 = write(tmp_path, "f3", "z")
    got = pysqawk(
        "select anr, a1 from a", f1, "table=a", f2, "table=a", f3
    )
    assert got == "1 a\n2 b\n3 c\n4 x\n5 y\n6 z"


# --- header (tests.tcl:225-259) -----------------------------------------


def test_header_row(tmp_path):
    content = (
        "name\tposition\toffice\tphone\n"
        "Smith\tCEO\t10\t555-1234\n"
        "James\tHead of marketing\t11\t555-1235\n"
        "McDonald\tDeveloper\t12\t555-1236\tGood at tables\n"
    )
    f = write(tmp_path, "staff", content)
    got = pysqawk(
        'select name, office from staff where position = "CEO"'
        ' or staff.phone = "555-1234" or staff.a5 = "Good at tables"',
        "FS=\t",
        "table=staff",
        "prefix=a",
        "header=1",
        f,
    )
    assert got == "Smith 10\nMcDonald 12"


def test_header_with_spaces(tmp_path):
    # header-1.2 via backtick quoting; the reference's double-quoted
    # form is covered by test_header_double_quoted_identifiers
    content = (
        'id,a column with a long name,"even worse - quotes!"\n'
        "1,foo,!\n2,bar,%\n3,baz,$\n"
    )
    f = write(tmp_path, "f", content)
    got = pysqawk(
        "select `a column with a long name` from a;"
        " select `\"even worse - quotes!\"` from a",
        "FS=,",
        "header=1",
        f,
    )
    assert got == "foo\nbar\nbaz\n!\n%\n$"


# --- datatypes / affinity (tests.tcl:1066-1106) -------------------------


def test_affinity_integer_default(tmp_path):
    f = write(tmp_path, "f", "001 a\n002 b\nc")
    assert pysqawk("select a1,a2 from a", f) == "1 a\n2 b\nc "


def test_affinity_real(tmp_path):
    f = write(tmp_path, "f", "001 a\n002 b\nc")
    assert (
        pysqawk("select a1,a2 from a", "datatypes=real,text", f)
        == "1.0 a\n2.0 b\nc "
    )


def test_affinity_null_blob(tmp_path):
    f = write(tmp_path, "f", "001 a\n002 b\nc")
    assert (
        pysqawk("select a1,a2 from a", "datatypes=null,blob", f)
        == "001 a\n002 b\nc "
    )


def test_affinity_text(tmp_path):
    f = write(tmp_path, "f", "001 a\n002 b\nc")
    assert (
        pysqawk("select a1,a2 from a", "datatypes=text,text", f)
        == "001 a\n002 b\nc "
    )


# --- storage-class comparisons through the CLI (extends the
# datatypes-1.* family: the reference's engine is SQLite, so mixed
# INTEGER/REAL/TEXT columns compare by STORAGE CLASS — any numeric
# sorts below any text — and a text literal compared against an
# INTEGER-affinity column converts to a number first. Expected outputs
# below were derived from real SQLite (sqlite3 module, same table
# shape sqawk builds); test_affinity_property.py fuzzes the semantics,
# these pin the full CLI path end-to-end.) ---------------------------

_MIXED = "3 x\n001 y\n20 z\nc w\n1.5 v\n"


def test_storage_class_where_lt_number(tmp_path):
    # 'c' (TEXT) is never < 2; 001→1 and 1.5 are
    f = write(tmp_path, "f", _MIXED)
    assert (
        pysqawk("select a1 from a where a1 < 2 order by a1", f) == "1\n1.5"
    )


def test_storage_class_where_lt_text_literal(tmp_path):
    # '2' converts to 2 under the column's INTEGER affinity — same rows
    f = write(tmp_path, "f", _MIXED)
    assert (
        pysqawk("select a1 from a where a1 < '2' order by a1", f)
        == "1\n1.5"
    )


def test_storage_class_where_gt_includes_text(tmp_path):
    # TEXT 'c' > 2 is TRUE in SQLite: text outranks every numeric
    f = write(tmp_path, "f", _MIXED)
    assert (
        pysqawk("select a1 from a where a1 > 2 order by a1", f)
        == "3\n20\nc"
    )


def test_storage_class_order_by_mixed(tmp_path):
    # numerics ascending by VALUE (1 < 1.5 < 3 < 20), then text
    f = write(tmp_path, "f", _MIXED)
    assert (
        pysqawk("select a1 from a order by a1", f) == "1\n1.5\n3\n20\nc"
    )


def test_storage_class_order_by_desc_two_keys(tmp_path):
    f = write(tmp_path, "f", _MIXED)
    assert (
        pysqawk("select a1, a2 from a order by a1 desc, a2", f)
        == "c w\n20 z\n3 x\n1.5 v\n1 y"
    )


def test_storage_class_text_affinity_lexicographic(tmp_path):
    # datatypes=text: '20' > '2' lexicographically, '001' keeps zeros
    f = write(tmp_path, "f", _MIXED)
    assert (
        pysqawk(
            "select a1 from a where a1 < '2' order by a1",
            "datatypes=text,text",
            f,
        )
        == "001\n1.5"
    )
    assert (
        pysqawk(
            "select a1 from a order by a1", "datatypes=text,text", f
        )
        == "001\n1.5\n20\n3\nc"
    )


def test_storage_class_aggregates_mixed(tmp_path):
    """Aggregates coerce EVERY non-NULL value (lang_aggfunc.html):
    text sums its numeric prefix, avg divides by all non-NULL rows,
    min/max use storage-class order, group_concat renders stored
    values. Expected strings derived from real SQLite."""
    f = write(tmp_path, "f", _MIXED)
    assert pysqawk("select sum(a1) as s from a", f) == "25.5"
    assert pysqawk("select avg(a1) as s from a", f) == "5.1"
    assert pysqawk("select total(a1) as s from a", f) == "25.5"
    assert (
        pysqawk("select min(a1) as lo, max(a1) as hi from a", f) == "1 c"
    )
    assert (
        pysqawk("select group_concat(a1) as s from a", f)
        == "3,1,20,c,1.5"
    )


def test_storage_class_sum_integer_groups(tmp_path):
    """sum()'s result class is PER GROUP: an all-integer group renders
    bare ('23'), a group containing text or reals renders REAL
    ('1.5', '0.0') — SQLite's dynamic result typing end-to-end."""
    f = write(tmp_path, "f", "3 g1\n20 g1\n1.5 g2\nc g3\n")
    assert (
        pysqawk(
            "select a2, sum(a1) as s from a group by a2 order by a2", f
        )
        == "g1 23\ng2 1.5\ng3 0.0"
    )


def test_storage_class_cast_mixed(tmp_path):
    """CAST follows SQLite lang_expr.html §4 (expected strings derived
    from real SQLite): INTEGER takes the integer prefix ('c' → 0, 1.5
    truncates), REAL coerces and renders with the trailing .0, TEXT
    renders stored values, NUMERIC drops to integer only when the
    conversion is lossless from TEXT."""
    f = write(tmp_path, "f", _MIXED)
    assert (
        pysqawk("select cast(a1 as integer) as c from a", f)
        == "3\n1\n20\n0\n1"
    )
    assert (
        pysqawk("select cast(a1 as real) as c from a", f)
        == "3.0\n1.0\n20.0\n0.0\n1.5"
    )
    assert (
        pysqawk("select cast(a1 as text) as c from a", f)
        == "3\n1\n20\nc\n1.5"
    )
    assert (
        pysqawk("select cast(a1 as numeric) as c from a", f)
        == "3\n1\n20\n0\n1.5"
    )


# --- trim (tests.tcl:946-968) -------------------------------------------


def test_trim_none(tmp_path):
    f = write(tmp_path, "f", "   a  \n")
    assert pysqawk("select a1 from a", f) == ""


def test_trim_left(tmp_path):
    f = write(tmp_path, "f", "   a  \n")
    assert pysqawk("select a1 from a", "trim=left", f) == "a"


def test_trim_both(tmp_path):
    f = write(tmp_path, "f", "   a  \n")
    assert pysqawk("select a1 from a", "trim=both", f) == "a"


# --- a0 / F0 (tests.tcl:970-1000) ---------------------------------------


def test_a0_verbatim(tmp_path):
    content = 'test:\n\ttclsh tests.tcl\n"{'
    f = write(tmp_path, "f", content)
    assert pysqawk("select a0 from a", f) == content


def test_a0_disabled(tmp_path):
    # a0-1.3: selecting a0 with F0=0 fails like SQLite "no such column"
    f = write(tmp_path, "f", "a b\n")
    assert cli.main(["select a0 from a", "F0=0", f]) == 1


def test_f0_no_a0_but_fields_work(tmp_path):
    f = write(tmp_path, "f", "a b\nc d\n")
    assert pysqawk("select a1, a2 from a", "F0=0", f) == "a b\nc d"


# --- empty inputs (tests.tcl:1002-1040) ---------------------------------


def test_empty_fields(tmp_path):
    f = write(tmp_path, "f", "0-1\n\na-b\n\nc-d\n")
    got = pysqawk(
        "-FS", "-", "select printf('''%s'' (%s)(%s)', a0, a1, a2) from a", f
    )
    assert got == "'0-1' (0)(1)\n'' ()()\n'a-b' (a)(b)\n'' ()()\n'c-d' (c)(d)"


def test_empty_lines(tmp_path):
    f = write(tmp_path, "f", "\n\n\n\n")
    assert pysqawk("select a1 from a", f) == "\n\n\n"


def test_noinput_constant():
    assert pysqawk("-noinput", "select 108") == "108"


# --- NF / MNF (tests.tcl:1158-1396, representative cases) ----------------


def test_nf_expand(tmp_path):
    f = write(tmp_path, "f", "A B\nA B C\nA B C D\n")
    got = pysqawk("-NF", "2", "-output", "tcl", "select * from a", f)
    assert got == (
        "{1 2 {A B} A B {} {}} {2 3 {A B C} A B C {}} {3 4 {A B C D} A B C D}"
    )


def test_nf_crop(tmp_path):
    f = write(tmp_path, "f", "A B\nA B C\nA B C D\n")
    got = pysqawk(
        "-NF", "2", "-MNF", "crop", "-output", "tcl", "select * from a", f
    )
    assert got == "{1 2 {A B} A B} {2 2 {A B C} A B} {3 2 {A B C D} A B}"


def test_nf_error(tmp_path):
    f = write(tmp_path, "f", "A B\nA B C\n")
    rc = cli.main(["-NF", "2", "-MNF", "error", "select * from a", f])
    assert rc == 1


def test_nf_zero_crop(tmp_path):
    # nf-1.1: NF=0 leaves only anr/anf/a0; anf counts kept fields
    f = write(tmp_path, "f", "A B\nA B C\nA B C D\n")
    got = pysqawk(
        "-NF", "0", "-MNF", "crop", "-output", "tcl", "select * from a", f
    )
    assert got == "{1 0 {A B}} {2 0 {A B C}} {3 0 {A B C D}}"


def test_nf_zero_crop_no_f0(tmp_path):
    # nf-1.5
    f = write(tmp_path, "f", "A B\nA B C\nA B C D\n")
    got = pysqawk(
        "-NF", "0", "-MNF", "crop", "-output", "tcl",
        "select * from a", "F0=false", f,
    )
    assert got == "{1 0} {2 0} {3 0}"


def test_nf_crop_pads_short_records(tmp_path):
    # nf-1.4: NF=3 — short records pad with NULL ({}), long ones crop
    # and anf reflects the CROPPED count
    f = write(tmp_path, "f", "A B\nA B C\nA B C D\n")
    got = pysqawk(
        "-NF", "3", "-MNF", "crop", "-output", "tcl", "select * from a", f
    )
    assert got == (
        "{1 2 {A B} A B {}} {2 3 {A B C} A B C} {3 3 {A B C D} A B C}"
    )


def test_nf_crop_no_f0_pads(tmp_path):
    # nf-1.8
    f = write(tmp_path, "f", "A B\nA B C\nA B C D\n")
    got = pysqawk(
        "-NF", "3", "-MNF", "crop", "-output", "tcl",
        "select * from a", "F0=false", f,
    )
    assert got == "{1 2 A B {}} {2 3 A B C} {3 3 A B C}"


def test_nf_crop_descending_widths(tmp_path):
    # nf-2.3: NF=4 with widths 4,3,2 — trailing NULLs per record
    f = write(tmp_path, "f", "A B C D\nA B C\nA B\n")
    got = pysqawk(
        "-NF", "4", "-MNF", "crop", "-output", "tcl", "select * from a", f
    )
    assert got == (
        "{1 4 {A B C D} A B C D} {2 3 {A B C} A B C {}} {3 2 {A B} A B {} {}}"
    )


def test_nf_error_message(tmp_path, capsys):
    # nf-4.1: message parity "table a has no column named a3"
    f = write(tmp_path, "f", "A B\nA B C\n")
    rc = cli.main(
        ["-NF", "2", "-MNF", "error", "-output", "tcl", "select * from a", f]
    )
    assert rc == 1
    assert "table a has no column named a3" in capsys.readouterr().err


def test_invalid_mnf_message(tmp_path, capsys):
    # nf-5.1: "invalid MNF value: foo"
    f = write(tmp_path, "f", "A B\n")
    rc = cli.main(["-MNF", "foo", "select * from a", f])
    assert rc == 1
    assert "invalid MNF value: foo" in capsys.readouterr().err


# --- custom functions (tests.tcl:1108-1156) ------------------------------


def test_lindex_nested():
    got = pysqawk(
        "-noinput", 'select lindex("{} {foo bar} baz", 1, 1) as r'
    )
    assert got == "bar"


def test_dict_get_nested():
    got = pysqawk(
        "-noinput",
        'select dict_get("k1 v1 k2 v2 k3 {nes ted}", "k3") as r',
    )
    assert got == "nes ted"


def test_regsub():
    got = pysqawk("-noinput", "select regsub('o', 'foo', '0') as r")
    assert got == "f00"


def test_llength():
    got = pysqawk("-noinput", "select llength('a b {c d}') as r")
    assert got == "3"


# --- output serializers (tests.tcl:793-944) ------------------------------


def test_output_awk_default(tmp_path):
    f = write(tmp_path, "f", "line 1\nline 2\nline 3")
    assert (
        pysqawk("-output", "awk", "select a0 from a", f)
        == "line 1\nline 2\nline 3"
    )


def test_output_csv(tmp_path):
    f = write(tmp_path, "f", "a,b\n1,2")
    assert (
        pysqawk("-output", "csv", "select a1 from a", f) == '"a,b"\n"1,2"'
    )


def test_output_tcl(tmp_path):
    f = write(tmp_path, "f", "1\t2\tHello, World!\t ")
    got = pysqawk(
        "-FS", "\t", "-output", "tcl", "select a1,a2,a3,a4 from a", f
    )
    assert got == "{1 2 {Hello, World!} { }}"


def test_output_tcl_kv(tmp_path):
    # output-3.2 (tests.tcl:809-818)
    f = write(tmp_path, "f", "1\t2\tHello, World!\t ")
    got = pysqawk(
        "-FS", "\t", "-output", "tcl,kv=1", "select a1,a2,a3,a4 from a", f
    )
    assert got == "{a1 1 a2 2 a3 {Hello, World!} a4 { }}"


def test_output_table_align_conflict(tmp_path, capsys):
    # output-4.5 (tests.tcl:883-895): align and alignments are
    # synonyms and may not be combined
    f = write(tmp_path, "f", "a,b\nc,d\n")
    rc = cli.main(
        [
            "-FS", ",",
            "-output", "table,align=l c,alignments=l c",
            "select a1,a2 from a", f,
        ]
    )
    assert rc == 1
    err = capsys.readouterr().err
    assert 'can\'t use synonym options "align" and "alignments"' in err


def test_output_tcl_kv_pretty(tmp_path):
    f = write(tmp_path, "f", "1\t2\nHello, World!\t ")
    got = pysqawk(
        "-FS", "\t", "-output", "tcl,kv=1,pretty=yes", "select a1,a2 from a", f
    )
    assert got == "{a1 1 a2 2}\n{a1 {Hello, World!} a2 { }}"


def test_output_table(tmp_path):
    f = write(tmp_path, "f", "a,b,c\nd,e,f\ng,h,i")
    got = pysqawk("-FS", ",", "-output", "table", "select a1,a2,a3 from a", f)
    assert got == (
        "┌─┬─┬─┐\n│a│b│c│\n├─┼─┼─┤\n│d│e│f│\n├─┼─┼─┤\n│g│h│i│\n└─┴─┴─┘"
    )


def test_output_table_alignments(tmp_path):
    f = write(tmp_path, "f", "hello,space,world\nfoo,bar,baz")
    got = pysqawk(
        "-FS",
        ",",
        "-output",
        "table,alignments=left center right",
        "select a1,a2,a3 from a",
        f,
    )
    assert got == (
        "┌─────┬─────┬─────┐\n│hello│space│world│\n├─────┼─────┼─────┤\n"
        "│foo  │ bar │  baz│\n└─────┴─────┴─────┘"
    )


def test_output_table_margins_lofi(tmp_path):
    f = write(tmp_path, "f", "a b c\nd e f")
    got = pysqawk(
        "-output", "table,margins=1,style=loFi", "select a1,a2,a3 from a", f
    )
    assert got == (
        "+---+---+---+\n| a | b | c |\n+---+---+---+\n| d | e | f |\n+---+---+---+"
    )


def test_output_json(tmp_path):
    f = write(tmp_path, "f", "a,b,c\nd,e,f\ng,h,i")
    got = pysqawk("-FS", ",", "-output", "json", "select a1,a2,a3 from a", f)
    assert got == (
        '[{"a1":"a","a2":"b","a3":"c"},'
        '{"a1":"d","a2":"e","a3":"f"},'
        '{"a1":"g","a2":"h","a3":"i"}]'
    )


def test_output_json_kv0(tmp_path):
    f = write(tmp_path, "f", "a,b,c\nd,e,f\ng,h,i")
    got = pysqawk(
        "-FS", ",", "-output", "json,kv=0", "select a1,a2,a3 from a", f
    )
    assert got == '[["a","b","c"],["d","e","f"],["g","h","i"]]'


def test_output_json_pretty(tmp_path):
    f = write(tmp_path, "f", "a,b\nc,d\ne,f")
    got = pysqawk(
        "-FS",
        ",",
        "-output",
        "json,kv=true,pretty=true",
        "select a1,a2,a3 from a",
        f,
    )
    assert got == (
        '[{\n    "a1" : "a",\n    "a2" : "b",\n    "a3" : ""\n},'
        '{\n    "a1" : "c",\n    "a2" : "d",\n    "a3" : ""\n},'
        '{\n    "a1" : "e",\n    "a2" : "f",\n    "a3" : ""\n}]'
    )


# --- csv / json input formats (tests.tcl:527-757) ------------------------


def test_format_csv_quoted_unicode(tmp_path):
    f = write(tmp_path, "f", '1,2,"Hello, World!"\nΑλαμπουρνέζικα,3,4\n5,6,7\n')
    got = pysqawk(
        "-OFS", ";", "select a1,a2,a3 from a", "format=csv", f
    )
    assert got == "1;2;Hello, World!\nΑλαμπουρνέζικα;3;4\n5;6;7"


def test_format_csv_semicolon(tmp_path):
    f = write(tmp_path, "f", '1;2;"Hello; World!"\n3;4;5\n')
    got = pysqawk(
        "-OFS", ",", "select a1,a2,a3 from a", "format=csv", "csvsep=;", f
    )
    assert got == "1,2,Hello; World!\n3,4,5"


def test_format_csv_quoted_wellformed_stays_jvm(tmp_path, spark):
    """Well-formed quoted CSV must tokenize JVM-side (VERDICT r02 #3):
    no Python eval stage in the plan, and field values identical to
    the Python csv module. Malformed quoting (bare quote mid-field)
    falls back to the Python UDF for its non-strict recovery."""
    import csv as _csv
    import io as _io

    from sqawk_spark.sources.base import FileSpec
    from sqawk_spark.sources.csv import records

    wf_lines = ['a,"b,c",d', '"a""b",c', 'a,,b', '"",x', 'a,', '""""']
    f = write(tmp_path, "wf.csv", "\n".join(wf_lines) + "\n")
    df = records(spark, FileSpec(filename=f, format="csv"), f)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    got = {r["a0"]: list(r["fields"]) for r in df.collect()}
    for ln in wf_lines:
        want = next(_csv.reader(_io.StringIO(ln), doublequote=True))
        assert got[ln] == want, f"{ln!r}: {got[ln]} != {want}"

    mal = write(tmp_path, "mal.csv", 'a"b,c\n"a"tail,d\n')
    df2 = records(spark, FileSpec(filename=mal, format="csv"), mal)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" in plan2


def test_csv_jvm_tokenizer_roundtrip_property(tmp_path, spark):
    """Seeded writer-roundtrip property: csv.writer output (always
    well-formed) must tokenize JVM-side to exactly what csv.reader
    yields, across dialects — including a '-' separator (the char-
    class edge) and a single-quote quote char."""
    import csv as _csv
    import io as _io
    import random as _random

    from sqawk_spark.sources.base import FileSpec
    from sqawk_spark.sources.csv import records

    rng = _random.Random(42)
    for sep, quote in ((",", '"'), (";", "'"), ("-", '"')):
        alphabet = "ab c" + quote + sep + "é"
        rows = [
            [
                "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 8)))
                for _ in range(rng.randint(1, 5))
            ]
            for _ in range(120)
        ]
        buf = _io.StringIO()
        w = _csv.writer(
            buf, delimiter=sep, quotechar=quote, doublequote=True,
            lineterminator="\n",
        )
        w.writerows(rows)
        f = write(tmp_path, f"prop_{ord(sep)}.csv", buf.getvalue())
        spec = FileSpec(
            filename=f, format="csv",
            options={"csvsep": sep, "csvquote": quote},
        )
        df = records(spark, spec, f)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, f"sep={sep!r} fell back to Python"
        got = {r["a0"]: list(r["fields"]) for r in df.collect()}
        for line in buf.getvalue().splitlines():
            want = next(
                _csv.reader(
                    _io.StringIO(line), delimiter=sep, quotechar=quote,
                    doublequote=True,
                )
            ) if line else [""]
            assert got[line] == want, f"{line!r}: {got[line]} != {want}"


def test_format_json_kv_union(tmp_path):
    # F8: key drift — union of keys, first-object order then alpha
    f = write(tmp_path, "f", '[{"foo":1,"bar":2},{"foo":3,"bar":4,"baz":5}]')
    got = pysqawk(
        "-output",
        "json",
        "select foo, bar, baz from a",
        "format=json",
        "kv=1",
        "header=1",
        f,
    )
    assert got == '[{"foo":"1","bar":"2","baz":""},{"foo":"3","bar":"4","baz":"5"}]'


def test_format_json_arrays(tmp_path):
    f = write(tmp_path, "f", "[[1,2,3,4,5],[6,7,8,9,10]]")
    got = pysqawk(
        "-OFS", "|", "select a1,a2,a3,a4,a5 from a", "format=json", "kv=0", f
    )
    assert got == "1|2|3|4|5\n6|7|8|9|10"


def test_format_json_lines(tmp_path):
    f = write(tmp_path, "f", "[100]\r\n\r\n  \t\r\n[101]\r\n \r\n")
    got = pysqawk(
        "select a1 from a", "format=json", "kv=0", "lines=1", f
    )
    assert got == "100\n101"


def test_format_json_kv_header_row_inserted(tmp_path):
    # format-3.3 (tests.tcl:682-690): WITHOUT header=1 the key-union
    # header becomes record 1; missing keys render as empty fields.
    # a0 of a kv record is the flattened "k v" dict text.
    f = write(tmp_path, "f", '[{"b":  2}, {"a":   1   }]')
    got = pysqawk(
        "-OFS", "|", "-NF", "3", "select * from a", "format=json", f
    )
    assert got == "1|2|b a|b|a|\n2|2|b 2|2||\n3|2|a 1||1|"


def test_format_json_scalar_flattening(tmp_path):
    # format-3.4 (tests.tcl:705-717): booleans render as true/false,
    # JSON null becomes the STRING "null" (the reference's Tcl JSON
    # lib has no null); missing trailing fields still render empty
    f = write(tmp_path, "f", '[1,2,3]\n["a","b"]\n[true,false,null]\n')
    got = pysqawk(
        "-OFS", "|", "select anr, anf, a0, a1, a2, a3 from a",
        "format=json", "kv=0", "lines=1", f,
    )
    assert got == (
        "1|3|1 2 3|1|2|3\n2|2|a b|a|b|\n"
        "3|3|true false null|true|false|null"
    )


def test_format_json_empty_input(tmp_path):
    # format-3.8: empty input, empty output, no error
    f = write(tmp_path, "f", "")
    got = pysqawk(
        "-OFS", "|", "-NF", "2",
        "select * from a", "format=json", "kv=0", "lines=1", f,
    )
    assert got == ""


# --- tcl input format (tests.tcl:1408+ format-2.*) -----------------------


def test_format_tcl_kv_header_row_inserted(tmp_path):
    # format-2.3 (tests.tcl:573-581): Tcl-dict twin of format-3.3 —
    # key union in first-record order, whitespace-normalized a0
    f = write(tmp_path, "f", "{ b  2} {a   1  }")
    got = pysqawk(
        "-OFS", "|", "-NF", "3", "select * from a", "format=tcl", "kv=1", f
    )
    assert got == "1|2|b a|b|a|\n2|2| b  2|2||\n3|2|a   1  ||1|"


def test_format_tcl_lists(tmp_path):
    f = write(tmp_path, "f", "{1 2 3   4   5       } {6 7 8 9 10}")
    got = pysqawk("-OFS", "|", "select * from a", "format=tcl", f)
    assert got == (
        "1|5|1 2 3   4   5       |1|2|3|4|5|||||\n"
        "2|5|6 7 8 9 10|6|7|8|9|10|||||"
    )


def test_format_tcl_kv_header(tmp_path):
    f = write(tmp_path, "f", "{foo 1 bar 2} {foo 3 bar 4 baz 5}")
    got = pysqawk(
        "-output",
        "json",
        "select foo, bar, baz from a",
        "format=tcl",
        "kv=1",
        "header=1",
        f,
    )
    assert got == '[{"foo":"1","bar":"2","baz":""},{"foo":"3","bar":"4","baz":"5"}]'


def test_format_tcl_kv_lines_header(tmp_path):
    # format-2.5 (tests.tcl:596-607): kv lines mode skips blank and
    # whitespace-only lines; header row consumed; anf counts header
    # width for short records
    f = write(tmp_path, "f", "k1 1 k2 2 k3 3\n  \n\nk1 a k2 b\n")
    got = pysqawk(
        "-OFS", "|", "select anr, anf, a0, k1, k2, k3 from a",
        "format=tcl", "kv=1", "lines=1", "header=1", f,
    )
    assert got == "1|3|k1 1 k2 2 k3 3|1|2|3\n2|3|k1 a k2 b|a|b|"


# --- stdin ---------------------------------------------------------------


def test_stdin_source():
    got = pysqawk("-FS", ",", "select a2 from a", stdin="x,1\ny,2\n")
    assert got == "1\n2"


# --- chunked-input scale smoke (tests.tcl:505-525) -----------------------


def test_chunked_sum(tmp_path):
    n = 15000
    f = write(tmp_path, "big", "2 3\n" * n)
    got = pysqawk("select sum(a1) as s from a", f)
    assert got == str(2 * n)


# --- multi-statement scripts (tests.tcl:191-200, table-1.1) ---------------


def test_multistatement_script(tmp_path):
    f1 = write(tmp_path, "f1", "1 2\n3 4\n")
    f2 = write(tmp_path, "f2", "5 6\n")
    got = pysqawk(
        "select foo2 from foo; select b2 from b",
        "table=foo",
        "prefix=foo",
        f1,
        f2,
    )
    assert got == "2\n4\n6"


def test_semicolon_inside_string_literal(tmp_path):
    f = write(tmp_path, "f", "x y\n")
    got = pysqawk("select ';' as s, a1 from a", f)
    assert got == "; x"


# --- regex RS (lib/parsers/awk.tcl: RS is a regex) ------------------------


def test_regex_rs(tmp_path):
    f = write(tmp_path, "f", "a b_+_c d_")
    got = pysqawk("-RS", "_[+]?_?", "select a1, a2 from a", f)
    assert got == "a b\nc d"


def test_literal_rs_takes_splittable_reader(tmp_path, spark):
    """A regex-metachar-free RS must use the custom lineSep reader
    (splittable — no whole-file memory ceiling), with semantics
    identical to the regex branch: trailing separator's empty record
    drops, interior empties survive."""
    from sqawk_spark.sources.awk import records as awk_records
    from sqawk_spark.sources.base import FileSpec

    f = write(tmp_path, "f", "a b;;c d;")
    got = pysqawk("-RS", ";", "select a1, a2 from a", f)
    # interior empty record kept (renders as two empty fields + OFS)
    assert got == "a b\n \nc d"

    spec = FileSpec(filename=f, format="awk", options={"RS": ";"})
    df = awk_records(spark, spec, f)
    scan = df._jdf.queryExecution().executedPlan().toString()
    assert "wholetext" not in scan.lower()

    f2 = write(tmp_path, "f2", "a bXXc dXX")
    assert pysqawk("-RS", "XX", "select a1, a2 from a", f2) == "a b\nc d"


# --- error handling (tests.tcl:85-99) ------------------------------------


def test_error_bad_query(tmp_path, capsys):
    f = write(tmp_path, "f", "x\n")
    rc = cli.main(["asdf", f])
    assert rc == 1
    assert capsys.readouterr().err.startswith("error:")


def test_error_missing_file(capsys):
    rc = cli.main(["-1", "select a0 from a", "missing-file"])
    assert rc == 1
    err = capsys.readouterr().err
    assert "missing-file" in err and err.startswith("error:")


def test_error_invalid_mnf(tmp_path, capsys):
    f = write(tmp_path, "f", "x\n")
    rc = cli.main(["select a1 from a", "MNF=bogus", f])
    assert rc == 1
    assert capsys.readouterr().err.startswith("error:")


# --- B24 scalar library: typeof / glob / date-time (SQLite parity) -------


def test_typeof(tmp_path):
    f = write(tmp_path, "f", "001 x 1.5\n")
    got = pysqawk(
        "select typeof(a1), typeof(a2), typeof(a3), typeof(a4) from a", f
    )
    # a1 canonicalized to integer 1; a4 beyond NF is NULL
    assert got == "integer text real null"


def test_glob_function(tmp_path):
    f = write(tmp_path, "f", "abc adc axx\n")
    got = pysqawk(
        "select glob('a*c', a1), glob('a[^b]c', a2), glob('a?c', a3) from a",
        f,
    )
    # booleans render as 1/0, matching SQLite's integer booleans
    assert got == "1 1 0"


def test_glob_udf_backslash_class(tmp_path):
    """SQLite treats backslash literally inside [...]; the dynamic-
    pattern UDF path must match '\\' or 'd' for '[\\d]', not digits
    (ADVICE r1: previously translated to a regex \\d escape)."""
    f = write(
        tmp_path,
        "f",
        "a\\z a[\\d]z\nadz a[\\d]z\naxz a[\\d]z\na1z a[\\d]z\n",
    )
    got = pysqawk("select a1 from a where glob(a2, a1)", f)
    assert got == "a\\z\nadz"


def test_strftime_nonfinite_timevalue_is_null(tmp_path):
    """SQLite's strftime returns NULL for unusable time values; 'inf'
    or out-of-range julian days must not abort the UDF (ADVICE r1)."""
    got = pysqawk(
        "-noinput",
        "select coalesce(strftime('%Y', 'inf'), 'NULL'),"
        " coalesce(strftime('%Y', '1e300'), 'NULL'),"
        " coalesce(date('nan'), 'NULL')",
    )
    assert got == "NULL NULL NULL"


def test_strftime_and_date_functions(tmp_path):
    # ground truth from real SQLite:
    #   strftime('%Y-%m-%d %H:%M:%S', ...) = '2024-03-05 07:08:09'
    #   strftime('%j %w %W %s', ...)       = '065 2 10 1709622489'
    #   julianday('2024-03-05')            = 2460374.5
    f = write(tmp_path, "f", "2024-03-05T07:08:09\n")
    got = pysqawk(
        "select datetime(a1), date(a1), time(a1) from a", "FS=@", f
    )
    assert got == "2024-03-05 07:08:09 2024-03-05 07:08:09"
    got = pysqawk("select strftime('%j %w %W %s', a1) from a", "FS=@", f)
    assert got == "065 2 10 1709622489"
    got = pysqawk("select julianday('2024-03-05') as j from a", "FS=@", f)
    assert got == "2460374.5"


def test_strftime_modifiers_match_sqlite(tmp_path):
    """Date-function modifier arguments ('+N days', 'start of month',
    'weekday N', 'unixepoch'), applied left to right — every expected
    value checked live against the system SQLite (VERDICT r02
    next-round #6), including the day-overflow rollover for month
    arithmetic (Jan 31 + 1 month = Mar 2/3)."""
    import sqlite3 as _sq

    exprs = [
        "date(a1, '+1 day')",
        "date(a1, '-45 days')",
        "datetime(a1, '+3 hours', '+30 minutes')",
        "date(a1, 'start of month')",
        "date(a1, 'start of year')",
        "datetime(a1, 'start of day')",
        "date(a1, '+1 month')",
        "date('2024-01-31', '+1 month')",
        "date('2023-01-31', '+1 month')",
        "date('2024-02-29', '+1 year')",
        "date(a1, 'weekday 0')",
        "date(a1, 'weekday 2')",
        "datetime('1709622489', 'unixepoch')",
        "datetime(a1, 'start of month', '+1 month', '-1 day')",
        "julianday(a1, '+1 day')",
        "strftime('%Y-%m-%d', a1, '+10 days')",
        "coalesce(date(a1, 'no such modifier'), 'NULL')",
    ]
    con = _sq.connect(":memory:")
    tv = "2024-03-05 07:08:09"
    want = [
        str(con.execute(f"select {e}", ()).fetchone()[0])
        for e in [e.replace("a1", f"'{tv}'") for e in exprs]
    ]
    f = write(tmp_path, "f", tv + "\n")
    # field-by-field compare (datetime values contain spaces → use a
    # distinctive OFS)
    got_fields = pysqawk(
        "-OFS", "\t", "select " + ", ".join(exprs) + " from a", "FS=@", f
    ).split("\t")
    assert got_fields == want


def test_quote_char_hint_functions_match_sqlite(tmp_path):
    """SQLite core-function parity batch: quote(), char(), and the
    planner-hint no-ops likely()/unlikely()/likelihood() — expected
    values come live from the system SQLite."""
    import sqlite3 as _sq

    exprs = [
        "quote('it''s')",
        "quote(a1)",
        "quote(NULL)",
        "quote(42)",
        "char(104, 105)",
        "char(104, NULL, 33)",
        "likely(a1)",
        "unlikely(7)",
        "likelihood(a1, 0.5)",
        "length(likelihood(a1, 0.0625)) + 1",
    ]
    con = _sq.connect(":memory:")
    want = [
        str(con.execute(f"select {e}".replace("a1", "'abc'")).fetchone()[0])
        for e in exprs
    ]
    f = write(tmp_path, "f", "abc\n")
    got = pysqawk(
        "-OFS", "\t", "select " + ", ".join(exprs) + " from a", "FS=@", f
    ).split("\t")
    assert got == want


def test_scalar_minmax_and_two_arg_trim_match_sqlite(tmp_path):
    """SQLite's dual-form min/max (two+ args = scalar, one = aggregate,
    NULL if ANY argument is NULL) and set-based two-argument
    trim/ltrim/rtrim — expected values from the system SQLite; the
    one-argument aggregate form must keep aggregating."""
    import sqlite3 as _sq

    exprs = [
        "max(a1, 10)",
        "min(a1, 10)",
        "max(1, a1, 7)",
        "coalesce(min(a1, NULL), 'isnull')",
        "trim('xxhixx', 'x')",
        "ltrim('xyxhix', 'xy')",
        "rtrim('hixyx', 'yx')",
        "trim('  padded  ')",
    ]
    con = _sq.connect(":memory:")
    want = [
        str(con.execute(f"select {e}".replace("a1", "5")).fetchone()[0])
        for e in exprs
    ]
    f = write(tmp_path, "f", "5\n")
    got = pysqawk(
        "-OFS", "\t", "select " + ", ".join(exprs) + " from a", "FS=@", f
    ).split("\t")
    assert got == want
    # the aggregate form still aggregates
    f2 = write(tmp_path, "f2", "3\n9\n6\n")
    assert pysqawk("select min(a1), max(a1) from a", f2) == "3 9"


def test_native_scalar_passthrough_matches_sqlite(tmp_path):
    """SQLite core functions that Spark implements natively with the
    same semantics must stay native (no UDF, no rewrite): hex of text
    bytes, 1-based instr with 0-miss, replace, negative-start substr,
    ifnull, sign, abs/round."""
    import sqlite3 as _sq

    exprs = [
        "hex('hi')",
        "instr('hello', 'll')",
        "instr('hello', 'zz')",
        "replace('banana', 'an', 'AN')",
        "substr('abcdef', -3)",
        "substr('abcdef', 2, 3)",
        "ifnull(NULL, 'fb')",
        "sign(-42)",
        "abs(-7)",
        "round(2.675, 2)",
    ]
    con = _sq.connect(":memory:")
    want = [str(con.execute(f"select {e}").fetchone()[0]) for e in exprs]
    f = write(tmp_path, "f", "x\n")
    got = pysqawk(
        "-OFS", "\t", "select " + ", ".join(exprs) + " from a", "FS=@", f
    ).split("\t")
    assert got == want


def test_output_table_cjk_width(tmp_path):
    """Wide CJK chars count as 2 columns (reference lib/tabulate.tcl:
    8-158): every rendered line must have the same display width."""
    from sqawk_spark.serializers.table import display_width

    f = write(tmp_path, "f", "汉字 ab\nx y\n")
    got = pysqawk("-output", "table", "select a1, a2 from a", f)
    lines = got.splitlines()
    widths = {display_width(ln) for ln in lines}
    assert len(widths) == 1, lines
    assert any("汉字" in ln for ln in lines)


def test_sqlite_aggregate_names(tmp_path):
    f = write(tmp_path, "f", "1 x\n2 y\n3 z\n")
    # total() always carries result class REAL (lang_aggfunc.html):
    # '6.0', not '6' — matches real SQLite (the old integral-collapse
    # divergence was removed by the result-class item rendering)
    assert pysqawk("select total(a1) as t from a", f) == "6.0"
    assert pysqawk("select group_concat(a2) as g from a", f) == "x,y,z"
    assert pysqawk("select total(a3) as t from a", f) == "0.0"


def test_iif_unicode_version(tmp_path):
    f = write(tmp_path, "f", "5 A\n")
    assert pysqawk("select iif(a1 > 3, 'big', 'small') from a", f) == "big"
    assert pysqawk("select unicode(a2) from a", f) == "65"
    out = pysqawk("select sqlite_version() from a", f)
    assert out.count(".") == 2


def test_format_csv_unicode_golden(tmp_path):
    # format-1.1 (tests.tcl:527-538)
    f = write(tmp_path, "f", '1,2,"Hello, World!"\nΑλαμπουρνέζικα,3,4\n5,6,7')
    got = pysqawk("-OFS", "-", "select a1, a2, a3 from a", "format=csv", f)
    assert got == "1-2-Hello, World!\nΑλαμπουρνέζικα-3-4\n5-6-7"


def test_format_csvalt_semicolon_golden(tmp_path):
    # format-1.2 (tests.tcl:540-550)
    f = write(tmp_path, "f", '1;2;"Hello, World!"\nΑλαμπουρνέζικα;3;4\n5;6;7')
    got = pysqawk(
        "-OFS", "-", "select a1, a2, a3 from a",
        "format=csvalt", "csvsep=;", f,
    )
    assert got == "1-2-Hello, World!\nΑλαμπουρνέζικα-3-4\n5-6-7"


def test_header_double_quoted_identifiers(tmp_path):
    """header-1.2 (tests.tcl:244-259): SQLite resolves a double-quoted
    string as an identifier when it names a column — the dialect layer
    reproduces this against the loaded schemas."""
    f = write(
        tmp_path,
        "f",
        'id,a column with a long name,"even worse - quotes!"\n'
        "1,foo,!\n2,bar,%\n3,baz,$\n",
    )
    got = pysqawk(
        'select "a column with a long name" from a;'
        ' select `"even worse - quotes!"` from a',
        "FS=,",
        "header=1",
        f,
    )
    assert got == "foo\nbar\nbaz\n!\n%\n$"


def test_double_quoted_non_column_stays_literal(tmp_path):
    # the other half of the SQLite quirk: unresolvable "..." is a
    # string literal
    f = write(tmp_path, "f", "x\ny\n")
    assert (
        pysqawk('select "not a column" from a', f)
        == "not a column\nnot a column"
    )


def test_double_quoted_scoped_per_statement(tmp_path):
    """SQLite resolves the "name"-as-column fallback in the statement's
    own scope: with tables a and b both loaded, "b1" in a statement
    that only references table a is a string literal (ADVICE r1 —
    previously the rewrite used the union of all loaded columns and
    produced 'no such column: b1')."""
    fa = write(tmp_path, "fa", "x\ny\n")
    fb = write(tmp_path, "fb", "p q\n")
    got = pysqawk('select "b1" from a; select "b1" from b', fa, fb)
    assert got == "b1\nb1\np"


# --- header-3.* "columns" per-file option (tests.tcl:261-327) -----------


def test_columns_partial(tmp_path):
    # header-3.1: one name, rest keep auto names
    f = write(tmp_path, "f", "001 a\n002 b\n003 c\n")
    assert (
        pysqawk("select hello, a2 from a", "columns=hello", f)
        == "1 a\n2 b\n3 c"
    )


def test_columns_empty_entries_fall_through(tmp_path):
    # header-3.2: empty entries keep default names
    f = write(tmp_path, "f", "001 a\n002 b\n003 c\n")
    assert (
        pysqawk("select a1, a2 from a", "columns=,,world", f)
        == "1 a\n2 b\n3 c"
    )


def test_columns_name_with_space(tmp_path):
    # header-3.3 (reference uses "..." — SQLite resolves double-quoted
    # strings as identifiers; Spark needs backticks, see dialect note)
    f = write(tmp_path, "f", "001 a\n002 b\n003 c\n")
    assert (
        pysqawk("select `hello world` from a", "columns=hello world", f)
        == "1\n2\n3"
    )


def test_columns_two_names(tmp_path):
    # header-3.4 / 3.5: extra names beyond NF are ignored
    f = write(tmp_path, "f", "001 a\n002 b\n003 c\n")
    assert pysqawk("select world from a", "columns=hello,world", f) == "a\nb\nc"
    assert (
        pysqawk("select world from a", "columns=hello,world,of,tables", f)
        == "a\nb\nc"
    )


def test_columns_override_header(tmp_path):
    # header-3.6: columns= wins over header names
    f = write(tmp_path, "f", "001 a\n002 b\n003 c\n")
    assert (
        pysqawk("select hello from a", "header=1", "columns=hello,world", f)
        == "2\n3"
    )


def test_columns_tail_from_header(tmp_path):
    # header-3.7: unnamed tail takes header names
    f = write(tmp_path, "f", "001 a\n002 b\n003 c\n")
    assert (
        pysqawk("select hello, a from a", "header=1", "columns=hello", f)
        == "2 b\n3 c"
    )


def test_columns_empty_with_header(tmp_path):
    # header-3.8: columns= empty → all names from the header
    f = write(tmp_path, "f", "001 a\n002 b\n003 c\n")
    assert pysqawk("select a from a", "header=1", "columns=", f) == "b\nc"


def test_empty_invocation_prints_usage(capsys):
    # empty-script-1.1 (tests.tcl:1042-1049)
    rc = cli.main([])
    assert rc == 1
    err = capsys.readouterr().err
    assert "-help" in err and "Print this message" in err


def test_noinput_missing_table_message(capsys):
    # noinput-1.2 (tests.tcl:1058-1064): SQLite wording
    rc = cli.main(["-noinput", "select * from a"])
    assert rc == 1
    assert "no such table: a" in capsys.readouterr().err


def test_infix_glob(tmp_path):
    """SQLite's infix GLOB operator, rewritten to the glob() UDF by
    the dialect layer (dialect.py). Case-sensitive, unlike LIKE."""
    f = write(tmp_path, "f", "file.txt\nFILE.TXT\nnotes.md\nfile2.txt\n")
    assert (
        pysqawk("select a1 from a where a1 GLOB '*.txt'", f)
        == "file.txt\nfile2.txt"
    )
    assert (
        pysqawk("select a1 from a where a1 NOT GLOB '*.txt' order by anr", f)
        == "FILE.TXT\nnotes.md"
    )


def test_group_concat_two_arg(tmp_path):
    """group_concat(X, SEP) — 2-arg SQLite form via the dialect
    rewrite onto the fixed-arity group_concat2 UDF."""
    f = write(tmp_path, "f", "x 1\nx 2\ny 3\n")
    got = pysqawk(
        "select a1, group_concat(a2, '-') as g from a group by a1 order by a1",
        f,
    )
    assert got == "x 1-2\ny 3"


def test_string_agg_alias(tmp_path):
    """SQLite 3.44 string_agg(X, SEP) is group_concat's 2-arg form
    under the PostgreSQL name — the alias rewrite lowers it."""
    f = write(tmp_path, "f", "x 1\nx 2\ny 3\n")
    got = pysqawk(
        "select a1, string_agg(a2, '-') as g from a group by a1 order by a1",
        f,
    )
    assert got == "x 1-2\ny 3"


def test_format_alias(tmp_path):
    """SQLite 3.38 format() is printf() verbatim."""
    f = write(tmp_path, "f", "3 7\n")
    got = pysqawk("select format('%05d|%.2f', a1, a2) as s from a", f)
    assert got == "00003|7.00"


def test_string_agg_filter_clause(tmp_path):
    """string_agg must reach the group_concat FILTER lowering (the
    CAST-to-text path), not a bare CASE that floats integers."""
    f = write(tmp_path, "f", "x 1\nx 2\nx 3\n")
    got = pysqawk(
        "select string_agg(a2, ',') filter (where a2 > 1) as g from a",
        f,
    )
    assert got == "2,3"


@pytest.mark.skipif(
    not __import__("os").environ.get("SQAWK_SCALE_TEST"),
    reason="large-ingest smoke: set SQAWK_SCALE_TEST=1 (adds ~1 min)",
)
def test_large_ingest_parallel(tmp_path):
    """2M-record text ingest through the full CLI path (split, anr
    numbering, affinity, aggregation). The reference's scale test stops
    at 15k records (tests.tcl:505-525); this pins that the ingest path
    has no driver-side row loop — wall time must stay seconds-ish, and
    sum/count must be exact."""
    n = 2_000_000
    f = tmp_path / "big.txt"
    with open(f, "w") as fh:
        for i in range(0, n, 100_000):
            fh.write("".join(f"{j} {j % 7}\n" for j in range(i, i + 100_000)))
    got = pysqawk(
        "select count(*) as n, sum(a1) as s, max(anr) as m from a", str(f)
    )
    assert got == f"{n} {n*(n-1)//2} {n}"


# --- GROUPS window frames (SQLite >= 3.28; emulated via dense_rank) -----


def test_groups_frame_matches_sqlite(tmp_path):
    """GROUPS frames count peer groups, not rows or value distance;
    ground truth computed from the system SQLite on the same data
    (duplicate a1 values AND value gaps so GROUPS differs from both
    ROWS and RANGE)."""
    import sqlite3 as _sq

    rows = [
        (1, 10, "x"), (5, 20, "y"), (5, 30, "x"), (20, 40, "y"),
        (21, 50, "x"), (21, 60, "y"), (100, 70, "x"),
    ]
    con = _sq.connect(":memory:")
    con.execute("create table a (a1 int, a2 int, a3 text)")
    con.executemany("insert into a values (?,?,?)", rows)
    queries = [
        "select a1, sum(a2) over (order by a1 groups between 1 preceding"
        " and current row) as s from a order by a1, a2",
        "select a1, sum(a2) over (partition by a3 order by a1 desc groups"
        " between 1 preceding and 1 following) as s from a order by a1, a2",
    ]
    f = write(tmp_path, "f", "".join(f"{r[0]} {r[1]} {r[2]}\n" for r in rows))
    for q in queries:
        want = "\n".join(
            " ".join(str(v) for v in r) for r in con.execute(q)
        )
        assert pysqawk(q, f) == want


def test_groups_frame_after_where_matches_sqlite(tmp_path):
    """SQLite evaluates window frames AFTER WHERE: filtering out an
    entire peer group must not leave a rank gap that makes the RANGE
    emulation skip adjacent groups (ADVICE r03 high finding — with
    rows 1,5,20 and a1 <> 5, the frame for 20 must reach back to 1).
    Also covers an aliased FROM with qualified column references."""
    import sqlite3 as _sq

    rows = [
        (1, 10, "x"), (5, 20, "y"), (5, 30, "x"), (20, 40, "y"),
        (21, 50, "x"), (21, 60, "y"), (100, 70, "x"),
    ]
    con = _sq.connect(":memory:")
    con.execute("create table a (a1 int, a2 int, a3 text)")
    con.executemany("insert into a values (?,?,?)", rows)
    queries = [
        "select a1, sum(a2) over (order by a1 groups between 1 preceding"
        " and current row) as s from a where a1 <> 5 order by a1, a2",
        "select t.a1, sum(t.a2) over (partition by t.a3 order by t.a1"
        " groups between 1 preceding and 1 following) as s from a as t"
        " where t.a1 < 100 order by t.a1, t.a2",
    ]
    f = write(tmp_path, "f", "".join(f"{r[0]} {r[1]} {r[2]}\n" for r in rows))
    for q in queries:
        want = "\n".join(
            " ".join(str(v) for v in r) for r in con.execute(q)
        )
        assert pysqawk(q, f) == want


def test_groups_frame_over_join_matches_sqlite(tmp_path):
    """GROUPS frames over a joined FROM (VERDICT r02 next-round #7):
    the dense_rank subquery wraps the whole join source, ranks are
    computed on the joined-and-filtered rowset, and sqawk's per-table
    column prefixes keep the inner SELECT * unambiguous."""
    import sqlite3 as _sq

    a_rows = [(1, 10), (5, 20), (20, 40), (21, 50)]
    b_rows = [(1, "x"), (5, "y"), (20, "x"), (21, "y"), (99, "z")]
    con = _sq.connect(":memory:")
    con.execute("create table a (a1 int, a2 int)")
    con.execute("create table b (b1 int, b2 text)")
    con.executemany("insert into a values (?,?)", a_rows)
    con.executemany("insert into b values (?,?)", b_rows)
    queries = [
        "select a1, b2, sum(a2) over (order by a1 groups between 1"
        " preceding and current row) as s from a join b on a1 = b1"
        " order by a1",
        "select a1, sum(a2) over (partition by b2 order by a1 groups"
        " between 1 preceding and 1 following) as s from a, b"
        " where a1 = b1 and a1 <> 5 order by a1",
    ]
    fa = write(tmp_path, "fa", "".join(f"{r[0]} {r[1]}\n" for r in a_rows))
    fb = write(tmp_path, "fb", "".join(f"{r[0]} {r[1]}\n" for r in b_rows))
    for q in queries:
        want = "\n".join(
            " ".join(str(v) for v in r) for r in con.execute(q)
        )
        assert pysqawk(q, fa, fb) == want


# --- DML/DDL in scripts (SURVEY 2.B27; scripts are evaled verbatim in
# the reference, so this surface is reachable there) -------------------


def test_dml_insert_values_and_select(tmp_path):
    f = write(tmp_path, "f", "1 10\n2 20\n")
    got = pysqawk(
        "insert into a (a1, a2) values (3, 30), (4, 40);"
        " select a1, a2 from a order by a1",
        f,
    )
    assert got == "1 10\n2 20\n3 30\n4 40"


def test_dml_insert_select_doubles_rows(tmp_path):
    f = write(tmp_path, "f", "1 10\n2 20\n")
    got = pysqawk(
        "insert into a select * from a; select count(*) from a", f
    )
    assert got == "4"


def test_dml_update_where_matches_sqlite(tmp_path):
    import sqlite3 as _sq

    rows = [(1, 10), (2, 20), (3, 30)]
    con = _sq.connect(":memory:")
    con.execute("create table a (a1 integer, a2 integer)")
    con.executemany("insert into a values (?,?)", rows)
    con.execute("update a set a2 = a2 * 2 where a1 >= 2")
    con.execute("delete from a where a2 > 50")
    want = "\n".join(
        " ".join(map(str, r))
        for r in con.execute("select a1, a2 from a order by a1")
    )
    f = write(tmp_path, "f", "".join(f"{x} {y}\n" for x, y in rows))
    got = pysqawk(
        "update a set a2 = a2 * 2 where a1 >= 2;"
        " delete from a where a2 > 50;"
        " select a1, a2 from a order by a1",
        f,
    )
    assert got == want


def test_dml_delete_keeps_null_predicate_rows(tmp_path):
    # SQLite deletes only rows where the predicate is TRUE; a NULL
    # comparison (empty field -> NULL-ish arithmetic) must survive
    f = write(tmp_path, "f", "1 5\n2 50\n3 7\n")
    got = pysqawk(
        "delete from a where a2 > 10; select a1 from a order by a1", f
    )
    assert got == "1\n3"


def test_dml_create_table_as_and_drop(tmp_path):
    f = write(tmp_path, "f", "1 x\n2 y\n")
    got = pysqawk(
        "create table big as select a1 * 100 as v from a;"
        " select v from big order by v",
        f,
    )
    assert got == "100\n200"


def test_dml_drop_then_query_errors(tmp_path, capsys):
    f = write(tmp_path, "f", "1 x\n")
    rc = cli.main(["drop table a; select 1 from a", f])
    assert rc == 1
    err = capsys.readouterr().err
    assert "no such table" in err or "TABLE_OR_VIEW_NOT_FOUND" in err


def test_dml_drop_if_exists_is_silent(tmp_path):
    f = write(tmp_path, "f", "1\n")
    got = pysqawk("drop table if exists nosuch; select a1 from a", f)
    assert got == "1"


def test_dml_create_empty_table_with_affinity(tmp_path):
    got = pysqawk(
        "-noinput",
        "create table t (name TEXT, n INTEGER, x REAL);"
        " insert into t values ('a', 1, 1.5);"
        " select name, n, x from t",
    )
    assert got == "a 1 1.5"


# --- format=parquet (engine-native extension) ---------------------------


def test_parquet_format_real_and_positional_names():
    got = pysqawk(
        "-output", "awk",
        "select anr, a1, l_partkey from a where anr <= 2 order by anr",
        "format=parquet", "/root/testdata/sf0.001/lineitem.parquet",
    )
    rows = [line.split() for line in got.split("\n")]
    assert rows[0][0] == "1" and rows[1][0] == "2"
    # a1 is the positional alias of l_orderkey; l_partkey is the real name
    assert all(len(r) == 3 for r in rows)


def test_parquet_format_matches_duckdb():
    import duckdb

    want = duckdb.connect().execute(
        "select count(*), round(sum(l_quantity), 2)"
        " from '/root/testdata/sf0.001/lineitem.parquet'"
    ).fetchone()
    got = pysqawk(
        "select count(*) as n, round(sum(l_quantity), 2) as s from a",
        "format=parquet", "/root/testdata/sf0.001/lineitem.parquet",
    )
    n, s = got.split()
    assert (int(n), float(s)) == (want[0], float(want[1]))


def test_parquet_format_keeps_types():
    # typed join between a parquet table and itself: numeric comparison
    # must behave numerically, not lexically (no text round trip)
    got = pysqawk(
        "select max(l_quantity) from a where l_quantity < 10",
        "format=parquet", "/root/testdata/sf0.001/lineitem.parquet",
    )
    assert float(got) < 10


# --- -output parquet (engine-native distributed write) ------------------


def test_output_parquet_single_statement(tmp_path):
    import duckdb

    f = write(tmp_path, "f", "1 10\n2 20\n3 30\n")
    dest = str(tmp_path / "out")
    got = pysqawk(
        "-output", f"parquet,dir={dest}",
        "select a1, a2 * 2 as dbl from a", f,
    )
    assert got == ""
    rows = duckdb.connect().execute(
        f"select a1, dbl from '{dest}/*.parquet' order by a1"
    ).fetchall()
    assert rows == [(1, 20), (2, 40), (3, 60)]


def test_output_parquet_partition_by(tmp_path):
    """partitionBy=col hive-partitions the sink: one subdirectory per
    value, readable with partition pruning downstream."""
    import os as _os

    import duckdb

    f = write(tmp_path, "f", "1 x\n2 y\n3 x\n")
    dest = str(tmp_path / "out")
    got = pysqawk(
        "-output", f"parquet,dir={dest},partitionBy=a2",
        "select a1, a2 from a", f,
    )
    assert got == ""
    subdirs = sorted(
        d for d in _os.listdir(dest) if d.startswith("a2=")
    )
    assert subdirs == ["a2=x", "a2=y"]
    rows = duckdb.connect().execute(
        f"select a1, a2 from read_parquet('{dest}/*/*.parquet', "
        "hive_partitioning=true) order by a1"
    ).fetchall()
    assert rows == [(1, "x"), (2, "y"), (3, "x")]


def test_output_parquet_multi_statement_and_dml(tmp_path):
    import duckdb

    f = write(tmp_path, "f", "1\n2\n")
    dest = str(tmp_path / "out")
    pysqawk(
        "-output", f"parquet,dir={dest}",
        "insert into a (a1) values (3);"
        " select a1 from a; select count(*) as n from a",
        f,
    )
    con = duckdb.connect()
    assert sorted(
        r[0]
        for r in con.execute(
            f"select a1 from '{dest}/s1/*.parquet'"
        ).fetchall()
    ) == [1, 2, 3]
    assert con.execute(
        f"select n from '{dest}/s2/*.parquet'"
    ).fetchone()[0] == 3


# --- format=orc (engine-native extension) --------------------------------


def test_orc_format_roundtrip(spark, tmp_path):
    """ORC rides the same typed shaping path as parquet: real column
    names + positional aliases + <p>nr numbering."""
    src = spark.createDataFrame(
        [(3, "c"), (1, "a"), (2, "b")], "k int, v string"
    )
    dest = str(tmp_path / "t.orc")
    src.orderBy("k").coalesce(1).write.orc(dest)
    got = pysqawk(
        "select anr, k, a2 from a order by k",
        "format=orc", dest,
    )
    assert got == "1 1 a\n2 2 b\n3 3 c"


def test_groups_exclude_minmax_cli_matches_sqlite(tmp_path):
    """min/max GROUPS ... EXCLUDE GROUP/TIES through the full CLI path
    (dialect rewrite included); ground truth from the system SQLite."""
    import sqlite3 as _sq

    rows = [
        (1, 10, "x"), (5, 20, "y"), (5, 30, "x"), (20, 40, "y"),
        (21, 50, "x"), (21, 60, "y"), (100, 70, "x"),
    ]
    con = _sq.connect(":memory:")
    con.execute("create table a (a1 int, a2 int, a3 text)")
    con.executemany("insert into a values (?,?,?)", rows)
    queries = [
        "select a1, min(a2) over (order by a1 groups between 1 preceding"
        " and 1 following exclude group) as s from a order by a1, a2",
        "select a1, max(a2) over (partition by a3 order by a1 groups"
        " between 1 preceding and 1 following exclude ties) as s"
        " from a order by a1, a2",
        "select a1, min(a2) over (order by a1 groups between 1 preceding"
        " and 1 following exclude current row) as s from a order by a1, a2",
    ]
    f = write(tmp_path, "f", "".join(f"{r[0]} {r[1]} {r[2]}\n" for r in rows))
    for q in queries:
        want = "\n".join(
            " ".join("" if v is None else str(v) for v in r)
            for r in con.execute(q)
        )
        assert pysqawk(q, f) == want


def test_gzip_input_transparent(tmp_path):
    """Compressed text inputs decompress transparently (Spark codec
    discovery by extension) — same rows as the plain file. Scale note
    lives in README: gzip is NOT splittable, one task per .gz file,
    so shard compressed corpora into many files."""
    import gzip

    p = tmp_path / "in.txt.gz"
    with gzip.open(p, "wt") as f:
        f.write("1 a\n2 b\n3 c\n")
    got = pysqawk("select a1, a2 from a order by a1", str(p))
    assert got == "1 a\n2 b\n3 c"


# --- FILTER (WHERE ...) aggregate clause (SQLite >= 3.30 surface) -------


def test_filter_clause_aggregates(tmp_path):
    f = write(tmp_path, "f", "x 1\ny 2\nx 3\ny 4\nx 5\n")
    assert (
        pysqawk(
            "select a1, count(*) filter (where a2 > 1) as n "
            "from a group by a1 order by a1",
            f,
        )
        == "x 2\ny 2"
    )
    # total() lowers to a JVM sum with FILTER's CASE composition, and
    # its REAL result class renders '8.0' — matching real SQLite.
    assert (
        pysqawk(
            "select a1, total(a2) filter (where a2 > 2) as s "
            "from a group by a1 order by a1",
            f,
        )
        == "x 8.0\ny 4.0"
    )


def test_filter_clause_over_window(tmp_path):
    # SQLite allows FILTER on window functions; Spark does not — the
    # CASE lowering makes it work (verified vs real SQLite in
    # tests/test_filter_clause.py)
    f = write(tmp_path, "f", "1 10\n2 0\n3 30\n4 0\n")
    assert (
        pysqawk(
            "select a1, count(*) filter (where a2 > 0) over "
            "(order by a1 rows between 1 preceding and current row) "
            "as c from a order by a1",
            f,
        )
        == "1 1\n2 1\n3 1\n4 1"
    )


def test_bare_column_with_max(tmp_path):
    # SQLite bare-column rule: non-grouped a3 comes from the max-a2
    # row (lowered to max_by; verified vs real SQLite in
    # tests/test_filter_clause.py)
    f = write(tmp_path, "f", "x 1 a\nx 3 b\ny 2 c\n")
    assert (
        pysqawk(
            "select a1, a3, max(a2) as m from a group by a1 order by a1",
            f,
        )
        == "x b 3\ny c 2"
    )


def test_limit_comma_form(tmp_path):
    # SQLite LIMIT n, m == LIMIT m OFFSET n (operands swap)
    f = write(tmp_path, "f", "1\n2\n3\n4\n5\n")
    assert (
        pysqawk("select a1 from a order by a1 limit 1, 2", f) == "2\n3"
    )
    assert (
        pysqawk("select a1 from a order by a1 limit 0, 2", f) == "1\n2"
    )


def test_order_by_collate_nocase(tmp_path):
    # SQLite NOCASE folds ASCII only (translate, not lower)
    f = write(tmp_path, "f", "b\nA\nZ\na\n")
    assert (
        pysqawk("select a1 from a order by a1 collate nocase, a1", f)
        == "A\na\nb\nZ"
    )


def test_groups_exclude_group_concat_emulated(tmp_path):
    """GROUPS ... EXCLUDE with group_concat is emulated by the
    directional run decomposition (sub-frame concats joined by the
    separator) — exact for distinct ORDER BY keys; among tied keys the
    element order is unspecified in SQLite too. Closes the last
    VERDICT r05 "What's missing" item; fuzzed vs real SQLite in
    test_groups_property.py."""
    f = write(tmp_path, "f", "1 x\n2 y\n3 z\n")
    q = (
        "select group_concat(a2) over (order by a1 groups between"
        " 1 preceding and 1 following exclude group) as s from a"
        " order by a1"
    )
    assert pysqawk(q, f) == "y\nx,z\ny"
    q2 = (
        "select group_concat(a2, '-') over (order by a1 groups between"
        " 1 preceding and 1 following exclude ties) as s from a"
        " order by a1"
    )
    assert pysqawk(q2, f) == "x-y\nx-y-z\ny-z"


def test_compound_order_by_class_exact(tmp_path):
    """Compound ORDER BY and UNION row identity are class-exact
    (dialect._wrap_ordered_compound): '007' from the TEXT column sorts
    AFTER every number, positional ORDER BY 1 keys like the alias, and
    TEXT '7' / INTEGER 7 — identical rendered bytes — stay distinct
    rows. Expected bytes derived from real SQLite on the same data."""
    f = write(tmp_path, "f", "7,007\n0.5,xx\n-3,7\n")
    q = "select a1 as c0 from a union select a2 from a order by 1"
    assert (
        pysqawk("-FS", ",", q, "datatypes=numeric,text", f)
        == "-3\n0.5\n7\n007\n7\nxx"
    )
    q2 = (
        "select a1 as c0 from a union select a2 from a"
        " order by c0 desc limit 4"
    )
    assert (
        pysqawk("-FS", ",", q2, "datatypes=numeric,text", f)
        == "xx\n7\n007\n7"
    )


def test_output_table_join_tie_order(tmp_path):
    """-output table over a join whose ORDER BY has ties: the rendered
    box pins SQLite's nested-loop tie order (append_scan_order keys),
    so the golden is byte-stable (round-10 brief #9)."""
    fa = write(tmp_path, "fa", "k,x1\nk,x2\nm,x3")
    fb = write(tmp_path, "fb", "k,y1\nk,y2\nm,y3")
    got = pysqawk(
        "-FS", ",", "-output", "table",
        "select a2, b2 from a join b on a1 = b1 order by a1",
        fa, fb,
    )
    assert got == (
        "┌──┬──┐\n"
        "│x1│y1│\n"
        "├──┼──┤\n"
        "│x1│y2│\n"
        "├──┼──┤\n"
        "│x2│y1│\n"
        "├──┼──┤\n"
        "│x2│y2│\n"
        "├──┼──┤\n"
        "│x3│y3│\n"
        "└──┴──┘"
    )


def test_file_uri_argument(tmp_path):
    """A scheme-prefixed URI is a valid CLI file argument: it resolves
    in the source layer (pyarrow.fs / Hadoop), not against the local
    filesystem check (round 11)."""
    f = write(tmp_path, "u.txt", "r1 a\nr2 b")
    got = pysqawk("select a1, a2 from a order by anr", f"file://{f}")
    assert got == "r1 a\nr2 b"


def test_file_uri_directory_regex_rs(tmp_path):
    """A file:// DIRECTORY with a regex RS drives the per-file
    byte-range chunk planner end-to-end through the CLI, with anr
    continuous across files."""
    d = tmp_path / "urid_cli"
    d.mkdir()
    (d / "f1.txt").write_text("r1 a\nr2 b\n")
    (d / "f2.txt").write_text("r3 c\n")
    got = pysqawk(
        "-RS", "\\n+", "select anr, a1 from a order by anr",
        f"file://{d}",
    )
    assert got == "1 r1\n2 r2\n3 r3"
