"""stdlib sqlite3 loaded in sqawk's table layout — the reference the
CLI's output is compared with, since sqawk hands its scripts to SQLite
unchanged.

The layout follows the reference's table builder
(lib/classes/table.tcl): ``<p>nr INTEGER PRIMARY KEY`` (record number,
continuous across files appended to one table), ``<p>nf INTEGER`` (the
record's field count), ``<p>0 TEXT`` (the raw record) and field columns
``<p>1..`` declared INTEGER unless ``datatypes`` says otherwise, at
least NF of them. A header record names the field columns and is not
inserted; MNF=expand widens the table to the widest record, crop
truncates records to NF, error rejects a record wider than NF.
"""

from __future__ import annotations

import csv
import re
import sqlite3
from collections.abc import Sequence


def awk_records(text: str, fs: str = r"[ \t]+") -> list[tuple[str, list[str]]]:
    """(raw record, fields) per line, split like the default parser
    for lines without leading or trailing separators."""
    return [(line, re.split(fs, line)) for line in text.splitlines()]


def csv_records(text: str) -> list[tuple[str, list[str]]]:
    lines = text.splitlines()
    return [(line, row) for line, row in zip(lines, csv.reader(lines))]


def load(
    con: sqlite3.Connection,
    table: str,
    records: list[tuple[str, list[str]]],
    *,
    nf: int = 10,
    mnf: str = "expand",
    header: bool = False,
    datatypes: Sequence[str] = (),
) -> None:
    header_fields: list[str] = []
    if header and records:
        header_fields = records[0][1]
    if header:
        records = records[1:]
    width = max([len(f) for _, f in records], default=0)
    if mnf == "error" and width > nf:
        raise ValueError(f"table {table} has no column named {table}{nf + 1}")
    if mnf == "expand":
        nf = max(nf, width)
    names = [
        header_fields[i] if i < len(header_fields) else f"{table}{i + 1}"
        for i in range(nf)
    ]
    decls = [
        f'"{names[i]}" {datatypes[i] if i < len(datatypes) else "INTEGER"}'
        for i in range(nf)
    ]
    con.execute(
        f"CREATE TABLE {table} ({table}nr INTEGER PRIMARY KEY, "
        f"{table}nf INTEGER, {table}0 TEXT, " + ", ".join(decls) + ")"
    )
    marks = ", ".join("?" * (3 + nf))
    for anr, (line, fields) in enumerate(records, start=1):
        fields = fields[:nf]
        row = [anr, len(fields), line]
        row += [fields[i] if i < len(fields) else None for i in range(nf)]
        con.execute(f"INSERT INTO {table} VALUES ({marks})", row)


def render(rows, ofs: str = " ") -> str:
    """Rows as the CLI's awk serializer prints them: NULL empty, reals
    as CPython repr (the rendering SQLite's own shell shares on these
    values), one line per row."""
    return "\n".join(
        ofs.join(
            "" if v is None else repr(v) if isinstance(v, float) else str(v)
            for v in row
        )
        for row in rows
    )
