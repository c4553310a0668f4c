"""Seeded benchmark inputs and the outputs they must produce.

CLI inputs are text files in formats pysqawk parses. Their expected
rows come from stdlib ``sqlite3`` -- the engine sqawk itself hands
scripts to -- loaded in sqawk's table layout: ``<t>nr`` (record
number), ``<t>nf`` (field count), ``<t>0`` (raw record), then one
INTEGER-affinity column per field, at least NF=10 of them.

Registry inputs are parquet tables with the schemas the operator
registry reads (sqawk_spark.operators.tables), generated from a fixed
seed so every run of the registry workload reads the same data.
"""

from __future__ import annotations

import csv
import io
import os
import random
import sqlite3
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta

NF = 10  # pysqawk's default field-column count


@dataclass
class Invocation:
    """One pysqawk command line and the rows it must print."""

    argv: list[str]  # prints through ``-output csv``
    statements: list[str]
    # per SELECT statement: expected rows, and whether the statement
    # totally orders them (exact compare) or not (multiset compare)
    expected: list[list[tuple[str, ...]]] = field(default_factory=list)
    ordered: list[bool] = field(default_factory=list)


# --- sqlite3 in sqawk's table layout ---------------------------------------


def _create(con: sqlite3.Connection, t: str, names: list[str]) -> None:
    cols = ", ".join(f"{n} INTEGER" for n in names)
    con.execute(
        f"create table {t} ({t}nr INTEGER PRIMARY KEY, {t}nf INTEGER, "
        f"{t}0 TEXT, {cols})"
    )


def _insert(con, t: str, width: int, records) -> None:
    ph = ",".join("?" * (3 + width))
    con.executemany(
        f"insert into {t} values ({ph})",
        (
            [nr, len(fields), raw] + fields + [None] * (width - len(fields))
            for nr, (raw, fields) in enumerate(records, start=1)
        ),
    )


def load_awk(con, t: str, lines: list[str]) -> None:
    recs = [(ln, ln.split()) for ln in lines]
    width = max([NF] + [len(f) for _, f in recs])
    _create(con, t, [f"{t}{i}" for i in range(1, width + 1)])
    _insert(con, t, width, recs)


def load_csv_header(con, t: str, lines: list[str]) -> None:
    header = lines[0].split(",")
    recs = [(ln, ln.split(",")) for ln in lines[1:]]
    width = max([NF, len(header)] + [len(f) for _, f in recs])
    names = header + [f"{t}{i}" for i in range(len(header) + 1, width + 1)]
    _create(con, t, names)
    _insert(con, t, width, recs)


def _render(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float):
        # SQLite and pysqawk print reals differently only in corner
        # cases; the scripts below avoid real-valued results entirely
        raise ValueError(f"real-valued result {v!r}: not comparable by text")
    return str(v)


def expect(con: sqlite3.Connection, inv: Invocation, ordered: list[bool]) -> None:
    """Run ``inv.statements`` through sqlite3; fill the expected rows of
    each row-returning statement."""
    flags = iter(ordered)
    for stmt in inv.statements:
        cur = con.execute(stmt)
        if cur.description is None:  # DML
            continue
        inv.expected.append([tuple(_render(v) for v in r) for r in cur.fetchall()])
        inv.ordered.append(next(flags))


# --- output parsing and comparison ------------------------------------------


def check(inv: Invocation, text: str) -> tuple[bool, int, str]:
    """Compare the CLI's csv output with the expected rows.

    Returns (correct, order_mismatches, reason). An unordered statement whose
    rows match sqlite3's as a multiset but not in sequence is correct
    and counts one order mismatch."""
    got = [tuple(r) for r in csv.reader(io.StringIO(text))]
    want = [r for rows in inv.expected for r in rows]
    if len(got) != len(want):
        return False, 0, f"{len(got)} rows, sqlite3 has {len(want)}"
    mismatches = 0
    at = 0
    for rows, ordered in zip(inv.expected, inv.ordered):
        g, w = got[at : at + len(rows)], want[at : at + len(rows)]
        at += len(rows)
        if g == w:
            continue
        if ordered or Counter(g) != Counter(w):
            diff = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
            return False, mismatches, f"row {diff}: got {g[diff]} want {w[diff]}"
        mismatches += 1
    return True, mismatches, ""


# --- CLI workload ---------------------------------------------------------------

LOG_LINES = 40_000
SECTIONS = ["docs", "shop", "blog", "api", "archive"]


def access_log(rng: random.Random, n: int) -> list[list[str]]:
    """Web-server access-log rows: ip user ts method path status bytes
    ms. ``ts`` is unique, so ORDER BY ts is a total order."""
    methods = ["GET"] * 16 + ["POST"] * 3 + ["PUT", "DELETE"]
    statuses = ["200"] * 80 + ["304"] * 8 + ["404"] * 7 + ["500", "502", "503"] * 2
    ts = 1_760_000_000
    rows = []
    for _ in range(n):
        ts += rng.randrange(1, 4)
        slow = rng.random() < 0.1
        rows.append([
            f"10.{rng.randrange(8)}.{rng.randrange(16)}.{rng.randrange(32)}",
            f"u{rng.randrange(2000)}",
            str(ts),
            rng.choice(methods),
            f"/p/{rng.randrange(1000)}",
            rng.choice(statuses),
            str(rng.randrange(50_000)),
            str(rng.randrange(1500, 3000) if slow else rng.randrange(1, 1500)),
        ])
    return rows


def cli(seed: int, d: str, n: int = LOG_LINES) -> Invocation:
    """Two inputs and one script.

    Inputs: an access log of ``n`` lines (whitespace-delimited, table
    a) and a page catalogue (header CSV, table b). The script runs DML,
    JVM aggregates, an unordered GROUP BY with group_concat(DISTINCT)
    (the pandas-UDAF path), an unordered two-file join (the scan-order
    path) and a filter with a total ORDER BY that prints ~13% of the
    log through the csv serializer."""
    rng = random.Random(seed)
    log = access_log(rng, n)
    pages = ["path,section,owner"] + [
        f"/p/{k},{rng.choice(SECTIONS)},o{rng.randrange(50)}" for k in range(1000)
    ]
    paths = [os.path.join(d, "log.txt"), os.path.join(d, "pages.csv")]
    _write(paths[0], [" ".join(r) for r in log])
    _write(paths[1], pages)

    statements = [
        "delete from b where section = 'archive'",
        "select a4, a6, count(*), sum(a7), max(a8) from a"
        " group by a4, a6 order by a4, a6",
        "select a6, group_concat(distinct a4) from a group by a6",
        "select a.a3, b.owner from a join b on a.a5 = b.path where a.a8 >= 2990",
        "select a3, a1, a5, a6, a8 from a where a6 >= 500 or a8 >= 1500 order by a3",
    ]
    inv = Invocation(
        argv=["-output", "csv", "; ".join(statements), paths[0],
              "format=csv", "header=1", paths[1]],
        statements=statements,
    )
    con = sqlite3.connect(":memory:")
    load_awk(con, "a", [" ".join(r) for r in log])
    load_csv_header(con, "b", pages)
    expect(con, inv, [True, False, False, True])
    con.close()
    return inv


def _write(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


# --- registry data --------------------------------------------------------------

REGISTRY_SEED = 20_261_017
# row counts of the sf0.01 layout the registry's parity tests use
SIZES = {"customer": 1500, "supplier": 100, "part": 2000,
         "orders": 15000, "lineitem": 60000, "documents": 500}
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "stream filter group big vector"
).split()


def registry_tables(d: str) -> None:
    """Write the star schema and the document corpus as parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(REGISTRY_SEED)
    day0 = datetime(1995, 1, 1)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": regions})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = SIZES["supplier"]
    put("supplier", {"s_suppkey": pa.array(range(n), pa.int64()),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                     "s_nationkey": pa.array([rng.randrange(25) for _ in range(n)], pa.int32()),
                     "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n)]})
    n = SIZES["customer"]
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    put("customer", {"c_custkey": pa.array(range(n), pa.int64()),
                     "c_name": [f"Customer#{i:09d}" for i in range(n)],
                     "c_nationkey": pa.array([rng.randrange(25) for _ in range(n)], pa.int32()),
                     "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n)],
                     "c_mktsegment": [rng.choice(segments) for _ in range(n)]})
    n = SIZES["part"]
    adjs = ["red", "green", "blue", "small", "large", "steel", "brass"]
    nouns = ["widget", "bolt", "ring", "anvil", "gear", "spring"]
    prices = [round(900 + (i % 1000) / 10, 2) for i in range(n)]
    put("part", {"p_partkey": pa.array(range(n), pa.int64()),
                 "p_name": [f"{rng.choice(adjs)} {rng.choice(nouns)}" for _ in range(n)],
                 "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n)],
                 "p_type": [rng.choice(["ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                                        "LARGE", "PROMO"]) for _ in range(n)],
                 "p_size": pa.array([rng.randrange(1, 51) for _ in range(n)], pa.int32()),
                 "p_retailprice": prices})
    n = SIZES["orders"]
    odates = [day0 + timedelta(days=rng.randrange(2400)) for _ in range(n)]
    put("orders", {"o_orderkey": pa.array(range(n), pa.int64()),
                   "o_custkey": pa.array([rng.randrange(SIZES["customer"]) for _ in range(n)], pa.int64()),
                   "o_orderstatus": [rng.choice("FOP") for _ in range(n)],
                   "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(n)],
                   "o_orderdate": pa.array(odates, pa.timestamp("us")),
                   "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                   "4-NOT SPECIFIED", "5-LOW"])
                                       for _ in range(n)]})
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    while len(li["l_orderkey"]) < SIZES["lineitem"]:
        ok = rng.randrange(SIZES["orders"])
        for ln in range(1, rng.randrange(2, 8)):
            pk = rng.randrange(SIZES["part"])
            qty = float(rng.randrange(1, 51))
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(pk)
            li["l_suppkey"].append(rng.randrange(SIZES["supplier"]))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * prices[pk], 2))
            li["l_discount"].append(rng.randrange(11) / 100)
            li["l_tax"].append(rng.randrange(9) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(odates[ok] + timedelta(days=rng.randrange(1, 500)))
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    li["l_shipdate"] = pa.array(li["l_shipdate"], pa.timestamp("us"))
    put("lineitem", li)

    # documents: random word streams, a third of them near-copies of an
    # earlier document so the dedup and graph queries find pairs
    texts: list[str] = []
    for _ in range(SIZES["documents"]):
        if texts and rng.random() < 0.35:
            words = rng.choice(texts).split()
            for _ in range(max(1, len(words) // 12)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randrange(10, 100))]
        texts.append(" ".join(words))
    n = len(texts)
    put("documents", {"doc_id": pa.array(range(n), pa.int64()),
                      "text": texts,
                      "lang": [rng.choice(["en", "en", "de", "fr", "es", "zh"]) for _ in range(n)],
                      "source": [f"src{rng.randrange(20)}" for _ in range(n)],
                      "n_chars": pa.array([len(t) for t in texts], pa.int64())})
