"""The CLI in a fresh process: the SQLite functions a statement calls
are registered for it, and a failing statement writes one compact
``error:`` line to stderr and nothing else (no function-registry
warnings, no JSON query-context record). A fresh process because the
test session registers every function up front, and because the JVM
writes to the process's own stderr, which no in-process capture
sees."""

from __future__ import annotations

import os
import sqlite3
import subprocess
import sys
import textwrap

from tests import sqlite_layout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# everything the CLI writes after its session is ready goes after the
# marker; JVM and session start-up lines come before it
CHILD = textwrap.dedent(
    """
    import sys
    from sqawk_spark import cli

    start = cli.get_session

    def get_session(**kwargs):
        spark = start(**kwargs)
        print("<session ready>", file=sys.stderr, flush=True)
        return spark

    cli.get_session = get_session
    sys.exit(cli.main(sys.argv[1:]))
    """
)


def test_fresh_process_output_and_error_line(tmp_path):
    """The first statement needs SQLite functions that only the
    statement runner registers (nothing registers them up front in a
    fresh process); the second fails analysis after registering
    typeof and printf over Spark built-ins."""
    text = "1 x\n2 y\n3 x\n"
    f = tmp_path / "t"
    f.write_text(text)
    ok = [
        "select typeof(a1), printf('%03d', a1), iif(a1 > 1, 'big', 'small')"
        " from a order by anr",
        "select group_concat(distinct a2) from a",
    ]
    con = sqlite3.connect(":memory:")
    sqlite_layout.load(con, "a", sqlite_layout.awk_records(text))
    want = "".join(
        sqlite_layout.render(con.execute(s).fetchall()) + "\n" for s in ok
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    env.setdefault("SQAWK_SPARK_DRIVER_MEM", "1g")
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            CHILD,
            "; ".join(ok + ["select typeof(a1), printf('%d', a1), nosuch from a"]),
            str(f),
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 1
    assert proc.stdout == want
    after = proc.stderr.split("<session ready>\n", 1)[1]
    assert after == "error: no such column: nosuch\n"
