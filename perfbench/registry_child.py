"""Registry workload, run in a fresh child process by perfbench/run.py.

One resident Spark session runs each query once cold, then whole warm
passes over the query list until SECONDS have passed since the cold
pass began (at least three), then once more collecting the rows, which
are checked against the query's DuckDB oracle. Every timed execution
writes into Spark's ``noop`` sink: all partitions computed, nothing
collected.

    python perfbench/registry_child.py DATA_DIR WORK_DIR SECONDS TRACE OUT_JSON

With TRACE=1 the session writes Spark's event log, and traced warm
passes (build, forced physical plan, execute as separate spans)
alternate with untraced ones, so the tracing overhead is measured in
the same process.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import Tracer, eventlog_conf, read_event_log, spark_metrics  # noqa: E402

# JVM-only relational plans, then the text family (dedup pair core,
# Python UDFs, session caches)
RELATIONAL = ["flagship_pricing_summary", "tpch_q21_waiting_suppliers"]
TEXT = ["dedup_ngram_jaccard", "text_bm25_topk", "graph_pagerank_dupgraph"]
QUERIES = RELATIONAL + TEXT
WARM_PASSES = 3  # at least; the median pass is reported


def oracle_mismatch(con, oracle: str, cols: list[str], rows: list[tuple]) -> str:
    """'' when DuckDB's answer has the same column names, row count and
    value multiset, compared as the registry's parity tests do."""
    from tests.oracle_check import row_multiset

    res = con.execute(oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} vs oracle {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows vs oracle {len(drows)}"
    if row_multiset(cols, rows) != row_multiset(dcols, drows):
        return "values differ from oracle"
    return ""


class Runner:
    def __init__(self, spark, data: str, tracer: Tracer | None):
        from sqawk_spark.operators.registry import REGISTRY

        self.spark = spark
        self.data = data
        self.registry = REGISTRY
        self.tr = tracer
        self.attempted = 0
        self.errors: list[str] = []

    def execute(self, q: str, group: str | None) -> dict | None:
        """One build + execute into the noop sink; the phase times, or
        None when the query failed."""
        self.attempted += 1
        try:
            if group is None:
                t0 = time.perf_counter()
                df = self.registry[q].builder(self.spark, self.data)
                df.write.format("noop").mode("overwrite").save()
                return {"wall": time.perf_counter() - t0}
            self.spark.sparkContext.setJobGroup(group, q)
            t0 = time.perf_counter()
            with self.tr.span("operators.build"):
                df = self.registry[q].builder(self.spark, self.data)
            t1 = time.perf_counter()
            with self.tr.span("operators.plan"):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with self.tr.span("operators.exec"):
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            return {"wall": t3 - t0, "build": t1 - t0, "plan": t2 - t1, "exec": t3 - t2}
        except Exception:
            self.errors.append(f"{q}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            if group is not None:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def run_pass(self, tag: str | None) -> dict[str, dict]:
        out = {}
        for q in QUERIES:
            t = self.execute(q, f"{tag}:{q}" if tag else None)
            if t is not None:
                out[q] = t
        return out

    def check(self) -> dict[str, float]:
        """Collect every query once, timing build to first row, and
        compare with the DuckDB oracle. Returns the first-row times."""
        from tests.oracle_check import duckdb_conn

        con = duckdb_conn(self.data)
        first = {}
        for q in QUERIES:
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                df = self.registry[q].builder(self.spark, self.data)
                rows = []
                for r in df.toLocalIterator():
                    if not rows:
                        first[q] = time.perf_counter() - t0
                    rows.append(tuple(r))
                first.setdefault(q, time.perf_counter() - t0)
                why = oracle_mismatch(con, self.registry[q].oracle, df.columns, rows)
            except Exception:
                why = traceback.format_exc(limit=3)
            if why:
                self.errors.append(f"{q}: {why}")
        con.close()
        return first


def _sum_median(passes: list[dict[str, dict]], key: str) -> float:
    """Sum over queries of the median over passes."""
    return sum(
        statistics.median(p[q][key] for p in passes if q in p)
        for q in QUERIES if any(q in p for p in passes)
    )


def pass_wall(p: dict[str, dict]) -> float:
    return sum(t["wall"] for t in p.values())


def main(argv: list[str]) -> int:
    t_spawn = float(os.environ["PERFBENCH_SPAWN_TIME"])
    data, work, seconds, trace, out_path = argv[0], argv[1], float(argv[2]), argv[3] == "1", argv[4]
    import sqawk_spark.operators as operators
    from sqawk_spark.session import get_session

    t_ready = time.time()
    tr = Tracer() if trace else None
    evdir = os.path.join(work, "eventlog")
    spark = get_session(app_name="perfbench-registry",
                        extra_conf=eventlog_conf(evdir) if trace else None)
    t_session = time.time()
    operators.load_all()
    # the JVM's first job pays class loading and code-generation set-up;
    # it is set-up here, not the first query's cold time
    spark.range(1000).selectExpr("sum(id)").collect()
    t_setup = time.time()

    run = Runner(spark, data, tr)
    t0 = time.perf_counter()
    cold = run.run_pass("cold" if trace else None)
    plain: list[dict] = []
    traced: list[dict] = []
    while (len(plain) < WARM_PASSES or (trace and len(traced) < WARM_PASSES)
           or time.perf_counter() - t0 < seconds):
        plain.append(run.run_pass(None))
        if trace:
            traced.append(run.run_pass(f"warm{len(traced)}"))
    first_row = run.check()
    spark.stop()

    res = {
        "setup_s": t_setup - t_spawn,
        "cold_s": pass_wall(cold),
        "warm_passes_s": [pass_wall(p) for p in plain],
        "first_row_s": sum(first_row.values()),
        "attempted": run.attempted,
        "failed": len(run.errors),
        "errors": run.errors,
    }
    if trace:
        tr.finish()
        tr.dump(os.path.join(work, "spans.json"))
        jobs, tasks = read_event_log(evdir)
        last = f"warm{len(traced) - 1}"
        m = {
            "process.startup_s": t_ready - t_spawn,
            "session.get_session_s": t_session - t_ready,
            "trace.overhead_s": statistics.median(pass_wall(p) for p in traced)
            - statistics.median(pass_wall(p) for p in plain),
        }
        for key in ("build", "plan", "exec"):
            m[f"operators.{key}_s.cold"] = sum(t[key] for t in cold.values())
            m[f"operators.{key}_s.warm"] = _sum_median(traced, key)
        for q in QUERIES:
            execs = [p[q]["exec"] for p in traced if q in p]
            m[f"operators.exec_s.{q}"] = statistics.median(execs) if execs else 0.0
        sm = spark_metrics(jobs, tasks, [j for j, v in jobs.items()
                                         if (v["group"] or "").split(":")[0] == last])
        m.update(sm)
        res["layers"] = m
    with open(out_path, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
