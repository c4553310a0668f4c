"""Layer tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own code by wrapping the public
functions each layer exposes; the program itself is not edited. A span
is (name, start, end, parent); spans stay in memory and are written out
once, at the end. A layer's figure is the sum of its spans' self time:
duration minus the part covered by child spans, so the layers under
``cli.run`` plus ``cli.self`` add up to the ``cli.run`` wall time.

Spark's own work is read from its event log (uncompressed JSON lines,
written to a directory in the run's work area) and folded per job.

Run as a script, this module is the traced CLI child:

    python perfbench/tracing.py WORK_DIR METRICS_JSON -- PYSQAWK_ARGS...

It pre-creates the Spark session with the event log on, runs
``sqawk_spark.cli.run`` in-process with the wrappers installed, writes
the CLI's output to stdout exactly as the CLI would, and writes its
layer metrics to METRICS_JSON.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        # per-row calls are merged into one record per (name, parent)
        self._merged: dict[tuple[str, int], dict] = {}
        self.statements = 0  # statements the traced scripts split into

    def open(self, name: str) -> dict:
        parent = self.stack[-1]["id"] if self.stack else None
        sp = {"id": len(self.spans), "name": name, "parent": parent,
              "start": time.time(), "end": None, "calls": 1}
        self.spans.append(sp)
        self.stack.append(sp)
        return sp

    def close(self, sp: dict) -> None:
        sp["end"] = time.time()
        if sp in self.stack:
            self.stack.remove(sp)

    @contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def active(self, name: str) -> bool:
        return any(sp["name"] == name for sp in self.stack)

    def add_merged(self, name: str, start: float, end: float) -> None:
        parent = self.stack[-1]["id"] if self.stack else None
        rec = self._merged.get((name, parent))
        if rec is None:
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "start": start, "end": start, "calls": 0, "dur": 0.0}
            self._merged[(name, parent)] = rec
            self.spans.append(rec)
        rec["end"] = end
        rec["calls"] += 1
        rec["dur"] += end - start

    def traced(self, fn, name: str, *, merged=False, only_under=None):
        """A timed call-through to ``fn``. Re-entrant calls of the same
        span are not split out (no double counting); ``only_under``
        limits tracing to calls made directly inside one of the named
        spans."""

        def call(*args, **kwargs):
            if self.active(name) or (
                only_under and (not self.stack or self.stack[-1]["name"] not in only_under)
            ):
                return fn(*args, **kwargs)
            if merged:
                t0 = time.time()
                try:
                    return fn(*args, **kwargs)
                finally:
                    self.add_merged(name, t0, time.time())
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    def wrap(self, owner, attr: str, name: str, **kw) -> None:
        setattr(owner, attr, self.traced(getattr(owner, attr), name, **kw))

    def finish(self) -> None:
        now = time.time()
        for sp in list(self.stack):
            self.close(sp)
        for sp in self.spans:
            if sp["end"] is None:
                sp["end"] = now

    @staticmethod
    def duration(sp: dict) -> float:
        return sp.get("dur", sp["end"] - sp["start"])

    def self_times(self) -> dict[str, float]:
        """span name -> summed self time."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp["parent"] is not None:
                child[sp["parent"]] += self.duration(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp["name"]] = out.get(sp["name"], 0.0) + self.duration(sp) - child[sp["id"]]
        return out

    def intervals(self, name: str) -> list[tuple[float, float]]:
        return [(sp["start"], sp["end"]) for sp in self.spans if sp["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --- Spark event log ------------------------------------------------------------


def eventlog_conf(evdir: str) -> dict[str, str]:
    os.makedirs(evdir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(evdir),
        "spark.eventLog.compress": "false",
    }


def read_event_log(evdir: str) -> tuple[dict[int, dict], list[dict]]:
    """(jobs by id, finished tasks). A job carries its submission time
    (epoch s), its job group and its stage ids; a task carries its stage,
    run time and metrics."""
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    files = [p for p in glob.glob(os.path.join(evdir, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": ev.get("Stage IDs", []),
                    }
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "peak_mem": m.get("Peak Execution Memory", 0),
                    })
    return jobs, tasks


SPARK_METRICS = {  # name -> unit
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.peak_exec_mem_mb": "MB", "spark.task_skew": "ratio",
}


def spark_metrics(jobs: dict[int, dict], tasks: list[dict], job_ids) -> dict[str, float]:
    """Task metrics of the given jobs. ``spark.task_skew`` is max over
    median task run time in the worst stage with at least two tasks."""
    job_ids = set(job_ids)
    stages = {s for j in job_ids for s in jobs[j]["stages"]}
    ts = [t for t in tasks if t["stage"] in stages]
    by_stage: dict[int, list[int]] = {}
    for t in ts:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    skew = max(
        (max(v) / max(statistics.median(v), 1) for v in by_stage.values() if len(v) >= 2),
        default=1.0,
    )
    mb = 1e6
    return {
        "spark.jobs": len(job_ids),
        "spark.tasks": len(ts),
        "spark.executor_run_s": sum(t["run_ms"] for t in ts) / 1e3,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
        "spark.shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / mb,
        "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / mb,
        "spark.spill_mb": sum(t["spill"] for t in ts) / mb,
        "spark.peak_exec_mem_mb": max((t["peak_mem"] for t in ts), default=0) / mb,
        "spark.task_skew": skew,
    }


def jobs_within(jobs: dict[int, dict], intervals) -> list[int]:
    # event-log times have millisecond resolution
    return [j for j, v in jobs.items()
            if any(a - 0.001 <= v["submit"] <= b + 0.001 for a, b in intervals)]


# --- the traced CLI child ---------------------------------------------------------


class CountingWriter:
    """Text stream that forwards to another and counts what it wrote."""

    def __init__(self, inner):
        self.inner = inner
        self.bytes = 0

    def write(self, s: str) -> int:
        self.bytes += len(s.encode())
        return self.inner.write(s)


def install_cli_wrappers(tr: Tracer) -> None:
    import pyspark.sql
    import sqawk_spark.dialect as dialect
    import sqawk_spark.dml as dml
    import sqawk_spark.serializers as serializers
    import sqawk_spark.sources as sources
    import sqawk_spark.sources.base as base
    from sqawk_spark import cli

    tr.wrap(cli, "get_session", "session.get_session")
    tr.wrap(cli, "register_udfs", "functions.register_udfs")
    for fmt, fn in sources.PARSERS.items():
        sources.PARSERS[fmt] = tr.traced(fn, "sources.parse")
    tr.wrap(base.TableLoader, "finalize", "sources.base.finalize")
    tr.wrap(base, "apply_affinity", "affinity.apply_affinity")
    split = cli.split_statements

    def counted_split(script):
        stmts = split(script)
        tr.statements += len(stmts)
        return stmts

    cli.split_statements = tr.traced(counted_split, "dialect.rewrite")
    tr.wrap(dialect, "rewrite_statement", "dialect.rewrite")
    tr.wrap(dialect, "append_scan_order", "dialect.rewrite")
    tr.wrap(dml, "maybe_run_dml", "dml.maybe_run_dml")
    tr.wrap(pyspark.sql.SparkSession, "sql", "cli.analyze",
            only_under=("cli.run", "dml.maybe_run_dml"))
    for cls in serializers.SERIALIZERS.values():
        tr.wrap(cls, "row", "serializers.write", merged=True)
        tr.wrap(cls, "close", "serializers.write")

    # the classic (non-Connect) DataFrame is the class the CLI's
    # DataFrames are instances of
    from pyspark.sql.classic.dataframe import DataFrame

    orig = DataFrame.toLocalIterator

    def to_local_iterator(df, *args, **kwargs):
        # the execute span runs from this call until the iterator is
        # drained; serializer calls made while draining are its children
        sp = tr.open("cli.execute")
        try:
            it = orig(df, *args, **kwargs)
        except BaseException:
            tr.close(sp)
            raise

        def drain():
            try:
                yield from it
            finally:
                tr.close(sp)

        return drain()

    DataFrame.toLocalIterator = to_local_iterator


CLI_LAYERS = ("session.get_session", "functions.register_udfs", "sources.parse",
              "sources.base.finalize", "affinity.apply_affinity", "dialect.rewrite",
              "cli.analyze", "dml.maybe_run_dml", "cli.execute", "serializers.write")


def cli_metrics(tr: Tracer, jobs, tasks, t_spawn: float, t_ready: float,
                bytes_out: int) -> dict[str, float]:
    selfs = tr.self_times()
    run = next(sp for sp in tr.spans if sp["name"] == "cli.run")
    m = {f"{n}_s": selfs.get(n, 0.0) for n in CLI_LAYERS}
    m["process.startup_s"] = t_ready - t_spawn
    m["session.precreate_s"] = selfs.get("session.precreate", 0.0)
    m["cli.self_s"] = selfs.get("cli.run", 0.0)
    m["cli.run_s"] = run["end"] - run["start"]
    m["cli.analyze_calls_per_stmt"] = (
        sum(1 for sp in tr.spans if sp["name"] == "cli.analyze") / max(tr.statements, 1)
    )
    m["sources.base.finalize_jobs"] = len(jobs_within(jobs, tr.intervals("sources.base.finalize")))
    m["cli.execute_jobs"] = len(jobs_within(jobs, tr.intervals("cli.execute")))
    m["serializers.bytes_out"] = bytes_out
    m.update(spark_metrics(jobs, tasks, jobs))
    return m


def main(argv: list[str]) -> int:
    t_spawn = float(os.environ["PERFBENCH_SPAWN_TIME"])
    work, metrics_path = argv[0], argv[1]
    cli_argv = argv[argv.index("--") + 1:]
    tr = Tracer()
    install_cli_wrappers(tr)
    from sqawk_spark import cli
    from sqawk_spark.session import get_session

    t_ready = time.time()
    evdir = os.path.join(work, "eventlog")
    # the session ``cli.run`` then gets from ``get_session``, with the
    # event log on; a span of its own, outside ``cli.run``
    with tr.span("session.precreate"):
        spark = get_session(app_name="pysqawk", extra_conf=eventlog_conf(evdir))
    out = CountingWriter(sys.stdout)
    rc = 1
    try:
        with tr.span("cli.run"):
            rc = cli.run(cli_argv, out=out)
    finally:
        sys.stdout.flush()
        spark.stop()
        tr.finish()
        tr.dump(os.path.join(work, "spans.json"))
    jobs, tasks = read_event_log(evdir)
    with open(metrics_path, "w") as f:
        json.dump(cli_metrics(tr, jobs, tasks, t_spawn, t_ready, out.bytes), f)
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
