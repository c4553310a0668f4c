"""pysqawk benchmark: fresh CLI processes and a resident registry session.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Load model: one client in a closed loop; operations run one after
another, never concurrently; Spark runs ``local[nproc]``. The seed
drives the generated CLI inputs; the registry workload reads tables
generated from a fixed seed. Every output is checked: CLI output
against stdlib sqlite3, registry results against their DuckDB oracle.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics of a traced run with ``--trace 1``. Inputs,
Spark scratch space, spans and a record of each run go under
``perfbench/work/``; nothing is written anywhere else.
"""

from __future__ import annotations

import argparse
import importlib.metadata
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from registry_child import QUERIES  # noqa: E402
from tracing import CLI_LAYERS, SPARK_METRICS  # noqa: E402

WORKLOADS = ["cli", "registry"]

END_TO_END = {"setup_s": "s", "cold_s": "s", "wall_p50_s": "s", "first_byte_s": "s"}
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "process.startup_s": "s",
    "session.precreate_s": "s",
    **{f"{n}_s": "s" for n in CLI_LAYERS},
    "cli.self_s": "s", "cli.run_s": "s", "cli.analyze_calls_per_stmt": "ratio",
    "sources.base.finalize_jobs": "count", "cli.execute_jobs": "count",
    "serializers.bytes_out": "bytes",
    **{f"operators.{k}_s.{p}": "s" for k in ("build", "plan", "exec") for p in ("cold", "warm")},
    **{f"operators.exec_s.{q}": "s" for q in QUERIES},
    **SPARK_METRICS,
    "check.order_mismatch": "count",
    "trace.overhead_s": "s",
}

# every child is killed when this many seconds of the run have passed,
# so a run always exits within the 180 s it is allowed (a traced cli
# run, the longest, takes about 105 s)
DEADLINE_S = 150
T_START = time.monotonic()


def remaining() -> float:
    return max(DEADLINE_S - (time.monotonic() - T_START), 1.0)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def child_env(work: str) -> dict[str, str]:
    """Environment for every child: the checkout on the import path,
    Spark on ``local[nproc]``, and all scratch files under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    # the JVM's temp dir, and no hsperfdata file under /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return env


class ProcessTree:
    """Every process descended from one child, including those that
    outlive their parent or start their own session (Spark's Python
    worker daemon does): polled every 100 ms for each process's peak
    resident set (``VmHWM``)."""

    def __init__(self, root: int):
        self.root = root
        self.parent: dict[int, int] = {}  # every pid looked at -> its parent
        self.members: set[int] = set()
        self.hwm: dict[int, int] = {}  # member pid -> peak resident kB
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    @staticmethod
    def _stat(pid: int) -> list[str] | None:
        """Fields after the command name of /proc/PID/stat (state first)."""
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()
        except OSError:
            return None  # ended

    def _sample(self) -> None:
        new = [int(n) for n in os.listdir("/proc") if n.isdigit() and int(n) not in self.parent]
        for pid in new:
            st = self._stat(pid)
            self.parent[pid] = int(st[1]) if st else 0
        grew = True
        while grew:  # a child can be listed before its parent
            grew = False
            for pid in new:
                if pid not in self.members and (pid == self.root or self.parent[pid] in self.members):
                    self.members.add(pid)
                    grew = True
        for pid in self.members:
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
            except (OSError, StopIteration):
                continue  # ended, or a zombie
            self.hwm[pid] = max(self.hwm.get(pid, 0), kb)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(0.1)

    def stop(self, grace: float = 30.0) -> float:
        """Wait until every process of the tree has ended (killing what
        is left after ``grace`` seconds); return the summed peak MB."""
        self._stop.set()
        self._thread.join()
        deadline = time.monotonic() + grace
        while True:
            self._sample()
            alive = [pid for pid in self.members
                     if (st := self._stat(pid)) is not None and st[0] != "Z"]
            if not alive:
                return sum(self.hwm.values()) / 1024
            if time.monotonic() > deadline:
                for pid in alive:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.1)


def spawn(cmd: list[str], cwd: str, env: dict, stderr_path: str, timeout: float):
    """Run ``cmd`` in its own session, reading its stdout as it arrives,
    and wait until it and every process it started have ended. Returns
    (exit code or None on timeout, stdout bytes, wall s, first-byte s,
    peak memory MB). Wall runs from spawn to exit with all stdout read."""
    env = dict(env, PERFBENCH_SPAWN_TIME=repr(time.time()))
    with open(stderr_path, "wb") as err:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, start_new_session=True)
        tree = ProcessTree(p.pid)
        killer = threading.Timer(timeout, os.killpg, (p.pid, signal.SIGKILL))
        killer.start()
        chunks, first = [], None
        try:
            while chunk := os.read(p.stdout.fileno(), 1 << 16):
                if first is None:
                    first = time.perf_counter() - t0
                chunks.append(chunk)
            rc = p.wait()
            wall = time.perf_counter() - t0
        finally:
            timed_out = not killer.is_alive()
            killer.cancel()
            p.stdout.close()
            peak = tree.stop()
    return (None if timed_out else rc), b"".join(chunks), wall, first or wall, peak


class Run:
    """Counts and measurements of one benchmark run."""

    def __init__(self):
        self.attempted = 0
        self.errors: list[str] = []
        self.metrics: dict[str, float] = {}

    def fail(self, what: str) -> None:
        self.errors.append(what)
        print(f"FAILED: {what}", file=sys.stderr)


def run_cli(seed: int, trace: bool, work: str, run: Run) -> None:
    """One untraced invocation (every invocation is cold: a new
    interpreter, JVM and session), then with ``trace`` one traced one."""
    indir = os.path.join(work, "in")
    os.makedirs(indir)
    inv = inputs.cli(seed, indir)
    env = child_env(work)

    def invoke(cmd) -> tuple[float, float, float, int] | None:
        """(wall, first byte, peak MB, order mismatches), or None."""
        run.attempted += 1
        rc, out, wall, first, peak = spawn(cmd + inv.argv, work, env,
                                           os.path.join(work, "stderr.txt"), remaining())
        if rc != 0:
            run.fail(f"cli: exit {rc}; stderr in {work}/stderr.txt")
            return None
        ok, mism, why = inputs.check(inv, out.decode())
        if not ok:
            run.fail(f"cli: output differs from sqlite3: {why}")
            return None
        return wall, first, peak, mism

    mark = os.path.join(work, "session_ready")
    got = invoke([sys.executable, os.path.join(HERE, "cli_child.py"), mark])
    if got is None:
        return
    wall, first, peak, _ = got
    with open(mark) as f:
        setup_s = float(f.read())
    run.metrics.update({
        "setup_s": setup_s,
        "cold_s": wall,
        "wall_p50_s": wall,
        "first_byte_s": first,
        "process.peak_rss_mb": peak,
    })
    if trace:
        mpath = os.path.join(work, "layers.json")
        got = invoke([sys.executable, os.path.join(HERE, "tracing.py"), work, mpath, "--"])
        if got is not None:
            with open(mpath) as f:
                run.metrics.update(json.load(f))
            run.metrics["trace.overhead_s"] = got[0] - wall
            run.metrics["check.order_mismatch"] = got[3]


def run_registry(trace: bool, seconds: float, work: str, run: Run) -> None:
    data = os.path.join(work, "data")
    os.makedirs(data)
    inputs.registry_tables(data)
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "registry_child.py"),
           data, work, str(seconds), "1" if trace else "0", out]
    rc, _, _, _, peak = spawn(cmd, work, child_env(work),
                              os.path.join(work, "stderr.txt"), remaining())
    if rc != 0:
        run.attempted += 1
        run.fail(f"registry: child exit {rc}; stderr in {work}/stderr.txt")
        return
    with open(out) as f:
        res = json.load(f)
    run.attempted += res["attempted"]
    for e in res["errors"]:
        run.fail(f"registry: {e}")
    run.metrics.update({
        "setup_s": res["setup_s"],
        "cold_s": res["cold_s"],
        "wall_p50_s": statistics.median(res["warm_passes_s"]),
        "first_byte_s": res["first_row_s"],
        "process.peak_rss_mb": peak,
    })
    run.metrics.update(res.get("layers", {}))


def java_version() -> str:
    try:
        p = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
        return p.stderr.splitlines()[0] if p.stderr else ""
    except (OSError, subprocess.TimeoutExpired):
        return ""


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) / 1024


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sqawk_spark", "cli.py")):
        print(f"error: no sqawk_spark package next to {HERE}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc(), "mem_total_mb": mem_total_mb(),
        "loadavg_before": os.getloadavg(), "python": sys.version.split()[0],
        "pyspark": importlib.metadata.version("pyspark"), "java": java_version(),
    }
    run = Run()
    if args.workload == "registry":
        run_registry(bool(args.trace), args.seconds, work, run)
    else:
        run_cli(args.seed, bool(args.trace), work, run)

    names = PER_LAYER if args.trace else END_TO_END
    if not run.metrics:  # nothing completed: no figure can be reported
        print("error: no operation completed", file=sys.stderr)
        return 1
    metrics = {k: {"value": run.metrics.get(k, 0.0), "unit": u} for k, u in names.items()}
    result = {"correct": not run.errors, "attempted": max(run.attempted, 1),
              "failed": len(run.errors), "metrics": metrics}
    record.update(loadavg_after=os.getloadavg(), errors=run.errors, metrics=run.metrics)
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    rec_path = os.path.join(WORK, "runs",
                            f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    for k, v in metrics.items():
        print(f"{args.workload:10s} {k:40s} {v['value']:14.4f} {v['unit']}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
