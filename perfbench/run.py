"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload {query_iterative,contact_import}
        --seed N --seconds S --trace {0,1}

Runs from the root of a source checkout and builds nothing: it imports
the engine package from that checkout.  Inputs are generated from the
seed; every output is checked (query results against their DuckDB
oracle, job outcomes against what the generator planted).  The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones, recorded by wrapping engine functions from outside
and reading Spark's status store and streaming progress.

Workloads: ``query_iterative`` (query_workload.py) and ``contact_import``
(contact_workload.py).  ``setup_s`` runs from process start to the first
timed operation (session, table or store warm-up, the untimed warm pass)
without the benchmark's own input generation and checks; the per-layer
``peak_rss_mb`` is the Spark JVM's plus this process's resident
high-water mark.
Failed operations (a query that raised or missed its oracle, a job not
in its expected state) count in ``failed``; they never abort the run.

Run environment (so both sides of an A/B match): ``local[cores]`` with
every core this process may use, a fixed JVM heap, and Spark local
dirs, Python temp files and the JVM temp dir inside the checkout under
``.perfbench/``.  A record of each run (git commit, engine source digest,
host-noise probe and load average, metrics, failures, and the spans of
a traced run) is written there too; nothing tracked is written.

``python3 perfbench/selftest.py`` checks the harness at tiny size.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "3g"

WORKLOADS = ("query_iterative", "contact_import")
#: End-to-end metrics, the same three on every workload (name -> unit).
#: latency_s is one unit of work as a user waits for it: the geometric
#: mean of per-query wall time, or the median job latency of the closed
#: loop.  throughput_per_min is units of work per minute: queries over
#: the timed pass (60 x queries / suite seconds), or jobs completed per
#: minute of closed-loop job latency plus drain wall time.
#: peak_rss_mb is per-layer: the JVM's resident high-water mark follows
#: G1's heap sizing decisions, which swing it by a fifth between runs of
#: the same code and inputs.
E2E = {"setup_s": "s", "latency_s": "s", "throughput_per_min": "1/min"}


class Ctx:
    """What a workload needs from the harness: ids, dirs, the session,
    failure accounting and the set-up clock."""

    def __init__(self, workload: str, seed: int, trace: bool,
                 started: float) -> None:
        from spans import Tracer

        self.root = ROOT
        self.workload = workload
        self.seed = seed
        self.run_id = f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}"
        self.work = os.path.join(STATE, "work", self.run_id)
        self.tracer = Tracer(self.run_id) if trace else None
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self._started = started
        self._excluded = 0.0
        self.setup_s: float | None = None

    def fail(self, why: str) -> None:
        self.failures.append(why)
        print(f"FAIL {why}", file=sys.stderr)

    def exclude_from_setup(self, seconds: float) -> None:
        """Benchmark-side work (input generation, oracles, expectation
        checks) that set-up time must not include."""
        self._excluded += seconds

    def setup_done(self) -> None:
        if self.setup_s is None:
            self.setup_s = time.perf_counter() - self._started - self._excluded

    def start_spark(self):
        """Start the engine's session; when tracing, first wrap the
        session and table loaders that every workload may go through."""
        from data_ingestion_worker_spark import session, tables

        if self.tracer:
            self.tracer.wrap(session, "get_spark", "session.get_spark")
            self.tracer.wrap_everywhere(tables.load_table, "tables.load_table",
                                        "data_ingestion_worker_spark")
        self.spark = session.get_spark(f"perfbench-{self.workload}")
        return self.spark


def _pin_environment(work: str) -> None:
    """Cores, heap and scratch locations, all decided before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Every JVM of the run (the launcher's too) keeps its temp files in
    # the checkout and writes no perf-data file to the system temp dir.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # Keep every job/stage of a run in the status store (per-layer
        # totals read it after the fact).
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.sql.ui.retainedExecutions=100000",
        "pyspark-shell",
    ])


def _git_commit() -> str:
    """HEAD of the checkout if it is a git work tree, read from files so
    nothing outside the checkout is consulted."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def _tree_digest() -> str:
    """Digest of the engine sources, identifying the code without git."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "data_ingestion_worker_spark")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _noise_probe(iters: int = 3_000_000) -> float:
    """Fixed single-core pure-Python loop: its time moves only with host
    contention, never with engine code."""
    t = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i
    return time.perf_counter() - t


def _children(pid: int) -> list[int]:
    """Descendant pids of ``pid`` (from /proc)."""
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _jvm_pid() -> int:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else 0


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers it forked, and
    wait until every one of them has exited."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = _children(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin and proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - stuck JVM: kill and reap
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def run(workload: str, seed: int, seconds: float, trace: bool,
        started: float | None = None, **overrides) -> dict:
    """Run one workload and return the result object (not yet printed).

    Set-up time counts from ``started`` (default: now); ``overrides``
    go to the workload (sizes, deliberate corruption for the self-test).
    """
    sys.path.insert(0, ROOT)
    import data_ingestion_worker_spark  # noqa: F401 - no engine, no run

    ctx = Ctx(workload, seed, trace,
              time.perf_counter() if started is None else started)
    _pin_environment(ctx.work)
    import contact_workload
    import query_workload

    env = {"commit": _git_commit(), "tree": _tree_digest(),
           "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
           "driver_mem": DRIVER_MEM, "loadavg_start": os.getloadavg(),
           "noise_probe_start_s": _noise_probe()}
    ctx.exclude_from_setup(env["noise_probe_start_s"])
    module = {"query_iterative": query_workload,
              "contact_import": contact_workload}[workload]
    try:
        raw = module.run(ctx, seconds, **overrides)
        py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm_mb = _hwm_mb(_jvm_pid())
        env["hwm_mb"] = {"python": py_mb, "jvm": jvm_mb}
        raw["peak_rss_mb"] = (py_mb + jvm_mb, "mb")
        raw["setup_s"] = (ctx.setup_s, "s")
    finally:
        _stop_spark(ctx.spark)
    env["noise_probe_end_s"] = _noise_probe()
    env["loadavg_end"] = os.getloadavg()

    wanted = E2E
    if trace:
        # Every per-layer metric is emitted on every workload; a layer
        # the workload never enters reads 0.  The end-to-end metrics of
        # a traced run are kept as traced.<name>: traced minus untraced
        # is the tracing overhead.
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            wanted = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        for name in E2E:
            raw[f"traced.{name}"] = raw[name]
        raw["session.get_spark_s"] = (
            ctx.tracer.self_seconds("session.get_spark"), "s")
        raw["tables.load_table.calls"] = (
            ctx.tracer.calls("tables.load_table"), "count")
        raw["tables.load_table.s"] = (
            ctx.tracer.self_seconds("tables.load_table"), "s")
    metrics = {}
    for name, unit in wanted.items():
        value = raw.get(name, (0.0, unit))[0]
        metrics[name] = {"value": value, "unit": unit}
    result = {"correct": not ctx.failures, "attempted": max(ctx.attempted, 1),
              "failed": len(ctx.failures), "metrics": metrics}

    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    record = os.path.join(STATE, "runs", ctx.run_id)
    with open(record + ".json", "w") as f:
        json.dump({"workload": workload, "seed": seed, "seconds": seconds,
                   "trace": trace, "env": env, "failures": ctx.failures,
                   "raw": raw, "result": result}, f, indent=1, default=str)
    if ctx.tracer:
        ctx.tracer.unwrap()
        ctx.tracer.dump(record + ".spans.jsonl")
    shutil.rmtree(ctx.work, ignore_errors=True)
    print(f"env {json.dumps(env)}", file=sys.stderr)
    return result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 started=T_START)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
