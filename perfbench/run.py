"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the
seed (cached under ``.perfbench/``), starts one local Spark driver with
one task slot per core, sets it up three times (session start plus a
discarded warm-up query; ``setup_s`` is the median) and runs the
workload's closed loop: its discarded warm passes over its queries,
then a fixed number of measured passes, ``--seconds`` over the
workload's nominal pass length (at least one), so the count does not
depend on how fast the program is. Every result is checked against a
reference computed before the first pass; only each query's build and
execute are timed, and its CPU is read just outside them.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics named in
``BENCHMARK.json`` with ``--trace 0``; with ``--trace 1`` the per-layer
metrics of one traced pass, run in place of the measured passes. The
line before it is a fuller report: every figure with its unit and
sample count, per-query latencies, the failure ratio, the time of each
phase and the CPU other processes used meanwhile (``ambient_cores``;
``load_suspect`` above half a core, which slowed runs on a 4-core host
by about a third); a traced run adds each layer's share of the pass
and each query's job-floor share.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import WARMUP_QUERY, WORKLOADS  # noqa: E402

PKG = "airbnb_pyspark_jobs_spark"
# set-ups per run; the first also starts the JVM, so the median is warm
SETUPS = 3
MB = 1024.0 * 1024.0


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------ processes

def _proc_table() -> dict[int, tuple[int, int, int, int]]:
    """pid -> (ppid, cpu jiffies incl. reaped children, rss pages, start
    time) for every process."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                st = fh.read()
        except OSError:  # raced a process exit
            continue
        rest = st[st.rindex(")") + 2:].split()
        out[int(pid)] = (int(rest[1]), sum(int(x) for x in rest[11:15]), int(rest[21]), int(rest[19]))
    return out


def _tree(table: dict, root: int) -> set[int]:
    tree, grew = {root}, True
    while grew:
        grew = False
        for pid, (ppid, *_) in table.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def _busy_jiffies() -> int:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals) - vals[3] - vals[4]  # minus idle and iowait


class Monitor:
    """Samples the RSS of this process tree (driver, JVM, Python
    workers) and the CPU used by other processes, from ``/proc``."""

    # a slow period: each sample walks /proc while holding the GIL of the
    # driver process, which runs the iterative queries' driver loops
    def __init__(self, period: float = 1.0) -> None:
        self.peak_rss_mb = 0.0
        self._period = period
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process tree."""
        return self._ours()[0] / os.sysconf("SC_CLK_TCK")

    def _ours(self) -> tuple[int, int]:
        table = _proc_table()
        tree = _tree(table, os.getpid())
        return sum(table[p][1] for p in tree), sum(table[p][2] for p in tree)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            rss = self._ours()[1] * self._page / MB
            self.peak_rss_mb = max(self.peak_rss_mb, rss)

    def start(self) -> None:
        self._t0 = time.monotonic()
        self._cpu0 = (_busy_jiffies(), self._ours()[0])
        self._thread.start()

    def stop(self) -> float:
        """Stops sampling; returns the average cores other processes
        used meanwhile."""
        self._stop.set()
        self._thread.join()
        wall = time.monotonic() - self._t0
        other = (_busy_jiffies() - self._cpu0[0]) - (self._ours()[0] - self._cpu0[1])
        return round(max(0, other) / os.sysconf("SC_CLK_TCK") / max(wall, 1e-9), 2)


def stop_spark(spark) -> None:
    """Stops the session and its JVM and waits for every process this
    run started to end."""
    from pyspark import SparkContext

    table = _proc_table()
    # (pid, start time): a pid reused by another process is left alone
    started = {(p, table[p][3]) for p in _tree(table, os.getpid()) if p != os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for sig, grace in ((signal.SIGTERM, 30), (signal.SIGKILL, 10)):
        deadline = time.monotonic() + grace
        while True:
            table = _proc_table()
            alive = [p for p, t in started if p in table and table[p][3] == t]
            if not alive or time.monotonic() > deadline:
                break
            for pid in alive:
                try:
                    os.kill(pid, sig)
                    os.waitpid(pid, os.WNOHANG)
                except ProcessLookupError:  # ended meanwhile
                    pass
                except ChildProcessError:  # not our child: init reaps it
                    pass
            time.sleep(0.1)


# ------------------------------------------------------------ set-up

def prepare_env(root: str, work: str) -> None:
    """Point Spark's Python workers at the repository, and every
    temporary file of the JVM, Spark and Python under ``work``."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def setup(sf_dir: str, work: str, sessions: list[float]):
    """One set-up: start the session and run the warm-up query; the
    session start time is appended to ``sessions``."""
    from airbnb_pyspark_jobs_spark.plans import QUERIES
    from airbnb_pyspark_jobs_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            # the profile's 8g heap is sized for far larger inputs
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.enabled": "false",
            # the traced run diffs the status store's job and stage lists
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    sessions.append(time.perf_counter() - t0)
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES[WARMUP_QUERY](spark, sf_dir).toPandas()
    return spark


# ------------------------------------------------------------ runs

def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def du_mb(path: str, skip: tuple[str, ...] = ()) -> float:
    total = 0
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if x not in skip]
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / MB


def end_to_end(units: list[dict], setups: list[float], peak_rss_mb: float) -> dict:
    """End-to-end figures of the measured passes: name -> (value, unit,
    sample count)."""
    done = [u for u in units if u["s"] is not None]
    lat = [op["s"] for u in done for op in u["ops"]]
    return {
        "wall_s": (median([u["s"] for u in done]), "s", len(done)),
        "query_p50_s": (median(lat), "s", len(lat)),
        "cpu_s": (median([u["cpu_s"] for u in done]), "s", len(done)),
        "setup_s": (median(setups), "s", len(setups)),
        "peak_rss_mb": (peak_rss_mb, "MB", 1),
    }


def batch_units(passes: list[list[dict]]) -> list[dict]:
    units = []
    for ops in passes:
        timed = all("s" in op for op in ops)
        units.append({
            "ops": ops,
            "s": sum(op["s"] for op in ops) if timed else None,
            "cpu_s": sum(op["cpu_s"] for op in ops) if timed else None,
            "attempted": len(ops),
            "failed": sum(not op["ok"] for op in ops),
        })
    return units


def measured_passes(spec: dict, seconds: float) -> int:
    return max(1, round(seconds / spec["pass_s"]))


def layer_figures(unit: dict, timer, stages: dict, probe_s: float, sessions: list[float]) -> dict:
    """Per-layer figures of one traced unit: name -> (value, unit).
    ``trace.wall_s`` (the pass alone) minus the untraced ``wall_s`` of
    the same seed is the tracing overhead; ``trace.probe_s`` is the
    probe's share. The streaming figures come from the unit's drain and
    are 0 when it has none."""
    ops, drained = unit["ops"], unit.get("drain")

    def total(key):
        return sum(op.get(key, 0) for op in ops)

    sec, calls = timer.seconds, timer.calls
    return {
        "plans.build_s": (total("build_s"), "s"),
        "plans.build_jobs": (total("build_jobs"), "count"),
        "plans.plan_s": (total("plan_s"), "s"),
        "plans.exchanges": (total("exchanges"), "count"),
        "plans.exec_jobs": (total("exec_jobs"), "count"),
        "plans.exec_s": (total("exec_s"), "s"),
        "caching.checkpoints": (calls["caching.checkpoint"], "count"),
        "caching.checkpoint_s": (sec["caching.checkpoint"], "s"),
        "caching.blocks_leaked": (total("blocks_leaked") + (drained or {}).get("blocks_leaked", 0), "count"),
        "operators.similarity.s": (sec["operators.similarity"], "s"),
        "operators.scd2.s": (sec["operators.scd2"], "s"),
        "operators.facts.s": (sec["operators.facts"], "s"),
        "operators.dedupe.s": (sec["operators.dedupe"], "s"),
        "operators.dedupe.calls": (calls["operators.dedupe"], "count"),
        "sources.input_mb": (stages["inputBytes"] / MB, "MB"),
        "sources.write_s": (sec["sources.write"], "s"),
        "sources.write_mb": (stages["outputBytes"] / MB, "MB"),
        "exec.task_s": (stages["executorRunTime"] / 1000.0, "s"),
        "exec.tasks": (stages["numCompleteTasks"], "count"),
        "exec.shuffle_write_mb": (stages["shuffleWriteBytes"] / MB, "MB"),
        "exec.spill_mb": ((stages["memoryBytesSpilled"] + stages["diskBytesSpilled"]) / MB, "MB"),
        "streaming.batch_p50_s": (median(drained["batches"]) if drained else 0.0, "s"),
        "streaming.source_rows_per_doc": (drained["input_rows"] / drained["docs"] if drained else 0.0, "ratio"),
        "streaming.compact_s": (sec["streaming.compact"], "s"),
        "streaming.state_mb": (du_mb(drained["warehouse"], skip=("gated", "shards")) if drained else 0.0, "MB"),
        "session.start_s": (median(sessions), "s"),
        "trace.wall_s": (unit["s"] or 0.0, "s"),
        "trace.probe_s": (probe_s, "s"),
    }


def trace_shares(unit: dict, layers: dict, floor_s: float, cores: int) -> dict:
    """Where the traced pass went: build, execute and task time as shares
    of the pass, the cores busy with tasks while it ran, and per query
    the share a one-task job's fixed cost would take of it for every
    job the query ran (``job_floor_s`` is that cost)."""
    wall = layers["trace.wall_s"][0] or 1e-9
    queries = {
        op["name"]: round(floor_s * (op["build_jobs"] + op["exec_jobs"]) / op["s"], 3)
        for op in unit["ops"] if "s" in op
    }
    return {
        "build": round(layers["plans.build_s"][0] / wall, 3),
        "exec": round(layers["plans.exec_s"][0] / wall, 3),
        "task_cores": round(layers["exec.task_s"][0] / wall, 2),
        "task_of_slots": round(layers["exec.task_s"][0] / (cores * wall), 3),
        "job_floor_s": round(floor_s, 4),
        "floor_share": queries,
    }


def traced_unit(spark, spec: dict, paths: dict, work: str, sessions: list[float], passes) -> tuple[dict, dict, dict]:
    """One pass with every layer traced, then the drain of the staged
    micro-batches if the workload has any; returns the unit, its
    per-layer figures and their shares. The stream state check runs
    after tracing."""
    import tracing
    from airbnb_pyspark_jobs_spark.caching import release_owned_caches
    from workloads import CHECK_JOBS, check_stream, drain

    timer, probe = tracing.LayerTimer(), tracing.SparkProbe(spark, CHECK_JOBS)
    floor_s = probe.job_floor_s(spark)
    work = os.path.join(work, "traced")
    stages0 = probe.stage_totals()
    try:
        timer.install()
        unit = passes(1, probe)[0]
        if "stream_dir" in paths:
            d = unit["drain"] = drain(spark, paths["stream_dir"], work)
            release_owned_caches()
            d["blocks_leaked"] = probe.cached_blocks()
        stages = tracing.stage_delta(stages0, probe.stage_totals())
    finally:
        timer.uninstall()
    if "drain" in unit:
        d, n = unit["drain"], spec["data"]["n_batches"]
        d["docs"] = n * spec["data"]["batch_docs"]
        ok = len(d["batches"]) == n and check_stream(spark, paths["stream_dir"], d["warehouse"], log)
        unit["attempted"] += n
        unit["failed"] += 0 if ok else n
    layers = layer_figures(unit, timer, stages, probe.seconds, sessions)
    return unit, layers, trace_shares(unit, layers, floor_s, int(os.environ["SPARK_GRAFT_CPUS"]))


def run(spark, spec: dict, paths: dict, work: str, seconds: float, trace: bool, sessions: list[float], cpu_s, oracle, phases) -> dict:
    """The warm passes, then the measured passes, or with ``trace`` one
    traced pass in their place."""
    from airbnb_pyspark_jobs_spark.sources.sinks import ParquetWarehouseSink
    from workloads import run_batch

    sink = ParquetWarehouseSink(os.path.join(work, "warehouse"))

    def passes(n: int, probe=None) -> list[dict]:
        return batch_units(run_batch(spark, spec, paths["sf_dir"], sink, oracle, n, log, cpu_s, probe))

    t0 = time.perf_counter()
    out = {"warm": passes(spec["warm_passes"])}
    phases["warm"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    if trace:
        unit, out["layers"], out["shares"] = traced_unit(spark, spec, paths, work, sessions, passes)
        out["units"] = [unit]
    else:
        out["units"] = passes(measured_passes(spec, seconds))
    phases["run"] = time.perf_counter() - t0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Engine benchmark: one workload, one seed.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    began = time.perf_counter()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        log(f"{PKG}/ not found under {root}: run from the repository root")
        return 2
    spec = WORKLOADS[args.workload]
    cache = os.path.join(root, ".perfbench")
    work = os.path.join(cache, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(root, work)
    sys.path.insert(0, root)
    paths = gen.materialize(spec["data"], args.seed, os.path.join(cache, "inputs"))
    phases = {"inputs": time.perf_counter() - began}

    monitor = Monitor()
    monitor.start()
    t0 = time.perf_counter()
    from airbnb_pyspark_jobs_spark.plans import ORACLES  # and the query registry
    from workloads import Oracle

    phases["import"] = time.perf_counter() - t0
    sessions: list[float] = []
    setups: list[float] = []
    spark = None
    pool = ThreadPoolExecutor(1)
    try:
        # the expected results are computed while the first set-up waits
        # for the JVM to start, which takes longer; the median set-up is
        # a later one
        oracle = pool.submit(Oracle, paths["sf_dir"], ORACLES, spec["queries"])
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = setup(paths["sf_dir"], work, sessions)
            setups.append(time.perf_counter() - t0)
        phases["setup"] = setups
        t0 = time.perf_counter()
        oracle = oracle.result()
        phases["oracle"] = oracle.seconds
        phases["oracle_wait"] = time.perf_counter() - t0
        result = run(spark, spec, paths, work, args.seconds, bool(args.trace), sessions, monitor.cpu_s, oracle, phases)
    finally:
        pool.shutdown()
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        ambient = monitor.stop()
        shutil.rmtree(work, ignore_errors=True)
        phases["stop"] = time.perf_counter() - t0

    figures = end_to_end(result["units"], setups, monitor.peak_rss_mb)
    # warm passes are checked too
    every = result["warm"] + result["units"]
    attempted = sum(u["attempted"] for u in every)
    failed = sum(u["failed"] for u in every)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in figures.items()},
        "fail_ratio": failed / attempted,
        # average cores used by other processes during the run
        "ambient_cores": ambient,
        "load_suspect": ambient > 0.5,
        "phase_s": phases,
    }
    # untimed checking in the last pass: oracle compare, sink read-back
    report["check_s"] = {
        name: [round(op.get("check_s", 0), 3), round(op.get("read_back_s", 0), 3)]
        for name in spec["queries"] for op in result["units"][-1]["ops"] if op["name"] == name
    }
    report["query_s"] = {
        name: [op["s"] for u in result["units"] for op in u["ops"] if op["name"] == name and "s" in op]
        for name in spec["queries"]
    }
    drained = result["units"][0].get("drain")
    if drained:
        report["stream"] = {"batch_s": drained["batches"], "docs_per_s": drained["docs"] / drained["s"]}
    if args.trace:
        report["layers"] = {k: {"value": v, "unit": u} for k, (v, u) in result["layers"].items()}
        report["shares"] = result["shares"]
        metrics = report["layers"]
    else:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            names = [m["name"] for m in json.load(fh)["end_to_end"]]
        metrics = {k: {"value": report["metrics"][k]["value"], "unit": report["metrics"][k]["unit"]} for k in names}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
