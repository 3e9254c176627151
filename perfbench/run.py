#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload registry_batch --seed 1 \\
        --seconds 20 --trace 0

One run is one fresh process: generate the pinned inputs, set up the
SparkSession once (the timed set-up starts at process start), run one
untimed warm-up pass and then the timed passes.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run repeats two timed passes on a session with
Spark's event log on and reports the per-layer metrics instead. A
human-readable report (sample basis, environment) goes to stderr.

Everything the run writes (inputs, sinks, warehouse, event log, temp
files) lives in ``.perfbench_tmp/`` under the checkout and is removed at
exit. Metric definitions and the layer map are in ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402  (benchmark-local module, not the engine)

TAIL_OPS = 10
GC_ROUNDS = 5
TRACED_PASSES = 2      # per-layer metrics have no bound; keep the run short
RUN_DEADLINE_S = 150.0
END_TO_END = {   # name -> unit
    "setup_s": "s", "pass_s": "s", "op_s_geomean": "s", "op_s_tail": "s",
    "py_rss_mb": "MB", "jvm_live_mb": "MB",
}
SPARK_COUNTS = ("jobs", "stages", "tasks", "stage_busy_s", "driver_gap_s",
                "executor_cpu_s", "shuffle_read_mb", "shuffle_write_mb",
                "spill_mb")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    reg = workloads.PINNED["registry_batch"]["ops"]
    nl = workloads.PINNED["nl_serve_1c"]["ops"]
    units: dict[str, str] = {}
    for q in reg:
        units[f"queries.build_s.{q}"] = "s"
        units[f"spark.action_s.{q}"] = "s"
        units[f"spark.driver_gap_s.{q}"] = "s"
    units["queries.build_jobs"] = "count"
    for c in SPARK_COUNTS:
        units[f"spark.{c}"] = ("s" if c.endswith("_s") else
                               "MB" if c.endswith("_mb") else "count")
    units["cache.persistent_rdds"] = "count"
    units["cache.storage_mb"] = "MB"
    for stage in workloads.PINNED["nl_serve_1c"]["stages"]:
        units[f"orchestrator.stage_s.{stage}"] = "s"
    for name in nl:
        units[f"orchestrator.run_s.{name}"] = "s"
    for m in ("accept_ms", "first_event_ms", "done_lag_ms"):
        units[f"serve.{m}"] = "ms"
    units.update({"session.start_s": "s", "session.warm_s": "s",
                  "warmup.first_pass_s": "s", "trace.overhead_frac": "frac"})
    return units


# ---------------------------------------------------------------------------
# run hygiene
# ---------------------------------------------------------------------------

def _descendants(pid: int) -> list[int]:
    """Child processes of ``pid``, recursively (Linux procfs)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.time() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def stop_engine(spark) -> None:
    """Stop the session, the JVM it launched and the Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    _wait_gone(workers, 30)


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies per state)."""
    with open("/proc/stat", encoding="utf-8") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


def process_age_s() -> float:
    """Seconds since this process started (Linux procfs, 10 ms ticks)."""
    with open("/proc/self/stat", encoding="utf-8") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="utf-8") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# perf_counter() reading at process start: set-up is timed from here
PROCESS_START = time.perf_counter() - process_age_s()


def environment() -> dict:
    def cmd(args: list[str]) -> str | None:
        try:
            out = subprocess.run(args, cwd=ROOT, capture_output=True,
                                 text=True, timeout=10)
        except (OSError, subprocess.TimeoutExpired):
            return None
        text = (out.stdout or out.stderr).strip()
        return text.splitlines()[0] if out.returncode == 0 and text else None

    return {"python": platform.python_version(),
            "java": cmd(["java", "-version"]),
            "git_commit": cmd(["git", "rev-parse", "HEAD"]) or "not a git checkout"}


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------

def warm(spark, data_dir: str) -> None:
    """The engine bench's warm action: one tiny count, one tiny
    applyInPandas (spawns the Python UDF workers)."""
    region = spark.read.parquet(os.path.join(data_dir, "region.parquet"))
    region.count()
    region.groupBy("r_regionkey").applyInPandas(
        lambda pdf: pdf, schema=region.schema).count()


def set_up(data_dir: str, conf: dict, start: float):
    """get_spark + warm action; returns (spark, session_s, warm_s) with
    session_s counted from the perf_counter() reading ``start``."""
    from dynamic_etl_pipeline_thesis_ii_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    b = time.perf_counter()
    warm(spark, data_dir)
    return spark, b - start, time.perf_counter() - b


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def tail(xs: list[float]) -> tuple[float, float, int]:
    """Mean of the ops beyond the highest percentile with >= TAIL_OPS
    ops beyond it; returns (mean, percentile, ops beyond)."""
    k = min(TAIL_OPS, len(xs))
    return (statistics.fmean(sorted(xs)[-k:]),
            100.0 * (len(xs) - k) / len(xs), k)


def by_name(passes: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for p in passes:
        for op in p["ops"]:
            out.setdefault(op["name"], []).append(op)
    return out


def jvm_live_mb(spark) -> float:
    """Driver heap in use: the least of GC_ROUNDS readings, each after
    ``gc.collect()`` in Python and ``System.gc()``. One round is not
    enough: the JVM frees the objects that py4j handles pinned only at
    a later GC, and the listener bus may still be storing the last
    passes' events."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(GC_ROUNDS):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        used.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
    return min(used)


def cache_state(spark) -> tuple[int, float]:
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    storage = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return jsc.getPersistentRDDs().size(), storage


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Runner:
    """Runs one workload's passes. The session is passed per call
    because trace mode swaps it for one with the event log on."""

    def __init__(self, workload: str, data_dir: str, work: str):
        self.workload, self.data_dir, self.work = workload, data_dir, work
        self.names = list(workloads.PINNED[workload]["ops"])
        if workload == "registry_batch":
            self.qs = workloads.registry_queries()
        else:
            workloads.check_nl_targets()

    def passes(self, spark, orders: list[list[str]],
               deadline: float) -> list[dict]:
        """Run one pass per order, while the run can still end in time."""
        out: list[dict] = []
        for order in orders:
            if out and time.time() + 2 * (out[-1]["t1"] - out[-1]["t0"]) > deadline:
                break
            if self.workload == "registry_batch":
                out.append(workloads.registry_pass(spark, self.qs, order,
                                                   self.data_dir))
                continue
            with workloads.nl_server(spark, self.data_dir) as port:
                out.append(workloads.nl_pass(port, order, self.data_dir,
                                             self.work))
        return out


def end_to_end(timed: list[dict], setup: tuple[float, float],
               jvm_mb: float) -> tuple[dict, list[str]]:
    ops = by_name(timed)
    lat = [op["wall_s"] for p in timed for op in p["ops"]]
    tail_s, pct, k = tail(lat)
    values = {
        "setup_s": sum(setup),
        "pass_s": statistics.median(p["t1"] - p["t0"] for p in timed),
        "op_s_geomean": geomean([statistics.median(o["wall_s"] for o in v)
                                 for v in ops.values()]),
        "op_s_tail": tail_s,
        "py_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "jvm_live_mb": jvm_mb,
    }
    n_ops = len(lat)
    basis = {
        "setup_s": f"process start to get_spark {setup[0]:.2f} s "
                   f"+ warm action {setup[1]:.2f} s, less input generation",
        "pass_s": f"median of {len(timed)} timed passes ("
                  + ", ".join(f"{p['t1'] - p['t0']:.2f}" for p in timed) + ")",
        "op_s_geomean": f"geomean over {len(ops)} op types of per-type "
                        f"medians ({n_ops // max(1, len(ops))} samples each)",
        "op_s_tail": f"mean of the {k} of {n_ops} ops beyond p{pct:.1f}",
        "py_rss_mb": "peak RSS of the benchmark process",
        "jvm_live_mb": f"driver heap in use, least of {GC_ROUNDS} "
                       "readings after System.gc()",
    }
    lines = [f"  {m:<14} {values[m]:>10.4f} {END_TO_END[m]:<3} {basis[m]}"
             for m in END_TO_END]
    return values, lines


def per_layer(workload: str, traced: list[dict], untraced: list[dict],
              log_dir: str, setup: tuple[float, float],
              warmup_s: float, cache: tuple[int, float]) -> dict[str, float]:
    from eventlog import read_events, reduce_events, window

    trace = reduce_events(read_events(log_dir))
    med = statistics.median
    vals = {name: 0.0 for name in per_layer_units()}
    per_pass = [window(trace, p["t0"], p["t1"]) for p in traced]
    for c in SPARK_COUNTS:
        vals[f"spark.{c}"] = med(w[c] for w in per_pass)
    ok = [{**p, "ops": [r for r in p["ops"] if r["ok"]]} for p in traced]
    ops = by_name(ok)
    if workload == "registry_batch":
        for q, recs in ops.items():
            vals[f"queries.build_s.{q}"] = med(r["build_s"] for r in recs)
            vals[f"spark.action_s.{q}"] = med(r["action_s"] for r in recs)
            vals[f"spark.driver_gap_s.{q}"] = med(
                window(trace, r["t0"], r["t1"])["driver_gap_s"] for r in recs)
        vals["queries.build_jobs"] = med(
            sum(window(trace, r["t0"], r["t0"] + r["build_s"])["jobs"]
                for r in p["ops"]) for p in ok)
    else:
        stage_sums = []
        for p in ok:
            sums: dict[str, float] = {}
            for r in p["ops"]:
                # from the request, across the engine events after the
                # __created__ frame, to __done__
                prev = r["t0"]
                for _, ev in r["events"][1:]:
                    stage = "done" if ev["stage"] == "__done__" else ev["stage"]
                    sums[stage] = sums.get(stage, 0.0) + ev["ts"] - prev
                    prev = ev["ts"]
            stage_sums.append(sums)
        for stage in workloads.PINNED["nl_serve_1c"]["stages"]:
            vals[f"orchestrator.stage_s.{stage}"] = med(
                s.get(stage, 0.0) for s in stage_sums)
        for name, recs in ops.items():
            vals[f"orchestrator.run_s.{name}"] = med(r["wall_s"] for r in recs)
        recs = [r for p in ok for r in p["ops"]]
        vals["serve.accept_ms"] = med(
            (r["events"][0][0] - r["t0"]) * 1e3 for r in recs)
        vals["serve.first_event_ms"] = med(
            (r["events"][1][0] - r["t0"]) * 1e3 for r in recs)
        vals["serve.done_lag_ms"] = med(
            (r["events"][-1][0] - r["events"][-1][1]["ts"]) * 1e3 for r in recs)
    vals["cache.persistent_rdds"], vals["cache.storage_mb"] = cache
    vals["session.start_s"], vals["session.warm_s"] = setup
    vals["warmup.first_pass_s"] = warmup_s
    vals["trace.overhead_frac"] = (
        med(p["t1"] - p["t0"] for p in traced)
        / med(p["t1"] - p["t0"] for p in untraced) - 1.0)
    return vals


def run(args, work: str) -> tuple[dict, int, int, bool]:
    deadline = time.time() + RUN_DEADLINE_S
    clock = [("start", time.perf_counter())]

    def phase(name: str) -> None:
        clock.append((name, time.perf_counter()))

    data_dir = os.path.join(work, "data")
    subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"),
                    data_dir], check=True, timeout=120)
    phase("datagen")
    # the benchmark's own input generation is not part of set-up
    setup_start = PROCESS_START + (clock[1][1] - clock[0][1])
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    spark = None
    traced: list[dict] = []
    try:
        spark, s_sess, s_warm = set_up(data_dir, conf, setup_start)
        setup = (s_sess, s_warm)
        phase("set-up")
        runner = Runner(args.workload, data_dir, work)
        nominal = workloads.PINNED[args.workload]["nominal_pass_s"]
        n_timed = max(2, round(args.seconds / nominal))
        orders = workloads.pass_orders(runner.names, args.seed, 1 + n_timed)
        warmup = runner.passes(spark, orders[:1], deadline)
        phase("warm-up")
        timed = runner.passes(spark, orders[1:], deadline)
        phase("timed")
        jvm_mb = jvm_live_mb(spark)
        cache = cache_state(spark)
        if args.trace:
            from dynamic_etl_pipeline_thesis_ii_spark.queries.dataops_suite import (
                release_shared_caches,
            )
            release_shared_caches()
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir)
            spark.stop()
            spark, _, _ = set_up(data_dir, conf | {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.rolling.enabled": "true",
                "spark.eventLog.compress": "false"}, time.perf_counter())
            traced = runner.passes(spark, orders[1:1 + TRACED_PASSES],
                                   deadline)
            cache = cache_state(spark)
            phase("traced")
    finally:
        stop_engine(spark)
        phase("teardown")
    ops = [op for p in warmup + timed + traced for op in p["ops"]]
    failed = [op for op in ops if not op["ok"]]
    for op in failed:
        print(f"# FAILED {op['name']}: {op['error']}", file=sys.stderr)
    if not timed or (args.trace and not traced):
        raise RuntimeError("no timed pass finished before the run deadline")
    values, lines = end_to_end(timed, setup, jvm_mb)
    warmup_s = warmup[0]["t1"] - warmup[0]["t0"]
    print(f"# {args.workload} seed={args.seed} "
          f"fail_frac={len(failed) / len(ops):.4f} ({len(failed)}/{len(ops)})",
          file=sys.stderr)
    print("# phases: " + ", ".join(
        f"{name} {t - t_prev:.1f}s"
        for (_, t_prev), (name, t) in zip(clock, clock[1:])), file=sys.stderr)
    print("\n".join(lines), file=sys.stderr)
    if args.trace:
        units = per_layer_units()
        values = per_layer(args.workload, traced, timed, log_dir, setup,
                           warmup_s, cache)
        for name, v in values.items():
            print(f"  {name:<44} {v:>12.4f} {units[name]}", file=sys.stderr)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    else:
        metrics = {k: {"value": values[k], "unit": END_TO_END[k]}
                   for k in END_TO_END}
    return metrics, len(ops), len(failed), not failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like Ctrl-C, so the engine is stopped and the
    # temporary directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, workloads.PKG, "__init__.py")):
        print(f"error: engine package {workloads.PKG}/ not found under "
              f"{ROOT}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    load0, cpu0 = os.getloadavg()[0], cpu_times()
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "TMPDIR": work,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)
    os.chdir(work)
    try:
        metrics, attempted, failed, correct = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass
    import pyspark

    env = environment()   # after the run: `java -version` starts a JVM
    print(f"# nproc={nproc} load={load0:.2f}->{os.getloadavg()[0]:.2f} "
          f"cpu_steal={steal_share(cpu0, cpu_times()):.1%} "
          f"python={env['python']} pyspark={pyspark.__version__} "
          f"java={env['java']!r} commit={env['git_commit']}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
