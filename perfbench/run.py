"""Benchmark entry point.

    python3 perfbench/run.py --workload search_serve --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Starts one local Spark session
sized to the box (``SPARK_GRAFT_CPUS`` = usable CPUs, driver memory
``SPARK_GRAFT_DRIVER_MEM``, default 1g), builds every input and index
from ``--seed`` in a fresh directory under ``.perfbench_work/`` and
removes it at exit. Prints the run's environment, the workload's own
named metrics with sample counts and every failed check, then, as the
last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).

A traced run interleaves untraced and traced rounds of the workload
(the difference is ``trace.overhead_share``), then drives one fully
traced round of the other two workloads, so every per-layer metric is
measured. ``--spans FILE`` also writes every span as JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
SETUP_REPEATS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _proc_stat() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of this
    process plus ``root_pid`` and every process below it: the driver JVM
    and the Python workers it forks."""
    procs: dict[int, tuple[int, int]] = {}  # pid -> (parent pid, clock ticks)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    keep = {root_pid}
    for pid in sorted(procs):
        p = pid
        while p in procs and p not in keep and p > 1:
            p = procs[p][0]
        if p in keep:
            keep.add(pid)
    ticks = sum(procs[p][1] for p in keep if p in procs)
    t = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + t.user + t.system


def _configure_env(work: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the package under test from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    return cpus


def _start_spark(work: str):
    from gopensearch_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from py4j.protocol import Py4JError

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        gw.shutdown()
    except (Py4JError, OSError):
        pass  # the JVM is already gone (a signal to the whole process group)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="traced runs: write every span to this JSON file")
    ap.add_argument("--shard-files", action="store_true",
                    help="datapipe_skew: read each shard from a file of its own (shows a known defect)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "gopensearch_spark", "__init__.py")):
        _fail(f"no gopensearch_spark package under {ROOT}: run from the root of a source checkout")
    sys.path.insert(0, ROOT)
    from perfbench import metrics, workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r} (one of {', '.join(workloads.WORKLOADS)})")

    # a SIGTERM (e.g. from timeout) still stops Spark and removes the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cpus = _configure_env(work)
    steal0, total0 = _proc_stat()
    spark = None
    phases: dict[str, float] = {}
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work)
        phases["spark_start_s"] = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        tracer.install()
        # an untraced run sets up SETUP_REPEATS times, each from scratch
        # in a directory of its own, and keeps the last; setup_s is Spark
        # start plus the median set-up
        setups = []
        for k in range(1 if args.trace else SETUP_REPEATS):
            if setups:
                from gopensearch_spark.search import readers

                readers.invalidate()
                shutil.rmtree(ctx.work, ignore_errors=True)
            ctx = workloads.Ctx(spark, tracer, os.path.join(work, f"setup-{k}"), args.seed,
                                shard_files=args.shard_files)
            wl = workloads.WORKLOADS[args.workload]()
            tracer.workload, tracer.phase = wl.name, "setup"
            t1 = time.perf_counter()
            wl.setup(ctx)
            setups.append(time.perf_counter() - t1)
        setup_s = phases["spark_start_s"] + statistics.median(setups)
        t1 = time.perf_counter()
        tracer.enabled = False  # warm-up calls are neither timed nor traced
        wl.warmup(ctx)
        tracer.enabled = bool(args.trace)
        phases["warmup_s"] = time.perf_counter() - t1
        tracer.phase = "run"
        res = workloads.Result()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        cpu0, t1 = _tree_cpu_s(jvm_pid), time.perf_counter()
        wl.run(ctx, args.seconds, res)
        cpu_s = _tree_cpu_s(jvm_pid) - cpu0
        phases["run_s"] = time.perf_counter() - t1
        jvm_hwm = _vm_hwm_mb(jvm_pid)
        py_hwm = _vm_hwm_mb("self")
        done = [(wl, ctx, res)]
        if args.trace:
            for name, cls in workloads.WORKLOADS.items():
                if name == wl.name:
                    continue
                sctx = workloads.Ctx(spark, tracer, work, args.seed, sweep=True,
                                     shard_files=args.shard_files)
                other, sres = cls(), workloads.Result()
                tracer.workload, tracer.phase = name, "setup"
                other.setup(sctx)
                tracer.phase = "run"
                other.run(sctx, 0, sres)
                done.append((other, sctx, sres))
            tracer.enabled = False
            tracer.finish()
        t1 = time.perf_counter()
        for w, c, r in done:
            w.check(c, r)
        phases["check_s"] = time.perf_counter() - t1
        steal1, total1 = _proc_stat()

        attempted = sum(r.attempted for _, _, r in done)
        failures = [f for _, _, r in done for f in r.failures]
        env = {"nproc": cpus, "loadavg": os.getloadavg(),
               "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
               "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
               "phases": {k: round(v, 3) for k, v in phases.items()},
               "setup_each_s": [round(x, 3) for x in setups],
               "rss_mb": {"jvm": round(jvm_hwm), "python": round(py_hwm)},
               "peak_rss_note": "driver JVM + driver Python VmHWM; Python workers excluded"}
        print("env " + json.dumps(env))
        detail = dict(res.detail, peak_rss_mb=(jvm_hwm + py_hwm, "MB", 1),
                      failed_share=(len(failures) / max(1, attempted), "ratio", attempted))
        for name, (value, unit, n) in detail.items():
            print(f"detail {wl.name} {name} = {value:.6g} {unit} (n={n})")
        for f in failures:
            print(f"FAILED {f}")

        if args.trace:
            layer = metrics.layer_values(tracer, {k: v for _, _, r in done for k, v in r.layer.items()})
            layer["trace.overhead_share"] = metrics.trace_overhead(
                res.op_kinds, res.op_rounds, res.traced_flags, res.ops)
            out = {k: {"value": _num(layer.get(k)), "unit": u}
                   for k, (u, _, _) in metrics.PER_LAYER.items()}
            if args.spans:
                with open(args.spans, "w") as f:
                    json.dump(tracer.dump(), f)
        else:
            e2e = {"setup_s": setup_s,
                   "op_p50_ms": 1e3 * statistics.median(res.ops),
                   "items_per_s": res.items / res.busy_s,
                   "cpu_ms_per_item": 1e3 * cpu_s / res.items,
                   "peak_rss_mb": jvm_hwm + py_hwm}
            units = {k: u for k, (u, _, _) in metrics.END_TO_END.items()} | metrics.WALL
            for k, u in units.items():
                print(f"metric {k} = {e2e[k]:.6g} {u} (n={len(res.ops)})")
            out = {k: {"value": e2e[k], "unit": units[k]} for k in metrics.END_TO_END}
        result = {"correct": not failures, "attempted": attempted,
                  "failed": len(failures), "metrics": out}
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(work))  # only if no other run is using it
    print(json.dumps(result))
    return 0


def _num(x):
    return None if x is None or (isinstance(x, float) and math.isnan(x)) else x


if __name__ == "__main__":
    sys.exit(main())
