#!/usr/bin/env python3
"""Loader-lifecycle benchmark.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 1 \\
        --trace 0

Runs one workload (see NOTES.md) in this process with one client in a
closed loop on ``local[<nproc>]``: set-up, then timed passes back to back
until ``--seconds`` have passed, at least one. The first pass also checks
every output, outside its timers. Prints every metric with its unit and
sample count, and as the last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 1`` adds one traced
pass, warm, after the timed ones and reports the per-layer metrics
instead of the end-to-end ones.

Run it from the repository root. It writes only under ``.perfbench_work/``
(removed at exit) and ``.perfbench_out/`` (the traced run's spans).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3     # input generations per run; their median is reported
MB = 1 << 20


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, -(-int(q * 100) * len(s) // 100) - 1))]


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _cpu_ticks() -> tuple[int, int]:
    """Stolen and total CPU ticks of the box since boot, from /proc/stat:
    time the host ran others on this machine's CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def start_session(work: str, trace: bool):
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers unpickle the package's functions by import path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.makedirs(os.environ["TMPDIR"])
    # every JVM Spark starts, its launcher too, keeps its temp files in
    # the work directory and writes no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir":
                         "file://" + os.path.join(work, "eventlog")})
    from tally_database_loader_spark.session import get_spark
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cpus


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM, which exits when its stdin
    closes."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Loader-lifecycle benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tally_database_loader_spark",
                                       "__init__.py")):
        _fail(f"no tally_database_loader_spark package under {ROOT}")
    sys.path[:0] = [ROOT, HERE]
    import workloads
    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}")

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        spark, cpus = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        try:
            res = run(spark, workloads.WORKLOADS[args.workload](), args,
                      work)
        finally:
            stop_session(spark)
        res.update(cpus=cpus, session_s=session_s)
        if args.trace:
            res["layers"] = finish_trace(res, work, args)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return report(res, args)


def run_pass(phases, ctx, check=False):
    """One closed-loop pass: each phase's reset (untimed) and run."""
    import workloads as W
    for p in phases:
        p.reset(ctx)
    before = W.dir_files(ctx.path("store"))
    results, walls = [], []
    steal0, total0 = _cpu_ticks()
    for p in phases:
        try:
            t = time.perf_counter()
            results.append(p.run(ctx, check))
            walls.append(time.perf_counter() - t)
        except Exception as exc:  # the pass is lost, its operations failed
            traceback.print_exc()
            ctx.failures.append(f"{p.name}: {exc!r}")
            return None
    steal1, total1 = _cpu_ticks()
    new = W.dir_files(ctx.path("store")) - before
    data = {ctx.path("store")} if os.path.isdir(ctx.path("store")) else set()
    if any(not p.needs_dump for p in phases):
        data.add(ctx.notes["sf"])
    return {"seconds": sum(r.seconds for r in results),
            "phases": [(p.name, r.seconds, w - r.seconds)
                       for p, r, w in zip(phases, results, walls)],
            "ops": [o for r in results for o in r.ops],
            "failed": sum(r.failed for r in results),
            "written": sum(os.path.getsize(f) for f in new),
            "stored": sum(W.dir_bytes(d) for d in data),
            "new_files": new,
            "steal": (steal1 - steal0) / max(total1 - total0, 1)}


def run(spark, phases, args, work: str) -> dict:
    """Set-up, then the closed loop: passes back to back until
    ``--seconds`` have passed. The first pass also checks every output,
    outside its timers."""
    import workloads as W
    ctx = W.Ctx(spark, work, args.seed)
    inputs = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        W.make_inputs(ctx, any(p.needs_dump for p in phases))
        inputs.append(time.perf_counter() - t)
    t = time.perf_counter()
    for p in phases:
        p.prepare(ctx)
    load_s = time.perf_counter() - t

    per_pass = sum(p.ops_per_pass for p in phases)
    attempted = sum(p.checks() for p in phases)
    failed, tries, passes = 0, 0, []
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < args.seconds:
        res = run_pass(phases, ctx, check=tries == 0)
        tries += 1
        attempted += per_pass
        if res is None:
            failed += per_pass
            if tries >= 3:
                break
            continue
        passes.append(res)
        failed += res["failed"]

    import bench
    out = {"inputs": inputs, "load_s": load_s, "ctx": ctx, "passes": passes,
           "calibration": bench._calibrate(spark)}
    if args.trace:
        out.update(traced_pass(spark, phases, ctx, args))
        for key in ("untraced", "traced"):
            attempted += per_pass
            failed += per_pass if out[key] is None else out[key]["failed"]
    out.update(attempted=attempted, failed=failed, failures=ctx.failures)
    return out


def traced_pass(spark, phases, ctx, args) -> dict:
    """After the timed passes, one more untraced pass and then the same
    pass traced: both warm, so their difference is the tracing overhead
    and the layers' times are not the JVM's warm-up."""
    import layers
    from spans import Tracer
    untraced = run_pass(phases, ctx)
    tracer = Tracer(spark, f"{args.workload}-{args.seed}")
    probe = layers.Probe()
    layers.install(tracer, probe, spark)
    ctx.tracer = tracer
    try:
        with tracer.span("pass", workload=args.workload):
            traced = run_pass(phases, ctx)
    finally:
        tracer.restore()
        ctx.tracer = None
    return {"untraced": untraced, "traced": traced, "tracer": tracer,
            "probe": probe, "session": _session_stats(spark)}


def _session_stats(spark) -> dict:
    """Driver high-water RSS (Python + JVM) and JVM GC time so far."""
    jvm = spark.sparkContext._jvm
    gc_ms = sum(b.getCollectionTime() for b in
                jvm.java.lang.management.ManagementFactory
                .getGarbageCollectorMXBeans())
    return {"peak_rss_mb": _hwm_mb("self") + _hwm_mb(
                jvm.java.lang.ProcessHandle.current().pid()),
            "gc_s": gc_ms / 1000}


def finish_trace(res: dict, work: str, args) -> dict:
    """Per-layer metrics from the spans and the (now closed) event log;
    spans go to ``.perfbench_out/``."""
    import layers
    from spans import EventLog
    tracer = res["tracer"]
    logdir = os.path.join(work, "eventlog")
    (name,) = os.listdir(logdir)
    log = EventLog(os.path.join(logdir, name), tracer.run_id)
    traced = res["traced"] or {"seconds": float("nan"), "new_files": set()}
    m = layers.metrics(tracer, res["probe"], log, res["ctx"],
                       traced["new_files"], res["session"])
    base = res["untraced"]["seconds"] if res["untraced"] else float("nan")
    m["trace.run_s"] = (traced["seconds"], "s")
    m["trace.overhead_s"] = (traced["seconds"] - base, "s")
    tracer.write(os.path.join(ROOT, ".perfbench_out",
                              f"spans-{tracer.run_id}.jsonl"))
    return m


def e2e_metrics(res: dict) -> dict[str, tuple[float, str, int]]:
    """End-to-end metrics: (value, unit, sample count)."""
    passes = res["passes"]
    ops = [s for p in passes for _, s in p["ops"]]
    setup = (res["session_s"] + statistics.median(res["inputs"])
             + res["load_s"])

    def med(key):
        return statistics.median(p[key] for p in passes)

    out = {
        "setup_s": (setup, "s", len(res["inputs"])),
        "run_s": (med("seconds"), "s", len(passes)),
        "store_mb": (med("stored") / MB, "MB", len(passes)),
        "written_mb": (med("written") / MB, "MB", len(passes)),
    }
    if ops:  # the sync-only workloads run no report or plan
        out["op_p50_s"] = (percentile(ops, 0.5), "s", len(ops))
        out["op_p90_s"] = (percentile(ops, 0.9), "s", len(ops))
    return out


# metrics printed for reading but left out of the JSON line: they are 0
# on some workloads, and the JSON carries attempted/failed instead of a rate
_PRINT_ONLY = ("written_mb",)


def report(res: dict, args) -> int:
    cal = res["calibration"]
    print(f"workload {args.workload}  seed {args.seed}  "
          f"local[{res['cpus']}]  one client, closed loop")
    print(f"calibration python_s={cal['python_s']} "
          f"spark_1core_s={cal['spark_1core_s']}")
    for line in res["failures"]:
        print(f"FAILED {line}")
    print(f"error_rate {res['failed'] / max(res['attempted'], 1):.4f} "
          f"({res['failed']} of {res['attempted']} operations)")
    print(f"set-up: session {res['session_s']:.3f} s, inputs "
          + " ".join(f"{s:.3f}" for s in res["inputs"])
          + f" s, store load {res['load_s']:.3f} s")
    for i, p in enumerate(res["passes"]):
        print(f"pass {i}: {p['seconds']:.3f} s = " + " + ".join(
            f"{n} {s:.3f}" for n, s, _ in p["phases"])
            + "  (untimed checks and bookkeeping: " + ", ".join(
                f"{n} {c:.3f}" for n, _, c in p["phases"]) + " s)")
        print(f"  host steal during the pass: {100 * p['steal']:.1f}% "
              "of CPU time")
        print("  ops: " + ", ".join(f"{n} {s:.3f}" for n, s in p["ops"]))
    if args.trace:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in res["layers"].items()}
        for k, (v, u) in res["layers"].items():
            print(f"{k:<44} {v:14.4f} {u}")
    else:
        e2e = e2e_metrics(res)
        for k, (v, u, n) in e2e.items():
            print(f"{k:<12} {v:12.4f} {u:<3} (n={n})")
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u, _) in e2e.items() if k not in _PRINT_ONLY}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
