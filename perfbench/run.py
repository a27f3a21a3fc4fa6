#!/usr/bin/env python3
"""Benchmark of the engine on two seeded workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout.  One process is one closed-loop client:
it generates the workload's inputs from the seed, sets up (a fresh JVM via
``session.get_spark`` plus a warm-up pass over the inputs that compiles
every plan), checks every result of the warm-up pass once against its
reference, untimed, then runs full passes over the workload's operations
that fit in ``--seconds``.  Every timed repeat must reproduce the
checked result fingerprint.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics, with the
tracing overhead (traced minus untraced pass time) on standard error.
The last line of standard output is one JSON object; any wrong or failed
operation makes the exit code nonzero.  All files go to a work directory
inside the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_PASSES = 3      # timed passes per run, even past --seconds
MAX_CORES = 4
MAX_MEM_GB = 2      # a fixed, pre-touched heap: repeatable resident size

END_TO_END = {      # name -> unit
    "setup_s": "s", "pass_s": "s", "input_rows_per_s": "rows/s",
    "op_s.p50": "s", "op_s.p90": "s", "cpu_s": "s", "peak_rss_mb": "MB",
}


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def _confine(work: str, cores: int) -> dict:
    """Keep every file the run writes inside ``work``; size the session
    for this machine.  Returns the Spark confs to add."""
    for d in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Every JVM, the spark-submit launcher's too: no perf data in /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp}")
    mem_gb = max(1, min(MAX_MEM_GB, _ram_bytes() // 4 // 2**30))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_gb}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.memory": f"{mem_gb}g",
        "spark.driver.extraJavaOptions":
            f"-Xms{mem_gb}g -XX:+AlwaysPreTouch "
            "-XX:ReservedCodeCacheSize=1g",
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_jvm(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _pct(xs: list[float], q: float) -> float:
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def _smoothed_median(xs) -> float:
    """The median operation latency, smoothed: the mean of the middle
    three values (four for an even count).  The operations have distinct
    latency levels and each has only a few samples, so a plain median,
    pooled or over the per-operation medians, follows the noise of the
    one operation that happens to sit in the middle."""
    s = sorted(xs)
    k = min(len(s), 3 if len(s) % 2 else 4)
    lo = (len(s) - k) // 2
    return statistics.fmean(s[lo:lo + k])


def _summary(name: str, xs: list[float], unit: str) -> str:
    q1, med, q3 = (statistics.quantiles(xs, n=4, method="inclusive")
                   if len(xs) >= 2 else xs * 3)
    return (f"  {name:<18} median {med:.4f} {unit}  "
            f"q1 {q1:.4f}  q3 {q3:.4f}  n={len(xs)}")


def _env_record(spark, cores: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {"nproc": os.cpu_count(), "cores": cores,
            "ram_gb": round(_ram_bytes() / 2**30, 1),
            "spark": spark.version,
            "java": jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]}


def run(args, work: str) -> int:
    from perfbench import trace
    from perfbench.workloads import all_workloads

    from go_mapreduce_crawler_spark.session import get_spark

    workloads = all_workloads()
    if args.workload not in workloads:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
        return 2
    wl = workloads[args.workload]
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    conf = _confine(work, cores)
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(work, "events"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    t = time.perf_counter()
    inputs = wl.make(os.path.join(work, "in"), args.seed)
    log(f"[perfbench] {wl.name} seed={args.seed} inputs "
        f"{json.dumps(inputs.rows)} generated in "
        f"{time.perf_counter() - t:.1f}s")

    # Set-up: a fresh JVM and session, then a warm-up pass over the
    # inputs that compiles every plan and keeps each result for the
    # untimed reference check.  Its digests are what every timed repeat
    # must reproduce.
    failed = attempted = 0
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", cpus=cores, extra_conf=conf)
    t1 = time.perf_counter()
    expected, checks = {}, []
    for op in wl.ops:
        attempted += 1
        try:
            expected[op.name], check = op.checked_run(spark, inputs)
            checks.append((op.name, check))
        except Exception as ex:          # any failure counts as wrong
            failed += 1
            log(f"[perfbench] FAILED {op.name}: {type(ex).__name__}: "
                f"{str(ex)[:500]}")
    start_s, warmup_s = t1 - t0, time.perf_counter() - t1
    for name, check in checks:
        try:
            problems = check()
        except Exception as ex:
            problems = [f"{name}: {type(ex).__name__}: {ex}"]
        if problems:
            failed += 1
            log(f"[perfbench] WRONG {'; '.join(problems)[:2000]}")
    spark.catalog.clearCache()
    log(f"[perfbench] env {json.dumps(_env_record(spark, cores))}")

    tracer = trace.Tracer(spark.sparkContext)
    listener = None
    if args.trace:
        trace.instrument(tracer)
        listener = trace.streaming_listener()
        spark.streams.addListener(listener)

    # Timed passes: one client, each op called and forced in turn.
    rng = random.Random(args.seed)
    pid = os.getpid()
    passes = {False: [], True: []}
    cpus, op_times, windows = [], [], []
    by_op: dict[str, list[float]] = {}
    # A pass starts only if one as long as the last still ends by the
    # deadline.  Every timing is a median over passes: the JIT keeps
    # compiling the planner after the warm-up, so the first timed pass is
    # often the slowest.
    deadline = time.perf_counter() + args.seconds
    n, last = 0, 0.0
    trace.reset_peak_rss(pid)
    while n < MIN_PASSES or time.perf_counter() + last <= deadline:
        traced = bool(args.trace) and n % 2 == 1
        tracer.enabled = traced
        order = list(wl.ops)
        if wl.shuffle:
            rng.shuffle(order)
        c0, w0, p0 = trace.tree_cpu_s(pid), time.time(), 0.0
        for op in order:
            attempted += 1
            t0 = time.perf_counter()
            try:
                got = tracer.call(op.layer, op.name, op.run, spark,
                                  inputs)
                ok = op.name in expected and got == expected[op.name]
                if not ok:
                    log(f"[perfbench] WRONG {op.name}: fingerprint "
                        f"{got} differs from {expected.get(op.name)}")
            except Exception as ex:
                ok = False
                log(f"[perfbench] FAILED {op.name}: "
                    f"{type(ex).__name__}: {str(ex)[:500]}")
            dt = time.perf_counter() - t0
            p0 += dt
            if not traced:
                op_times.append(dt)
                by_op.setdefault(op.name, []).append(dt)
            if not ok:
                failed += 1
            spark.catalog.clearCache()
        tracer.enabled = False
        n += 1
        last = p0
        passes[traced].append(p0)
        if traced:
            windows.append((w0, time.time()))
        else:
            cpus.append(trace.tree_cpu_s(pid) - c0)

    untraced = passes[False]
    # A typical pass: each operation at its median latency.  Unlike the
    # median pass, it drops a hiccup in one operation of one pass and a
    # hiccup in another operation of another pass alike.
    op_med = {name: statistics.median(xs) for name, xs in by_op.items()}
    pass_med = sum(op_med.values())
    e2e = {
        "setup_s": start_s + warmup_s,
        "pass_s": pass_med,
        "input_rows_per_s": wl.units(inputs) / pass_med,
        "op_s.p50": _smoothed_median(op_med.values()),
        "op_s.p90": _pct(op_times, 0.9),
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": trace.tree_peak_rss_bytes(pid) / 2**20,
    }
    log(f"[perfbench] {wl.name}: {len(untraced)} untraced passes, "
        f"{len(op_times)} ops, units/pass {wl.units(inputs)} {wl.unit_name}")
    log(f"  setup_s            {start_s + warmup_s:.4f} s  (start "
        f"{start_s:.4f} s, warm-up {warmup_s:.4f} s)")
    log(f"  pass_s             {pass_med:.4f} s (sum of per-op medians); "
        + _summary("passes", untraced, "s").strip()
        + "  [" + " ".join(f"{x:.3f}" for x in untraced) + "]")
    beyond = sum(t > e2e["op_s.p90"] for t in op_times)
    log(_summary("op_s", op_times, "s")
        + f"  smoothed p50 of per-op medians {e2e['op_s.p50']:.4f} s"
        + f"  p90 {e2e['op_s.p90']:.4f} s with {beyond} samples beyond it")
    log(_summary("cpu_s", cpus, "s"))
    for name, med in op_med.items():
        log(f"    {name:<36} median {med:.4f} s")
    log(f"  error_rate         {failed / attempted:.4f}  "
        f"({failed} of {attempted} ops wrong or failed)")

    metrics = {k: {"value": v, "unit": END_TO_END[k]}
               for k, v in e2e.items()}
    if args.trace:
        time.sleep(1.0)      # let the listener bus deliver last progress
        progress = list(listener.progress)
        spark.streams.removeListener(listener)
        _stop_jvm(spark)     # flushes and closes the event log
        spark = None
        jobs, tasks = trace.read_event_logs(os.path.join(work, "events"))
        layer = trace.attribute(tracer.spans, jobs, tasks, progress,
                                windows, cores, len(passes[True]))
        layer["session.start_s"] = start_s
        layer["session.warmup_s"] = warmup_s
        crawled = [expected[op.name] for op in wl.ops
                   if op.layer == "crawler" and op.name in expected]
        layer["crawler.files"] = sum(c[1] for c in crawled)
        layer["crawler.files_failed"] = sum(c[2] for c in crawled)
        traced_s = statistics.median(passes[True])
        untraced_s = statistics.median(untraced)
        log(f"[perfbench] tracing overhead {traced_s - untraced_s:+.4f} s "
            f"per pass (median traced pass {traced_s:.4f} s, untraced "
            f"{untraced_s:.4f} s)")
        for k in sorted(layer):
            if layer[k]:
                log(f"  {k:<42} {layer[k]:.6g}")
        units = trace.PER_LAYER_UNITS
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u}
                   for k, u in units.items()}
    if spark is not None:
        _stop_jvm(spark)
    log(f"[perfbench] finished in {time.perf_counter() - T_START:.1f}s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import go_mapreduce_crawler_spark as program
        import tests.oracle_utils  # noqa: F401  (the oracle comparison)
    except ImportError as ex:
        log(f"[perfbench] program not found next to the benchmark: {ex}")
        return 2
    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        log(f"[perfbench] refusing a program outside {ROOT}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
