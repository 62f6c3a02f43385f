"""Benchmark of the interleaved-document extraction engine.

    python3 perfbench/run.py --workload extract_mixed [--seed N]
                             [--seconds S] [--trace 0|1]

Runs one workload (see workloads.py) in this driver process on
local[<cores>]. It generates the inputs from --seed, then sets up:
session start, generation, one warm-up operation whose output is
checked for correctness, and more cycling over the run's corpora, up
to workloads.WARM_OPS. Then

  --trace 0  repeats the workload's operation in a closed loop (one
             operation at a time, cycling over the run's corpora) until
             the operations' wall times sum to --seconds and every
             corpus ran equally often and at least twice, and reports
             the end-to-end metrics:
               docs_per_s          documents per operation / median
                                   operation wall time
               cpu_ms_per_doc      median CPU time of the whole process
                                   tree (driver, JVM, Python workers)
                                   per operation, per document
               peak_worker_rss_mb  largest peak RSS among the Python
                                   workers
               setup_s             session start + generation + warm-up
               ok_frac             documents that passed over documents
                                   attempted (1 - fail_frac)
  --trace 1  splits the workload into its layers (prefix plans, Spark
             job groups, a driver-side pass of the media kernel) and
             reports the per-layer metrics; spans are kept in memory and
             written to perfbench/.out/ at the end.

Metric names and units come from BENCHMARK.json at the repository
root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}, where attempted and
failed count documents; the line before it records the set-up phases,
each operation's wall time and the host's CPU contention. Everything
the run writes stays under perfbench/.work (removed at the end) and
perfbench/.out.
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
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cadastral_map_ocr_system_spark"


def _parse(argv, run_seconds: float):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=run_seconds)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Before the JVM starts: Python workers import the package from
    the repository root whatever the working directory, and every
    scratch file of Spark, the JVM and Python lands in the run's work
    directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # session.get_spark reads this; its default (24g) overcommits small hosts
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")


def _start_spark(work: str, cores: int):
    from cadastral_map_ocr_system_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for all."""
    from pyspark import SparkContext

    from perfbench.host import descendants, running

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception:
        # a SIGTERM that landed inside a gateway call leaves the
        # connection unusable; closing stdin below still ends the JVM
        traceback.print_exc()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # a later SparkContext in this process launches a new gateway
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    alive = children
    while alive and time.time() < deadline:
        alive = [p for p in alive if running(p)]
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _measure(wl, seconds: float) -> dict:
    """Closed loop: run the operation back to back, cycling over the
    corpora, until the timed region (the sum of operation wall times)
    reaches `seconds`, every corpus ran equally often and at least
    twice. Rates are per operation, and the run reports their medians,
    so one operation hit by a burst of host load does not move the
    result. Whole cycles keep a costlier corpus (dedup_corpus: 24 Spark
    jobs against 19) from taking the median in some runs and not in
    others; two of them keep a slow host from cutting the median to the
    first, least warmed-up operations. An operation that raises fails
    all its documents."""
    from perfbench.host import peak_worker_rss_mb, tree_cpu_s
    from perfbench.workloads import CORPORA, WARM_OPS

    walls, cpus, groups, raised, rss = [], [], [], 0, 0.0
    while sum(walls) < seconds or len(walls) % CORPORA or len(walls) < 2 * CORPORA:
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with wl.run.groups.group("op") as gid:
                # continue the warm-up's cycle over the corpora
                wl.op(WARM_OPS + len(walls))
        except Exception:
            traceback.print_exc()
            raised += 1
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s() - c0)
        groups.append(gid)
        rss = max(rss, peak_worker_rss_mb())
    n = wl.n_docs
    return {
        "walls": walls,
        "cpus": cpus,
        "jobs": [wl.run.groups.stats(g)["jobs"] for g in groups],
        "attempted": n * len(walls),
        "failed": n * raised,
        "docs_per_s": n * (1 - raised / len(walls)) / statistics.median(walls),
        "cpu_ms_per_doc": statistics.median(cpus) * 1e3 / n,
        "peak_worker_rss_mb": rss,
    }


def _traced(wl, run, tracer) -> tuple[dict, dict]:
    """One traced operation for the spark.* counts, then the layers."""
    from perfbench.sparkstats import codegen_compiles

    t0 = time.perf_counter()
    compiled = codegen_compiles(run.spark.sparkContext)
    with run.groups.group("op") as gid:
        with tracer.span("op"):
            wl.op()
    compiled = codegen_compiles(run.spark.sparkContext) - compiled
    values, attempted, failed = wl.layers()
    stats = run.groups.stats(gid)
    for k in ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes"):
        values[f"spark.{k}"] = stats[k]
    values["spark.codegen_compiles"] = compiled
    values["trace.overhead_frac"] = tracer.overhead_s / (time.perf_counter() - t0)
    return values, {"attempted": wl.n_docs + attempted, "failed": len(failed)}


def _on_sigterm(signum, _frame) -> None:
    """A timeout's SIGTERM takes the same way out as an error: Spark,
    its JVM and the Python workers are stopped and waited for."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # clean up once
    sys.exit(128 + signum)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    args = _parse(argv, spec["run_seconds"])
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    sys.path.insert(0, ROOT)
    from perfbench.host import contention, host_reading, peak_worker_rss_mb
    from perfbench.trace import Tracer
    from perfbench.workloads import WARM_OPS, WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    spark = None
    signal.signal(signal.SIGTERM, _on_sigterm)
    try:
        _prepare_env(work)
        before = host_reading()
        t0 = time.perf_counter()
        spark = _start_spark(work, cores)
        t_session = time.perf_counter()
        tracer = Tracer() if args.trace else None
        run = Run(spark, args.seed, work, out_dir, args.seconds, tracer)
        wl = WORKLOADS[args.workload](run)
        wl.generate()
        t_gen = time.perf_counter()
        wl.warmup()
        # the JVM keeps compiling for several operations
        for k in range(1, WARM_OPS):
            wl.op(k)
        t_setup = time.perf_counter()
        setup = {"session_s": t_session - t0, "generate_s": t_gen - t_session,
                 "warmup_s": t_setup - t_gen}
        warm_rss = peak_worker_rss_mb()

        if args.trace:
            values, counts = _traced(wl, run, tracer)
            tracer.write(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "setup": setup},
            )
            ops, op_cpus, op_jobs = [], [], []
        else:
            res = _measure(wl, args.seconds)
            counts = res
            values = {
                "docs_per_s": res["docs_per_s"],
                "cpu_ms_per_doc": res["cpu_ms_per_doc"],
                "peak_worker_rss_mb": max(res["peak_worker_rss_mb"], warm_rss),
                "setup_s": t_setup - t0,
            }
            ops, op_cpus, op_jobs = res["walls"], res["cpus"], res["jobs"]
        after = host_reading()
        t_check = time.perf_counter()
        warm_failed = len(wl.check_warmup())
        check_s = time.perf_counter() - t_check
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = counts["attempted"] + wl.n_docs
    failed = min(counts["failed"] + warm_failed, attempted)
    values["ok_frac"] = 1 - failed / attempted
    missing = [m["name"] for m in declared if m["name"] not in values]
    unexpected = sorted(set(missing) - set(wl.not_applicable))
    if unexpected:
        raise RuntimeError(f"{args.workload} did not report {unexpected}")
    for name in missing:
        values[name] = 0.0  # a layer this workload does not run
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "n_docs": wl.n_docs, "setup": setup, "check_s": check_s,
        "op_walls_s": ops, "op_cpu_s": op_cpus, "op_spark_jobs": op_jobs,
        "op_median_s": statistics.median(ops) if ops else None,
        "fail_frac": failed / attempted, "not_applicable": missing,
        "host": contention(before, after),
    }
    with open(os.path.join(out_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps(context) + "\n")
    print(json.dumps(context))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
