#!/usr/bin/env python3
"""Benchmark of the tier engine: backfill, hourly ingest, retention and tier
reads, measured end to end (``--trace 0``) or per layer (``--trace 1``).

    python3 perfbench/run.py --workload steady_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the line before
it carries the sample counts behind the tail metrics and any failures.
Everything the run writes stays under ``.perfbench_work/`` in the
repository root; ``.perfbench_work/traces/`` keeps the spans of traced runs.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _driver_mem() -> str:
    """Driver heap: a quarter of physical memory, at most 4 GiB (the package
    default of 48g exceeds most hosts' RAM)."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(512, min(4096, phys_mb // 4))}m"


def _isolate(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout: temp files, Spark
    scratch and the package's compiled-helper cache (under $HOME)."""
    home = os.path.join(WORK, "home")
    tmp = os.path.join(run_dir, "tmp")
    for d in (home, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["HOME"] = home
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_mem()
    # both switch the pipeline into probe modes that change how its chains
    # overlap; the benchmark measures the production mode only
    os.environ.pop("SPARK_GRAFT_STAGE_TIMINGS", None)
    os.environ.pop("SPARK_GRAFT_SEQUENTIAL", None)


def _stop(spark) -> None:
    """Stop Spark, the JVM gateway and every process under this one, and
    wait for them to end."""
    from pyspark import SparkContext

    from scenario import process_tree

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline:
        left = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    for p in left:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def layer_metrics_from_trace(sc, tracer, jobs, tasks) -> dict[str, float]:
    """Per-layer numbers of the traced ops (spans + Spark event log)."""
    import spans as sp
    from scenario import median

    def per_op(kind, fn):
        return [fn(lo, hi) for k, traced, lo, hi in sc.ops if k == kind and traced]

    out: dict[str, float] = {}
    inc = per_op("inc", lambda lo, hi: sp.op_metrics(tracer.spans, lo, hi))
    for key, name in (("commits", "snapshot.commits"),
                      ("manifest_reads", "snapshot.manifest_reads"),
                      ("write_s", "snapshot.write_s"),
                      ("checkpoint_records", "checkpoint.records"),
                      ("checkpoint_record_s", "checkpoint.record_s")):
        out[name] = median([m[key] for m in inc])
    build = per_op("build", lambda lo, hi: sp.op_metrics(tracer.spans, lo, hi))
    out["snapshot.bytes_written"] = median([m["bytes_written"] for m in build])
    selfs = per_op("inc", lambda lo, hi: sp.self_times(tracer.spans, lo, hi))
    for layer in ("pipeline", "snapshot", "checkpoint"):
        out[f"{layer}.self_s"] = median([s.get(layer, 0.0) for s in selfs])

    cores = sc.cores
    spark_build = per_op("build", lambda lo, hi: sp.spark_op_metrics(jobs, tasks, lo, hi, cores))
    for key in ("executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
                "spill_bytes", "gc_s"):
        out[f"spark.{key}"] = median([m[key] for m in spark_build])
    spark_inc = per_op("inc", lambda lo, hi: sp.spark_op_metrics(jobs, tasks, lo, hi, cores))
    spark_read = per_op("read", lambda lo, hi: sp.spark_op_metrics(jobs, tasks, lo, hi, cores))
    for key in ("jobs", "tasks", "task_busy_frac"):
        out[f"spark.{key}"] = median([m[key] for m in spark_inc])
        out[f"spark.read_{key}"] = median([m[key] for m in spark_read])

    plain, traced = sc.ingest_walls
    out["trace.overhead_s"] = median(traced) - median(plain)
    out["trace.overhead_frac"] = out["trace.overhead_s"] / median(plain)
    return out


def measure(args, run_dir: str, units: dict[str, str]) -> dict:
    """One benchmark run; returns the result object for the last line."""
    import scenario

    rss = scenario.RssSampler().start()
    t0 = time.perf_counter()
    from kfts_insar_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    log_dir = os.path.join(os.environ["SPARK_LOCAL_DIRS"], "eventlog")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    tracer = None
    if args.trace:
        import spans

        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + log_dir})
        tracer = spans.Tracer()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cores=cores, extra_conf=conf)
    session_s = time.perf_counter() - t0
    restore = spans.instrument(tracer) if tracer is not None else None
    try:
        sizes, names, op_metric = scenario.WORKLOADS[args.workload]
        sc = scenario.Scenario(spark, sizes, args.seed, args.seconds, run_dir, cores,
                               tracer)
        phases = sc.phases(scenario.TRACED_PHASES if tracer is not None else names)
        if tracer is not None:
            phases.append(sc.probe_layers)
        for phase in phases:
            t = time.perf_counter()
            phase()
            print(f"perfbench: {phase.__name__} {time.perf_counter() - t:.1f} s",
                  file=sys.stderr, flush=True)
    finally:
        if restore is not None:
            restore()
        _stop(spark)
        rss.stop()

    sc.m["setup_s"] = session_s + sc.layer["setup.input_s"]
    if not args.trace:
        sc.m["op_p50_s"] = sc.layer[op_metric]
    sc.layer["peak_rss_mb"] = rss.peak_kb / 1024.0
    sc.layer["setup.session_s"] = session_s
    sc.layer["failed_op_share"] = sc.ledger.failed / max(1, sc.ledger.attempted)
    sc.samples["session"] = [session_s]
    sc.samples["rss_parts_mb"] = {k: v / 1024 for k, v in rss.peak_parts.items()}
    if tracer is not None:
        jobs, tasks = spans.read_event_log(log_dir)
        sc.layer.update(layer_metrics_from_trace(sc, tracer, jobs, tasks))
        tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))

    values = sc.layer if args.trace else sc.m
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps({"perfbench": {"workload": args.workload, "seed": args.seed,
                                    "tails": sc.tail_info, "samples": sc.samples,
                                    "errors": sc.ledger.errors}}))
    return {
        "correct": sc.ledger.failed == 0,
        "attempted": sc.ledger.attempted,
        "failed": sc.ledger.failed,
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = _spec()
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import scenario

    if args.workload not in scenario.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(scenario.WORKLOADS)}")
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir)
    try:
        result = measure(args, run_dir, units)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
