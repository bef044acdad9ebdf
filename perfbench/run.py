#!/usr/bin/env python3
"""Validation-engine benchmark: one workload, one fresh JVM, one process.

    python3 perfbench/run.py --workload model_kernels --seed 1 --seconds 8 --trace 0

Run from the repository root. The run pins its environment (local[min(4,
nproc)], driver heap, worker PYTHONPATH, Spark local dirs), builds or
reuses the seeded inputs under ``.perfbench/cache``, sets up (JVM start,
first scan, one verification pass, the workload's warm-up passes), then
repeats the workload for about ``--seconds`` (at least once). Every pass
is checked against the verification pass's output digest. Times are
reported less the host's steal (see ``tracing.ran_s``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces every
timed pass and prints the per-layer metrics (see ``tracing.py``). The
last stdout line is one JSON object; every sample and the per-span
breakdown go to ``.perfbench/results/<workload>-seed<seed>-trace<trace>.json``.
See METRICS.md for what each metric means and which layer should move it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"  # JVM heap; the rest of the host is left to Python workers



def declared_metrics() -> dict[str, dict[str, str]]:
    """``end_to_end`` / ``per_layer``: metric name -> unit, as declared
    in BENCHMARK.json, which is the one source of names and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}


def pin_environment() -> int:
    """Environment every run shares; returns the core count used."""
    cpus = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # heap via the environment only: session.py derives -Xms from it
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
        # Python workers import the engine (and the generators in
        # inputs.py) from this checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path[:0] = [ROOT, HERE]
    return cpus


def environment(spark, cpus: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)), "cores_used": cpus,
        "ram_gb": round(mem_kb / 2**20, 1), "driver_mem": DRIVER_MEM,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def stop_spark(spark) -> None:
    """Stop Spark, then wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext
    from tracing import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline and len(process_tree(os.getpid())) > 1:
        time.sleep(0.1)
    for pid in process_tree(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "anomalydetection_spark")):
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2
    declared = declared_metrics()
    cpus = pin_environment()
    from tracing import (NullTracer, RssSampler, Tracer, account_spans,
                         cpu_delta_s, cpu_ticks, gc_seconds, host_ticks,
                         is_python_worker, layer_totals, process_tree, ran_s)
    from pyspark import SparkContext
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    host0 = host_ticks()
    t0 = time.perf_counter()
    from anomalydetection_spark.session import get_spark

    spark = get_spark("perfbench-" + args.workload, master=f"local[{cpus}]",
                      extra_conf={
                          "spark.ui.showConsoleProgress": "false",
                          "spark.sql.warehouse.dir":
                              os.path.join(WORK, "warehouse"),
                      })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_start_s = time.perf_counter() - t0
    env = environment(spark, cpus)
    me = os.getpid()
    try:
        wl = WORKLOADS[args.workload](spark, WORK, args.seed)
        generation_s = wl.prepare()
        t1 = time.perf_counter()
        wl.setup()
        scan_s = time.perf_counter() - t1
        # run 1: the untimed verification pass, which also warms the JVM
        t2 = time.perf_counter()
        ref = wl.run(NullTracer())
        warmup_s = time.perf_counter() - t2
        ref_digest = wl.digest(ref)
        recall = wl.recall(ref)
        # the resume pass feeds per-layer figures only
        extras = wl.verify_extras(ref) if args.trace else {}
        wl.cleanup(ref)
        t2 = time.perf_counter()
        for _ in range(wl.warm_passes):
            wl.cleanup(wl.run(NullTracer()))
        warmup_s += time.perf_counter() - t2
        setup_wall_s = session_start_s + scan_s + warmup_s
        setup_s = ran_s(setup_wall_s, host0, host_ticks())

        # with --trace 1 the timed passes alternate traced and untraced,
        # so the traced run also measures what tracing costs. A pass is
        # started only if a pass of median length still ends by the
        # deadline, so a run measures about --seconds, not one pass more.
        samples, failures = [], []
        deadline = time.perf_counter() + args.seconds
        jvm = SparkContext._gateway.proc.pid
        with RssSampler(me, jvm) as rss:
            while True:
                traced = bool(args.trace) and len(samples) % 2 == 0
                tracer = Tracer(spark) if traced else NullTracer()
                tree = process_tree(me)
                before = cpu_ticks(tree)
                workers0 = cpu_ticks(p for p in tree if is_python_worker(p))
                gc0 = gc_seconds(spark)
                host = host_ticks()
                t = time.perf_counter()
                try:
                    out = wl.run(tracer)
                    error = None
                except Exception:
                    out, error = None, traceback.format_exc()
                wall = time.perf_counter() - t
                tree = process_tree(me)
                s = {"traced": traced, "wall_s": wall,
                     "ran_s": ran_s(wall, host, host_ticks()),
                     "cpu_s": cpu_delta_s(before, cpu_ticks(tree)),
                     "python.worker_cpu_s": cpu_delta_s(
                         workers0,
                         cpu_ticks(p for p in tree if is_python_worker(p))),
                     "jvm.gc_s": gc_seconds(spark) - gc0}
                if error is None and wl.digest(out) != ref_digest:
                    error = "output digest differs from the verification pass"
                if error is None and traced:
                    t = time.perf_counter()
                    jobs, stages = tracer.collect()
                    s["layers"] = layer_totals(jobs, stages, tracer.spans)
                    s["spans"] = account_spans(jobs, tracer.spans)
                    s["trace.collect_s"] = time.perf_counter() - t
                if error is not None:
                    failures.append(error)
                    print(error, file=sys.stderr)
                s["ok"] = error is None
                samples.append(s)
                if out is not None:
                    wl.cleanup(out)
                typical = statistics.median(x["wall_s"] for x in samples)
                if (time.perf_counter() + typical > deadline
                        and len(samples) >= (2 if args.trace else 1)):
                    break
    finally:
        stop_spark(spark)

    # only timed passes count: a failing verification pass ends the run
    attempted = len(samples)
    failed = len(failures)
    ok = [s for s in samples if s["ok"] and not s["traced"]]
    end_to_end = {"setup_s": setup_s, "peak_rss_mb": rss.peak_mb,
                  "violation_recall": recall,
                  "ok_ratio": (attempted - failed) / attempted}
    if ok:  # no figure at all beats the best-looking 0 of a failed run
        end_to_end["rows_per_s"] = wl.rows / statistics.median(
            s["ran_s"] for s in ok)
        end_to_end["cpu_s"] = statistics.median(s["cpu_s"] for s in ok)
    per_layer = {}
    traced_ok = [s for s in samples if s["ok"] and s["traced"]]
    if traced_ok:
        for key in traced_ok[0]["layers"]:
            per_layer[key] = statistics.median(
                s["layers"][key] for s in traced_ok)
        for key in ("python.worker_cpu_s", "jvm.gc_s"):
            per_layer[key] = statistics.median(s[key] for s in traced_ok)
        per_layer["python.worker_rss_mb"] = rss.worker_peak_mb
        per_layer["session.start_s"] = session_start_s
        for key in ("checkpoint.resume_s", "checkpoint.write_amp"):
            # like any layer a workload does not use, these read 0 there
            per_layer[key] = extras.get(key, 0.0)
    if traced_ok and ok:
        # a traced pass costs its wall plus reading the status store
        per_layer["trace.overhead_ratio"] = statistics.median(
            s["ran_s"] + s["trace.collect_s"] for s in traced_ok
        ) / statistics.median(s["ran_s"] for s in ok) - 1
    kind = "per_layer" if args.trace else "end_to_end"
    chosen = per_layer if args.trace else end_to_end
    result = {
        "correct": failed == 0 and set(declared[kind]) <= set(chosen),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": chosen[k], "unit": unit}
                    for k, unit in declared[kind].items() if k in chosen},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(
        WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed,
            "window_base": wl.base, "input_rows": wl.rows,
            "seconds": args.seconds, "trace": args.trace,
            "environment": env,
            "generation_s": generation_s,
            "setup": {"session_start_s": session_start_s, "scan_s": scan_s,
                      "warmup_s": warmup_s, "wall_s": setup_wall_s,
                      "setup_s": setup_s},
            "reference_digest": ref_digest, "failures": failures,
            "end_to_end": end_to_end, "per_layer": per_layer,
            "extras": extras, "samples": samples, "result": result,
        }, f, indent=1)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
