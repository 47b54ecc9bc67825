#!/usr/bin/env python3
"""The repository benchmark: one workload per run, on local[nproc].

    python3 perfbench/run.py --workload crawl_linkdense --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, in turn

Run it from the repository root.  A run builds its inputs from ``--seed``,
computes the expected outputs without Spark, starts a session on
``local[nproc]`` with as many shuffle partitions as cores, sets up, warms up,
and then repeats one unit of the workload until ``--seconds`` of units (and
at least the workload's minimum number of units, at most its maximum) have
been measured.  Every unit's outputs are checked against the oracle.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` runs one more
unit with every layer function wrapped and reports the per-layer metrics.
The metric names and units are those of BENCHMARK.json.  Human-readable
lines come first; the last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  Scratch files live
under ``.perfbench/`` in the current directory and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOAD_NAMES = ("reprocess", "crawl_fresh", "crawl_linkdense", "curate")
SETUP_REPS = 3
# a fixed, small JVM heap: with the engine's 8g default the heap, and the
# peak memory with it, grows with GC timing rather than with the work
DRIVER_MEMORY = "1g"
# environment knobs session.get_spark and config read; the benchmark
# measures the engine's defaults whatever the calling shell exports
ENGINE_ENV = ("SPARK_GRAFT_CPUS", "SPARK_SHUFFLE_PARTITIONS",
              "SPARK_SHJ_LOCAL_MAP_THRESHOLD", "SPARK_PREFER_SORTMERGEJOIN",
              "MACOCU_CONVERSION_ENABLED")
# the names each workload's throughput and step metrics are printed under
PRINTED_AS = {
    "reprocess": ("pages_per_s", "step_s_p50"),
    "crawl_fresh": ("urls_per_s", "round_s_p50"),
    "crawl_linkdense": ("urls_per_s", "round_s_p50"),
    "curate": ("docs_per_s", "step_s_p50"),
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    """What ``nproc`` prints without OMP_NUM_THREADS: the CPUs this process
    may run on."""
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in ENGINE_ENV:
        os.environ.pop(k, None)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Python workers import the engine from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}' "
        "pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(name: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(os.getcwd(), ".perfbench", f"{name}-{seed}-{os.getpid()}")
    isolate(work)  # before the engine is imported: its config reads the environment
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)
    import probes
    import workloads
    from spans import Tracer

    n = cores()
    wl = workloads.WORKLOADS[name](seed, work, n)
    checks = workloads.Checks()
    spark = None
    try:
        t = time.perf_counter()
        wl.generate(0)
        gen_first = time.perf_counter() - t
        t = time.perf_counter()
        wl.oracle()  # not timed: the oracle is the benchmark's, not the engine's
        log(f"inputs {gen_first:.2f}s, oracle {time.perf_counter() - t:.2f}s")

        from macocu_crawler_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{name}", master=f"local[{n}]",
                          shuffle_partitions=n)
        start_s = time.perf_counter() - t
        sampler = probes.RssSampler()
        sampler.start()
        t = time.perf_counter()
        wl.load(spark)
        inputs_s = [gen_first + time.perf_counter() - t]
        for rep in range(1, SETUP_REPS):
            t = time.perf_counter()
            wl.generate(rep)
            wl.load(spark)
            inputs_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        log(f"session {start_s:.2f}s, inputs {[round(x, 2) for x in inputs_s]}, "
            f"warm-up {warm_s:.2f}s")

        # with --trace 1 the status store is read between units (and
        # rounds); its cost stays out of the end-to-end figures
        counters = probes.SparkCounters(spark) if trace else None
        units, spark_units, measured = [], [], 0.0
        while ((measured < seconds or len(units) < wl.min_units)
               and len(units) < wl.max_units):
            u = wl.unit(counters=counters) if wl.step_label == "round" else wl.unit()
            if counters is not None:
                spark_units.append(probes.add_counts(u["spark"]) if "spark" in u
                                   else counters.take())
            units.append(u)
            measured += u["wall"]
            log(f"unit {len(units)}: {u['wall']:.2f}s, "
                f"steps {[round(x, 2) for x in u['steps']]}")
        peak_rss_mb = sampler.stop()

        walls = [u["wall"] for u in units]
        result = {
            "workload": name, "seed": seed, "cores": n, "units": len(units),
            "items_per_unit": units[0]["items"],
            "end_to_end": {
                "setup_s": start_s + statistics.median(inputs_s) + warm_s,
                "throughput_per_s": statistics.median(u["items"] / u["wall"] for u in units),
                "step_s_p50": statistics.median(s for u in units for s in u["steps"]),
                "peak_rss_mb": peak_rss_mb,
            },
        }
        if trace:
            layer = {"session.start_s": start_s}
            layer.update(probes.kernel_timings(wl.kernel_pages()))
            layer.update({f"spark.{k}": statistics.mean(su[k] for su in spark_units)
                          for k in spark_units[0]})
            if wl.step_label == "round":
                rounds = [r for u in units for r in u["per_round"]]
                layer["crawl_driver.jobs_per_round"] = statistics.mean(r["jobs"] for r in rounds)
                layer["crawl_driver.stages_per_round"] = statistics.mean(r["stages"] for r in rounds)
            tracer = Tracer(f"{name}-{seed}")
            wl.install(tracer)
            try:
                traced = wl.unit(tracer=tracer)
            finally:
                tracer.restore()
            log(f"traced unit: {traced['wall']:.2f}s")
            layer.update(wl.layer_metrics(tracer, traced))
            layer["trace.overhead_s"] = traced["wall"] - statistics.median(walls)
            if layer.get("extract.busy_s"):
                layer["extract.non_kernel_share"] = 1 - (
                    layer["extract.pages"] * layer["textkit.process_page_us"] * 1e-6
                    / (layer["extract.busy_s"] * n)
                )
            units.append(traced)
            trace_path = os.path.join(".perfbench", f"trace-{name}-{seed}.json")
            tracer.dump(trace_path)
            result["per_layer"] = layer
            result["trace_file"] = trace_path

        t = time.perf_counter()
        for u in units:
            wl.check(u, checks)
        wl.check_warm(checks)
        log(f"checks {time.perf_counter() - t:.2f}s")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    result["checks"] = checks
    return result


def _unit_of(metric: str) -> str:
    leaf = metric.rsplit(".", 1)[-1]
    for suffix, unit in (("_us", "us"), ("_s", "s"), ("_mb", "MB"),
                         ("_ratio", "ratio"), ("_share", "ratio")):
        if leaf.endswith(suffix):
            return unit
    return "MB" if leaf.startswith("mb_") else "count"


def fmt(name: str, value, unit: str) -> str:
    v = f"{value:.4f}" if isinstance(value, float) else str(value)
    return f"  {name:<34} {v:>14} {unit}"


def report(res: dict, spec: dict, trace: bool) -> dict:
    """Print the human-readable lines; return the final JSON object."""
    name, ck = res["workload"], res["checks"]
    print(f"workload {name}  seed {res['seed']}  local[{res['cores']}]  "
          f"{res['units']} units x {res['items_per_unit']} items")
    thr_name, step_name = PRINTED_AS[name]
    printed = {"throughput_per_s": thr_name, "step_s_p50": step_name}
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for k, unit in e2e.items():
        print(fmt(printed.get(k, k), res["end_to_end"][k], unit))
    fail_ratio = ck.failed / ck.attempted if ck.attempted else 0.0
    print(fmt("fail_ratio", fail_ratio, f"({ck.failed} of {ck.attempted} checks)"))
    for note in ck.notes:
        print(f"    check: {note}")
    metrics = {k: {"value": res["end_to_end"][k], "unit": u} for k, u in e2e.items()}
    if trace:
        layer = res["per_layer"]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        print(f"  per-layer (traced unit; spans in {res['trace_file']}):")
        for k in sorted(layer):
            print(fmt(k, layer[k], units.get(k, _unit_of(k))))
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
    return {"correct": ck.correct, "attempted": ck.attempted, "failed": ck.failed,
            "metrics": metrics}


def run_all(args) -> int:
    """Every workload in its own process, so each pays its own session start."""
    ok = True
    for name in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]), flush=True)
        ok &= proc.returncode == 0 and bool(lines) and json.loads(lines[-1])["correct"]
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir("macocu_crawler_spark") or not os.path.isfile("BENCHMARK.json"):
        log("run from the repository root (macocu_crawler_spark/ and BENCHMARK.json)")
        return 2
    if args.workload == "all":
        return run_all(args)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    res = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(report(res, spec, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
