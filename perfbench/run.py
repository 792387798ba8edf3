"""Benchmark entry point.

    python3 perfbench/run.py --workload service_areas --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed under ``.bench_work/``, then measures (see ``measure``) in
SparkSessions at ``local[<nproc>]``.

Untraced (``--trace 0``) the result carries the end-to-end metrics;
traced (``--trace 1``) it carries the per-layer metrics, and the spans
are written to ``.bench_work/traces/``. Earlier stdout lines give a
readable report (environment, every metric with its unit, failed_frac);
the last line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
MIN_SETUPS = 5


def _environment(cpus: int) -> dict:
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        sha = None
    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        "git_sha": sha,
    }


def _set_env(cpus: int, work: str) -> None:
    """Spark's core count (session.py would otherwise default to 32
    cores), and scratch and temp dirs inside the checkout. The driver
    heap stays the program's own default."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _jvm_hwm_kb(spark) -> int:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def catalogue(kind: str) -> dict[str, str]:
    """Name -> unit of BENCHMARK.json's ``kind`` ("end_to_end" or
    "per_layer") metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _stop_jvm() -> None:
    """Shut the py4j gateway's JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    try:
        gw.shutdown()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(workload, seconds: int, trace: bool, cpus: int, tracer) -> dict:
    """One pass in the run's first session: a cold JVM, as every batch
    run of the pipeline starts. Traced, that pass is followed by the
    layer probes, and the pass then runs traced, untraced and traced
    again, each in a fresh session (the tracing overhead; the A-B-A
    order cancels the speed-up each pass gains as the JVM warms). Then
    more fresh sessions until ``seconds`` have elapsed and MIN_SETUPS
    sessions were built (the setup_s median)."""
    from perfbench.workloads import open_session

    m = {"setups": [], "builds": [], "warms": [], "passes": []}
    spark = None

    def session(enabled: bool):
        nonlocal spark
        if spark is not None:
            spark.stop()
        tracer.enabled = enabled
        spark, counters, b, w = open_session(cpus, tracer)
        m["setups"].append(b + w)
        m["builds"].append(b)
        m["warms"].append(w)
        return counters

    def run_pass(enabled: bool, probes: bool) -> None:
        counters = session(enabled)
        pass_dir = os.path.join(workload.work, f"pass{tracer.pass_index}")
        m["passes"].append((enabled, workload.run_pass(spark, counters, tracer, pass_dir, probes)))
        shutil.rmtree(pass_dir, ignore_errors=True)
        tracer.pass_index += 1

    t0 = time.perf_counter()
    run_pass(trace, probes=trace)
    if trace:
        run_pass(True, probes=False)
        run_pass(False, probes=False)
        run_pass(True, probes=False)
    while len(m["setups"]) < MIN_SETUPS or time.perf_counter() - t0 < seconds:
        session(False)
    tracer.enabled = False
    m["peak_rss_mb"] = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + _jvm_hwm_kb(spark)) / 1024
    spark.stop()
    m["failures"] = [f for _, p in m["passes"] for f in p.failures]
    return m


def end_to_end(m: dict, input_bytes: int) -> dict:
    p = m["passes"][0][1]
    return {
        "setup_s": _median(m["setups"]),
        "wall_s": p.times["wall"],
        "input_mb_per_s": input_bytes / 1e6 / p.times["wall"],
    }


def per_layer(m: dict, tracer, names) -> dict:
    """The layer metrics ``names`` of the run's first (full, traced) pass."""
    first = m["passes"][0][1]
    out = {name: 0.0 for name in names}
    for s in tracer.spans:
        name = f"{s['name']}_s"
        if s["pass"] == 0 and name in out:
            out[name] += s["end"] - s["start"]
        if s["pass"] == 0 and s["name"] == "sources.geojson.write":
            out["sources.geojson.bytes"] = s["attrs"]["bytes"]
    out["session.build_s"] = _median(m["builds"])
    out["session.python_warm_s"] = _median(m["warms"])
    out["session.first_setup_s"] = m["setups"][0]

    def count(key: str) -> float:
        return first.counts.get(key, 0)

    out["sources.kml.placemarks"] = count("placemarks")
    out["functions.geometry.vertices"] = count("vertices")
    built, skipped = count("built"), count("skipped")
    out["plans.targets.stages_built"] = built
    out["plans.targets.stages_skipped"] = skipped
    out["plans.targets.built_per_stage_run"] = built / (built + skipped) if built + skipped else 0.0
    cand, ver = count("rows.dedup_minhash_lsh"), count("rows.dedup_minhash_verified")
    out["operators.dedup.candidate_pairs"] = cand
    out["operators.dedup.verified_pairs"] = ver
    out["operators.dedup.verified_per_candidate"] = ver / cand if cand else 0.0
    for key in names:
        if key.startswith(("spark.", "codegen.")):
            out[key] = count(key)
    out["jvm.peak_rss_mb"] = m["peak_rss_mb"]
    out["jvm.cold_minus_warm_s"] = first.times["wall"] - first.times["warm_wall"]
    (_, a), (_, untraced), (_, b) = m["passes"][1:4]
    out["trace.overhead_s"] = (a.times["wall"] + b.times["wall"]) / 2 - untraced.times["wall"]
    return out


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import utility_service_areas_spark.session  # noqa: F401
        import tools.check_oracle  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from perfbench.tracing import Tracer

    cpus = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _set_env(cpus, work)
    env = _environment(cpus)
    try:
        workload = WORKLOADS[args.workload](work, args.seed)
        workload.prepare()
        tracer = Tracer(False, run_id)
        m = measure(workload, args.seconds, bool(args.trace), cpus, tracer)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    attempted = sum(p.attempted for _, p in m["passes"])
    failed = len(m["failures"])
    if args.trace:
        units = catalogue("per_layer")
        values = per_layer(m, tracer, units)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(os.path.join(WORK, "traces", f"{run_id}.jsonl"))
    else:
        units = catalogue("end_to_end")
        values = end_to_end(m, workload.input_bytes)

    for f in m["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "environment": env,
        "input_bytes": workload.input_bytes,
        "passes": len(m["passes"]),
        "failed_frac": {"value": failed / max(attempted, 1), "unit": "frac"},
        "peak_rss_mb": {"value": m["peak_rss_mb"], "unit": "MB"},
        "samples": {
            "setup_s": m["setups"],
            "passes": [p.times for _, p in m["passes"]],
        },
    }
    print(json.dumps(report))
    for name, v in values.items():
        print(f"{name} = {v:.6g} {units[name]}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": v, "unit": units[name]} for name, v in values.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT  # not perfbench/: its module names must not shadow the stdlib
    raise SystemExit(main())
