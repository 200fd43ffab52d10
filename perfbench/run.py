"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics_staples --seed 1 --seconds 5 --trace 0

One process, closed loop: a cold pass (the first in a fresh JVM, as a
scheduled task pays it), then steady passes: at least three, until they
have taken ``--seconds`` and hold enough operations for the tail.
Outputs are checked untimed: after each pass what it wrote, after the
passes what every pass computes. Set-up (process start until the
session is up and the registry imported) is sampled in this process and
in a fresh one started after it; the median is reported.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
traced and untraced warm passes and prints the per-layer metrics, the
tracing overhead among them. Every metric is printed as ``name = value
unit`` and the last line is one JSON object. Inputs, results and spans
go under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("osm_weekly_etl", "analytics_staples", "llm_corpus")
SETUP_SAMPLES = 2
# Steady passes at least; a traced run alternates traced and untraced.
# Warm passes still speed up as the JIT warms (analytics_staples falls
# from 3.2 s to 2.4 s over its first three), so every run measures the
# same number of them: with --seconds below what MIN_STEADY_PASSES take,
# the pass count, and so the point on that curve, does not move from run
# to run. There are no unmeasured warm-up passes, to keep a run near a
# minute on a 4-core host.
MIN_STEADY_PASSES = 3
# a bounded driver heap keeps the JVM's resident peak from tracking
# when G1 happens to collect (8g default: 4.1-8.0 GB across runs)
DRIVER_MEMORY = "2g"
MAX_STEADY_S = 120.0
CODEGEN_LOG_CONFIG = os.path.join(ROOT, "perfbench", "log4j2-codegen.properties")

END_TO_END = {
    "setup_s": "s",
    "cold_batch_s": "s",
    "warm_batch_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_job_s": "s",
    "registry.build_self_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.cold_s": "s",
    "codegen.compiles": "count",
    "codegen.compile_s": "s",
    "codegen.cold_compiles": "count",
    "codegen.cold_compile_s": "s",
    "executor.s": "s",
    "executor.jobs": "count",
    "executor.stages": "count",
    "executor.tasks": "count",
    "executor.task_run_s": "s",
    "executor.task_cpu_s": "s",
    "executor.gc_s": "s",
    "executor.core_idle_share": "ratio",
    "executor.shuffle_read_mb": "MB",
    "executor.shuffle_write_mb": "MB",
    "executor.spill_mb": "MB",
    "executor.failed_tasks": "count",
    "executor.stage_retries": "count",
    "pyworker.total_s": "s",
    "pyworker.boot_s": "s",
    "pyworker.init_s": "s",
    "pyworker.sent_mb": "MB",
    "pyworker.received_mb": "MB",
    "dags.ingest_region_s": "s",
    "dags.transform_region_s": "s",
    "sources.pbf.scan_s": "s",
    "sources.pbf.blobs": "count",
    "sources.pbf.elements_per_s": "1/s",
    "io.write_snapshot_s": "s",
    "io.publish_files": "count",
    "io.publish_mb": "MB",
    "io.write_amp": "ratio",
    "mem.driver_jvm_peak_mb": "MB",
    "mem.pyworker_peak_mb": "MB",
    "trace.overhead_s": "s",
}
def process_age() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(cpus: int, codegen_log: str = "") -> None:
    """Everything a child process (JVM, Python workers, set-up probes)
    inherits: core count, the checkout on the workers' import path and
    every temporary directory inside the checkout. With ``codegen_log``
    the JVM also logs each codegen compile time to that file."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    java_opts = f"-Xms{DRIVER_MEMORY}"
    if codegen_log:
        java_opts += (f" -Dlog4j2.configurationFile=file:{CODEGEN_LOG_CONFIG}"
                      f" -Dperfbench.codegen.log={codegen_log}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{java_opts}" pyspark-shell'
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def setup():
    """Start the session and import the registry, as a job's process does."""
    t0 = time.perf_counter()
    from osm_airflow_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    from osm_airflow_spark import registry

    registry.all_queries()
    t2 = time.perf_counter()
    return spark, {"setup_s": process_age(), "session.start_s": t1 - t0, "registry.import_s": t2 - t1}


def shutdown(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def setup_probe() -> None:
    spark, times = setup()
    shutdown(spark)
    print(json.dumps(times))


def probe_setups(n: int) -> list[dict]:
    out = []
    for _ in range(n):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe"],
            capture_output=True, text=True, timeout=150, cwd=ROOT,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"set-up probe failed: {proc.stderr[-500:]}")
        out.append(json.loads(lines[-1]))
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def calibration_s() -> float:
    """Seconds of a fixed pure-Python loop, median of three: the host's
    speed, recorded beside the results to tell a slower host from a
    slower program."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        times.append(time.perf_counter() - t0)
    return sorted(times)[1]


def environment(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
    }


def pass_layers(recs: list[dict], cpus: int) -> dict[str, float]:
    """Per-layer totals of one traced pass. The core-idle share is over
    the time operations ran, without the counter reads between them."""
    if "pass" in recs[0]:  # the ETL workload reads its counters per pass
        out = dict(recs[0]["pass"])
    else:
        out = {}
        for r in recs:
            for k in PER_LAYER.keys() & r.keys():
                out[k] = out.get(k, 0.0) + r[k]
        out["registry.build_self_s"] = out.get("registry.build_s", 0.0) - out.get("registry.build_job_s", 0.0)
        out["busy_s"] = sum(r["wall_s"] for r in recs)
    out["executor.core_idle_share"] = 1.0 - out.get("executor.task_run_s", 0.0) / (out["busy_s"] * cpus)
    return out


def op_tail(timed: list[dict]) -> tuple[float, str]:
    """The tail of the steady untraced operations and how it was taken:
    the highest of p99.9, p99, p95, p90 and p80 with at least 10
    operations beyond it, or, with fewer than 50 operations, the slowest
    operation of each pass, median over the passes."""
    from perfbench.spans import median, tail_percentile

    ok = [[r["wall_s"] for r in p["ops"] if not r["failed"]] for p in timed]
    ops = [t for times in ok for t in times]
    hit = tail_percentile(ops)
    if hit is not None:
        return hit[1], f"p{hit[0]:g} of n={len(ops)} warm ops"
    slowest = [max(times) for times in ok if times]
    return median(slowest), f"slowest op of each pass, median of {len(slowest)} passes"


def run(workload: str, seed: int, seconds: float, trace: bool, codegen_log: str = "") -> dict:
    from perfbench.counters import MemorySampler
    from perfbench.spans import Tracer, median, self_time
    from perfbench.workloads import EtlWorkload, RegistryWorkload

    cpus = os.cpu_count() or 1
    spark, main_setup = setup()
    env = environment(spark)
    steal0, total0 = cpu_ticks()
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    sampler = MemorySampler(jvm_pid).start()
    if workload == "osm_weekly_etl":
        wl = EtlWorkload(spark, OUT, seed, cpus, codegen_log)
    else:
        wl = RegistryWorkload(workload, spark, OUT, seed, codegen_log)

    traced, untraced = Tracer(True), Tracer(False)
    passes: list[dict] = []
    check_failures: dict[str, str] = {}
    # the cold pass, the warm-up passes, then steady passes until there
    # are MIN_STEADY_PASSES of them, they took --seconds and (untraced)
    # hold the workload's steady operations
    idx, steady_s, steady_ops = 0, 0.0, 0
    while True:
        steady = idx > 0
        on = trace and (idx == 0 or idx % 2 == 1)
        t0 = time.perf_counter()
        recs = wl.run_pass(idx, traced if on else untraced)
        wall = time.perf_counter() - t0
        for item, why in wl.check_pass(idx).items():
            check_failures[f"p{idx}:{item}"] = why
            for r in recs:
                if r.get("key", r.get("region")) == item:
                    r["failed"] = True
        passes.append({"idx": idx, "steady": steady, "traced": on, "wall_s": wall, "ops": recs})
        idx += 1
        if steady:
            steady_s += wall
            steady_ops += 0 if on else len(recs)
        if idx - 1 >= MIN_STEADY_PASSES and (
            steady_s >= MAX_STEADY_S
            or (steady_s >= seconds and (trace or steady_ops >= wl.steady_ops))
        ):
            break

    # every pass runs the same plans on the same inputs: one check per key
    failures = wl.check()
    env["calibration_s"] = calibration_s()
    check_failures.update(failures)
    ops = [r for p in passes for r in p["ops"]]
    for r in ops:
        if r.get("key", r.get("region")) in failures:
            r["failed"] = True
    if wl.counters is not None:
        compiles, _ = wl.counters.codegen_snapshot()
        if compiles != wl.counters.logged_compiles:
            raise RuntimeError(f"codegen log holds {wl.counters.logged_compiles} compiles, "
                               f"CodegenMetrics counts {compiles}")
    memory = sampler.stop()
    env["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests while the passes ran
    env["steal_share"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
    shutdown(spark)
    setups = [main_setup] + probe_setups(SETUP_SAMPLES - 1)
    # the whole run, set-up probes included
    env["run_s"] = round(process_age(), 2)

    failed = sum(1 for r in ops if r["failed"])
    steady_passes = [p for p in passes if p["steady"]]
    timed = [p for p in steady_passes if not p["traced"]]
    warm_ops = [r["wall_s"] for p in timed for r in p["ops"] if not r["failed"]]
    tail_v, tail_rule = op_tail(timed)
    e2e = {
        "setup_s": median([s["setup_s"] for s in setups]),
        "cold_batch_s": passes[0]["wall_s"],
        "warm_batch_s": median([p["wall_s"] for p in timed]),
        "op_p50_s": median(warm_ops),
        "op_tail_s": tail_v,
        "peak_rss_mb": memory["mem.driver_jvm_peak_mb"] + memory["mem.pyworker_peak_mb"],
    }
    layers: dict[str, float] = {}
    if trace:
        per_pass = [pass_layers(p["ops"], cpus) for p in steady_passes if p["traced"]]
        layers = {k: median([pp.get(k, 0.0) for pp in per_pass]) for k in PER_LAYER}
        cold = pass_layers(passes[0]["ops"], cpus)
        layers["catalyst.cold_s"] = sum(cold.get(f"catalyst.{k}_s", 0.0) for k in ("analysis", "optimization", "planning"))
        layers["codegen.cold_compiles"] = cold.get("codegen.compiles", 0.0)
        layers["codegen.cold_compile_s"] = cold.get("codegen.compile_s", 0.0)
        layers["session.start_s"] = median([s["session.start_s"] for s in setups])
        layers["registry.import_s"] = median([s["registry.import_s"] for s in setups])
        layers.update(memory)
        layers["trace.overhead_s"] = median(
            [p["wall_s"] for p in steady_passes if p["traced"]]
        ) - median([p["wall_s"] for p in timed])
        spans = traced.spans
        os.makedirs(os.path.join(OUT, "trace"), exist_ok=True)
        with open(os.path.join(OUT, "trace", f"{workload}-seed{seed}.json"), "w") as fh:
            json.dump([
                {"name": s.name, "op": s.op, "id": s.span_id, "parent": s.parent,
                 "start": s.start, "end": s.end, "self_s": self_time(s, spans)}
                for s in spans
            ], fh)
    return {
        "workload": workload, "seed": seed, "trace": trace, "env": env,
        "attempted": len(ops), "failed": failed, "check_failures": check_failures,
        "op_tail_rule": tail_rule,
        "end_to_end": e2e, "per_layer": layers, "setups": setups, "memory": memory,
        "passes": passes,
    }


def report(result: dict) -> None:
    e2e, layers = result["end_to_end"], result["per_layer"]
    env = result["env"]
    print(f"# {result['workload']} seed={result['seed']} trace={int(result['trace'])} "
          f"nproc={env['nproc']} loadavg={env['loadavg']} steal={env['steal_share']} "
          f"calibration={env.get('calibration_s', 0.0):.4f}s run={env.get('run_s', 0.0):.1f}s "
          f"spark={env['spark']} java={env['java']}")
    for name, unit in END_TO_END.items():
        extra = ""
        if name == "op_tail_s":
            extra = f"  ({result['op_tail_rule']})"
        print(f"{name} = {e2e[name]:.4f} {unit}{extra}")
    ratio = result["failed"] / result["attempted"]
    print(f"fail_ratio = {ratio:.4f} ratio  ({result['failed']} of {result['attempted']} ops)")
    for key, why in result["check_failures"].items():
        print(f"  check failed: {key}: {why}")
    for name, unit in PER_LAYER.items():
        if name in layers:
            print(f"{name} = {layers[name]:.6g} {unit}")
    chosen = layers if result["trace"] else e2e
    units = PER_LAYER if result["trace"] else END_TO_END
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": chosen[k], "unit": u} for k, u in units.items()},
    }))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    cpus = os.cpu_count() or 1
    if args.setup_probe:
        pin_environment(cpus)
        setup_probe()
        return 0
    if not args.workload:
        ap.error("--workload is required")
    codegen_log = ""
    if args.trace:
        os.makedirs(os.path.join(OUT, "trace"), exist_ok=True)
        codegen_log = os.path.join(OUT, "trace", f"{args.workload}-seed{args.seed}-codegen.log")
    pin_environment(cpus, codegen_log)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), codegen_log)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(result, fh, default=str)
    report(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
