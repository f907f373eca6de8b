"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload curate_chunks --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's input is generated from
`--seed` (cached under .perfbench/inputs), then one process starts Spark at
local[N], N being the CPUs this process may run on, and runs passes back to
back for `--seconds` seconds. `--trace 0` prints the end-to-end metrics;
`--trace 1` runs the layer plans and serial kernel calls instead and prints
the per-layer metrics. Every run checks the output rows against the goldens.
Spans and a detailed record go to .perfbench/results.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import time
import traceback


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_START = time.perf_counter() - _process_age()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
TRACE_REPEAT = 3   # timings per layer plan in a traced run
# Warm passes run after the cold pass and before the measured ones: over the
# first five the JVM is still compiling and pass time falls by about a quarter.
WARMUP_PASSES = 5


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env() -> None:
    """Workers import the program from the repository root; Spark and
    Python keep their scratch files inside the checkout."""
    if not os.path.isfile(os.path.join(ROOT, "pdf_parser_spark", "__init__.py")):
        _fail(f"the program (pdf_parser_spark) is not in {ROOT}")
    if not os.path.isfile(os.path.join(ROOT, "jobs", "curate_job.py")):
        _fail(f"jobs/curate_job.py is not in {ROOT}")
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData keeps both JVMs (spark-submit's launcher and the
    # driver) from writing /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = shlex.quote(f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf {java_opts} --conf spark.ui.showConsoleProgress=false pyspark-shell")


def host_fingerprint(cores: int) -> dict:
    import pyarrow
    import pyspark

    model = "unknown"
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {"cpu_model": model, "cores": cores, "python": platform.python_version(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def quartiles(xs):
    if len(xs) < 2:
        return {"median": xs[0], "q1": xs[0], "q3": xs[0], "n": len(xs)}
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {"median": q2, "q1": q1, "q3": q3, "n": len(xs)}


def _stop(spark) -> None:
    """Stop Spark and the JVM pyspark launched, and wait until the whole
    process tree under this process has ended."""
    from pyspark import SparkContext

    from perfbench import procstat

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(procstat.tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in procstat.tree(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def end_to_end(wr, seconds: float, rows: int, payload: int, root: int, detail: dict):
    """One session: start, table registration and the checked cold pass,
    WARMUP_PASSES unmeasured passes, then measured passes back to back for
    `seconds`. `setup_s` runs from process start to the end of the cold
    pass, input preparation excluded. Returns the session and the metrics."""
    spark = wr.session()
    t_session = time.perf_counter()
    wr.register(spark)
    t_cold = time.perf_counter()
    wr.checked_pass(spark)
    t_warm = time.perf_counter()
    warmup = [wr.timed_pass(spark, root)[0] for _ in range(WARMUP_PASSES)]
    walls, cpus = [], []
    deadline = time.perf_counter() + seconds
    while not walls or time.perf_counter() < deadline:
        wall, cpu = wr.timed_pass(spark, root)
        walls.append(wall)
        cpus.append(cpu)
    setup = t_warm - T_START - detail["input_prep_s"]
    detail.update({
        "warmup_pass_s": warmup, "passes": len(walls), "pass_s": walls, "pass_cpu_s": cpus, "setup_s": setup,
        "jvm_start_s": t_session - T_START - detail["input_prep_s"],
        "register_s": t_cold - t_session, "cold_pass_s": t_warm - t_cold,
    })
    per_pass = {
        "docs_per_s": [rows / w for w in walls],
        "mb_per_s": [payload / 1e6 / w for w in walls],
        "cpu_s_per_kdoc": [c / (rows / 1000) for c in cpus],
    }
    detail["quartiles"] = {k: quartiles(v) for k, v in per_pass.items()}
    metrics = {k: statistics.median(v) for k, v in per_pass.items()}
    metrics["setup_s"] = setup
    return spark, metrics


def traced(wr, tracer, root: int, detail: dict):
    """One session: the hop counted on fresh workers, a cold pass, the layer
    plans, the tracing overhead probe and the serial kernel calls."""
    with tracer.span("setup"):
        spark = wr.session()
        wr.register(spark)
    with tracer.span("hop_stats"):
        hop = wr.hop_stats(spark, root)
    detail["worker_peak_rss_mb"] = hop.pop("_workers")
    with tracer.span("cold_pass"):
        wr.checked_pass(spark)
    with tracer.span("layers"):
        layers = wr.layer_plans(spark, tracer, TRACE_REPEAT)
    with tracer.span("overhead"):
        overhead = wr.overhead(spark, tracer, TRACE_REPEAT)
    with tracer.span("serial"):
        serial = wr.serial_kernels(tracer)
    serial_kernel_s = serial.pop("_serial_kernel_s")
    metrics = {**hop, **layers, **serial, "trace.overhead_share": overhead}
    kernel_s = metrics["extract_kernel.s"]
    metrics["extract_kernel.parallel_eff"] = (
        serial_kernel_s / (wr.cores * kernel_s) if kernel_s > 0 else 0.0)
    detail["serial_kernel_s"] = serial_kernel_s
    return spark, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--blocks", type=int, default=None,
                    help="input size in 20-row corpus blocks (smoke tests only)")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    _prepare_env()

    from perfbench import procstat
    from perfbench.harness import WorkloadRun
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, ensure_inputs, payload_bytes

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    root = os.getpid()
    detail = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "host": host_fingerprint(cores)}

    t0 = time.perf_counter()
    input_dir = ensure_inputs(wl, args.seed, os.path.join(WORK, "inputs"), args.blocks)
    rows, payload = payload_bytes(input_dir)
    work_dir = os.path.join(WORK, "work", f"{wl.name}-s{args.seed}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{wl.name}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"

    wr = WorkloadRun(wl, input_dir, work_dir, cores)
    detail.update({"input_prep_s": time.perf_counter() - t0, "rows": rows, "payload_mb": payload / 1e6})
    tracer = Tracer(tag)
    spark = None
    try:
        with tracer.span("run"):
            if args.trace:
                spark, metrics = traced(wr, tracer, root, detail)
            else:
                spark, metrics = end_to_end(wr, args.seconds, rows, payload, root, detail)
            with tracer.span("verify"):
                attempted, failed, bad = wr.verify(spark)
            if args.trace:
                metrics.setdefault("extract.ok_ratio", wr.ok_share)
            else:
                rss = procstat.peak_rss_by_process(root)
                detail["peak_rss_by_process_mb"] = {str(p): mb for p, mb in rss.items()}
                metrics["peak_rss_mb"] = sum(rss.values())
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    names = [m["name"] for m in wanted]
    if sorted(metrics) != sorted(names):
        print(f"perfbench: metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(names)}",
              file=sys.stderr)
        return 1
    out = {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in wanted}
    detail.update({"failed_urls": bad, "doc_fail_share": failed / attempted})
    if args.trace:
        tracer.write(os.path.join(results, tag + ".spans.jsonl"))
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump({"detail": detail, "metrics": out}, f, indent=1)
    print(json.dumps({"detail": {k: detail[k] for k in ("host", "rows", "payload_mb", "doc_fail_share")
                                 if k in detail}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
