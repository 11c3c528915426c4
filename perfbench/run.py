"""Crawl-frontier benchmark runner.

    python3 perfbench/run.py --workload retail-crawl|reseed --seed N --seconds S --trace 0|1

Run from the repository root. Builds the workload's inputs from the
seed, runs the engine's public API at ``local[<cpus>]``, checks every
output, and prints one JSON result line (the last line of stdout):
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run and writes its spans under
``.perfbench_work/spans/``. Metric names and units come from
``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# fits a 4-core / 15 GiB machine with room for the Python workers
# (session.get_spark would otherwise ask for 48g); a 4g heap grew to a
# different size on every run, which made peak RSS unsteady
DRIVER_MEMORY = "2g"
# env knobs that would change what the engine's session does
AMBIENT_KNOBS = ("SPARK_GRAFT_CODEGEN", "SPARK_GRAFT_AQE", "SPARK_GRAFT_WORKER_WARMUP")
# The engine's small-input session (interpreted evaluation, no AQE; see
# session.get_spark). With codegen and AQE on, one retail epoch takes
# 64-110 s instead of 45-55 s on a 4-core machine, and the reseed's
# first operation swings between 10 and 23 s on Janino compiles.
SESSION = {"codegen": False, "aqe": False}
# set-ups per run; setup_s reports session start + their median
SETUP_REPS = 2


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Process environment the engine and its Python workers start from."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    for k in AMBIENT_KNOBS:
        os.environ.pop(k, None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        # one traced retail crawl runs thousands of stages; the status
        # store must keep all of them for the per-layer accounting
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def machine_info(spark) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return {
        "nproc": cpu_count(),
        "mem_total_mb": round(mem_kb / 1024),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
    }


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and its workers; wait for all."""
    from pyspark import SparkContext

    from workloads import descendants

    procs = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in procs):
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "retailer_scrapers_spark")):
        print(f"engine package retailer_scrapers_spark not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    prepare_env(work)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cls = workloads.WORKLOADS[args.workload]

    t0 = time.perf_counter()
    from retailer_scrapers_spark import get_spark

    spark = get_spark(
        f"perfbench-{args.workload}", cores=cpu_count(), extra_conf=session_conf(work), **SESSION,
    )
    session_s = time.perf_counter() - t0
    probe = None
    try:
        info = machine_info(spark)
        wl = cls(spark, args.seed, work)
        reps = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup_once(rep)
            reps.append(time.perf_counter() - t)
        res = workloads.Result()
        res.e2e["setup_s"] = session_s + statistics.median(reps)
        tracer = None
        if args.trace:
            from spans import Tracer, layer_metrics

            tracer = Tracer(spark)
            tracer.install()
        from probe import SpeedProbe

        probe = SpeedProbe(work)
        t = time.perf_counter()
        wl.measure(res, args.seconds, tracer, probe)
        phases = {"session_s": session_s, "setup_reps_s": reps, "measure_and_check_s": time.perf_counter() - t}
        if tracer:
            res.layers.update(layer_metrics(tracer))
            res.layers["session.start_s"] = session_s
            spans_dir = os.path.join(WORK_ROOT, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.write(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if probe:
            probe.stop()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    section = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res.layers if args.trace else res.e2e
    missing = [m["name"] for m in section if m["name"] not in values]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in section}
    print(json.dumps({"perfbench": {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                                    "machine": info, "phases": phases, "info": res.info, "errors": res.errors[:20]}}))
    print(json.dumps({"correct": res.failed == 0 and not res.errors, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
