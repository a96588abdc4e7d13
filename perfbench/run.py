"""GLM-path benchmark for sgdnet_spark.

    python3 perfbench/run.py --workload glm_local --seed 1 --seconds 20 --trace 0

Run from the repository root. One client issues the workload's ops one
after another (a closed loop) against a local[N] Spark session; every
op's output is checked. The last stdout line is the result JSON
(``correct``, ``attempted``, ``failed``, ``metrics``); the line before it
carries host details, the host-speed yardstick and the check log.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("glm_local", "glm_spark")
DATAGEN_REPEATS = 3
MIN_CYCLES = 3  # an op median of fewer samples passes a single outlier through


def unit_of(metric: str) -> str:
    """Units follow the metric name's suffix."""
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_pct", "%")):
        if metric.endswith(suffix):
            return unit
    return "count"


def host_fit_env(work: str) -> dict:
    """Size Spark to this host, in this process only: cores <= nproc,
    driver heap from /proc/meminfo, one BLAS thread, the repo on the
    workers' PYTHONPATH, scratch dirs inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = {ln.split(":")[0]: int(ln.split()[1]) for ln in fh}
    mem_gb = mem_kb["MemTotal"] / 2**20
    heap_gb = max(1, min(4, int(mem_kb["MemAvailable"] / 2**20 / 4)))
    tmp = os.path.join(work, "tmp")
    local_dirs = os.path.join(work, "spark-local")
    for d in (tmp, local_dirs):
        os.makedirs(d, exist_ok=True)
    py_path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_gb}g",
        OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1",
        PYTHONPATH=os.pathsep.join(py_path),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=local_dirs,
        TMPDIR=tmp,
        # C1 only: without C2 the JIT settles within the warm-up instead
        # of speeding ops up for the whole run
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
    )
    return {"cpus": cpus, "mem_gb": round(mem_gb, 2), "driver_heap_gb": heap_gb}


def yardstick(spark) -> dict:
    """Fixed host-speed probes, reported beside the metrics: a numpy
    kernel and a small Spark job, median of 3 each."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((300, 300))

    def kernel():
        b = a
        for _ in range(8):
            b = np.linalg.solve(a + 300 * np.eye(300), b) @ a
        return b

    def job():
        spark.range(0, 2_000_000, numPartitions=4).selectExpr(
            "sum(hash(id) % 997) AS s").collect()

    out = {}
    for name, fn in (("numpy_kernel_s", kernel), ("spark_job_s", job)):
        ts = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t)
        out[name] = statistics.median(ts)
    return out


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "numpy": numpy.__version__, "pyarrow": pyarrow.__version__}


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    import probes
    from pyspark import SparkContext

    workers = probes.process_tree()["py_workers"]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 10
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Runner:
    """Issues ops and keeps the count of attempted and failed ones."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def issue(self, wl, op: str, fn):
        """Run one op, time it, check its output. Returns (seconds, out)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # an op that raises is a failed op
            traceback.print_exc()
            self.failed += 1
            self.problems.append(f"{op}: raised {type(e).__name__}: {e}")
            return time.perf_counter() - t, None
        dt = time.perf_counter() - t
        out = wl.keep(op, out)
        try:
            bad = wl.check(op, out)
        except Exception as e:
            traceback.print_exc()
            bad = [f"check raised {type(e).__name__}: {e}"]
        if bad:
            self.failed += 1
            self.problems += [f"{op}: {b}" for b in bad]
        return dt, out

    def extra_check(self, name: str, problems: list[str]) -> None:
        """A check that is not tied to one op counts as one more op."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{name}: {p}" for p in problems]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--inject-fault", choices=("coef", "row"), default=None,
                    help="corrupt one output before it is checked (self-test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sgdnet_spark", "glm", "__init__.py")):
        print(f"perfbench: no sgdnet_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, args.workload)
    host = host_fit_env(work)
    sys.path.insert(0, ROOT)
    result, info = run(args, host, work)
    info["wall_s"] = time.perf_counter() - T0
    print(json.dumps(info, default=float))
    print(json.dumps(result))
    return 0


def run(args, host: dict, work: str):
    import datagen
    import probes
    import workloads

    runner = Runner()
    t0 = time.perf_counter()
    from sgdnet_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        gen_s, inputs, digests = [], None, set()
        for _ in range(DATAGEN_REPEATS):
            t = time.perf_counter()
            inputs = datagen.write_glm_inputs(os.path.join(work, "data"), args.seed,
                                              **workloads.SIZES[args.scale])
            gen_s.append(time.perf_counter() - t)
            digests.add(datagen.digest([p for p, _ in inputs.values()]))
        runner.extra_check("datagen", [] if len(digests) == 1 else
                           ["the same seed gave different files"])
        wl = workloads.Workload(args.workload, spark, inputs, fault=args.inject_fault)
        ops = wl.ops()

        wl.warm = True
        warmup = {op: runner.issue(wl, op, ops[op])[0] for op in workloads.OPS}
        wl.warm = False
        warmup_s = sum(warmup.values())
        setup_s = session_s + statistics.median(gen_s) + warmup_s

        yard = {"start": yardstick(spark)}
        if args.trace:
            import layers

            metrics = layers.traced(spark, wl, runner, ops,
                                    os.path.join(work, "spans.jsonl"))
            metrics.update({
                "session.start_s": session_s, "datagen.write_s": statistics.median(gen_s),
                "warmup.cycle_s": warmup_s,
                "host.numpy_kernel_s": yard["start"]["numpy_kernel_s"],
                "host.spark_job_s": yard["start"]["spark_job_s"],
            })
            samples = {}
        else:
            samples = {op: [] for op in workloads.OPS}
            repeats = workloads.REPEATS[args.workload]
            t_end = time.perf_counter() + args.seconds
            cycles = 0
            # round-robin cycles, so drift hits every op alike
            while cycles < MIN_CYCLES or time.perf_counter() < t_end:
                for op in workloads.OPS:
                    for _ in range(repeats.get(op, 1)):
                        samples[op].append(runner.issue(wl, op, ops[op])[0])
                cycles += 1
            metrics = {f"{op}_s": statistics.median(samples[op]) for op in workloads.OPS}
            metrics["setup_s"] = setup_s
            metrics["driver_peak_rss_mb"] = probes.peak_rss_mb()
        runner.extra_check("predict_rows", wl.check_sampled_rows(args.seed))
        yard["end"] = yardstick(spark)
    finally:
        stop_spark(spark)

    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(v), "unit": unit_of(k)}
                    for k, v in sorted(metrics.items())},
    }
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": args.scale, "host": dict(host, **versions()), "yardstick": yard,
        "setup": {"session_s": session_s, "datagen_s": gen_s, "warmup_s": warmup},
        "samples": samples, "failed_share": runner.failed / max(runner.attempted, 1),
        "problems": runner.problems[:50],
    }
    return result, info


if __name__ == "__main__":
    sys.exit(main())
