"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload etl_dag --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout of the repository. One closed-loop
client drives a local Spark session on every core of the host
(``local[nproc]``). A run

1. sets up: starts the JVM and the session, runs one trivial job and
   generates the workload's inputs from the seed (``setup_s``, from
   process start to the start of the cold pass);
2. makes the cold pass, the first pass over the workload's op list in
   this process (``cold_cpu_s``);
3. makes warm passes until ``--seconds`` have passed since the cold
   pass ended, and at least the workload's ``WARM_PASSES`` of them
   (``warm_cpu_s``, the CPU seconds of the first ``WARM_PASSES`` over
   their number);
4. checks every result outside the timed region.

CPU seconds are those of the whole process tree: client, JVM and Python
workers. On a host whose hypervisor lends its CPUs to other guests for
minutes at a time, wall time moves with the neighbours' load far more
than CPU time does. Within the warm passes, the JIT compiler's work
lands in one pass or another, so their CPU time is summed over a fixed
number of passes rather than taken per pass; a fixed number, because a
run slowed by its neighbours makes fewer passes in ``--seconds`` and
would share that work among fewer of them. Wall times are the per-layer
metrics ``wall.*`` of a traced run.

With ``--trace 1`` the warm passes alternate between untraced and
traced (untraced, traced, traced, untraced, ...), and the run reports
the per-layer metrics of the traced passes, the tracing overhead
(traced minus untraced pass time) and writes its spans to
``perfbench/.work/``. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")


def _env(scratch: str) -> None:
    """Pin the run inside the checkout and onto this host's cores."""
    cpus = str(os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    # shuffle and spill files below the checkout rather than the
    # engine's default under /dev/shm: the benchmark writes nowhere else
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    # no hsperfdata under /tmp: the JVM writes only below the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={scratch}/tmp "
                                       "-XX:-UsePerfData")
    # Python workers import the package from the repository, whatever
    # the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    sys.path.insert(0, REPO)


def _start_session():
    from pmc_conversion_spark.session import get_spark
    spark = get_spark("perfbench", cpus=os.environ["SPARK_GRAFT_CPUS"])
    spark.range(1).count()
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def run(workload_name: str, seed: int, seconds: float, trace: bool,
        units: dict[str, str], scratch: str) -> dict:
    """One run; ``units`` maps every metric to report to its unit."""
    from perfbench.trace import Tracer, memory_peaks

    tracer = Tracer(enabled=trace)
    if workload_name == "etl_dag":
        from perfbench.etl_dag import EtlDag as cls
    else:
        from perfbench.curation import Curation as cls
    spark = None
    try:
        spark = _start_session()
        session_s = time.perf_counter() - PROCESS_START
        wl = cls(spark, scratch, seed, tracer)
        wl.setup()
        setup_s = time.perf_counter() - PROCESS_START

        cold = wl.cold_pass()
        t_meas = time.perf_counter()
        warm: list[tuple[float, float]] = []
        traced_warm: list[tuple[float, float]] = []
        ops: list[float] = []
        # a traced run makes twice as many passes, in the order
        # untraced, traced, traced, untraced, ... so that the warm-up
        # still going on in the JVM slows both kinds alike
        n = 0
        while (n < wl.WARM_PASSES * (1 + trace)
               or time.perf_counter() - t_meas < seconds):
            tracer.enabled = trace and n % 4 in (1, 2)
            cost, op_costs = wl.warm_pass()
            if tracer.enabled:
                traced_warm.append(cost)
            else:
                warm.append(cost)
                ops.extend(op_costs)
            n += 1
        if trace and hasattr(wl, "incr_pass"):
            tracer.enabled = True
            wl.incr_pass()
        tracer.enabled = False
        if hasattr(wl, "check"):
            wl.check()
        mem = memory_peaks()
    finally:
        if spark is not None:
            _stop(spark)

    pass_s = _median(w for w, _ in warm)
    passes = [(round(w, 2), round(c, 2)) for w, c in warm]
    print(f"setup {setup_s:.1f} s, cold pass {cold[0]:.1f} s, "
          f"warm passes (s, CPU s) {passes}", file=sys.stderr)
    if trace:
        values = wl.layer_metrics()
        values.update({
            "wall.cold_s": cold[0],
            "wall.pass_s": pass_s,
            "wall.op_p50_s": _median(ops),
            "session.start_s": session_s,
            "mem.jvm_peak_mb": mem["jvm_peak_mb"],
            "mem.py_worker_peak_mb": mem["py_worker_peak_mb"],
            "trace.overhead_s": _median(w for w, _ in traced_warm) - pass_s,
            "ops.samples": len(ops)})
        tracer.write(os.path.join(WORK, f"spans-{workload_name}-{seed}.jsonl"))
    else:
        values = {"setup_s": setup_s, "cold_cpu_s": cold[1],
                  "warm_cpu_s": sum(c for _, c in warm[:wl.WARM_PASSES])
                  / wl.WARM_PASSES}
    unmeasured = set(units) - set(values) - set(wl.NOT_APPLICABLE)
    if unmeasured:
        raise RuntimeError(f"metrics not measured: {sorted(unmeasured)}")
    metrics = {k: {"value": values.get(k, 0.0), "unit": u}
               for k, u in units.items()}
    for e in wl.errors:
        print(f"check failed: {e}", file=sys.stderr)
    return {"correct": not wl.errors, "attempted": wl.attempted(),
            "failed": wl.failed(), "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("etl_dag", "llm_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "pmc_conversion_spark")):
        print(f"no pmc_conversion_spark package beside {BENCH_DIR}; run "
              "from the root of a checkout of the repository",
              file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    # inputs, shuffle files and temporary files of this process
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    _env(scratch)
    try:
        result = run(args.workload, args.seed, args.seconds,
                     bool(args.trace), units, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
