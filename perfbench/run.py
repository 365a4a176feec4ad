"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of this repository. Workloads:
``control_heavy``, ``exec_heavy``, ``store_ingest_query`` (see
README.md). Inputs are generated from ``--seed``. Everything the run
writes (inputs, the store, Spark's scratch space) goes under
``.perfbench_work/`` in the checkout and is removed at exit.

Report lines go to stdout first; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_info() -> dict:
    """Load average, JVMs already running, processor count and the time
    of a fixed pure-Python loop, recorded before the run starts so a busy
    or slow host is visible in the output."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    info = {"nproc": os.cpu_count() or 1,
            "loop_s": round(time.perf_counter() - t0, 4)}
    with open("/proc/loadavg") as fh:
        info["loadavg_1m"] = float(fh.read().split()[0])
    ps = subprocess.run(["ps", "-eo", "comm"], capture_output=True, text=True)
    info["preexisting_jvms"] = sum(
        line.strip() == "java" for line in ps.stdout.splitlines())
    return info


def isolate(work: str, cores: int) -> None:
    """Point every scratch location at ``work`` and size the session,
    before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.local.dir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell",
    ])


def stop_jvm() -> None:
    """Stop the SparkContext and the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("default", "tiny"), default="default")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "vectorsearchutil_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(W.WORKLOADS)}", file=sys.stderr)
        return 2

    host = host_info()
    cores = min(host["nproc"], 4)
    print(f"perfbench: host {json.dumps(host)} cores={cores}", file=sys.stderr)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    isolate(work, cores)
    run = W.Run(args.workload, args.seed, args.seconds, args.trace,
                args.size, work, cores, T_START)
    try:
        if args.workload in W.REGISTRY:
            W.run_registry(run)
        else:
            W.run_store(run)
        e2e = W.end_to_end(run)
        report = {**W.host_normalised(run), **W.wall_report(run),
                  **W.store_report(run)}
        layers = W.per_layer(run) if args.trace else {}
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    run.phase("teardown")
    print("perfbench: phases " + " ".join(
        f"{k}={v:.2f}s" for k, v in run.phases.items()) + " passes=" +
        " ".join(f"{p:.2f}" for p in run.passes + run.untraced_passes))
    for p in run.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print(f"perfbench: workload={args.workload} seed={args.seed} "
          f"passes={len(run.passes)} untraced_passes={len(run.untraced_passes)} "
          f"failed_frac={run.failed / max(1, run.attempted):.4f}")
    for name, (value, unit) in {**report, **layers}.items():
        print(f"perfbench: {name} = {value:.6g} {unit}")
    metrics = layers if args.trace else e2e
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
