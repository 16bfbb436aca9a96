"""Benchmark of importpipeline_spark on this host.

    python3 perfbench/run.py --workload query --seed 1 --seconds 8 --trace 0

Run from the repository root. One client process drives the engine's public
API on a Spark ``local[nproc]`` session. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` repeats the workload with spans around every layer
call, adds the per-layer probes and prints the per-layer metrics. The last
line of stdout is one JSON object:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

A failed correctness check, or a failed operation other than a search,
prints ``"correct": false`` and exits 1. See
perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_env(work: str) -> dict:
    """Size the Spark session for this host and keep every file it writes
    inside ``work``. The Python workers import the engine from ROOT."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    # local mode: one JVM is driver and executor; a quarter of the host's
    # memory, at most 2g, leaves room for the Python workers beside it
    heap_mb = min(mem_kb // 1024 // 4, 2048)
    tmp = os.path.join(work, "tmp")
    path = os.environ.get("PYTHONPATH")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM spark-submit starts, the launcher too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["query", "update"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "importpipeline_spark")):
        print(f"perfbench: no importpipeline_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = host_env(work)
    for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    sys.path.insert(0, ROOT)

    from perfbench.workloads import Bench, OpFailed, run_workload

    bench = Bench(ROOT, work, args.seed, args.seconds, bool(args.trace),
                  cores=int(env["SPARK_GRAFT_CPUS"]))
    try:
        metrics = run_workload(bench, args.workload)
    except OpFailed as e:
        # a failed build, update, delete, compaction, WAND call or pipeline
        # run ends the run; its counts and the metrics so far still print
        bench.check(False, f"operation failed: {e}")
        metrics = bench.partial_metrics()
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    for msg in bench.check_failures:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    out = {
        "correct": not bench.check_failures,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    t0 = time.perf_counter()
    rc = main()
    print(f"perfbench: exit {rc} after {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)
    sys.exit(rc)
