"""Benchmark entry point; run it from the repository root:

    python3 perfbench/run.py --workload ann_search --seed 1 --seconds 10 --trace 0

Builds the seeded inputs of one workload, runs it against the engine on
``local[nproc]`` through its public functions only, checks every
output, and prints two JSON lines: first the run's detail (host,
session, the workload's own figures, any failed checks), last the
result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOAD_NAMES = ("ann_search", "build_extend", "corpus_curate")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the smoke test")
    p.add_argument("--corrupt", action="store_true",
                   help="corrupt every result before it is checked, to "
                        "prove the checks fail it")
    return p.parse_args(argv)


def _stop_spark(spark, watched: set[int]) -> None:
    """Stop the session, the JVM behind it and the JVM's Python
    workers, and wait until each process has ended."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    alive = set(watched)
    while alive:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)}
        if not alive:
            break
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def end_to_end(run, setup_s: float, peak_rss_bytes: int) -> dict:
    import numpy as np
    return {
        "setup_s": (setup_s, "s"),
        "work_items_per_s": (run.items / sum(run.request_s), "1/s"),
        "request_p50_s": (float(np.median(run.request_s)), "s"),
        "result_quality": (float(np.mean(run.samples["quality"])), "frac"),
        "peak_rss_mb": (peak_rss_bytes / 2**20, "MB"),
        "ok_ops_frac": (1.0 - run.failed / max(1, run.attempted), "frac"),
    }


def per_layer(run, tracer, loop_s: float, loop_cpu_s: float, cores: int,
              steal: float) -> dict:
    out = tracer.layer_metrics()
    for name in ("operators.ivf_flat.candidates_per_query",
                 "operators.ivf_pq.candidates_per_query"):
        out[name] = run.layer_extra.get(name, (0.0, "rows"))
    out["engine.cpu_util"] = (loop_cpu_s / (loop_s * cores), "frac")
    out["engine.cached_bytes"] = (float(run.cached_bytes), "bytes")
    out["host.steal_frac"] = (steal, "frac")
    out["trace.overhead_s"] = (tracer.overhead_s, "s")
    out["trace.items_per_s"] = (run.items / sum(run.request_s), "1/s")
    return out


def as_json(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cuvs_spark", "__init__.py")):
        print(f"cuvs_spark not found next to {HERE}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    import hostenv
    host = hostenv.pin_environment(ROOT, work)
    sys.path.insert(0, ROOT)

    from cuvs_spark import get_spark
    from tracing import Tracer
    from workloads import SIZES, WORKLOADS, Run

    sampler = hostenv.RssSampler().start()
    cpu_before = hostenv.cpu_times()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    t1 = time.perf_counter()
    session_s = t1 - t0
    tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
    tracer.record("session.get_spark", t0, t1)
    try:
        host.update(hostenv.versions(spark))
        run = Run(spark, tracer, args.seed, args.seconds,
                  SIZES[args.scale][args.workload], args.corrupt)
        cpu0 = tracer.executor_cpu_s()
        phases = WORKLOADS[args.workload](run)
        loop_cpu_s = tracer.executor_cpu_s() - cpu0
        run.read_cached_bytes()
    finally:
        watched = hostenv.descendants(os.getpid())
        _stop_spark(spark, watched)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    steal = hostenv.steal_frac(cpu_before, hostenv.cpu_times())
    if not run.request_s:
        print("no request completed", file=sys.stderr)
        return 1

    trace_file = None
    if args.trace:
        os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
        trace_file = os.path.join(
            out_dir, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(trace_file)
        metrics = per_layer(run, tracer, phases["loop_s"], loop_cpu_s,
                            host["nproc"], steal)
    else:
        metrics = end_to_end(run, session_s + phases["setup_s"],
                             sampler.peak_bytes)
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
        "client": "closed loop, 1 client", "host": host,
        "requests": len(run.request_s), "loop_s": phases["loop_s"],
        "request_s": run.request_s,
        "session_s": session_s, "workload_setup_s": phases["setup_s"],
        "engine.cached_bytes": run.cached_bytes,
        "metrics": as_json(run.detail), "problems": run.problems[:20],
        "trace_file": trace_file and os.path.relpath(trace_file, ROOT),
    }
    print(json.dumps(detail))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": as_json(metrics)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
