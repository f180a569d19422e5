"""Benchmark entry point.

    python3 perfbench/run.py --workload warm_mix --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py) on local[nproc] and prints a report
of every metric, then, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, measured untraced; with --trace 1 they are the
per-layer ones, from traced passes. Inputs and caches live in
.perfbench-work/ at the checkout root. Exits non-zero, without a result
line, if the engine is not in the checkout or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "big_data_computing_final_project_spark"

# the end-to-end metrics BENCHMARK.json gates; the report adds op_p50_s,
# op_tail_s, failed_ratio and per-op times
E2E = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}
LAYER = {
    "session.get_spark_s": "s",
    "catalog.load_table_s": "s",
    "catalog.load_table_jobs": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "session_cache.gets": "count",
    "session_cache.puts": "count",
    "session_cache.hit_ratio": "ratio",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.core_busy_ratio": "ratio",
    "arrow.py_run_s": "s",
    "arrow.py_start_s": "s",
    "arrow.py_sent_mb": "MB",
    "arrow.py_recv_mb": "MB",
    "ml.fit_s": "s",
    "ml.fit_jobs": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.plan_s": "s",
    "streaming.commit_s": "s",
    "streaming.store_files": "count",
    "streaming.store_mb": "MB",
    "streaming.write_amp": "ratio",
    "streaming.compact_s": "s",
    "trace.overhead_ratio": "ratio",
}


def prepare_env(work: str) -> None:
    """Settings the engine reads at import time, and scratch paths kept
    inside the checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a fixed-size JVM heap: peak RSS then varies less with heap resizing
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def stop_spark() -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def report(workload: str, seed: int, res: dict) -> list[str]:
    """Human-readable lines: every metric with its unit and sample count."""
    from spans import median, tail

    lines = [f"# workload={workload} seed={seed} passes={res['passes']}"]
    for name, value in res["e2e"].items():
        lines.append(f"{name} = {value:.4f} {E2E[name]}")
    samples = res["samples"]
    n = len(samples)
    lines.append(f"op_p50_s = {median(samples):.4f} s (n={n})")
    t = tail(samples)
    lines.append(
        f"op_tail_s = {t[1]:.4f} s (p{t[0]:.1f}, n={n})" if t
        else f"op_tail_s = n/a (n={n}: fewer than 11 samples)"
    )
    lines.append(
        f"failed_ratio = {res['failed'] / max(res['attempted'], 1):.4f} "
        f"({res['failed']}/{res['attempted']} ops)"
    )
    for key, value in res["extra"].items():
        if key == "op_times":
            for op, times in sorted(value.items()):
                short = op.split("_")[0] if op.startswith("q") else op
                lines.append(f"{short}_s = {median(times):.4f} s (n={len(times)})")
        else:
            unit = "1/s" if key.endswith("per_s") else "s"
            lines.append(f"{key} = {value:.4f} {unit}")
    for name, value in sorted(res.get("layer", {}).items()):
        lines.append(f"{name} = {value:.4f} {LAYER.get(name, '')}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work")
    prepare_env(work)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.trace:
        workloads.CacheCalls().install()
    try:
        res, run = workloads.WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace), work)
        if args.trace:
            run.tracer.write(os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        stop_spark()

    for line in report(args.workload, args.seed, res):
        print(line)
    if args.trace:
        metrics = {k: {"value": res["layer"].get(k, 0.0), "unit": u} for k, u in LAYER.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E.items()}
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
