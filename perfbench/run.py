"""The repository benchmark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload {ingest_cron,ingest_backfill,query_mix}
                              --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The first run in a checkout builds the
prepared state (``prepare.py``) in a child process; later runs reuse it
while the code is unchanged. A run builds its Spark session, warms up,
then measures closed-loop operations for ``--seconds`` and checks the
program's outputs. The last stdout line is the result object; the lines
before it say whether prepared state was built, the tail latency rule's
outcome and any failed check. ``--trace 1`` measures the per-layer
metrics instead of the end-to-end ones and writes its spans to
``perfbench/.work/traces/``.

Exits non-zero, printing no result, when the program is missing.
"""

from __future__ import annotations

import time

START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import env  # noqa: E402


def end_to_end(res, setup_s: float) -> dict[str, float]:
    """``op_latency_s`` is the median latency of each kind of operation,
    averaged over kinds: the median batch for the ingestion workloads,
    and for the query mix the sweep (the sum of per-query medians) over
    the number of queries. A median over seven different queries would
    jump from one query to another as their ranks swap, and a geometric
    mean weighs the shortest queries, whose latency jumps most from run
    to run, as much as the longest."""
    import stats

    ok = [op for op in res.ops if op.ok] or res.ops
    by_kind: dict[str, list] = {}
    for op in ok:
        by_kind.setdefault(op.kind, []).append(op)
    latency = [stats.median([op.latency for op in ops]) for ops in by_kind.values()]
    return {"setup_s": setup_s, "op_latency_s": sum(latency) / len(latency)}


def cpu_times() -> list[int]:
    """The host's aggregate CPU jiffies (user .. steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def main(argv: list[str] | None = None) -> int:
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    import prepare
    import stats

    prepared, build_s = prepare.ensure()
    print(f"# prepared state: {prepared} ({build_s:.1f}s)")
    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    run_dir = os.path.join(env.WORK, "runs", run_id)
    shutil.rmtree(os.path.join(env.WORK, "runs"), ignore_errors=True)  # earlier runs' tables
    os.makedirs(run_dir)
    cpu0 = cpu_times()
    run = workloads.Run(args.seed, args.seconds, bool(args.trace), run_dir, run_id)
    try:
        res = workloads.WORKLOADS[args.workload](run)
        peak_rss = workloads.peak_rss_mb(run.spark)
    finally:
        env.stop(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    # steal: time this VM's CPUs waited for the host; it inflates every timing
    print(f"# host: cpu busy {1 - cpu[3] / sum(cpu):.0%}, steal {cpu[7] / sum(cpu):.1%}")
    setup_s = res.setup_end - START - build_s
    failed = sum(not op.ok for op in res.ops)
    for problem in res.problems[:20]:
        print(f"# CHECK FAILED: {problem}")
    latencies = [op.latency for op in res.ops]
    print("# latencies: " + " ".join(f"{op.kind + '=' if op.kind else ''}{op.latency:.3f}" for op in res.ops))
    t = stats.tail(latencies)
    print(
        f"# {len(latencies)} operations; tail: "
        + (f"p{t[0]:.1f} = {t[1]:.4f}s" if t else "none (fewer than 20 samples)")
    )
    if args.trace:
        metrics = workloads.summarize(res)
        metrics["process.peak_rss_mb"] = peak_rss
        extra = metrics["trace.extra_jobs"]
        if metrics["job.jobs"] and extra != workloads.TRACED_EXTRA_JOBS:
            print(f"# TRACE MISMATCH: the traced layers launch {extra:+g} jobs beyond run_ingestion_job's, "
                  f"not {workloads.TRACED_EXTRA_JOBS:+d}; the per-layer ingestion figures no longer follow the program")
        traces = os.path.join(env.WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        res.tracer.write(os.path.join(traces, f"{run_id}.json"))
        units = workloads.PER_LAYER_UNITS
    else:
        metrics = end_to_end(res, setup_s)
        units = {"setup_s": "s", "op_latency_s": "s"}
    out = {
        "correct": not res.problems,
        "attempted": len(res.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    if not os.path.isdir(env.PACKAGE):
        print(f"perfbench: program package not found at {env.PACKAGE}", file=sys.stderr)
        sys.exit(2)
    os.chdir(env.ROOT)
    env.configure_process()
    sys.exit(main())
