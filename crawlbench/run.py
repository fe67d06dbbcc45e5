"""Crawl benchmark: runs CrawlEngine on one seeded workload.

    python3 crawlbench/run.py --workload megahost_bloom --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer metrics of a traced run. Every crawl is
checked against the pure-Python oracle; a run with ``parity_errors > 0``
exits 1. The last line of stdout is one JSON object; the lines above it are
a readable report. Spark's own stderr goes to
``.crawlbench/logs/<workload>-s<seed>-t<trace>.log``; every run is appended
to ``.crawlbench/runs.jsonl`` with its host-noise record.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import env  # noqa: E402

# these import the program: without it in the checkout the run fails here,
# before anything is started
import tracing  # noqa: E402
from crawl import TaskCounter, quantile, run_crawl, start_session, warm_up  # noqa: E402
from workloads import WORKLOADS, cached_inputs, expected  # noqa: E402

WORK = os.path.join(ROOT, ".crawlbench")

E2E_UNITS = {
    "urls_per_s": "1/s",
    "fetch_lag_s.p50": "s",
    "fetch_lag_s.p99": "s",
    "setup_s": "s",
    "resume_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_url": "B",
}


def measured_run(spark, w, inputs, want, seconds: float, session_s: float) -> tuple[dict, dict]:
    """Untraced crawls: end-to-end metrics plus the report-only extras.

    Crawls repeat while ``seconds`` leaves room for another, at least one.
    Each crawl sets up its own engine; ``setup_s`` takes the median of those
    set-ups."""
    counter = TaskCounter(spark.sparkContext)
    setups = []
    t_measure = time.monotonic()
    crawls = []
    while True:
        t_rep = time.monotonic()
        c = run_crawl(spark, w, inputs, want, os.path.join(WORK, "wd", f"crawl-{len(crawls)}"), counter)
        crawls.append(c)
        setups.append(c.init_s + c.seed_s)
        env.log(
            f"crawl {len(crawls)}: {len(c.iterations)} iterations, {c.urls} urls in "
            f"{c.clock_s:.2f}s, resume {c.resume_s:.2f}s, parity {c.parity}"
        )
        rep_s = time.monotonic() - t_rep
        if time.monotonic() - t_measure + rep_s > seconds:
            break
    lags = [x for c in crawls for x in c.lags]
    tasks = sum(it["tasks"] for c in crawls for it in c.iterations)
    failed = sum(it["failed_tasks"] for c in crawls for it in c.iterations)
    iterations = sum(len(c.iterations) for c in crawls)
    metrics = {
        "urls_per_s": statistics.median(c.urls_per_s for c in crawls),
        "fetch_lag_s.p50": quantile(lags, 50),
        "fetch_lag_s.p99": quantile(lags, 99),
        "setup_s": session_s + statistics.median(setups),
        "resume_s": statistics.median(c.resume_s for c in crawls),
        "stored_bytes_per_url": statistics.median(c.stored_bytes / c.scheduled for c in crawls),
    }
    extras = {
        "crawls": len(crawls),
        "iterations": [len(c.iterations) for c in crawls],
        "iteration_walls_s": [[round(it["wall_s"], 3) for it in c.iterations] for c in crawls],
        "iteration_jobs": [[it["jobs"] for it in c.iterations] for c in crawls],
        "iteration_tasks": [[it["tasks"] for it in c.iterations] for c in crawls],
        "urls": [c.urls for c in crawls],
        "fetch_lag_n": len(lags),
        "setup_samples_s": setups,
        "session_start_s": session_s,
        "parity_errors": sum(c.parity["total"] for c in crawls),
        "parity_detail": [c.parity for c in crawls],
        "failed_task_ratio": failed / (tasks + iterations),
        "tasks": tasks,
        "failed_tasks": failed,
    }
    return metrics, extras


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]

    dirs = env.prepare(WORK)
    tag = f"{w.name}-s{args.seed}-t{args.trace}"
    env.redirect_stderr(os.path.join(dirs["logs"], f"{tag}.log"))

    steal0, load_start, t_start = env.steal_s(), env.load1(), time.monotonic()
    cpus = env.cpu_count()
    with env.RssSampler() as rss:
        inputs = cached_inputs(WORK, w, w.fixture, args.seed)
        want = expected(w, inputs)
        t0 = time.monotonic()
        spark = start_session(cpus, dirs["tmp"])
        session_s = time.monotonic() - t0
        env.log(f"{tag}: session {session_s:.2f}s at local[{cpus}]")
        try:
            # the traced run times the floor on the warm-up's second iteration
            warm = warm_up(spark, WORK, w, iterations=2 if args.trace else 0)
            env.log(f"warm-up iterations (wall s, scheduled): {warm}")
            if args.trace:
                metrics, extras, spark = tracing.traced_run(
                    spark, w, inputs, want, WORK, args.seed, session_s, cpus, warm
                )
            else:
                metrics, extras = measured_run(spark, w, inputs, want, args.seconds, session_s)
        finally:
            env.log("stopping spark")
            env.stop_spark(spark)
    if not args.trace:
        metrics["peak_rss_mb"] = rss.peak_bytes / 2**20
    noise = {
        "steal_s": env.steal_s() - steal0,
        "load1_start": load_start,
        "load1_end": env.load1(),
        "run_wall_s": time.monotonic() - t_start,
        "cpus": cpus,
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
    }
    units = E2E_UNITS if not args.trace else tracing.UNITS
    correct = extras["parity_errors"] == 0
    result = {
        "correct": correct,
        "attempted": extras["tasks"] + sum(extras["iterations"]),
        "failed": extras["failed_tasks"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    record = {"workload": w.name, "seed": args.seed, "trace": args.trace,
              "time": time.time(), "metrics": metrics, "extras": extras, "noise": noise}
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")

    print(f"# {tag}  correct={correct}")
    for k in units:
        print(f"{k:32s} {metrics[k]:14.4f} {units[k]}")
    for k, v in {**extras, **noise}.items():
        print(f"  {k}: {v}")
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
