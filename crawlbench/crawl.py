"""Session start, warm-up, engine set-up and the measured crawl.

A measured crawl builds an engine, seeds it, runs ``stop_iteration``
iterations, drops the engine and resumes on the same workdir with a fresh
one, and runs until the frontier is empty. Iterations are timed one by one;
the crawl clock is the sum of their wall times, so the restart gap and the
benchmark's own bookkeeping between iterations are not charged to the
crawl.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from crawler_service_spark.engine import CrawlEngine
from crawler_service_spark.session import get_spark

import env
import parity
from workloads import WARMUP_FIXTURE, WARMUP_SEED, Workload, cached_inputs


def start_session(cpus: int, tmp_dir: str):
    return get_spark(
        "crawlbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"
        },
    )


class TaskCounter:
    """Spark jobs and tasks since the previous poll, from the status tracker.

    The tracker keeps only the last 1000 jobs, so it is polled once per
    iteration. A stage shared by several jobs is counted once; a skipped
    stage launches no tasks."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self.jobs = set(self.tracker.getJobIdsForGroup(None))
        self.stages: set[int] = set()

    def poll(self) -> dict[str, int]:
        new = [j for j in self.tracker.getJobIdsForGroup(None) if j not in self.jobs]
        tasks = failed = 0
        for j in new:
            self.jobs.add(j)
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                if sid in self.stages:
                    continue
                self.stages.add(sid)
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks + st.numFailedTasks
                    failed += st.numFailedTasks
        return {"jobs": len(new), "tasks": tasks, "failed_tasks": failed}


def new_engine(spark, inputs: dict[str, str], w: Workload, workdir: str) -> CrawlEngine:
    return CrawlEngine(
        spark,
        pages=spark.read.parquet(inputs["pages"]),
        robots=spark.read.parquet(inputs["robots_rules"]),
        workdir=workdir,
        config=w.crawl_config(),
    )


def release(eng: CrawlEngine) -> None:
    """Drop the engine's persisted frames before another engine is built."""
    for df in (eng.pages, eng.robots, eng.budgets):
        df.unpersist()


def set_up(spark, inputs, w: Workload, workdir: str, tracer=None):
    """Build and seed an engine on an empty workdir: (engine, init_s, seed_s)."""
    shutil.rmtree(workdir, ignore_errors=True)
    span = tracer.span if tracer else _no_span
    t0 = time.monotonic()
    with span("engine.init"):
        eng = new_engine(spark, inputs, w, workdir)
    t1 = time.monotonic()
    if tracer:
        tracer.attach(eng)
    with span("engine.seed"):
        eng.seed(spark.read.parquet(inputs["seeds"]))
    return eng, t1 - t0, time.monotonic() - t1


@contextlib.contextmanager
def _no_span(name, **attrs):
    yield None


def warm_up(spark, work: str, w: Workload, iterations: int = 0) -> list[tuple[float, int]]:
    """Set up an engine on a small separate fixture under the workload's
    config, and crawl up to ``iterations`` iterations of it, so the JVM, the
    parquet readers and the Python workers are warm before anything is
    timed. The first set-up of a session costs four to five warm ones. A
    warm-up iteration costs a whole iteration and spares the measured crawl
    only its plans' first compilation (2-3 s an iteration), so untraced
    runs skip it. Returns (wall seconds, URLs scheduled) per iteration."""
    inputs = cached_inputs(work, w, WARMUP_FIXTURE, WARMUP_SEED)
    eng, _, _ = set_up(spark, inputs, w, os.path.join(work, "wd", "warmup"))
    walls = []
    for _ in range(iterations):
        t = time.monotonic()
        stats = eng.run(max_iterations=1)
        if not stats:
            break
        walls.append((time.monotonic() - t, stats[0]["scheduled"]))
        if stats[0]["status"] == "complete":
            break
    release(eng)
    return walls


@dataclass
class Crawl:
    workdir: str
    init_s: float
    seed_s: float
    resume_s: float
    iterations: list[dict] = field(default_factory=list)
    ends: dict[int, float] = field(default_factory=dict)  # crawl clock per iteration
    parity: dict = field(default_factory=dict)
    lags: list[float] = field(default_factory=list)
    stored_bytes: int = 0

    @property
    def clock_s(self) -> float:
        return sum(it["wall_s"] for it in self.iterations)

    @property
    def scheduled(self) -> int:
        return sum(it["scheduled"] for it in self.iterations)

    @property
    def urls(self) -> int:
        """URLs scheduled + new URLs admitted to the seen set."""
        return self.scheduled + sum(it["new_urls"] for it in self.iterations)

    @property
    def urls_per_s(self) -> float:
        return self.urls / self.clock_s


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def run_crawl(spark, w: Workload, inputs, want: dict, workdir: str, counter: TaskCounter, tracer=None) -> Crawl:
    span = tracer.span if tracer else _no_span
    eng, init_s, seed_s = set_up(spark, inputs, w, workdir, tracer)
    counter.poll()  # set-up jobs are not iteration jobs
    crawl = Crawl(workdir=workdir, init_s=init_s, seed_s=seed_s, resume_s=float("nan"))
    crawl.ends[0] = 0.0
    restarted = False
    while True:
        restart = not restarted and len(crawl.iterations) == w.stop_iteration
        if restart:
            release(eng)
            t0 = time.monotonic()
            with span("engine.init", restart=True):
                eng = new_engine(spark, inputs, w, workdir)
            init_b = time.monotonic() - t0
            counter.poll()  # the page-store persist of an eager engine is set-up
            if tracer:
                tracer.attach(eng)
            restarted = True
        t = time.monotonic()
        with span("engine.run_iteration") as sp:
            if tracer:
                tracer.begin_iteration(sp)
            (s,) = eng.run(max_iterations=1)
        dt = time.monotonic() - t
        if restart:
            crawl.resume_s = init_b + dt
        crawl.ends[s["iteration"]] = crawl.ends[max(crawl.ends)] + dt
        crawl.iterations.append({**s, "wall_s": dt, "restarted": restart, **counter.poll()})
        if tracer:
            tracer.after_iteration(eng, s)
            counter.poll()  # the tracer's own jobs are not the crawl's
        if s["status"] == "complete":
            break
    if not restarted:
        raise RuntimeError(f"{w.name}: crawl ended before the restart at iteration {w.stop_iteration}")
    release(eng)
    env.log(f"crawl done in {crawl.clock_s:.2f}s; checking parity")
    got = parity.collect(eng.catalog)
    crawl.parity = parity.parity_errors(got, want)
    crawl.lags = [
        crawl.ends[it] - crawl.ends[got["seen"][url]]
        for it, _seq, _depth, url in got["order"]
        if url in got["seen"]
    ]
    crawl.stored_bytes = dir_bytes(workdir)
    return crawl


def quantile(values: list[float], q: int) -> float:
    """q-th percentile (statistics.quantiles, exclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100)[q - 1]
