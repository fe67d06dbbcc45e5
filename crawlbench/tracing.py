"""Traced run: spans around the calls into each layer, per-layer metrics.

Spans are recorded from the benchmark's own files: around engine
construction, seeding and ``run``, and around the engine catalog's commit and
read methods (wrapped on the catalog instance, so the engine's eight commit
threads are covered). Layer functions that only build a lazy DataFrame
(``politeness.schedule``, extraction, ``urls``, ``dedup_new_urls``, the Bloom
probe, ``with_global_seq``, ``emit_extraction_jobs``) are timed by calling
them again after each iteration on that iteration's committed inputs, read at
a pinned snapshot, and forcing the result with a ``noop`` write. Those
re-calls run outside the crawl clock. Spans stay in memory and are written to
``.crawlbench/traces/<workload>-s<seed>.json`` when the run ends; a span's
self time is its duration minus the part its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

from crawler_service_spark.functions.urls import (
    canonicalize_url_col,
    host_col,
    path_col,
    url_hash_col,
)
from crawler_service_spark.operators import politeness
from crawler_service_spark.operators.dedup import dedup_new_urls
from crawler_service_spark.operators.extraction import extract_hrefs, extract_text_col
from crawler_service_spark.operators.grouping import emit_extraction_jobs
from crawler_service_spark.plans import with_global_seq

import env
from crawl import TaskCounter, run_crawl, start_session, warm_up
from workloads import time_generation

UNITS = {
    "engine.iter_s.p50": "s",
    "engine.iter_s.max": "s",
    "engine.floor_s": "s",
    "engine.spark_jobs_per_iter": "count",
    "engine.spark_tasks_per_iter": "count",
    "session.start_s": "s",
    "engine.init_s": "s",
    "engine.seed_s": "s",
    "fixtures.generate_s": "s",
    "politeness.schedule_s": "s",
    "politeness.pending_rows": "count",
    "politeness.scheduled_rows": "count",
    "politeness.fill_ratio": "ratio",
    "politeness.top_host_share": "ratio",
    "extraction.extract_s": "s",
    "extraction.html_mb": "MB",
    "extraction.links": "count",
    "urls.canonicalize_s": "s",
    "dedup.dedup_s": "s",
    "dedup.candidates": "count",
    "dedup.new_urls": "count",
    "dedup.new_ratio": "ratio",
    "dedup.bloom_probe_s": "s",
    "dedup.bloom_update_s": "s",
    "dedup.bloom_maybe_ratio": "ratio",
    "dedup.bloom_fp_ratio": "ratio",
    "plans.global_seq_s": "s",
    "grouping.jobs_s": "s",
    "grouping.families": "count",
    "storage.commit_s": "s",
    "storage.commit_wall_s": "s",
    "storage.read_s": "s",
    "storage.commits": "count",
    "storage.files_written": "count",
    "storage.bytes_written": "B",
    "spark.failed_tasks": "count",
    "trace.urls_per_s": "1/s",
    "trace.overhead_ratio": "ratio",
}

HREF_SCHEME = r"^\s*[Hh][Tt][Tt][Pp][Ss]?://"  # the engine's raw-href prefilter


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


def _tree_stats(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for d, _, names in os.walk(path):
        files += len(names)
        nbytes += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return files, nbytes


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.layers: list[dict] = []  # one record of re-call results per iteration
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._iteration: Span | None = None
        self.own_s = 0.0  # tracer bookkeeping inside engine calls (all threads)

    # ----------------------------------------------------------------- spans
    def _charge(self, seconds: float) -> None:
        with self._lock:
            self.own_s += seconds

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t_enter = time.monotonic()
        stack = self._tls.__dict__.setdefault("stack", [])
        if stack:
            parent = stack[-1].id
        elif self._iteration is not None and not self._iteration.end:
            parent = self._iteration.id  # a commit thread of the open iteration
        else:
            parent = None
        with self._lock:
            sp = Span(len(self.spans), parent, name, time.monotonic(), attrs=dict(attrs))
            self.spans.append(sp)
        stack.append(sp)
        self._charge(time.monotonic() - t_enter)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            stack.pop()

    def begin_iteration(self, sp: Span) -> None:
        self._iteration = sp

    def attach(self, eng) -> None:
        """Wrap the engine catalog's commit and read methods with spans."""
        cat = eng.catalog

        def commit_wrapper(fn, id_pos):
            def wrapped(*args, **kwargs):
                table = args[0]
                commit_id = args[id_pos] if len(args) > id_pos else kwargs["commit_id"]
                with self.span("storage.commit", table=table, commit_id=commit_id) as sp:
                    written = fn(*args, **kwargs)
                    t0 = time.monotonic()
                    if written:
                        files, nbytes = _tree_stats(os.path.join(cat.root, table, "data", commit_id))
                        sp.attrs.update(written=True, files=files, bytes=nbytes)
                    self._charge(time.monotonic() - t0)
                return written

            return wrapped

        def read_wrapper(fn):
            def wrapped(table, *args, **kwargs):
                with self.span("storage.read", table=table):
                    return fn(table, *args, **kwargs)

            return wrapped

        # commit(table, df, commit_id, ...), commit_rows(table, rows, schema, commit_id, ...)
        for name, id_pos in (("commit", 2), ("commit_rows", 3)):
            setattr(cat, name, commit_wrapper(getattr(cat, name), id_pos))
        for name in ("read", "read_commit", "read_last_commit_rows"):
            setattr(cat, name, read_wrapper(getattr(cat, name)))

    def _force(self, name: str, df, **observed) -> tuple[float, dict]:
        """Run ``df`` to completion with a noop write; returns (seconds,
        observed aggregates)."""
        obs = Observation()
        if observed:
            df = df.observe(obs, *[c.alias(n) for n, c in observed.items()])
        with self.span(name) as sp:
            df.write.format("noop").mode("overwrite").save()
        got = {n: (v or 0) for n, v in obs.get.items()} if observed else {}
        sp.attrs.update(got)
        return sp.end - sp.start, got

    # --------------------------------------------------------------- re-calls
    def after_iteration(self, eng, stats: dict) -> None:
        """Time each lazy layer on iteration k's inputs (outside the crawl
        clock)."""
        k = stats["iteration"]
        cfg, cat = eng.config, eng.catalog
        rec = {"iteration": k, "scheduled": stats["scheduled"], "new_urls": stats["new_urls"]}
        with self.span("layers.recall", iteration=k):
            # politeness: the batch pick over the pending frontier of k-1
            pending = eng.read_pending(k - 1)
            obs_in = Observation()
            picked = politeness.schedule(
                pending.observe(obs_in, F.count(F.lit(1)).alias("n")),
                eng.budgets,
                cfg.iteration_seconds,
                default_delay_s=cfg.default_delay_s,
                global_cap=cfg.global_cap,
                salt_lanes=cfg.salt_lanes,
            )
            rec["schedule_s"], m = self._force("politeness.schedule", picked, n=F.count(F.lit(1)))
            rec["pending_rows"], rec["scheduled_rows"] = obs_in.get["n"] or 0, m["n"]
            order = cat.read_commit("crawl_order", f"order-iter-{k}")
            top = order.groupBy("host").count().agg(F.max("count")).collect()[0][0] or 0
            rec["top_host_share"] = top / max(stats["scheduled"], 1)

            # extraction over the fetched html of this iteration's batch; the
            # timed write also fills the cache the urls and dedup steps read
            html = order.select("url").join(eng.pages.select("url", "html"), "url").persist()
            rec["html_bytes"] = html.agg(F.sum(F.length("html"))).collect()[0][0] or 0
            extracted = html.select(
                extract_text_col(F.col("html")).alias("text"),
                extract_hrefs(F.col("html")).alias("hrefs"),
            ).persist()
            rec["extract_s"], m = self._force(
                "extraction.extract", extracted, links=F.sum(F.size("hrefs"))
            )
            rec["links"] = m["links"]

            # urls: canonical form, host and identity hash of every outlink
            links = extracted.select(F.explode("hrefs").alias("href"))
            canon = links.select(canonicalize_url_col("href").alias("url")).select(
                "url", host_col("url").alias("host"), url_hash_col("url").alias("url_hash")
            )
            rec["canonicalize_s"], _ = self._force("urls.canonicalize", canon)

            # dedup: distinct robots-allowed candidates against seen_{k-1}
            cands = (
                links.filter(F.col("href").rlike(HREF_SCHEME))
                .select(canonicalize_url_col("href").alias("url"))
                .distinct()
                .withColumn("host", host_col("url"))
                .withColumn("path", path_col("url"))
                .withColumn("url_hash", url_hash_col("url"))
            )
            cands = politeness.robots_filter(cands, eng.robots).persist()
            rec["candidates"] = cands.count()
            seen = cat.read("seen", upto=f"seen-iter-{k - 1}")
            next_seq = int(eng.last_state()["next_seq"]) - stats["new_urls"]
            engaged = eng.bloom is not None and next_seq >= cfg.bloom_min_seen
            new = dedup_new_urls(
                cands, seen, eng.bloom if engaged else None, bloom_upto=f"bloom-iter-{k - 1}"
            )
            rec["dedup_s"], m = self._force("dedup.dedup_new_urls", new, n=F.count(F.lit(1)))
            rec["dedup_new"] = m["n"]
            if m["n"] != stats["new_urls"]:
                env.log(f"trace: iteration {k} dedup re-call found {m['n']} new urls, engine {stats['new_urls']}")
            rec["bloom_engaged"] = engaged
            if eng.bloom is not None:
                flags = eng.bloom.flag_maybe_seen(cands, upto=f"bloom-iter-{k - 1}")
                rec["bloom_probe_s"], m = self._force(
                    "dedup.bloom_probe", flags, maybe=F.sum(F.col("maybe_seen").cast("long"))
                )
                rec["bloom_maybe"] = m["maybe"]

            # plans: global sequence over this iteration's admitted urls
            admitted = cat.read_commit("seen", f"seen-iter-{k}").withColumnRenamed("seq", "_ord")
            with self.span("plans.with_global_seq") as sp:
                stamped = with_global_seq(admitted, [F.col("_ord").asc()], seq_col="seq", start=0)
                stamped.write.format("noop").mode("overwrite").save()
            rec["global_seq_s"] = sp.end - sp.start

            # grouping: extraction-job families of the fetched pages
            fetched = cat.read_commit("pages_out", f"pages-iter-{k}").select(
                "crawl_id", "url", "seq", "size"
            )
            rec["jobs_s"], m = self._force(
                "grouping.emit_extraction_jobs",
                emit_extraction_jobs(fetched, k),
                n=F.count(F.lit(1)),
            )
            rec["families"] = m["n"]
            for df in (html, extracted, cands):
                df.unpersist()
        self.layers.append(rec)

    # ---------------------------------------------------------------- results
    def _in_iteration(self) -> dict[int, int]:
        """span id -> id of the run_iteration span it ran under."""
        by_id = {s.id: s for s in self.spans}
        out = {}
        for s in self.spans:
            p = s.parent
            while p is not None and by_id[p].name != "engine.run_iteration":
                p = by_id[p].parent
            if p is not None:
                out[s.id] = p
        return out

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        return {
            s.id: (s.end - s.start)
            - _union_s([(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])])
            for s in self.spans
        }

    def storage_metrics(self) -> dict[str, float]:
        under = self._in_iteration()
        commits = [s for s in self.spans if s.name == "storage.commit" and s.id in under]
        reads = [s for s in self.spans if s.name == "storage.read" and s.id in under]
        per_iter: dict[int, list] = {}
        for s in commits:
            per_iter.setdefault(under[s.id], []).append((s.start, s.end))
        written = [s for s in commits if s.attrs.get("written")]
        return {
            "storage.commit_s": sum(s.end - s.start for s in commits),
            "storage.commit_wall_s": sum(_union_s(v) for v in per_iter.values()),
            "storage.read_s": sum(s.end - s.start for s in reads),
            "storage.commits": len(written),
            "storage.files_written": sum(s.attrs["files"] for s in written),
            "storage.bytes_written": sum(s.attrs["bytes"] for s in written),
            "dedup.bloom_update_s": sum(
                s.end - s.start for s in commits if s.attrs["table"] == "seen_filters"
            ),
        }

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [{**asdict(s), "self_s": selfs[s.id]} for s in self.spans],
                    "layers": self.layers,
                },
                f,
            )


def traced_run(spark, w, inputs, want, work: str, seed: int, session_s: float, cpus: int, warm):
    """Traced crawl and, for saturated workloads, the N -> 4N scaling arm.
    ``warm`` holds the warm-up crawl's (wall, scheduled) per iteration.
    Returns (metrics, extras, spark); the session may have been replaced by
    the scaling arm."""
    counter = TaskCounter(spark.sparkContext)
    wd = os.path.join(work, "wd")
    # per-iteration floor: the small warm-up fixture's iterations after the
    # first; a fixture crawled in one iteration is crawled once more
    floor = warm[1:] or warm_up(spark, work, w, iterations=1)
    tracer = Tracer()
    traced = run_crawl(spark, w, inputs, want, os.path.join(wd, "crawl-traced"), counter, tracer)
    env.log(f"traced crawl: {traced.urls_per_s:.1f} urls/s")
    biggest = max(it["scheduled"] for it in traced.iterations)
    if any(n > 0.01 * biggest for _s, n in floor):
        env.log(f"trace: floor iterations {floor} exceed 1% of the largest batch {biggest}")
    gen_s = time_generation(work, w, seed)

    L = tracer.layers
    tot = lambda key: sum(r.get(key, 0) for r in L)  # noqa: E731
    walls = [it["wall_s"] for it in traced.iterations]
    cand, new, maybe = tot("candidates"), tot("dedup_new"), tot("bloom_maybe")
    crawls = [traced]
    metrics = {
        "engine.iter_s.p50": statistics.median(walls),
        "engine.iter_s.max": max(walls),
        "engine.floor_s": statistics.median(s for s, _ in floor),
        "engine.spark_jobs_per_iter": statistics.mean(it["jobs"] for it in traced.iterations),
        "engine.spark_tasks_per_iter": statistics.mean(it["tasks"] for it in traced.iterations),
        "session.start_s": session_s,
        "engine.init_s": traced.init_s,
        "engine.seed_s": traced.seed_s,
        "fixtures.generate_s": gen_s,
        "politeness.schedule_s": tot("schedule_s"),
        "politeness.pending_rows": tot("pending_rows"),
        "politeness.scheduled_rows": tot("scheduled_rows"),
        "politeness.fill_ratio": tot("scheduled_rows") / max(tot("pending_rows"), 1),
        "politeness.top_host_share": max(r["top_host_share"] for r in L),
        "extraction.extract_s": tot("extract_s"),
        "extraction.html_mb": tot("html_bytes") / 1e6,
        "extraction.links": tot("links"),
        "urls.canonicalize_s": tot("canonicalize_s"),
        "dedup.dedup_s": tot("dedup_s"),
        "dedup.candidates": cand,
        "dedup.new_urls": new,
        "dedup.new_ratio": new / max(cand, 1),
        "dedup.bloom_probe_s": tot("bloom_probe_s"),
        # share of candidates the filter sends to the exact anti-join, and
        # share of truly new candidates among them (false positives)
        "dedup.bloom_maybe_ratio": maybe / max(cand, 1),
        "dedup.bloom_fp_ratio": (maybe - (cand - new)) / max(new, 1),
        "plans.global_seq_s": tot("global_seq_s"),
        "grouping.jobs_s": tot("jobs_s"),
        "grouping.families": tot("families"),
        **tracer.storage_metrics(),
        "spark.failed_tasks": sum(it["failed_tasks"] for c in crawls for it in c.iterations),
        "trace.urls_per_s": traced.urls_per_s,
        # the tracer's own bookkeeping inside engine calls, as a share of the
        # crawl clock (summed over threads, so an upper bound on the slowdown)
        "trace.overhead_ratio": tracer.own_s / traced.clock_s,
    }
    extras = {
        "iterations": [len(c.iterations) for c in crawls],
        "iteration_walls_s": [[round(it["wall_s"], 3) for it in c.iterations] for c in crawls],
        "floor_iterations": floor,
        "bloom_engaged": [r["bloom_engaged"] for r in L],
        "parity_errors": sum(c.parity["total"] for c in crawls),
        "parity_detail": [c.parity for c in crawls],
        "tasks": sum(it["tasks"] for c in crawls for it in c.iterations),
        "failed_tasks": metrics["spark.failed_tasks"],
    }
    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    tracer.dump(os.path.join(work, "traces", f"{w.name}-s{seed}.json"))

    if w.scaling:
        # N -> 4N on the same input: the traced crawl above is the 4N arm (its
        # clock leaves the layer re-calls out)
        n_small = max(1, cpus // 4)
        spark.stop()
        spark = start_session(n_small, os.environ["TMPDIR"])
        warm_up(spark, work, w)
        small = run_crawl(
            spark, w, inputs, want, os.path.join(wd, "crawl-small"), TaskCounter(spark.sparkContext)
        )
        extras["scaling_eff"] = traced.urls_per_s / (cpus / n_small * small.urls_per_s)
        extras["scaling_arms"] = {f"local[{cpus}]": traced.urls_per_s, f"local[{n_small}]": small.urls_per_s}
        extras["parity_errors"] += small.parity["total"]
        extras["iterations"].append(len(small.iterations))
        extras["tasks"] += sum(it["tasks"] for it in small.iterations)
        extras["failed_tasks"] += sum(it["failed_tasks"] for it in small.iterations)
        env.log(f"scaling: {extras['scaling_arms']} -> {extras['scaling_eff']:.3f}")
    return metrics, extras, spark
