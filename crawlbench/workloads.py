"""Workload table, seeded fixtures and the cached oracle answers.

Every workload is a ``FixtureSpec`` (seeded by ``--seed``) plus a
``CrawlConfig``. The engine only ever sees the generated parquet: pages,
seeds and robots rules. Generated inputs and the oracle's answer are cached
per (workload, spec, seed) under the run directory, so only the first run of
a seed pays for them.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from crawler_service_spark.engine import CrawlConfig
from crawler_service_spark.fixtures import FixtureSpec, generate_fixture
from tests.oracle import load_fixture, oracle_crawl

# bump when the cached layout or the derivation of inputs changes
CACHE_VERSION = "1"

MEGA_HOST = "host000.example"


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    fixture: dict  # FixtureSpec fields except ``seed``
    config: dict  # CrawlConfig fields
    # seed the whole URL set at depth 0 (one saturated iteration) instead of
    # the fixture's seed list
    seed_all_pages: bool = False
    # robots crawl-delay overrides, host -> seconds
    pinned_delays: dict = field(default_factory=dict)
    # iterations run before the engine is dropped and rebuilt on the same
    # workdir (0 = right after seeding)
    stop_iteration: int = 0
    # saturated workloads also measure N -> 4N scaling in the traced run
    scaling: bool = False

    def crawl_config(self) -> CrawlConfig:
        return CrawlConfig(**self.config)


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            name="megahost_bloom",
            why=(
                "one host holds half the pages and its per-iteration budget holds "
                "part of its seeds back an iteration, with the Bloom seen-set "
                "probe on from iteration 1"
            ),
            fixture=dict(
                n_pages=2400, n_hosts=64, n_seeds=1800, max_out_degree=64, mega_share=0.5
            ),
            config=dict(iteration_seconds=720.0, bloom_min_seen=0),
            # the generator draws each host's crawl delay from 0.5-3 s, which
            # would swing the mega host's budget (and the iteration count)
            # six-fold between seeds; pinned, every seed crawls in 2
            # iterations and the mega host's seeds beyond its budget wait
            # for the second
            pinned_delays={MEGA_HOST: 1.0},
            stop_iteration=1,
        ),
        Workload(
            name="saturated_fat",
            why=(
                "every URL seeded at depth 0 with 12 KiB pages: one big iteration "
                "where the fetch join and extraction carry the work and every "
                "outlink is already seen"
            ),
            fixture=dict(n_pages=4000, n_hosts=192, n_seeds=64, pad_bytes=12_288),
            config=dict(
                iteration_seconds=200_000.0,
                max_iterations=5,
                commit_files=None,
                eager_checkpoints=True,
            ),
            seed_all_pages=True,
            stop_iteration=0,
            scaling=True,
        ),
    ]
}

# small fixture crawled before the timed region (JIT, codegen and Python
# worker start-up) and, in the traced run, to time the per-iteration floor
WARMUP_FIXTURE = dict(n_pages=32, n_hosts=4, n_seeds=4, max_out_degree=4)
WARMUP_SEED = 7


def _digest(*parts) -> str:
    return hashlib.sha1(json.dumps(parts, sort_keys=True).encode()).hexdigest()[:12]


def build_inputs(w: Workload, fixture: dict, seed: int, out_dir: str) -> dict[str, str]:
    """Generate the fixture into ``out_dir`` and derive the workload's seed
    list and robots rules from it. Returns parquet paths."""
    paths = generate_fixture(FixtureSpec(seed=seed, **fixture), out_dir)
    if w.seed_all_pages:
        urls = pq.read_table(paths["pages"], columns=["url"])["url"].to_pylist()
        order = np.random.default_rng(seed).permutation(len(urls))
        seeds = os.path.join(out_dir, "seeds_all.parquet")
        pq.write_table(
            pa.table(
                {
                    "crawl_id": ["crawl-bench-0001"] * len(urls),
                    "url": urls,
                    "seed_order": order.astype(np.int64),
                    "grouper": ["simple_ext"] * len(urls),
                }
            ),
            seeds,
        )
        paths["seeds"] = seeds
    if w.pinned_delays:
        robots = pq.read_table(paths["robots_rules"])
        delays = [
            w.pinned_delays.get(h, d)
            for h, d in zip(robots["host"].to_pylist(), robots["crawl_delay_s"].to_pylist())
        ]
        robots = robots.set_column(
            robots.schema.get_field_index("crawl_delay_s"),
            "crawl_delay_s",
            pa.array(delays, pa.float64()),
        )
        pinned = os.path.join(out_dir, "robots_pinned.parquet")
        pq.write_table(robots, pinned)
        paths["robots_rules"] = pinned
    return paths


def cached_inputs(work: str, w: Workload, fixture: dict, seed: int) -> dict[str, str]:
    """Inputs for (workload, fixture, seed), generated once and reused."""
    key = _digest(CACHE_VERSION, w.name, fixture, w.seed_all_pages, w.pinned_delays, seed)
    final = os.path.join(work, "fixtures", f"{w.name}-s{seed}-{key}")
    meta = os.path.join(final, "inputs.json")
    if not os.path.exists(meta):
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.monotonic()
        paths = build_inputs(w, fixture, seed, tmp)
        rel = {k: os.path.relpath(v, tmp) for k, v in paths.items()}
        with open(os.path.join(tmp, "inputs.json"), "w") as f:
            json.dump({"paths": rel, "generate_s": time.monotonic() - t0}, f)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    with open(meta) as f:
        rel = json.load(f)["paths"]
    return {k: os.path.join(final, v) for k, v in rel.items()}


def time_generation(work: str, w: Workload, seed: int) -> float:
    """Wall time of generating the workload's inputs from scratch (the
    cached copy is left alone)."""
    tmp = os.path.join(work, "tmp", f"gen-{w.name}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        t0 = time.monotonic()
        build_inputs(w, w.fixture, seed, tmp)
        return time.monotonic() - t0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def text_digest(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def expected(w: Workload, inputs: dict[str, str]) -> dict:
    """The oracle's crawl of ``inputs`` under the workload's config: crawl
    order, seen set and an md5 per fetched page's text, cached beside the
    inputs.

    Expected texts are the fixture's stored ``text`` column, the generator's
    ground truth; for a BFS crawl the oracle's own extraction must agree with
    it. A saturated crawl's seen set is closed (every outlink points at a
    seeded page), so its oracle runs without page bodies: crawl order and
    seen set follow from the seed list and the robots rules alone."""
    path = os.path.join(os.path.dirname(inputs["pages"]), "oracle.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    cfg = w.crawl_config()
    pages, seeds, robots = load_fixture(inputs)
    res = oracle_crawl(
        {} if w.seed_all_pages else pages,
        seeds,
        robots,
        iteration_seconds=cfg.iteration_seconds,
        default_delay_s=cfg.default_delay_s,
        global_cap=cfg.global_cap,
    )
    stored = pq.read_table(inputs["pages"], columns=["url", "text"])
    truth = dict(zip(stored["url"].to_pylist(), stored["text"].to_pylist()))
    bad = [u for u, t in res.texts.items() if truth[u] != t]
    if bad:
        raise RuntimeError(
            f"oracle text differs from the fixture's stored text on {len(bad)} pages, "
            f"e.g. {bad[0]}"
        )
    scheduled = {url for _k, _seq, _depth, url in res.order}
    out = {
        "order": [list(r) for r in res.order],
        "seen": sorted(res.seen),
        "text_md5": {u: text_digest(t) for u, t in truth.items() if u in scheduled},
    }
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.rename(tmp, path)
    return out
