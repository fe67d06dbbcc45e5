"""Measure the Bloom seen-filter PROBE engaged (VERDICT r3 item 4).

Every recorded bench so far ran below ``bloom_min_seen`` (2M), so the probe's
claimed win was asserted, never measured. This tool runs the saturated-frontier
crawl (the 586k-URL sf0.1 fixture, seen set populated at seeding time) with the
probe FORCED on (``bloom_min_seen=0``) against the exact anti-join alone (the
default ``bloom_min_seen``, above the fixture's 586k seen URLs), best-of-2
interleaved per cell at local[8].

What the probe changes: candidate link dedup (engine fetch loop) routes
"definitely new" URLs around the exact seen anti-join; only "maybe seen"
candidates shuffle against the seen table. Its win scales with
|seen| / |candidates-that-are-new|; at 586k seen it is expected to be modest —
the point of this cell is an honest measured number and the crossover
direction, not a victory lap.

Usage: PYTHONPATH=/root/repo python tools/bloom_bench.py   (one JSON line)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

CELLS = {
    "exact_only": {},
    "bloom_probe": {"bloom_min_seen": 0},
}


def main() -> None:
    os.makedirs(bench.CACHE, exist_ok=True)
    sf = bench.sf_of(bench.SF_DIR)
    paths = bench.sat_fixture(sf)
    cpus = int(os.environ.get("SPARK_GRAFT_BLOOM_CPUS", "8"))
    best: dict[str, dict] = {}
    for rep in range(2):  # interleaved best-of-2: de-bias host drift
        for name, cfg in CELLS.items():
            r = bench.run_saturated(
                cpus, paths, f"bloom-{name}-r{rep}", cfg_kwargs=cfg
            )
            if name not in best or r["wall_sec"] < best[name]["wall_sec"]:
                best[name] = r
    base = best["exact_only"]["throughput_urls_per_sec"]
    out = {
        "sf": sf,
        "cpus": cpus,
        "seen_at_probe_time": best["exact_only"]["urls_scheduled"],
        "cells": best,
        "speedup_vs_exact": {
            name: round(best[name]["throughput_urls_per_sec"] / base, 3)
            for name in CELLS
        },
    }
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
