"""The benchmark under crawlbench/ drives the engine through its config and
public imports. Importing its modules and building every workload's
``CrawlConfig`` here (no Spark job) catches a removed option or a broken
import before a benchmark run does."""

from __future__ import annotations

import dataclasses
import os
import re

from crawler_service_spark.engine import CrawlConfig

BENCH_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "crawlbench")


def test_crawlbench_imports_and_builds_every_workload_config(monkeypatch):
    monkeypatch.syspath_prepend(BENCH_DIR)
    import tracing  # noqa: F401  (imports crawl, parity, env and the engine layers)
    import workloads

    assert workloads.WORKLOADS
    for w in workloads.WORKLOADS.values():
        assert isinstance(w.crawl_config(), CrawlConfig)

    # the traced run also reads config fields it never sets
    fields = {f.name for f in dataclasses.fields(CrawlConfig)}
    with open(os.path.join(BENCH_DIR, "tracing.py")) as f:
        read = set(re.findall(r"\bcfg\.([a-z_]+)", f.read()))
    assert read and read <= fields, sorted(read - fields)
