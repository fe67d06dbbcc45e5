"""Correctness gate: a finished crawl against the oracle's answer.

``parity_errors`` = crawl-order rows that differ + the symmetric difference
of the seen set + per-URL text mismatches. Anything above 0 fails the run.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_service_spark.storage import ManifestCatalog


def collect(catalog: ManifestCatalog) -> dict:
    """The committed crawl as plain Python values."""
    order = [
        [r["iteration"], r["seq"], r["depth"], r["url"]]
        for r in catalog.read("crawl_order")
        .select("iteration", "seq", "depth", "url")
        .orderBy("iteration", "depth", "seq")
        .collect()
    ]
    seen = {
        r["url"]: r["discovered_iter"]
        for r in catalog.read("seen").select("url", "discovered_iter").collect()
    }
    text_md5 = {
        r["url"]: r["h"]
        for r in catalog.read("pages_out").select("url", F.md5("text").alias("h")).collect()
    }
    return {"order": order, "seen": seen, "text_md5": text_md5}


def parity_errors(got: dict, want: dict) -> dict[str, int]:
    a, b = got["order"], want["order"]
    order = sum(1 for x, y in zip(a, b) if list(x) != list(y)) + abs(len(a) - len(b))
    seen = len(set(got["seen"]) ^ set(want["seen"]))
    gt, wt = got["text_md5"], want["text_md5"]
    text = sum(1 for u in set(gt) | set(wt) if gt.get(u) != wt.get(u))
    return {"order": order, "seen": seen, "text": text, "total": order + seen + text}
