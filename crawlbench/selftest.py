"""Self-test of the correctness gate.

    python3 crawlbench/selftest.py

Crawls the small warm-up fixture under the ``megahost_bloom`` config (with
the mid-crawl restart), expects ``parity_errors == 0``, then copies the
workdir, rewrites one committed ``crawl_order`` row in the copy and expects
``parity_errors >= 1``. Exits 0 when the gate passes the clean crawl and
trips on the corrupted one.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from crawler_service_spark.storage import ManifestCatalog  # noqa: E402

import env  # noqa: E402
import parity  # noqa: E402
from crawl import TaskCounter, run_crawl, start_session  # noqa: E402
from workloads import WARMUP_FIXTURE, WARMUP_SEED, WORKLOADS, cached_inputs, expected  # noqa: E402

WORK = os.path.join(ROOT, ".crawlbench")


def corrupt_one_order_row(workdir: str) -> str:
    """Change the url of the first row of one committed crawl_order file;
    returns the file rewritten."""
    for path in sorted(glob.glob(os.path.join(workdir, "crawl_order", "data", "*", "*.parquet"))):
        tbl = pq.read_table(path)
        if tbl.num_rows == 0:
            continue
        urls = tbl["url"].to_pylist()
        urls[0] = urls[0] + "?corrupted"
        tbl = tbl.set_column(tbl.schema.get_field_index("url"), "url", pa.array(urls, pa.string()))
        pq.write_table(tbl, path)
        # the local filesystem checks a sibling .crc on read: drop the stale one
        crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        return path
    raise RuntimeError(f"no committed crawl_order rows under {workdir}")


def main() -> int:
    dirs = env.prepare(WORK)
    env.redirect_stderr(os.path.join(dirs["logs"], "selftest.log"))
    w = WORKLOADS["megahost_bloom"]
    inputs = cached_inputs(WORK, w, WARMUP_FIXTURE, WARMUP_SEED)
    want = expected(w, inputs)
    spark = start_session(env.cpu_count(), dirs["tmp"])
    try:
        wd = os.path.join(WORK, "wd", "selftest")
        crawl = run_crawl(spark, w, inputs, want, wd, TaskCounter(spark.sparkContext))
        clean = crawl.parity["total"]
        copy = os.path.join(WORK, "wd", "selftest-corrupted")
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(wd, copy)
        path = corrupt_one_order_row(copy)
        bad = parity.parity_errors(parity.collect(ManifestCatalog(copy, spark)), want)
    finally:
        env.stop_spark(spark)
    ok = clean == 0 and bad["total"] >= 1
    print(f"clean crawl: parity_errors={clean} ({len(crawl.iterations)} iterations)")
    print(f"corrupted {os.path.relpath(path, ROOT)}: parity_errors={bad['total']} {bad}")
    print("gate self-test", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
