"""Bloom-filter safety (SURVEY.md §5.2): the bloom is an accelerator whose
approximation direction can only cost extra work, never lose URLs.

- no false negatives: every URL that was added to the filter flags
  ``maybe_seen=True`` on probe — even in a deliberately saturated filter;
- end-to-end: ``dedup_new_urls`` returns exactly the unseen set with a
  near-100%-fpp bloom (the exact anti-join backstop catches all false
  positives).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_service_spark.functions.urls import url_hash_col
from crawler_service_spark.operators.dedup import BloomSeenFilter, dedup_new_urls
from crawler_service_spark.storage import ManifestCatalog

SEEN_URLS = [f"https://h{i % 7}.example.com/seen/{i}" for i in range(300)]
NEW_URLS = [f"https://h{i % 7}.example.com/new/{i}" for i in range(120)]


@pytest.fixture()
def catalog(spark, tmp_path):
    return ManifestCatalog(str(tmp_path / "bloomcat"), spark)


def urls_df(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return df.withColumn("url_hash", url_hash_col("url"))


def test_no_false_negatives_even_when_saturated(spark, catalog):
    # 64 bits per bucket for 150 urls/bucket => the filter is ~all-ones
    bloom = BloomSeenFilter(catalog, n_buckets=2, m_bits=64, k_hashes=3)
    seen = urls_df(spark, SEEN_URLS)
    bloom.update(seen.select("url"), "bloom-0")

    flagged = bloom.flag_maybe_seen(seen)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_dedup_exact_despite_false_positives(spark, catalog):
    bloom = BloomSeenFilter(catalog, n_buckets=2, m_bits=64, k_hashes=3)
    seen = urls_df(spark, SEEN_URLS)
    bloom.update(seen.select("url"), "bloom-0")

    cand = urls_df(spark, SEEN_URLS + NEW_URLS)
    out = dedup_new_urls(cand, seen, bloom)
    assert sorted(r["url"] for r in out.collect()) == sorted(NEW_URLS)


def test_dedup_with_healthy_bloom_and_fast_path(spark, catalog):
    # realistically-sized filter: most new urls take the bloom fast path
    bloom = BloomSeenFilter(catalog, n_buckets=4, m_bits=1 << 14, k_hashes=7)
    seen = urls_df(spark, SEEN_URLS)
    bloom.update(seen.select("url"), "bloom-0")

    cand = urls_df(spark, SEEN_URLS + NEW_URLS)
    flagged = bloom.flag_maybe_seen(cand)
    # every truly-seen url is flagged; the fast path actually engages
    assert flagged.filter(~F.col("maybe_seen")).filter(
        F.col("url").contains("/seen/")
    ).count() == 0
    assert flagged.filter(~F.col("maybe_seen")).count() > 0

    out = dedup_new_urls(cand, seen, bloom)
    assert sorted(r["url"] for r in out.collect()) == sorted(NEW_URLS)


def test_incremental_update_across_commits(spark, catalog):
    bloom = BloomSeenFilter(catalog, n_buckets=2, m_bits=1 << 12, k_hashes=5)
    a, b = SEEN_URLS[:150], SEEN_URLS[150:]
    bloom.update(urls_df(spark, a).select("url"), "bloom-0")
    bloom.update(urls_df(spark, b).select("url"), "bloom-1", upto="bloom-0")

    flagged = bloom.flag_maybe_seen(urls_df(spark, SEEN_URLS), upto="bloom-1")
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_dedup_with_no_filter_snapshot_stays_exact(spark, catalog):
    """A filter with no committed snapshot proves nothing: every candidate
    must fall through to the exact anti-join, never pass as definitely new."""
    seen = urls_df(spark, SEEN_URLS[:30])
    cand = urls_df(spark, SEEN_URLS[:30] + NEW_URLS[:10])
    out = dedup_new_urls(cand, seen, BloomSeenFilter(catalog))
    assert sorted(r["url"] for r in out.collect()) == sorted(NEW_URLS[:10])


def _commit_bytes(catalog, table):
    """Data bytes per commit id, from the committed files on disk."""
    import os

    out = {}
    for cid in catalog.commits(table):
        d = os.path.join(catalog._table_dir(table), "data", cid)
        out[cid] = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
        )
    return out


def test_filter_delta_commit_bytes_scale_with_batch(spark, catalog):
    """VERDICT r2 #1: per-iteration filter-commit bytes must scale with the
    BATCH, not the filter. A 5-url update onto a big filter must write orders
    of magnitude less than the folded base blobs."""
    bloom = BloomSeenFilter(catalog, n_buckets=16, m_bits=1 << 17, compact_every=100)
    bloom.update(urls_df(spark, SEEN_URLS).select("url"), "b-0")
    bloom.update(urls_df(spark, NEW_URLS[:5]).select("url"), "b-1", upto="b-0")
    sizes = _commit_bytes(catalog, BloomSeenFilter.TABLE)
    base_bytes = 16 * (1 << 17) // 8  # what full blobs would cost
    assert sizes["b-1"] < base_bytes / 20, (
        f"tiny-batch delta commit wrote {sizes['b-1']}B ~ filter-sized "
        f"({base_bytes}B) — write amplification is back"
    )
    # and the probe over the chain still sees everything
    flagged = bloom.flag_maybe_seen(urls_df(spark, SEEN_URLS + NEW_URLS[:5]), upto="b-1")
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


@pytest.mark.parametrize("kind", ["bloom"])
def test_filter_compaction_fold_equivalence(spark, catalog, kind):
    """After compact_every deltas the chain folds into base blobs (one
    overwrite commit); probes across the fold boundary are identical."""
    f = BloomSeenFilter(catalog, n_buckets=4, m_bits=1 << 14, compact_every=2)
    chunks = [SEEN_URLS[i::4] for i in range(4)]
    prev = None
    for i, chunk in enumerate(chunks):
        f.update(urls_df(spark, chunk).select("url"), f"c-{i}", upto=prev)
        prev = f"c-{i}"
    modes = dict(catalog.commit_modes(f.TABLE))
    assert "overwrite" in modes.values(), "compaction never triggered"
    assert modes["c-0"] == "append"
    flagged = f.flag_maybe_seen(urls_df(spark, SEEN_URLS + NEW_URLS), upto=prev)
    got = {r["url"]: r["maybe_seen"] for r in flagged.collect()}
    assert all(got[u] for u in SEEN_URLS), "no false negatives across the fold"
    fp = sum(got[u] for u in NEW_URLS) / len(NEW_URLS)
    assert fp < 0.2, f"fpp {fp:.2%} after compaction"
    # pre-compaction snapshots still replay the delta chain untouched
    early = f.flag_maybe_seen(urls_df(spark, chunks[0]), upto="c-0")
    assert early.filter(~F.col("maybe_seen")).count() == 0
