"""URL-seen set: partitioned Bloom accelerator + exact anti-join backstop.

The reference deduplicates with in-memory Python sets (per-family
``tracked_files``, crawlers/globus_base_preserved.py:396-403; a stub global
``dup_check``, legacy/posix_crawler.py:67-68). At 10^10 URLs the seen set
cannot live in one memory image, so:

- the **exact** membership structure is the ``seen`` table, hash-partitioned by
  ``url_hash = xxhash64(canonical_url)``; dedup is a left-anti join on
  ``(url_hash, url)`` — the full url string is part of the join key because
  xxhash64 *will* collide a handful of times at 10^10 keys, and a collision
  must never drop an unseen URL;
- a **partitioned Bloom filter** (``seen_filters(bucket, bits)``; one blob per
  ``pmod(url_hash, n_buckets)`` bucket) accelerates the common case. Direction
  of approximation is the safe one: bloom says "definitely new" (skip the
  exact join entirely) or "maybe seen" (fall through to the exact anti-join).
  False positives only cost extra exact lookups; they can never lose URLs.
  Sizing at 10^10 keys / 1% fpp ≈ 12 GB of bits — which is exactly why the
  filter is bucketed and lives distributed in a table, never on the driver
  (unlike ``df.stat.bloomFilter`` which collects to one driver-side filter).
  A URL leaving the seen set (``expire(mode="forget")``) keeps its bits;
  the stale bits only cost extra exact lookups.

**Filter storage is LSM-shaped** (mirroring the frontier's append/tombstone/
compact design): an ``update`` appends one tiny *delta* row per
touched bucket — the packed int64 hash pairs of just that batch, ~16 bytes per
URL — instead of rewriting the merged blobs, so per-iteration filter-commit
bytes scale with the BATCH, never the filter (a 12 GB 10^10-key filter is not
rewritten per iteration). Readers fold a bucket's chain (base blob, if any,
plus deltas in ``ver`` order) inside the probe UDF. Every ``compact_every``
delta commits, the chain is folded into fresh base blobs in one overwrite
commit, bounding read amplification; snapshot reads (``upto=``) replay the
pre-compaction chain untouched, so time travel and resume are unaffected.

All bloom hash material is computed JVM-side (two independent xxhash64 streams);
Python only touches int64 numpy arrays inside Arrow-batched grouped UDFs
(Kirsch-Mitzenmacher double hashing: pos_i = g1 + i*(h2|1) mod m, i = 1..k,
g1 = h1 ^ (h1 >> 32) — h1's low bits double as the bucket id, so they are
folded with the unconstrained high bits before probing; see _positions).

Because base blobs bake positions into bytes while delta rows persist raw
hashes, the table carries a ``position-scheme`` catalog marker; probing or
updating under a different scheme than the blobs were folded with refuses
loudly instead of silently false-negativing (see _check_scheme).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..storage import ManifestCatalog

_H2_SALT = 0x9E3779B9  # second, independent hash stream: xxhash64(url, salt)


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) bit positions via double hashing; uint64 wraparound is fine.

    h1 is xorshift-folded before use: the bucket selector is
    ``pmod(h1, n_buckets)``, so within a bucket h1's low bits are constant —
    a probe at bare ``h1 mod m`` (both powers of two) could only ever touch
    1/n_buckets of the bit array, saturating early and silently degrading
    the filter to k-1 effective hashes. Nor do odd strides alone repair it:
    ``i*(h2|1) ≡ 2^v(i) (mod 2^(v(i)+1))``, so every even probe index is
    still pinned to a coset of the pinned base (measured FPR 0.058 vs the
    0.034 ideal at kn/m≈1). Folding the unconstrained high bits into the
    low bits makes the base uniform; simulated FPR then matches
    ``(1-e^{-kn/m})^k`` to 3 decimals at both heavy and light load
    (BASELINE.md round 5). The stride is still forced odd (coprime to the
    power-of-two ``m`` — never degenerate-zero, k distinct positions) and
    probes start at multiple 1, belt-and-braces with the fold."""
    a = h1.astype(np.uint64)
    a = a ^ (a >> np.uint64(32))
    b = h2.astype(np.uint64) | np.uint64(1)
    ks = np.arange(1, k + 1, dtype=np.uint64)[None, :]
    return ((a[:, None] + ks * b[:, None]) % np.uint64(m)).astype(np.int64)


def with_bloom_hashes(df: DataFrame, url_col: str = "url", n_buckets: int = 64) -> DataFrame:
    return (
        df.withColumn("__h1", F.xxhash64(F.col(url_col)))
        .withColumn("__h2", F.xxhash64(F.col(url_col), F.lit(_H2_SALT)))
        .withColumn("__bucket", F.pmod(F.col("__h1"), F.lit(n_buckets)).cast("int"))
    )


# --------------------------------------------------------------------------- #
# LSM delta-chain storage
# --------------------------------------------------------------------------- #

BLOB_SCHEMA = "bucket int, ver long, kind string, payload binary"
_BASE, _ADD = "base", "add"


def _pack_hashes(h1: np.ndarray, h2: np.ndarray) -> bytes:
    """Delta payload: the batch's (h1, h2) pairs as little-endian int64s,
    sorted so the blob is independent of Arrow batch arrival order (keeps
    delta bytes deterministic across re-runs)."""
    order = np.lexsort((h2, h1))
    return np.ascontiguousarray(
        np.concatenate([h1[order], h2[order]]).astype("<i8")
    ).tobytes()


def _unpack_hashes(payload: bytes) -> tuple[np.ndarray, np.ndarray]:
    arr = np.frombuffer(payload, dtype="<i8")
    n = len(arr) // 2
    return arr[:n], arr[n:]


def _chain_rows(chain_pdf: pd.DataFrame):
    """A bucket's chain in ver order: (kind, payload) tuples."""
    if not len(chain_pdf):
        return []
    idx = np.argsort(chain_pdf["ver"].to_numpy(), kind="stable")
    kinds = chain_pdf["kind"].to_numpy()
    payloads = chain_pdf["payload"].to_numpy()
    return [(kinds[i], bytes(payloads[i])) for i in idx]


def _fold_bits(ops: list[tuple[str, bytes]], m: int, k: int) -> bytes:
    """Fold a bucket's chain into its m-bit array: the last base blob, then
    every later delta's positions OR-ed in (order-independent)."""
    bits = np.zeros(m // 8, dtype=np.uint8)
    for kind, payload in ops:
        if kind == _BASE:
            bits = np.frombuffer(payload, dtype=np.uint8).copy()
        else:
            h1, h2 = _unpack_hashes(payload)
            if len(h1):
                pos = _positions(h1, h2, k, m).ravel()
                np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return bits.tobytes()


def _member(bits: bytes, h1: np.ndarray, h2: np.ndarray, m: int, k: int) -> np.ndarray:
    arr = np.frombuffer(bits, dtype=np.uint8)
    pos = _positions(h1, h2, k, m)
    hit = (arr[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return hit.all(axis=1)


class BloomSeenFilter:
    """Partitioned bloom over the URL-seen set, persisted in the catalog as a
    delta chain (see module docstring): base blob = the m-bit array, deltas =
    packed hash pairs OR-ed in at fold time (order-independent)."""

    TABLE = "seen_filters"
    # Position-scheme version stamped on the table as a catalog marker.
    # Delta rows persist raw (h1, h2) hashes — scheme-independent — but
    # compacted BASE blobs bake bit POSITIONS into bytes. A blob folded under
    # one scheme and probed under another false-NEGATIVES silently
    # (maybe_seen=False skips the exact anti-join), which is the one
    # direction the filter contract forbids. Bump this string whenever
    # _positions changes shape.
    # v2 = xorshift-folded base + odd stride, probes i=1..k (BASELINE.md r5)
    SCHEME = "bloom-pos-v2-xorfold"
    _SCHEME_MARKER = "position-scheme"

    def __init__(
        self,
        catalog: ManifestCatalog,
        n_buckets: int = 64,
        m_bits: int = 1 << 17,
        k_hashes: int = 7,
        compact_every: int = 16,
    ):
        self.catalog = catalog
        self.n_buckets = n_buckets
        self.m_bits = m_bits
        self.k = k_hashes
        self.compact_every = compact_every

    def _check_scheme(self, adopt: bool) -> None:
        """Refuse to interpret base blobs written under a different position
        scheme. Unmarked tables: an all-delta chain is portable (hashes, not
        positions), so it is adopted in place — the marker is written on the
        next update so future folds are certified; an unmarked chain that has
        ever compacted (any ``overwrite`` commit) predates the marker and its
        blobs' positions cannot be trusted — rebuild from the source of truth
        (the exact seen-set table) instead of silently re-crawling."""
        marker = self.catalog.read_marker(self.TABLE, self._SCHEME_MARKER)
        if marker == self.SCHEME:
            return
        if marker is not None:
            raise ValueError(
                f"{self.TABLE}: persisted filter uses position scheme "
                f"{marker!r} but this build writes {self.SCHEME!r}; base "
                f"blobs are not portable across schemes (silent false "
                f"negatives) — rebuild the filter from the exact seen set"
            )
        modes = self.catalog.commit_modes(self.TABLE)
        if any(mode == "overwrite" for _cid, mode in modes):
            raise ValueError(
                f"{self.TABLE}: compacted base blobs predate the "
                f"position-scheme marker, so the scheme they were folded "
                f"under is unknown; refusing to probe (a scheme mismatch "
                f"false-negatives silently) — rebuild the filter from the "
                f"exact seen set"
            )
        if adopt:
            self.catalog.write_marker(self.TABLE, self._SCHEME_MARKER, self.SCHEME)

    def _ver_and_compact(self) -> tuple[int, bool]:
        """Next row version (= manifest count, deterministic under resume:
        the pre-commit chain state reproduces it) and whether this commit
        should fold the chain instead of appending another delta."""
        log = self.catalog.commit_modes(self.TABLE)
        appends = 0
        for _, mode in reversed(log):
            if mode == "overwrite":
                break
            appends += 1
        return len(log), appends >= self.compact_every

    # ------------------------------------------------------------------ build
    def update(self, new_urls: DataFrame, commit_id: str, upto: str | None = None) -> None:
        """Append this batch's packed hashes as one delta row per touched
        bucket (bytes ∝ batch); every ``compact_every`` deltas the chain (plus
        this batch) is folded into fresh base blobs in a single overwrite
        commit."""
        self._check_scheme(adopt=True)
        if self.catalog.has_commit(self.TABLE, commit_id):
            return  # idempotent re-run
        ver, compact = self._ver_and_compact()
        hashed = with_bloom_hashes(new_urls, n_buckets=self.n_buckets).select(
            "__h1", "__h2", "__bucket"
        )
        if not compact:
            def pack(key, pdf: pd.DataFrame) -> pd.DataFrame:
                return pd.DataFrame(
                    {
                        "bucket": [int(key[0])], "ver": [ver], "kind": [_ADD],
                        "payload": [
                            _pack_hashes(pdf["__h1"].to_numpy(), pdf["__h2"].to_numpy())
                        ],
                    }
                )

            deltas = hashed.groupBy("__bucket").applyInPandas(pack, schema=BLOB_SCHEMA)
            # coalesce=1: delta commits are <= n_buckets tiny rows, and a
            # single-partition write guarantees a parquet footer even when the
            # batch is empty (schema inference on cold-session reads)
            self.catalog.commit(self.TABLE, deltas, commit_id, coalesce=1)
            return
        chain = self.catalog.read(self.TABLE, upto=upto)
        if chain is None:
            chain = new_urls.sparkSession.createDataFrame([], BLOB_SCHEMA)
        # plain closure over scalar config — a bound method would drag self
        # (catalog -> SparkSession) into the UDF pickle
        m, k = self.m_bits, self.k

        def merge(key, urls_pdf: pd.DataFrame, chain_pdf: pd.DataFrame):
            ops = _chain_rows(chain_pdf)
            if len(urls_pdf):
                ops = ops + [
                    (_ADD, _pack_hashes(
                        urls_pdf["__h1"].to_numpy(), urls_pdf["__h2"].to_numpy()
                    ))
                ]
            return pd.DataFrame(
                {
                    "bucket": [int(key[0])], "ver": [ver], "kind": [_BASE],
                    "payload": [_fold_bits(ops, m, k)],
                }
            )

        merged = (
            hashed.groupBy("__bucket")
            .cogroup(chain.groupBy("bucket"))
            .applyInPandas(merge, schema=BLOB_SCHEMA)
        )
        self.catalog.commit(self.TABLE, merged, commit_id, mode="overwrite", coalesce=1)

    # ------------------------------------------------------------------ probe
    def flag_maybe_seen(self, candidates: DataFrame, upto: str | None = None) -> DataFrame:
        """Add boolean ``maybe_seen``: False = definitely never seen (bloom
        miss), True = needs the exact anti-join. Cogrouped by bucket so the
        chain is folded once per bucket, not once per row. With no filter
        snapshot at ``upto`` every candidate is flagged maybe: an absent
        filter proves nothing, so the exact anti-join must decide."""
        self._check_scheme(adopt=False)
        chain = self.catalog.read(self.TABLE, upto=upto)
        if chain is None:
            return candidates.withColumn("maybe_seen", F.lit(True))
        from pyspark.sql import types as T

        hashed = with_bloom_hashes(candidates, n_buckets=self.n_buckets)
        # fresh StructType — StructType.add() mutates the cached schema in place
        out_schema = T.StructType(
            [f for f in hashed.schema.fields if f.name != "__bucket"]
            + [T.StructField("maybe_seen", T.BooleanType(), False)]
        )
        m, k = self.m_bits, self.k

        def probe(key, cand_pdf: pd.DataFrame, chain_pdf: pd.DataFrame):
            if not len(cand_pdf):
                return cand_pdf.drop(columns=["__bucket"]).assign(maybe_seen=True)
            out = cand_pdf.drop(columns=["__bucket"])
            ops = _chain_rows(chain_pdf)
            if not ops:
                out["maybe_seen"] = False
                return out
            out["maybe_seen"] = _member(
                _fold_bits(ops, m, k),
                cand_pdf["__h1"].to_numpy(), cand_pdf["__h2"].to_numpy(), m, k,
            )
            return out

        flagged = (
            hashed.groupBy("__bucket")
            .cogroup(chain.groupBy("bucket"))
            .applyInPandas(probe, schema=out_schema)
        )
        return flagged.drop("__h1", "__h2")


def anti_join_by_hash(
    left: DataFrame, right: DataFrame, hash_col: str = "url_hash", url_col: str = "url"
) -> DataFrame:
    """left_anti keyed on the int64 hash ONLY, with url equality as a
    RESIDUAL condition for collision safety.

    The url check is written as the <=/>= pair on purpose: Catalyst's
    ExtractEquiJoinKeys lifts ANY ``l == r`` into the join key, which would
    put frontier-scale strings back onto the shuffle-hash/sort path. As a
    pair of range predicates it stays a post-match filter, so the exchange
    partitions and the SMJ sorts on the uniform int64 alone — several-fold
    fewer compared bytes for long URLs, identical semantics (a hash
    collision between different urls never drops the unseen url).
    """
    r = right.select(
        F.col(hash_col).alias("__r_hash"), F.col(url_col).alias("__r_url")
    )
    cond = (
        (left[hash_col] == r["__r_hash"])
        & (left[url_col] <= r["__r_url"])
        & (left[url_col] >= r["__r_url"])
    )
    return left.join(r, cond, "left_anti")


def anti_join_seen(candidates: DataFrame, seen: DataFrame | None) -> DataFrame:
    """Exact dedup: drop candidates whose (url_hash, url) is in the seen set.

    Shuffles both sides on the uniform int64 hash (no host skew, no string
    sort keys); url equality rides along as a residual (anti_join_by_hash).
    """
    if seen is None:
        return candidates
    return anti_join_by_hash(candidates, seen.select("url_hash", "url"))


def dedup_new_urls(
    candidates: DataFrame,
    seen: DataFrame | None,
    bloom: BloomSeenFilter | None,
    bloom_upto: str | None = None,
) -> DataFrame:
    """Bloom fast-path + exact anti-join backstop (see module docstring)."""
    if bloom is None or seen is None:
        return anti_join_seen(candidates, seen)
    flagged = bloom.flag_maybe_seen(candidates, upto=bloom_upto)
    definite_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    return definite_new.unionByName(anti_join_seen(maybe, seen))
