"""Partitioned bloom URL-seen filter (SURVEY §2.7 A1, north rule).

The reference deduplicates at the application level with in-memory
Python sets (search_results.py:26,60-63; details.py:32-44) because
Scrapy's fingerprint dedup is bypassed. At 10^10-URL scale the seen-set
must be partitioned and probabilistic: this module keeps one bloom
bitset per hash bucket as the fast path, with the exact frontier table
as ground truth — a bloom MISS is definitely-new (no join needed); only
bloom HITS pay the exact anti-join.

Hashing is computed Spark-side (two independent `xxhash64` columns,
JVM, codegen) so the JVM and the numpy bit-twiddling agree by
construction; the per-row work inside the pandas stage is pure
vectorized numpy (double hashing h1 + i*h2 mod m), no per-row Python.

Storage: one little-endian uint64 `.npy` bitset per bucket under
`<root>/urlseen/`. A bucket's size m is its file's length in bits
(`len(bits) * 64`), so buckets size independently and files written
at any size stay readable. Updates happen once per micro-batch on the
driver (a batch is bounded — 50k urls * `K` positions — regardless of
corpus size); membership tests run on executors via mmap'd bucket
files, so each task touches only its bucket's slice (candidates are
repartitioned by bucket first). Swap note: on a real cluster the bucket
files live on the shared filesystem / object store; with Iceberg
available, puffin DataSketches attached to the frontier table serve the
same role.

Growth: a new bucket starts at `FLOOR_BITS` (8 KiB). When an update
leaves a bucket so full that its false-positive rate `fill ** K`
passes `FP_BOUND`, the bucket is rebuilt at twice its size (more if
one update overfills that), from the exact seen set plus the update —
one bitset per bucket, so a probe stays at `K` lookups (scalable bloom
filters, Almeida et al. 2007, keep a list of generations instead
because they have no exact set to rebuild from). Sizes double, so the
rebuilds cost amortized O(1) per URL. The old file stays in place
until the rebuilt one replaces it, so a crash never loses a bit.
"""

from __future__ import annotations

import math
import os
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gepris_spark.store.table import replace_durably

H1 = "_bloom_h1"
H2 = "_bloom_h2"
BUCKET = "_bloom_bucket"

# bit positions per url
K = 5
# bits of a new bucket (8 KiB): ~3.8k urls before growth
FLOOR_BITS = 1 << 16
# a bucket whose estimated false-positive rate fill ** K passes this
# bound is rebuilt larger; a grown bucket holds 17-35 bits per url
FP_BOUND = 1e-3

_BUCKET_FILE = re.compile(r"bucket(\d{5})\.npy")
_TMP_SUFFIX = ".tmp.npy"


def _positions(h1: np.ndarray, h2: np.ndarray, m_bits: int) -> np.ndarray:
    """(n, K) bit positions via double hashing, vectorized."""
    i = np.arange(K, dtype=np.uint64)[None, :]
    return (h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)


# set bits per byte value (numpy 1.26 has no bitwise_count)
_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def _fill(bits: np.ndarray) -> float:
    """Share of set bits, counted a byte at a time."""
    return int(_POP8[bits.view(np.uint8)].sum(dtype=np.uint64)) / (bits.size * 64)


def _grown_bits(m_bits: int, fill: float) -> int:
    """Twice `m_bits`, or the smallest larger power of two that holds
    the bucket's URLs with fill ** K under `FP_BOUND` if twice is not
    enough. A bucket rebuilt as it passes the bound is then half full:
    its URLs can double before it grows again. The URL count is
    estimated from the fill, n = -(m/K) ln(1 - fill); a saturated
    bucket counts as one bit short of full."""
    n = -(m_bits / K) * math.log(max(1.0 - fill, 1.0 / m_bits))
    need = -n * K / math.log1p(-(FP_BOUND ** (1 / K)))
    return max(2 * m_bits, 1 << math.ceil(math.log2(need)))


class BloomUrlSeen:
    def __init__(self, root: str, n_buckets: int = 16):
        self.dir = os.path.join(root, "urlseen")
        self.n_buckets = n_buckets
        os.makedirs(self.dir, exist_ok=True)
        # a bitset half-written by a crashed update is never read
        for entry in os.listdir(self.dir):
            if entry.endswith(_TMP_SUFFIX):
                os.remove(os.path.join(self.dir, entry))

    # ---------------------------------------------------------- hashing
    def with_hashes(self, df: DataFrame) -> DataFrame:
        url = F.col("url")
        return (
            df.withColumn(H1, F.xxhash64(url))
            .withColumn(H2, F.xxhash64(url, F.lit(0x9E3779B9)))
            .withColumn(BUCKET, F.pmod(F.xxhash64(url, F.lit(7)), F.lit(self.n_buckets)).cast("int"))
        )

    def _bucket_path(self, bucket: int) -> str:
        return os.path.join(self.dir, f"bucket{bucket:05d}.npy")

    def _sizes(self) -> dict[int, int]:
        """{bucket: m_bits} of the stored bitsets (reads .npy headers only)."""
        out = {}
        for entry in os.listdir(self.dir):
            match = _BUCKET_FILE.fullmatch(entry)
            if match:
                bits = np.load(os.path.join(self.dir, entry), mmap_mode="r")
                out[int(match.group(1))] = len(bits) * 64
        return out

    def _save(self, bucket: int, bits: np.ndarray) -> None:
        path = self._bucket_path(bucket)
        tmp = path + _TMP_SUFFIX
        np.save(tmp, bits)
        replace_durably(tmp, path)

    def is_empty(self) -> bool:
        """True when no bits have ever been set (fresh crawl)."""
        try:
            return not any(_BUCKET_FILE.fullmatch(e) for e in os.listdir(self.dir))
        except OSError:
            return True

    # ----------------------------------------------------------- update
    def _pack(self, hashed: DataFrame, sizes: dict[int, int]) -> dict[int, np.ndarray]:
        """{bucket: bitset} of the hashed urls, bucket b packed at
        sizes.get(b, FLOOR_BITS) bits.

        Scale path: bit-packing happens ON EXECUTORS — each bucket's
        hashes fold into a packed bitset inside applyInPandas, and the
        driver receives only a few rows of (bucket, m/8 bytes) per
        bucket to OR together. The driver never sees per-url rows (a
        collect of a 10^7-url batch would be the bottleneck)."""

        def pack(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) == 0:
                return pd.DataFrame({"bucket": [], "bits": []})
            bucket = int(pdf[BUCKET].iloc[0])
            m_bits = sizes.get(bucket, FLOOR_BITS)
            h1 = pdf[H1].to_numpy(dtype=np.int64).astype(np.uint64)
            h2 = pdf[H2].to_numpy(dtype=np.int64).astype(np.uint64)
            pos = _positions(h1, h2, m_bits).ravel()
            bits = np.zeros(m_bits // 64, dtype=np.uint64)
            np.bitwise_or.at(bits, (pos // 64).astype(np.int64), np.uint64(1) << (pos % 64))
            return pd.DataFrame({"bucket": [bucket], "bits": [bits.tobytes()]})

        # sub-split each bucket so packing parallelism is not capped at
        # n_buckets; the driver ORs the (bucket, split) partial bitsets
        par = hashed.sparkSession.sparkContext.defaultParallelism
        splits = max(1, (2 * par) // max(self.n_buckets, 1))
        rows = (
            hashed.select(H1, H2, BUCKET)
            .groupBy(F.col(BUCKET), F.pmod(F.col(H1), F.lit(splits)).alias("_split"))
            .applyInPandas(pack, "bucket int, bits binary")
            .collect()
        )
        out: dict[int, np.ndarray] = {}
        for r in rows:
            bits = np.frombuffer(r["bits"], dtype=np.uint64)
            b = int(r["bucket"])
            out[b] = out[b] | bits if b in out else bits.copy()
        return out

    def add_urls(self, df: DataFrame, seen_urls: DataFrame) -> dict:
        """OR the batch's urls into the bucket bitsets, rebuilding any
        bucket the batch fills past `FP_BOUND` at a larger size.

        `seen_urls` is every url added before this call (the exact seen
        set, one `url` column; empty for a fresh filter); a rebuild
        re-adds them. Buckets whose bits do not change are not
        rewritten. The urls need no dedup: a url ORed in twice sets the
        same bits, and sizing reads the bits, not a url count.

        Returns the filter's health after the update: `urlseen_bits`
        (total bits), `urlseen_fill_max` (fill ratio of the fullest
        bucket), `urlseen_fp_est` (fill_max ** K) and `urlseen_grown`
        (buckets rebuilt)."""
        sizes = self._sizes()
        urls = df.select("url")
        fills: dict[int, float] = {}
        grow: dict[int, int] = {}

        def settle(b: int, bits: np.ndarray, old: np.ndarray | None = None) -> None:
            fills[b] = _fill(bits)
            if fills[b] ** K > FP_BOUND:
                # the old file stays until the rebuilt one replaces it
                grow[b] = _grown_bits(len(bits) * 64, fills[b])
            elif old is None or not np.array_equal(bits, old):
                self._save(b, bits)

        for b, packed in self._pack(self.with_hashes(urls), sizes).items():
            old = np.load(self._bucket_path(b)) if b in sizes else None
            settle(b, packed if old is None else old | packed, old)
        hashed = self.with_hashes(seen_urls.select("url").unionByName(urls))
        grown: set[int] = set()
        while grow:
            # a saturated bucket's url count is underestimated, so its
            # rebuild can still be over the bound: rebuild it again
            grown |= grow.keys()
            rebuild, grow = grow, {}
            todo = hashed.where(F.col(BUCKET).isin(list(rebuild)))
            for b, bits in self._pack(todo, rebuild).items():
                settle(b, bits)
        sizes = self._sizes()
        # buckets this update did not touch keep their last fill
        for b in sizes.keys() - fills.keys():
            fills[b] = _fill(np.load(self._bucket_path(b), mmap_mode="r"))
        fill_max = max(fills.values(), default=0.0)
        return {
            "urlseen_bits": sum(sizes.values()),
            "urlseen_fill_max": fill_max,
            "urlseen_fp_est": fill_max**K,
            "urlseen_grown": len(grown),
        }

    # ------------------------------------------------------- membership
    def with_maybe_seen(self, df: DataFrame, num_partitions: int | None = None) -> DataFrame:
        """Adds boolean `maybe_seen`. Executors mmap only their bucket's
        bitset and take its size m from the file; candidates are
        repartitioned by bucket so each file is opened once per task.
        `num_partitions` bounds the probe shuffle (the explicit
        repartition count disables AQE coalescing, so an unsized tiny
        batch pays a full-parallelism Python task launch); a task then
        touches a few buckets via its mmap cache."""
        from pyspark.sql import types as T

        # partition primarily by bucket (one mmap per file per task) but
        # never below the cluster parallelism — a task may touch a couple
        # of buckets (LRU-cached mmaps), which beats idling cores
        par = num_partitions or max(
            df.sparkSession.sparkContext.defaultParallelism, self.n_buckets
        )
        hashed = self.with_hashes(df).repartition(par, F.col(BUCKET), F.col(H1))
        bloom_dir = self.dir
        # fresh StructType — .add() would mutate the DataFrame's cached schema
        out_schema = T.StructType(
            list(hashed.schema.fields) + [T.StructField("maybe_seen", T.BooleanType())]
        )

        def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cache: dict[int, np.ndarray | None] = {}
            for pdf in batches:
                if len(pdf) == 0:
                    yield pdf.assign(maybe_seen=pd.Series([], dtype=bool))
                    continue
                h1 = pdf[H1].to_numpy(dtype=np.int64).astype(np.uint64)
                h2 = pdf[H2].to_numpy(dtype=np.int64).astype(np.uint64)
                seen = np.zeros(len(pdf), dtype=bool)
                for b in pdf[BUCKET].unique():
                    if b not in cache:
                        path = os.path.join(bloom_dir, f"bucket{int(b):05d}.npy")
                        cache[b] = np.load(path, mmap_mode="r") if os.path.exists(path) else None
                    bits = cache[b]
                    if bits is None:
                        continue
                    mask = (pdf[BUCKET] == b).to_numpy()
                    p = _positions(h1[mask], h2[mask], len(bits) * 64)
                    word = np.asarray(bits[(p // 64).astype(np.int64)])
                    hit = (word >> (p % 64)) & np.uint64(1)
                    seen[mask] = hit.all(axis=1)
                yield pdf.assign(maybe_seen=seen)

        return hashed.mapInPandas(probe, out_schema).drop(H1, H2, BUCKET)

    # ------------------------------------------------------ full filter
    def filter_new(
        self, candidates: DataFrame, seen_urls: DataFrame, num_partitions: int | None = None
    ) -> DataFrame:
        """Return candidates whose url is NOT in the seen set.

        Each candidate is probed once. A bloom miss is definitely new;
        only a bloom hit (a small, false-positive-bounded subset) is
        checked exactly, in one left-anti join against the truth table
        keyed on the url for hits and on NULL for misses, which matches
        nothing. An empty bloom (fresh crawl, batch 0) takes the same
        plan: a bucket with no bitset file probes as all-miss, so the
        first batch compiles the probe and the anti-join that every
        later batch runs.
        """
        probed = self.with_maybe_seen(candidates, num_partitions=num_partitions)
        # a shuffled join puts every NULL key (every miss) in one
        # partition: at most the batch's candidates
        keyed = probed.withColumn("_hit", F.when(F.col("maybe_seen"), F.col("url")))
        seen = seen_urls.select(F.col("url").alias("_hit"))
        return keyed.join(seen, "_hit", "left_anti").drop("_hit", "maybe_seen")
