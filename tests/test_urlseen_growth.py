"""The URL-seen bloom sizes each bucket to its URLs: a bucket starts at
`FLOOR_BITS`, is rebuilt larger from the exact seen set once its
estimated false-positive rate passes `FP_BOUND`, and never loses a URL
on the way — at filter level, through the engine (replay-exact and
resume-exact across a growth batch), and on files written before the
bloom sized itself."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gepris_spark.operators.urlseen import FLOOR_BITS, FP_BOUND, BloomUrlSeen, _positions
from gepris_spark.replay import replay
from gepris_spark.sources import corpus
from gepris_spark.streaming.microbatch import CrawlEngine, EngineConfig

HEALTH = ("urlseen_bits", "urlseen_fill_max", "urlseen_fp_est", "urlseen_grown")


def _urls(spark, lo, hi):
    url = F.concat(F.lit("https://h/gepris/projekt/"), F.col("id"))
    return spark.range(lo, hi).select(url.alias("url"))


def _bucket_bits(bloom, bucket=0):
    return np.load(bloom._bucket_path(bucket)).size * 64


def _unseen(bloom, df):
    return bloom.with_maybe_seen(df).where(~F.col("maybe_seen")).count()


def test_bucket_grows_and_stays_exact(spark, tmp_path):
    bloom = BloomUrlSeen(str(tmp_path / "b"), n_buckets=1)
    first, second = _urls(spark, 0, 1000), _urls(spark, 1000, 5000)
    health = bloom.add_urls(first)
    assert health["urlseen_grown"] == 0 and _bucket_bits(bloom) == FLOOR_BITS

    health = bloom.add_urls(second, seen_urls=first)
    assert set(HEALTH) <= set(health)
    assert health["urlseen_grown"] == 1
    assert _bucket_bits(bloom) > FLOOR_BITS
    assert health["urlseen_bits"] == _bucket_bits(bloom)
    assert health["urlseen_fp_est"] <= FP_BOUND

    added = first.unionByName(second)
    assert _unseen(bloom, added) == 0  # no false negatives
    other = _urls(spark, 10_000, 30_000)
    fp = bloom.with_maybe_seen(other).where(F.col("maybe_seen")).count()
    # at most the bound's expectation
    assert fp <= 20_000 * FP_BOUND
    mixed = other.unionByName(_urls(spark, 500, 2500))
    assert {r["url"] for r in bloom.filter_new(mixed, added).collect()} == {
        r["url"] for r in other.collect()
    }

    path = bloom._bucket_path(0)
    before = open(path, "rb").read()
    health = bloom.add_urls(second, seen_urls=added)
    assert health["urlseen_grown"] == 0
    assert open(path, "rb").read() == before


def test_add_urls_needs_the_seen_set_once_filled(spark, tmp_path):
    bloom = BloomUrlSeen(str(tmp_path / "b"), n_buckets=1)
    bloom.add_urls(_urls(spark, 0, 10))
    with pytest.raises(ValueError):
        bloom.add_urls(_urls(spark, 10, 20))


def test_fixed_size_bucket_stays_readable(spark, tmp_path):
    """A bucket written at the old fixed size (1 << 20 bits) is probed
    and updated at the size its file has."""
    bloom = BloomUrlSeen(str(tmp_path / "b"), n_buckets=1)
    old, new = _urls(spark, 0, 300), _urls(spark, 300, 600)
    m_bits = 1 << 20
    hashed = bloom.with_hashes(old).toPandas()
    h1 = hashed["_bloom_h1"].to_numpy(dtype=np.int64).astype(np.uint64)
    h2 = hashed["_bloom_h2"].to_numpy(dtype=np.int64).astype(np.uint64)
    pos = _positions(h1, h2, bloom.k, m_bits).ravel()
    bits = np.zeros(m_bits // 64, dtype=np.uint64)
    np.bitwise_or.at(bits, (pos // 64).astype(np.int64), np.uint64(1) << (pos % 64))
    np.save(bloom._bucket_path(0), bits)

    assert _unseen(bloom, old) == 0
    assert _unseen(bloom, new) == 300
    health = bloom.add_urls(new, seen_urls=old)
    assert health["urlseen_bits"] == m_bits and health["urlseen_grown"] == 0
    assert _bucket_bits(bloom) == m_bits
    assert _unseen(bloom, old.unionByName(new)) == 0


def test_saturated_bucket_is_rebuilt_until_under_the_bound(spark, tmp_path):
    """A saturated bucket hides its url count, so the first rebuild is
    sized from an underestimate and must be redone larger."""
    bloom = BloomUrlSeen(str(tmp_path / "b"), n_buckets=1)
    np.save(bloom._bucket_path(0), np.full(1, np.iinfo(np.uint64).max, dtype=np.uint64))
    old, new = _urls(spark, 0, 1000), _urls(spark, 1000, 3000)
    health = bloom.add_urls(new, seen_urls=old)
    assert health["urlseen_grown"] == 1
    assert health["urlseen_fp_est"] <= FP_BOUND
    assert _unseen(bloom, old.unionByName(new)) == 0


def test_stale_tmp_bitset_is_ignored_and_removed(spark, tmp_path):
    root = str(tmp_path / "b")
    stale = os.path.join(root, "urlseen", "bucket00000.npy.tmp.npy")
    os.makedirs(os.path.dirname(stale))
    np.save(stale, np.ones(FLOOR_BITS // 64, dtype=np.uint64))
    bloom = BloomUrlSeen(root, n_buckets=1)
    assert not os.path.exists(stale)
    # one left behind while the filter is open does not make it probe
    np.save(stale, np.ones(FLOOR_BITS // 64, dtype=np.uint64))
    assert bloom.is_empty()
    urls = _urls(spark, 0, 50)
    assert bloom.filter_new(urls, urls.limit(0)).count() == 50


def _seed_rows(pdf):
    return [
        {
            "url": r.url,
            "priority_type": r.priority_type,
            "recency_ts": r.recency_ts.to_pydatetime() if r.recency_ts is not None else None,
        }
        for r in pdf.itertuples(index=False)
    ]


def _visits(engine):
    return [
        (r["seq"], r["url"], r["scheduled_ms"], r["batch_id"])
        for r in engine.visit_log().orderBy("seq").collect()
    ]


def test_engine_grows_mid_crawl_and_resumes_exactly(spark, tmp_path):
    """One bucket, ~5k visits in batches of 700 arrivals: the bucket
    passes the bound mid-crawl, and the last batches re-discover
    batch-0 urls after it has. The visit log and URL-seen set equal the
    replay oracle, every ledger row reports the filter's health, and a
    run killed right after the growth batch resumes to the
    uninterrupted run — also when the next batch had already written
    its visit-log dir and bloom bits, but not its ledger row."""
    pdf = corpus.gen_seeds_pdf(1700, seed=5)
    pdf = pd.concat([pdf, pdf.iloc[:300]], ignore_index=True)
    pdf["arrival_seq"] = range(len(pdf))
    seeds = spark.createDataFrame(pdf)
    config = EngineConfig(batch_size=700, bloom_buckets=1)
    full = CrawlEngine(spark, str(tmp_path / "full"), config)
    rows = full.run_seed_list(seeds)

    oracle = replay(_seed_rows(pdf), batch_size=700)
    want = [(v["seq"], v["url"], v["scheduled_ms"], v["batch_id"]) for v in oracle.visits]
    assert _visits(full) == want
    assert {r["url"] for r in full.url_seen().collect()} == oracle.url_seen

    for row in rows:
        assert set(HEALTH) <= set(row)
        assert row["urlseen_fp_est"] <= FP_BOUND
    grown = [row["batch_id"] for row in rows if row["urlseen_grown"]]
    assert grown and 0 < grown[0] < len(rows) - 1
    assert rows[-1]["urlseen_bits"] > FLOOR_BITS

    root = str(tmp_path / "killed")
    cut = (grown[0] + 1) * 700 - 1
    CrawlEngine(spark, root, config).run_seed_list(seeds, max_arrival=cut)
    # the next batch's visit-log write and bloom update landed, its
    # ledger row did not; the full run's final bloom is a superset of
    # that batch's, so every one of its urls is maybe-seen
    partial = f"batch_id={grown[0] + 1}"
    shutil.copytree(
        os.path.join(full.root, "visit_log", partial), os.path.join(root, "visit_log", partial)
    )
    shutil.copytree(full.bloom.dir, os.path.join(root, "urlseen"), dirs_exist_ok=True)
    resumed = CrawlEngine(spark, root, config)
    resumed.run_seed_list(seeds)
    assert _visits(resumed) == want
