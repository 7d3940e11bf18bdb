"""`cli cache evict` — reference parity with cache_control.py:21-37
`delete_detail_cache`: targeted removal of one (id, context)'s cached
detail pages (both languages) from the page store, forcing a refetch
through the S8 read-through on the next batch (round-3 verdict ask #8).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from gepris_spark.cli import main
from gepris_spark.operators import fetchparse
from gepris_spark.operators.history import History
from gepris_spark.sources import corpus
from gepris_spark.streaming.microbatch import CrawlEngine, EngineConfig


@pytest.fixture(scope="module")
def small_corpus():
    seeds = corpus.gen_seeds_pdf(12, seed=42)
    images = corpus.gen_images_pdf(4, seed=42)
    pages = corpus.gen_pages_pdf(seeds, images, seed=42)
    return seeds, pages


def _scheduled(spark, seeds):
    uniq = seeds.dropna(subset=["item_id"]).drop_duplicates(subset=["url"])
    uniq = uniq[~uniq["url"].str.contains(r"[?#]")]
    rows = [(r.url, r.context, int(r.item_id), "de") for r in uniq.itertuples(index=False)]
    return spark.createDataFrame(
        rows, "url string, context string, item_id long, language string"
    )


def _runs(spark):
    return spark.createDataFrame(
        [(1, "2021-10-18T06:00:00")], "id long, run_started_at string"
    ).withColumn("run_started_at", F.to_timestamp("run_started_at"))


def _history_rows(spark, store_root):
    class _S:  # History only needs .store
        pass

    engine = CrawlEngine(spark, store_root, EngineConfig(bloom_buckets=2))
    return {
        (r["id"], r["context"]): r["status"]
        for r in History(spark, engine.store).read().collect()
    }


def test_evict_forces_refetch_then_history_row(spark, tmp_path, small_corpus, capsys):
    seeds, pages = small_corpus
    pages_df = spark.createDataFrame(pages)
    store_path = str(tmp_path / "pagestore")
    pages_df.write.parquet(store_path)
    sched = _scheduled(spark, seeds)
    runs = _runs(spark)

    # baseline: full store, corpus-join fetch
    base_engine = CrawlEngine(
        spark, str(tmp_path / "base"), EngineConfig(bloom_buckets=2)
    )
    base_engine.run_details_batch(1, sched, spark.read.parquet(store_path), runs)
    base_hist = _history_rows(spark, str(tmp_path / "base"))
    target = next(
        (i, c) for (i, c), s in sorted(base_hist.items()) if c == "projekt" and s == "success"
    )

    # CLI evict (in-place staged swap), both languages
    assert (
        main(["cache", "evict", "--pages", store_path, "--id", str(target[0]), "--context", "projekt"])
        == 0
    )
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["evicted"] >= 1 and rec["id"] == target[0]
    # the caller's session survives (the _stop_unless_owned contract)
    assert spark.range(1).count() == 1

    evicted_store = spark.read.parquet(store_path)
    # cache-miss proof: the evicted id's pages are gone from the store
    pat = f"/gepris/projekt/{target[0]}$"
    assert evicted_store.where(F.col("url").rlike(pat)).count() == 0
    assert evicted_store.count() == pages_df.count() - rec["evicted"]

    # next batch through the S8 read-through: cache miss falls through
    # to the live fetch (here the full corpus standing in for the live
    # site) -> the refetched page parses and lands in history exactly
    # as in the baseline run
    def live(missed):
        return fetchparse.fetch_pages(missed, pages_df)

    rt_engine = CrawlEngine(
        spark, str(tmp_path / "rt"), EngineConfig(bloom_buckets=2)
    )
    rt_engine.run_details_batch(
        1,
        sched,
        evicted_store,
        runs,
        fetch=lambda s: fetchparse.read_through_fetch(s, evicted_store, live),
    )
    rt_hist = _history_rows(spark, str(tmp_path / "rt"))
    assert rt_hist[target] == "success"  # refetched -> history row
    assert rt_hist == base_hist  # every other id served from cache, identical

    # WITHOUT the live fallback the evicted id degrades to an error row
    # (connection-failure route) — proving the miss is real, not a
    # no-op eviction
    err_engine = CrawlEngine(
        spark, str(tmp_path / "err"), EngineConfig(bloom_buckets=2)
    )
    err_engine.run_details_batch(1, sched, evicted_store, runs)
    err_hist = _history_rows(spark, str(tmp_path / "err"))
    assert err_hist[target] == "error"


def test_evict_to_out_leaves_source_untouched(spark, tmp_path, small_corpus, capsys):
    seeds, pages = small_corpus
    src = str(tmp_path / "src_store")
    out = str(tmp_path / "out_store")
    spark.createDataFrame(pages).write.parquet(src)
    some_id = int(
        next(
            r.item_id
            for r in seeds.dropna(subset=["item_id"]).itertuples(index=False)
            if r.context == "projekt"
        )
    )
    assert main(["cache", "evict", "--pages", src, "--id", str(some_id), "--out", out]) == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    pat = f"/gepris/projekt/{some_id}$"
    assert spark.read.parquet(src).where(F.col("url").rlike(pat)).count() == rec["evicted"]
    assert spark.read.parquet(out).where(F.col("url").rlike(pat)).count() == 0


def test_evict_zero_matches_skips_rewrite(spark, tmp_path, small_corpus, capsys):
    """No matching pages -> no staged swap at all: the store's physical
    files are untouched (same paths + mtimes), nothing is destroyed on
    the evicted == 0 path (round-4 advice: crash-safe evict)."""
    _, pages = small_corpus
    src = str(tmp_path / "zero_store")
    spark.createDataFrame(pages).write.parquet(src)
    import glob as _glob
    import os as _os

    before = {f: _os.path.getmtime(f) for f in _glob.glob(src + "/*.parquet")}
    assert main(["cache", "evict", "--pages", src, "--id", "999999999"]) == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["evicted"] == 0
    after = {f: _os.path.getmtime(f) for f in _glob.glob(src + "/*.parquet")}
    assert after == before  # identical files — the rewrite never ran
    assert not _os.path.exists(src + ".evict-staging")
    assert not _os.path.exists(src + ".evict-old")


def test_evict_survives_stale_backup_from_crashed_run(
    spark, tmp_path, small_corpus, capsys
):
    """A leftover non-empty .evict-old dir from a crashed prior run must
    not make os.rename(base, backup) raise; the evict clears it first
    (round-4 advice: crash-safe evict)."""
    seeds, pages = small_corpus
    src = str(tmp_path / "crashed_store")
    spark.createDataFrame(pages).write.parquet(src)
    import os as _os

    stale = src + ".evict-old"
    _os.makedirs(stale, exist_ok=True)
    with open(_os.path.join(stale, "junk.parquet"), "w") as fh:
        fh.write("not parquet")
    some_id = int(
        next(
            r.item_id
            for r in seeds.dropna(subset=["item_id"]).itertuples(index=False)
            if r.context == "projekt"
        )
    )
    assert main(["cache", "evict", "--pages", src, "--id", str(some_id)]) == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["evicted"] >= 1
    pat = f"/gepris/projekt/{some_id}$"
    store = spark.read.parquet(src)
    assert store.where(F.col("url").rlike(pat)).count() == 0
    assert not _os.path.exists(stale)  # backup deleted after validated swap
