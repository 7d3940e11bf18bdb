"""Per-stage timing of the crawl engine's micro-batch: run the
q_crawl_aimd shape (2 tiny batches with a latency feed) twice warm and
print each ledger row's stage_sec, then a single larger replay batch
for the throughput-path picture."""

from __future__ import annotations

import json
import tempfile
import time

from pyspark.sql import functions as F

from gepris_spark.session import get_spark
from gepris_spark.sources import corpus
from gepris_spark.streaming.microbatch import CrawlEngine, EngineConfig


def aimd_once(spark):
    seeds_pdf = corpus.gen_seeds_pdf(30, seed=42)
    latencies = spark.createDataFrame(corpus.gen_latencies_pdf(seeds_pdf, seed=42))
    engine = CrawlEngine(
        spark,
        tempfile.mkdtemp(prefix="prof_aimd_"),
        EngineConfig(batch_size=46, bloom_buckets=4, detailed_metrics=False),
    )
    t0 = time.monotonic()
    rows = engine.run_seed_list(spark.createDataFrame(seeds_pdf), latencies=latencies)
    n = engine.visit_log().count()
    dt = time.monotonic() - t0
    for r in rows:
        print(f"  batch{r['batch_id']}: {json.dumps(r['stage_sec'])}")
    print(f"aimd 2-batch total: {dt:.2f}s visits={n}")


def replay_once(spark, n_seeds=20000):
    pdf = corpus.gen_seeds_pdf(n_seeds, seed=7)
    pdf = pdf.reset_index(drop=True)
    pdf["arrival_seq"] = pdf.index.astype("int64")
    engine = CrawlEngine(
        spark,
        tempfile.mkdtemp(prefix="prof_replay_"),
        EngineConfig(batch_size=n_seeds, detailed_metrics=True),
    )
    t0 = time.monotonic()
    rows = engine.run_seed_list(spark.createDataFrame(pdf))
    dt = time.monotonic() - t0
    for r in rows:
        print(f"  batch{r['batch_id']}: {json.dumps(r['stage_sec'])}")
    print(f"replay 1-batch {n_seeds} seeds: {dt:.2f}s ({r['n_visited']} visits)")


if __name__ == "__main__":
    spark = get_spark("prof_microbatch", master="local[4]", shuffle_partitions=32)
    for rep in range(2):
        aimd_once(spark)
    for rep in range(2):
        replay_once(spark)
    spark.stop()
