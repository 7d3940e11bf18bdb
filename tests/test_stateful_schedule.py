"""applyInPandasWithState politeness sequencing
(streaming/statefulschedule.py): host_seq continuity across
micro-batches through the checkpointed state store, and single-batch
parity with the batch scheduler."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gepris_spark.operators import politeness
from gepris_spark.sources import corpus
from gepris_spark.streaming.statefulschedule import stateful_schedule

_COLS = ["url", "host", "context", "item_id", "priority_type", "recency_ts"]


def _frontier_pdf(seed: int, n: int):
    pdf = corpus.gen_seeds_pdf(n, seed=seed)
    pdf = pdf.drop_duplicates(subset=["url"])
    pdf = pdf[~pdf["url"].str.contains(r"[?#]")].dropna(subset=["item_id"])
    pdf = pdf.astype({"item_id": "int64", "priority_type": "int64"})
    return pdf[_COLS]


def _run_stream(spark, src_dir: str, ckpt: str, delay_ms: int = 1000, name: str = "sched"):
    frontier = (
        spark.readStream.schema(
            "url string, host string, context string, item_id long,"
            " priority_type long, recency_ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)  # one arrival file per micro-batch
        .parquet(src_dir)
    )
    out = stateful_schedule(frontier, delay_ms=delay_ms)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_host_seq_continuous_across_microbatches(spark, tmp_path):
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    f1 = _frontier_pdf(seed=42, n=25)
    f2 = _frontier_pdf(seed=99, n=25)
    spark.createDataFrame(f1).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(f2).coalesce(1).write.parquet(src + "/f2")
    # flatten: file source wants files in one dir
    import glob
    import shutil

    for i, sub in enumerate(("f1", "f2")):
        for j, p in enumerate(glob.glob(f"{src}/{sub}/*.parquet")):
            shutil.move(p, f"{src}/arrival_{i}_{j}.parquet")
        shutil.rmtree(f"{src}/{sub}")

    got = _run_stream(spark, src, str(tmp_path / "ckpt"), name="sched_cont").toPandas()
    total = len(f1) + len(f2)
    assert len(got) == total
    for host, g in got.groupby("host"):
        seqs = sorted(g["host_seq"])
        # continuity: 0..n-1 with no reset at the batch boundary
        assert seqs == list(range(len(g))), host
        assert (g["scheduled_ms"] == g["host_seq"] * 1000).all()


def test_single_batch_parity_with_batch_scheduler(spark, tmp_path):
    """One arrival file == one micro-batch == the batch scheduler's
    assignment (same priority key, zero carried state)."""
    src = str(tmp_path / "arrivals1")
    pdf = _frontier_pdf(seed=7, n=40)
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)

    got = _run_stream(spark, src, str(tmp_path / "ckpt1"), name="sched_par").toPandas()
    caches: list = []
    batch = politeness.assign_schedule(
        spark.createDataFrame(pdf).withColumn("delay_ms", F.lit(1000).cast("long")),
        num_partitions=spark.sparkContext.defaultParallelism,
        cache_registry=caches,
    )
    exp = batch.select("url", "host_seq").toPandas()
    for df in caches:
        df.unpersist()
    merged = got.merge(exp, on="url", suffixes=("_s", "_b"))
    assert len(merged) == len(pdf)
    assert (merged["host_seq_s"] == merged["host_seq_b"]).all()


def test_resume_from_checkpoint_continues_state(spark, tmp_path):
    """Kill-resume: a second stream run over NEW files with the SAME
    checkpoint continues each host's sequence — the streaming twin of
    the engine's ledger resume. (File sink: the memory sink does not
    support checkpoint recovery.)"""
    import glob
    import shutil

    src = str(tmp_path / "arrivals2")
    sink = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    os.makedirs(src)

    def add_file(pdf, name):
        spark.createDataFrame(pdf).coalesce(1).write.parquet(src + "/tmp")
        for p in glob.glob(src + "/tmp/*.parquet"):
            shutil.move(p, f"{src}/{name}.parquet")
        shutil.rmtree(src + "/tmp")

    def run_once():
        frontier = (
            spark.readStream.schema(
                "url string, host string, context string, item_id long,"
                " priority_type long, recency_ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stateful_schedule(frontier)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink).toPandas()

    f1 = _frontier_pdf(seed=42, n=20)
    add_file(f1, "a0")
    first = run_once()
    assert len(first) == len(f1)

    f2 = _frontier_pdf(seed=123, n=20).copy()
    # disjoint url space from f1 (the scheduler sequences arrivals; it
    # is not the URL-seen filter, so overlapping urls would re-schedule)
    f2["url"] = f2["url"] + "777"
    f2["item_id"] = f2["item_id"] * 10000 + 777
    add_file(f2, "a1")
    both = run_once()
    # resume processed ONLY the new file (exactly-once per file)
    assert len(both) == len(f1) + len(f2)
    second = both.merge(first[["url"]], on="url", how="left", indicator=True)
    second = second[second["_merge"] == "left_only"]
    assert len(second) == len(f2)
    base = first.groupby("host")["host_seq"].max().to_dict()
    for host, g in second.groupby("host"):
        start = base.get(host, -1) + 1
        assert sorted(g["host_seq"]) == list(range(start, start + len(g))), host
