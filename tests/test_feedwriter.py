"""Property tests for streaming/feedwriter.py — the round-4 core
scaffolding every streaming contract query's arrival feed now builds
on. The stream suites pin end-to-end behavior; these pin the writer's
own invariants directly: exact global ranks without a global sort,
one physical file per logical arrival file, mtime ordering, and
lossless content.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gepris_spark import cacheutil
from gepris_spark.streaming import feedwriter as FW


def _random_events(n: int, seed: int) -> pd.DataFrame:
    import numpy as np

    rng = np.random.RandomState(seed)
    ts = pd.Timestamp("2024-03-01") + pd.to_timedelta(
        rng.randint(0, 10**6, size=n), unit="s"
    )
    return pd.DataFrame(
        {
            "event_id": rng.permutation(n).astype("int64"),
            "ts": ts,
            "user_id": rng.randint(0, 7, size=n).astype("int64"),
            "value": rng.uniform(0, 10, size=n).round(4),
        }
    )


@pytest.mark.parametrize("n,seed", [(257, 1), (1000, 7)])
def test_global_rank_matches_sorted_order(spark, n, seed):
    pdf = _random_events(n, seed)
    df = FW.as_events_df(spark, pdf, ["event_id", "ts", "user_id", "value"])
    with cacheutil.scope():
        ranked, total = FW.with_global_rank(df, ["ts", "event_id"])
        got = (
            ranked.select("event_id", "_r").toPandas().sort_values("_r").reset_index(drop=True)
        )
    assert total == n
    want = (
        pdf.sort_values(["ts", "event_id"], kind="mergesort")
        .reset_index(drop=True)["event_id"]
        .tolist()
    )
    assert got["event_id"].tolist() == want
    assert got["_r"].tolist() == list(range(n))


def test_write_numbered_files_one_file_per_slot_mtime_ordered(spark, tmp_path):
    pdf = _random_events(503, 3)
    schema = "event_id long, ts timestamp, user_id long, value double"
    cols = ["event_id", "ts", "user_id", "value"]
    df = FW.as_events_df(spark, pdf, cols)
    n_files = 5
    src = str(tmp_path / "arrivals")
    with cacheutil.scope():
        ranked, n = FW.with_global_rank(df, ["ts", "event_id"])
        assigned = ranked.withColumn("_file", FW.contiguous_file_expr(n, n_files))
        want_per_file = {
            r["_file"]: r["c"]
            for r in assigned.groupBy("_file").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        FW.write_numbered_files(assigned, src, n_files, cols, schema)
    files = sorted(glob.glob(os.path.join(src, "arrival_*.parquet")))
    assert len(files) == n_files  # exactly one physical file per slot
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == n_files
    total = 0
    for i, f in enumerate(files):
        part = pd.read_parquet(f)
        assert len(part) == want_per_file.get(i, 0)
        total += len(part)
    assert total == len(pdf)
    # lossless: the union of the files is exactly the input
    readback = pd.concat([pd.read_parquet(f) for f in files]).sort_values("event_id")
    assert readback["event_id"].tolist() == sorted(pdf["event_id"].tolist())


def test_empty_slot_gets_empty_file_with_schema(spark, tmp_path):
    """n_rows < n_files leaves logical slots empty — the writer must
    still emit a parquet with the reader schema for each (batch
    numbering is positional)."""
    pdf = _random_events(2, 9)
    schema = "event_id long, ts timestamp, user_id long, value double"
    cols = ["event_id", "ts", "user_id", "value"]
    df = FW.as_events_df(spark, pdf, cols)
    src = str(tmp_path / "arrivals")
    with cacheutil.scope():
        ranked, n = FW.with_global_rank(df, ["ts", "event_id"])
        assigned = ranked.withColumn("_file", FW.contiguous_file_expr(n, 4))
        FW.write_numbered_files(assigned, src, 4, cols, schema)
    files = sorted(glob.glob(os.path.join(src, "arrival_*.parquet")))
    assert len(files) == 4
    sizes = [len(pd.read_parquet(f)) for f in files]
    assert sum(sizes) == 2 and sizes.count(0) == 2
    for f in files:
        assert list(pd.read_parquet(f).columns) == cols


def test_reused_root_with_stale_arrival_files_is_cleared(spark, tmp_path):
    """Reusing a feed root that already holds arrival files — a larger
    prior n_files AND the pre-round-4 unpadded arrival_{i}.parquet
    naming — must not leave stale files for FileStreamSource to ingest
    (round-4 advice: silent feed-row duplication)."""
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    schema = "event_id long, ts timestamp, user_id long, value double"
    cols = ["event_id", "ts", "user_id", "value"]
    stale_pdf = _random_events(10, 11)
    for name in ["arrival_0.parquet", "arrival_00007.parquet", "arrival_00009.parquet"]:
        stale_pdf.to_parquet(os.path.join(src, name))
    pdf = _random_events(101, 13)
    df = FW.as_events_df(spark, pdf, cols)
    with cacheutil.scope():
        ranked, n = FW.with_global_rank(df, ["ts", "event_id"])
        assigned = ranked.withColumn("_file", FW.contiguous_file_expr(n, 3))
        FW.write_numbered_files(assigned, src, 3, cols, schema)
    files = sorted(glob.glob(os.path.join(src, "arrival_*.parquet")))
    assert [os.path.basename(f) for f in files] == [
        f"arrival_{i:05d}.parquet" for i in range(3)
    ]
    readback = pd.concat([pd.read_parquet(f) for f in files])
    assert sorted(readback["event_id"].tolist()) == sorted(pdf["event_id"].tolist())


def test_stale_arrival_directory_is_cleared(spark, tmp_path):
    """A stale arrival entry shaped like a Spark parquet write (a
    directory of part files) is removed too, not an error."""
    src = str(tmp_path / "arrivals")
    stale_dir = os.path.join(src, "arrival_00007.parquet")
    os.makedirs(stale_dir)
    _random_events(10, 11).to_parquet(os.path.join(stale_dir, "part-00000.parquet"))
    schema = "event_id long, ts timestamp, user_id long, value double"
    cols = ["event_id", "ts", "user_id", "value"]
    pdf = _random_events(40, 17)
    df = FW.as_events_df(spark, pdf, cols)
    with cacheutil.scope():
        ranked, n = FW.with_global_rank(df, ["ts", "event_id"])
        assigned = ranked.withColumn("_file", FW.contiguous_file_expr(n, 2))
        FW.write_numbered_files(assigned, src, 2, cols, schema)
    assert sorted(os.listdir(src)) == [f"arrival_{i:05d}.parquet" for i in range(2)]
