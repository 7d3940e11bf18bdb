"""Streaming gap-sessionization with Spark's NATIVE session window.

The batch contract query `events_sessionize` (plans/trainprep.py)
computes 30-minute-gap sessions with lag + cumsum. Structured
Streaming has a first-class operator for exactly this —
`F.session_window(ts, gap)` — whose state store merges windows as
events arrive and emits a session once the event-time watermark
passes its end. This module runs the SAME sessionization as a stream
and is graded against the SAME DuckDB oracle as the batch query:
stream = batch equality is the contract.

Boundary semantics: the native operator starts a new session when the
gap is >= gapDuration (window end is exclusive at last_ts + gap); the
batch query breaks on gap > gapDuration. They diverge only on a gap
of EXACTLY 30 minutes — verified absent from the event corpus at
every sf (tests/test_sessionize_stream.py asserts it), and at
microsecond resolution an exact collision is a measure-zero event.

Watermark-flush sentinel: with `availableNow` the query stops when
input is exhausted, and append-mode session state whose window end
the watermark never passed would be silently withheld — the classic
tail-loss gotcha. The arrival prep therefore appends ONE sentinel
event (user_id = -1) 30 days past the corpus maximum to the final
arrival file; it pushes the global watermark past every real
session's end, its own session is the only one withheld, and the
post-pass drops the sentinel user anyway.

Scale notes: state is keyed by (user_id, window) — the same linear,
skew-salted-if-needed keying as every per-user operator here; the
watermark bounds state size to the in-flight sessions of the delay
horizon. The arrival-file split is test scaffolding (event-time-
ordered chunks, the shape a log collector delivers); in production
the source is an append-only event ledger read as a file stream
(`spark.readStream` over its batch directories).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_GAP = "30 minutes"
_WATERMARK = "1 hour"
_N_ARRIVAL_FILES = 3
# watermarks demand TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE for
# NTZ); the session tz is pinned UTC (session.py) so the naive parquet
# values keep their wall reading and the oracle compare tz-normalizes
_ARRIVAL_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


_FEED_COLS = ["event_id", "ts", "user_id", "value"]


def write_arrival_files(events, root: str, n_files: int = _N_ARRIVAL_FILES) -> str:
    """Split the event log into event-time-ordered arrival files + the
    watermark-flush sentinel; returns the source dir. Fully
    distributed (streaming/feedwriter.py): global rank via the
    range-partition + offset-map pattern, `_file = r * n_files div n`
    (the formula the oracle replays), one physical parquet per logical
    file, mtimes in arrival order. `events` may be a Spark DataFrame
    (contract path — nothing is collected) or a pandas frame (test
    fixtures)."""
    import datetime

    from gepris_spark.streaming import feedwriter as FW

    from gepris_spark import cacheutil

    spark = SparkSession.getActiveSession()
    src = os.path.join(root, "arrivals")
    df = FW.as_events_df(spark, events, _FEED_COLS)
    with cacheutil.scope():
        ranked, n = FW.with_global_rank(df, ["ts", "event_id"])
        max_ts = ranked.agg(F.max("ts")).collect()[0][0]
        assigned = ranked.withColumn("_file", FW.contiguous_file_expr(n, n_files))
        sentinel = spark.createDataFrame(
            [(-1, max_ts + datetime.timedelta(days=30), -1, 0.0)], _ARRIVAL_SCHEMA
        ).withColumn("_file", F.lit(n_files - 1).cast("int"))
        FW.write_numbered_files(
            assigned.select("_file", *_FEED_COLS).unionByName(sentinel),
            src,
            n_files,
            _FEED_COLS,
            _ARRIVAL_SCHEMA,
        )
    return src


def session_stream(stream: DataFrame) -> DataFrame:
    """The streaming sessionization itself: watermark + native session
    window, per-session aggregates matching the batch query's output
    columns (session_seq is assigned by the batch post-pass — it needs
    the per-user total order, which only exists once sessions close)."""
    return (
        stream.withWatermark("ts", _WATERMARK)
        .groupBy("user_id", F.session_window("ts", _GAP).alias("sw"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .drop("sw")
    )


def run_sessionize_stream(
    spark: SparkSession,
    events,
    root: str | None = None,
    query_name: str = "sessionize_stream_sink",
    n_files: int = _N_ARRIVAL_FILES,
) -> DataFrame:
    """Drive the stream over arrival files with availableNow, drain the
    memory sink, and assign session_seq (per-user rank by start time —
    identical to the batch cumsum index because sessions are disjoint
    in time). Returns the batch DataFrame of closed sessions.
    `events`: Spark DataFrame (contract path) or pandas frame (tests).
    """
    root = root or tempfile.mkdtemp(prefix="gepris_sessstream_")
    src = write_arrival_files(events, root, n_files=n_files)
    stream = (
        spark.readStream.schema(_ARRIVAL_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            session_stream(stream)
            .writeStream.format("memory")
            .queryName(query_name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    w = Window.partitionBy("user_id").orderBy("session_start")
    return (
        spark.table(query_name)
        .where(F.col("user_id") >= 0)
        .withColumn("session_seq", F.row_number().over(w).cast("long"))
        .select("user_id", "session_seq", "session_start", "session_end", "n_events", "total_value")
        .orderBy("user_id", "session_seq")
    )
