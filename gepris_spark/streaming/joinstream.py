"""Watermarked STREAM-STREAM interval join — the one first-class
Structured Streaming operator the engine had not yet exercised.

The batch contract query `events_range_join` (plans/trainprep.py)
attaches every click/purchase to the 2-hour attribution window of the
same user's `view` events via the binned equi-join construction. In
streaming deployment the two sides arrive as live feeds (the crawl
analogue: fetch-completion events joining discovery events within a
scheduling horizon), and Spark's stream-stream join is the native
operator: both sides watermarked, the event-time range condition lets
the state store evict each buffered row as soon as the opposite
side's watermark passes its last possible match.

Stream = batch is the contract: the joined pairs drain to a memory
sink, the SAME micro-unit rollup as the batch query runs as a batch
post-pass, and the result is graded against the SAME DuckDB oracle
(SQL_EVENTS_RANGE_JOIN) — for ANY arrival-file cut
(tests/test_join_stream.py).

Semantics notes:
* INNER stream-stream join emits a pair in the micro-batch where the
  match completes — no watermark-withheld tail, so no flush sentinel
  is needed (unlike the session/aggregation sinks, which hold state
  until the watermark passes: streaming/sessionstream.py).
* State eviction is provably safe under event-time-ordered arrivals:
  a buffered view with window [v_ts, v_ts + 2h) is dropped only when
  the probe-side watermark (max seen e_ts − 2h) passes v_ts + 2h,
  i.e. after every probe that could land inside the window has been
  seen. The watermark delay equals the join horizon — the standard
  sizing rule for interval joins.
* State is keyed by user_id — the same linear keying as every
  per-user operator here; the range condition bounds each key's
  buffer to the 4-hour in-flight horizon, so state is
  O(arrival rate × horizon), independent of history length.

The arrival-file split is test scaffolding (event-time-ordered
chunks, the shape a log collector delivers); in production both
sides are append-only ledgers read as file streams.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_N_ARRIVAL_FILES = 3
# watermark delay = the attribution-window width (see eviction proof
# in the module docstring)
_WATERMARK = "2 hours"
_WINDOW_SQL = "INTERVAL 2 HOURS"
# watermarks demand TIMESTAMP (not NTZ); session tz is pinned UTC so
# the naive parquet values keep their wall reading (sessionstream.py)
_ARRIVAL_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


_FEED_COLS = ["event_id", "ts", "user_id", "event_type", "value"]


def write_arrival_files(
    events, root: str, n_files: int = _N_ARRIVAL_FILES, sentinels: bool = False
) -> str:
    """Split the event log into event-time-ordered arrival files; both
    join sides read the same feed and filter their event types, exactly
    like two consumers of one log topic. Fully distributed via
    streaming/feedwriter.py; `events` may be a Spark DataFrame
    (contract path) or a pandas frame (tests).

    `sentinels=True` appends TWO watermark-flush rows to the final
    file — one 'view' and one 'click', user_id = -1, 30/33 days past
    the corpus max (3 days apart so they cannot match each other) —
    required by the LEFT-OUTER join variant: outer null rows are
    withheld until the JOIN watermark (the min across both sides)
    passes the view's window, and each side's watermark only advances
    on rows that survive its own event-type filter. The INNER variant
    needs no sentinel (pairs emit as matches complete)."""
    import datetime

    from pyspark.sql import SparkSession

    from gepris_spark import cacheutil
    from gepris_spark.streaming import feedwriter as FW

    spark = SparkSession.getActiveSession()
    src = os.path.join(root, "arrivals")
    df = FW.as_events_df(spark, events, _FEED_COLS)
    with cacheutil.scope():
        ranked, n = FW.with_global_rank(df, ["ts", "event_id"])
        assigned = ranked.withColumn(
            "_file", FW.contiguous_file_expr(n, n_files)
        ).select("_file", *_FEED_COLS)
        if sentinels:
            max_ts = ranked.agg(F.max("ts")).collect()[0][0]
            sent = spark.createDataFrame(
                [
                    (-1, max_ts + datetime.timedelta(days=30), -1, "view", 0.0),
                    (-2, max_ts + datetime.timedelta(days=33), -1, "click", 0.0),
                ],
                _ARRIVAL_SCHEMA,
            ).withColumn("_file", F.lit(n_files - 1).cast("int"))
            assigned = assigned.unionByName(sent)
        FW.write_numbered_files(assigned, src, n_files, _FEED_COLS, _ARRIVAL_SCHEMA)
    return src


def joined_pairs_stream(views: DataFrame, probes: DataFrame) -> DataFrame:
    """The join itself: equi-key on user plus the event-time range
    residual. Kept as a function so tests can audit the streaming plan
    (StreamingSymmetricHashJoin, state watermark present)."""
    return probes.join(
        views,
        F.expr(f"user_id = v_user AND v_ts <= e_ts AND e_ts < v_ts + {_WINDOW_SQL}"),
    )


def run_range_join_stream(
    spark: SparkSession,
    events,
    root: str | None = None,
    query_name: str = "range_join_stream_sink",
    n_files: int = _N_ARRIVAL_FILES,
) -> DataFrame:
    """Drive the stream-stream join over arrival files with
    availableNow, drain the matched pairs, and run the batch rollup —
    output identical to q_events_range_join (same oracle). `events`:
    Spark DataFrame (contract path) or pandas frame (tests)."""
    root = root or tempfile.mkdtemp(prefix="gepris_joinstream_")
    src = write_arrival_files(events, root, n_files=n_files)

    def feed() -> DataFrame:
        return (
            spark.readStream.schema(_ARRIVAL_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    views = (
        feed()
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("window_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", _WATERMARK)
    )
    probes = (
        feed()
        .where(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "user_id", F.col("ts").alias("e_ts"), "value")
        .withWatermark("e_ts", _WATERMARK)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            joined_pairs_stream(views, probes)
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
    return (
        spark.table(query_name)
        .groupBy("window_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias(
                "attributed_value_micro"
            ),
            F.max("event_id").alias("latest_event_id"),
        )
        .orderBy("window_id")
    )


def run_range_join_outer_stream(
    spark: SparkSession,
    events,
    root: str | None = None,
    query_name: str = "range_join_outer_stream_sink",
    n_files: int = _N_ARRIVAL_FILES,
) -> DataFrame:
    """The LEFT-OUTER stream-stream interval join — the stateful
    semantic the inner variant cannot show: a buffered view whose
    attribution window expires WITHOUT a match is emitted as a
    null-padded row when the join watermark passes its window end
    (state-expiry emission), so every view appears in the output
    exactly once-per-group — attributed or not. The crawl analogue:
    discovery events that never see a fetch-completion within the
    scheduling horizon surface as explicit misses instead of silently
    vanishing (the frontier-starvation signal).

    Same construction as run_range_join_stream plus the two flush
    sentinels (see write_arrival_files): with availableNow the query
    stops at end of input, and outer rows whose expiry the watermark
    never crossed would be withheld — the far-future view+click pair
    pushes BOTH sides' watermarks past every real window. Graded
    against the batch LEFT JOIN oracle (SQL_EVENTS_RANGE_JOIN_OUTER):
    matched groups must equal the inner rollup, unmatched views carry
    n_attributed = 0 / value 0 / latest_event_id -1; invariant to the
    arrival cut (tests/test_join_stream.py)."""
    root = root or tempfile.mkdtemp(prefix="gepris_joinouter_")
    src = write_arrival_files(events, root, n_files=n_files, sentinels=True)

    def feed() -> DataFrame:
        return (
            spark.readStream.schema(_ARRIVAL_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    views = (
        feed()
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("window_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", _WATERMARK)
    )
    probes = (
        feed()
        .where(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "user_id", F.col("ts").alias("e_ts"), "value")
        .withWatermark("e_ts", _WATERMARK)
    )
    joined = views.join(
        probes,
        F.expr(f"v_user = user_id AND v_ts <= e_ts AND e_ts < v_ts + {_WINDOW_SQL}"),
        "leftOuter",
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        spark.table(query_name)
        .where(F.col("v_user") >= 0)  # drop the sentinel view's own row
        .groupBy("window_id", F.col("v_user").alias("user_id"))
        .agg(
            F.count(F.col("event_id")).alias("n_attributed"),
            F.coalesce(
                F.sum(F.round(F.col("value") * 1_000_000).cast("long")), F.lit(0)
            ).cast("long").alias("attributed_value_micro"),
            F.coalesce(F.max("event_id"), F.lit(-1)).alias("latest_event_id"),
        )
        .orderBy("window_id")
    )


def enriched_static_stream(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """The STREAM-STATIC join itself — Spark's third streaming join
    class next to the inner and left-outer stream-stream joins above:
    each micro-batch of the unbounded side hash-joins against the
    bounded dimension snapshot, stateless (no watermark, no join
    state, rows emit in their arrival batch). The dimension is
    broadcast — the standard shape for enriching a fetch/event log
    with a host/user dimension table. Kept as a function so tests can
    audit the streaming plan (BroadcastHashJoin against the static
    relation inside the micro-batch plan)."""
    return stream.join(F.broadcast(dim), "user_id")


def run_enrich_static_stream(
    spark: SparkSession,
    events,
    dim: DataFrame,
    root: str | None = None,
    query_name: str = "enrich_static_stream_sink",
    n_files: int = _N_ARRIVAL_FILES,
) -> DataFrame:
    """Drive the stream-static enrichment over arrival files with
    availableNow and roll the drained rows up per (segment, type) —
    stateless streaming, so no sentinel and no watermark; output must
    equal the plain batch join + rollup for ANY arrival cut. `dim`:
    a (user_id, segment) dimension snapshot."""
    root = root or tempfile.mkdtemp(prefix="gepris_enrichstream_")
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
            enriched_static_stream(stream, dim)
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
    return (
        spark.table(query_name)
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias("value_micro"),
        )
        .orderBy("segment", "event_type")
    )
