"""Per-host politeness scheduling (SURVEY §2.7 A4, north rule).

The reference enforces politeness at runtime (AutoThrottle AIMD delay
2s->30s, target 1 req/server, settings.py:119-126; robots.txt obeyed,
settings.py:66). Wall-clock throttling is not reproducible, so this
engine makes the schedule *logical and deterministic*: each request in
a micro-batch is assigned a `scheduled_ms` send time by a per-host
token bucket, and the crawl's visit order is BY DEFINITION the sort by
(scheduled_ms, priority, canonical url). The single-threaded replay
oracle (gepris_spark/replay.py) computes the identical schedule, which
is what makes "ordering exact-match rate" a checkable contract instead
of a wall-clock race.

Skew: gepris.dfg.de dominates the corpus (~70-100% of urls), so the
schedule never partitions by host alone. `assign_schedule`
range-partitions the batch on (host, priority key): a hot host spans
many partitions in priority order, and its per-host sequence is the
rank within a partition plus the host's row count over earlier
partitions. The per-host delay contract stays exact while no single
partition holds a hot host's whole batch.

Robots: a broadcast robots-rules table (host, disallow prefixes,
crawl_delay_ms). Disallowed urls are dropped before scheduling, and a
host's crawl delay overrides the default politeness delay — matching
ROBOTSTXT_OBEY + AutoThrottle precedence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DELAY_MS = 2000  # AutoThrottle start delay (settings.py:121)

# AIMD latency feedback (reference AutoThrottle, settings.py:119-126:
# start 2 s, max 30 s, target concurrency 1.0). Wall-clock AutoThrottle
# updates per response; a micro-batch engine assigns a batch's whole
# schedule BEFORE any of its fetches run, so the batch is the only
# observation unit that exists — the deterministic translation is
# per-(host, batch) feedback:
#
#   observed_b(h) = sum(fetch_cost_ms) DIV count  over h's batch-b
#                   fetches with a measured cost (integer mean, exact)
#   delay_{b+1}(h) = clamp((delay_b(h) + observed_b(h)) DIV 2,
#                          lo(h), AIMD_MAX_DELAY_MS)
#
# with lo(h) = the robots crawl-delay override when present else the
# 2 s start delay (target concurrency 1.0 makes the target delay equal
# the observed latency, as in the reference). All-integer arithmetic so
# the single-threaded replay oracle reproduces it bit-for-bit.
AIMD_MIN_DELAY_MS = 2000
AIMD_MAX_DELAY_MS = 30000


def aimd_next_delay(delay_ms, observed_ms, lo_ms):
    """Next per-host delay column: NULL observed (no measured fetch for
    the host this batch) leaves the delay unchanged."""
    stepped = F.floor((delay_ms + observed_ms) / F.lit(2)).cast("long")
    return F.when(
        observed_ms.isNull(), delay_ms
    ).otherwise(F.least(F.greatest(stepped, lo_ms), F.lit(AIMD_MAX_DELAY_MS).cast("long")))

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow_prefixes", T.ArrayType(T.StringType()), True),
        T.StructField("crawl_delay_ms", T.IntegerType(), True),
    ]
)


def empty_robots(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], ROBOTS_SCHEMA)


def parse_robots_txt(host: str, text: str, default_delay_ms: int = DEFAULT_DELAY_MS) -> dict:
    """Parse one robots.txt body into a robots-rules row (A4:
    ROBOTSTXT_OBEY, settings.py:66). Honors the `User-agent: *` group's
    Disallow prefixes and Crawl-delay (seconds -> ms); other UA groups
    are ignored (the reference crawls with a generic agent).
    Empty-string Disallow lines mean allow-all and are dropped."""
    disallow: list[str] = []
    crawl_delay_ms: int | None = None
    in_star_group = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key, value = key.strip().lower(), value.strip()
        if key == "user-agent":
            in_star_group = value == "*"
        elif in_star_group and key == "disallow" and value:
            disallow.append(value)
        elif in_star_group and key == "crawl-delay":
            try:
                crawl_delay_ms = int(float(value) * 1000)
            except ValueError:
                pass
    return {
        "host": host,
        "disallow_prefixes": disallow,
        "crawl_delay_ms": crawl_delay_ms if crawl_delay_ms is not None else default_delay_ms,
    }


def robots_table(spark: SparkSession, bodies: dict[str, str]) -> DataFrame:
    """Robots cache table from {host: robots.txt body} — broadcast to
    the schedule stage by apply_robots."""
    rows = [parse_robots_txt(h, t) for h, t in bodies.items()]
    return spark.createDataFrame(rows, ROBOTS_SCHEMA) if rows else empty_robots(spark)


def apply_robots(candidates: DataFrame, robots: DataFrame, url_col: str = "url") -> DataFrame:
    """Drop robots-disallowed urls; attach effective per-host delay.

    The robots table is tiny (one row per host) — broadcast join, no
    shuffle on the candidate side.
    """
    joined = candidates.join(F.broadcast(robots), "host", "left")
    path = F.regexp_replace(F.col(url_col), r"^https?://[^/]*", "")
    disallowed = F.exists(
        F.coalesce(F.col("disallow_prefixes"), F.array().cast("array<string>")),
        lambda p: path.startswith(p),
    )
    return (
        joined.where(~disallowed)
        .withColumn(
            "delay_ms",
            F.coalesce(F.col("crawl_delay_ms"), F.lit(DEFAULT_DELAY_MS)).cast("long"),
        )
        .drop("disallow_prefixes", "crawl_delay_ms")
    )


def assign_schedule(
    batch: DataFrame,
    num_partitions: int | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Token-bucket schedule assignment.

    Within each host, requests are ordered by the crawl priority
    (priority_type ASC = GEPRIS item-type rank, recency stalest-first,
    url tiebreak — the A2/A3 contract) and the k-th request is released
    at k * delay_ms (logical token bucket with one token per delay).

    Output adds: host_seq (0-based per-host position), scheduled_ms.

    Scale note: a plain `row_number() OVER (PARTITION BY host)` puts a
    hot host's entire batch in ONE shuffle partition (gepris.dfg.de is
    70-100% of the corpus). Instead the batch is range-partitioned on
    (host, priority key) — a parallel global sort in which a hot host
    spans many partitions in priority order — then
    host_seq = rank within (host, partition) + the host's cumulative
    row count over earlier partitions (a tiny (host, pid) count table,
    broadcast back). Identical semantics, no single-partition sort.

    `num_partitions` bounds the range partitioning (pass the caller's
    known batch bound — an explicit repartition count disables AQE
    coalescing, so an unsized tiny batch pays full-parallelism task
    launch). The internal persist is correctness-critical (offsets and
    ranks must see ONE partition layout); pass `cache_registry` to
    receive it for unpersisting after the final consuming action —
    without it the block stays cached for the session.
    """
    order = [
        F.col("priority_type").asc_nulls_first(),
        F.col("recency_ts").asc_nulls_first(),
        F.col("url").asc(),
    ]
    spark = batch.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    ranged = (
        batch.repartitionByRange(n, F.col("host").asc(), *order)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(ranged)
    counts = ranged.groupBy("host", "_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    cum = Window.partitionBy("host").orderBy("_pid")
    offsets = counts.withColumn(
        "_off", (F.sum("_cnt").over(cum) - F.col("_cnt")).cast("long")
    ).select("host", "_pid", "_off")
    win = Window.partitionBy("host", "_pid").orderBy(*order)
    scheduled = (
        ranged.join(F.broadcast(offsets), ["host", "_pid"])
        .withColumn(
            "host_seq",
            F.row_number().over(win).cast("long") - 1 + F.col("_off"),
        )
        .drop("_pid", "_off")
        .withColumn("scheduled_ms", F.col("host_seq") * F.col("delay_ms"))
    )
    return scheduled


def visit_order_with_count(
    scheduled: DataFrame,
    num_partitions: int | None = None,
    cache_registry: list | None = None,
) -> tuple[DataFrame, int]:
    """The crawl's total visit order: logical send time, then priority,
    then canonical url — the replay contract both engine and oracle
    compute (SURVEY §7.4 risk 1).

    Scale: a global `row_number() OVER (ORDER BY ...)` window moves the
    whole batch to ONE partition — fatal at 10^10-URL scale. Instead:
    range-partition on the sort key (parallel global sort), count rows
    per partition (tiny driver-side array), and assign
    seq = partition_offset + rank-within-partition with a window
    partitioned by partition id. The sort key ends in the unique
    canonical url, so the total order is strict and the resulting seq
    is independent of where the range boundaries land.
    """
    keys = [
        F.col("scheduled_ms").asc(),
        F.col("priority_type").asc_nulls_last(),
        F.col("url").asc(),
    ]
    spark = scheduled.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    ranged = (
        scheduled.repartitionByRange(n, *keys)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(ranged)
    counts = {
        r["_pid"]: r["cnt"]
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if offsets:
        offset_expr = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        )[F.col("_pid")]
    else:
        offset_expr = F.lit(0)
    win = Window.partitionBy("_pid").orderBy(*keys)
    out = ranged.withColumn(
        "seq",
        (F.row_number().over(win).cast("long") - 1 + F.coalesce(offset_expr, F.lit(0)).cast("long")),
    ).drop("_pid")
    # total row count falls out of the offsets pass — callers need it
    # for the ledger and should not pay a second count job
    return out, acc

