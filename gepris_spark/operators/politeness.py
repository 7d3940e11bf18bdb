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

Skew: gepris.dfg.de dominates the corpus (~70-100% of urls), so no
rank is a window partitioned by host alone, or by nothing. The per-host
sequence and the visit order are both one range-partitioned rank
(`_range_rank`): a hot host spans many partitions in order, and a row's
rank is its rank within its partition plus its group's row count over
earlier partitions. The per-host delay contract stays exact while no
single partition holds a hot host's whole batch.

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
# 2 s start delay, DEFAULT_DELAY_MS (target concurrency 1.0 makes the
# target delay equal the observed latency, as in the reference).
# All-integer arithmetic so the single-threaded replay oracle
# reproduces it bit-for-bit.
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


def parse_robots_txt(host: str, text: str) -> dict:
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
        "crawl_delay_ms": crawl_delay_ms if crawl_delay_ms is not None else DEFAULT_DELAY_MS,
    }


def robots_table(spark: SparkSession, bodies: dict[str, str]) -> DataFrame:
    """Robots cache table from {host: robots.txt body} — broadcast to
    the schedule stage by apply_robots."""
    rows = [parse_robots_txt(h, t) for h, t in bodies.items()]
    return spark.createDataFrame(rows, ROBOTS_SCHEMA) if rows else empty_robots(spark)


def apply_robots(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop robots-disallowed urls; attach effective per-host delay.

    The robots table is tiny (one row per host) — broadcast join, no
    shuffle on the candidate side.
    """
    joined = candidates.join(F.broadcast(robots), "host", "left")
    path = F.regexp_replace(F.col("url"), r"^https?://[^/]*", "")
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


def _range_rank(
    df: DataFrame, groups: list[str], order: list, rank_col: str, num_partitions, cache_registry
) -> tuple[DataFrame, dict[tuple, int]]:
    """Adds `rank_col`, each row's 0-based rank by `order` within its
    `groups` (one group when empty); returns the rows and {group key:
    row count}.

    No window partitioned by the groups alone, which would put a hot
    group in ONE partition: the rows are range-partitioned on (groups,
    order), and a rank is the row's rank within (group, partition) plus
    the group's count over earlier partitions. The (group, partition)
    counts are collected once; only a group that crosses a partition
    boundary has a nonzero offset, so the offsets are a CASE over at
    most `num_partitions - 1` pairs, however many groups there are.

    `num_partitions` bounds the range partitioning (an explicit count
    disables AQE coalescing, so pass the caller's batch bound). The
    persist is correctness-critical (counts and ranks must see ONE
    partition layout); `cache_registry` receives it, and the caller
    unpersists it.
    """
    ranged = (
        df.repartitionByRange(num_partitions, *[F.col(g).asc() for g in groups], *order)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    cache_registry.append(ranged)
    totals: dict[tuple, int] = {}
    offset = F.lit(0)
    for row in sorted(ranged.groupBy(*groups, "_pid").count().collect(), key=lambda r: r["_pid"]):
        key = tuple(row[g] for g in groups)
        before = totals.get(key, 0)
        if before:
            hit = F.col("_pid") == row["_pid"]
            for g, value in zip(groups, key):
                hit &= F.col(g).eqNullSafe(value)
            offset = F.when(hit, before).otherwise(offset)
        totals[key] = before + row["count"]
    win = Window.partitionBy(*groups, "_pid").orderBy(*order)
    rank = F.row_number().over(win).cast("long") - 1 + offset.cast("long")
    return ranged.withColumn(rank_col, rank).drop("_pid"), totals


def assign_schedule(batch: DataFrame, num_partitions: int, cache_registry: list) -> DataFrame:
    """Token-bucket schedule assignment.

    Within each host, requests are ordered by the crawl priority
    (priority_type ASC = GEPRIS item-type rank, recency stalest-first,
    url tiebreak — the A2/A3 contract) and the k-th request is released
    at k * delay_ms (logical token bucket with one token per delay).

    Output adds: host_seq (0-based per-host position), scheduled_ms.

    Scale note: host_seq is a `_range_rank`, never `row_number() OVER
    (PARTITION BY host)`, so a hot host spans partitions. The (host,
    partition) counts are collected when this is called.
    """
    order = [
        F.col("priority_type").asc_nulls_first(), F.col("recency_ts").asc_nulls_first(), "url"
    ]
    ranked, _ = _range_rank(batch, ["host"], order, "host_seq", num_partitions, cache_registry)
    return ranked.withColumn("scheduled_ms", F.col("host_seq") * F.col("delay_ms"))


def visit_order_with_count(
    scheduled: DataFrame, num_partitions: int, cache_registry: list
) -> tuple[DataFrame, int]:
    """The crawl's total visit order: logical send time, then priority,
    then canonical url — the replay contract both engine and oracle
    compute (SURVEY §7.4 risk 1). Returns the rows with `seq` and their
    count.

    Scale: seq is a `_range_rank` over one group, never a global
    `row_number() OVER (ORDER BY ...)`, which moves the whole batch to
    ONE partition. The key ends in the unique url, so seq does not
    depend on where the range boundaries land. The count comes from
    the same offsets pass, so callers pay no second count job.
    """
    keys = ["scheduled_ms", F.col("priority_type").asc_nulls_last(), "url"]
    ordered, totals = _range_rank(scheduled, [], keys, "seq", num_partitions, cache_registry)
    return ordered, totals.get((), 0)
