"""Additional oracle-checked contract queries: the normalization /
canonicalization operator shapes (SURVEY §2.3 F2, §2.6 N1, §2.9 Q11)
expressed over the driver's testdata tables so DuckDB can verify them.

Each Spark plan is pure built-ins; each SQL string is the DuckDB
equivalent with identical aliases (the driver hashes values after
sorting columns by name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gepris_spark.functions import textstats as TS
from gepris_spark.operators.politeness import DEFAULT_DELAY_MS
from gepris_spark.plans.relational import load

# ----------------------------------------------------------- N1 recode
# event_type recode map (the N1 mechanism: literal broadcast lookup +
# quarantine of unknown keys, normalisation.py:4-17)
_RECODE = {
    "click": "interaction",
    "view": "interaction",
    "purchase": "conversion",
    "signup": "conversion",
    "error": "fault",
}


def q_normalise_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    km = F.create_map(*[F.lit(x) for kv in _RECODE.items() for x in kv])
    recoded = events.withColumn("_norm", km[F.col("event_type")])
    return (
        recoded.groupBy(
            F.coalesce(F.col("_norm"), F.lit("__quarantine__")).alias("norm_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("norm_type")
    )


_CASES = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _RECODE.items())
SQL_NORMALISE_RECODE = f"""
SELECT coalesce(CASE event_type {_CASES} END, '__quarantine__') AS norm_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1 ORDER BY norm_type
"""


# ------------------------------------------------- F2 canonicalization
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 over synthesized noisy urls: orders rows become GEPRIS-ish
    urls (some with query/fragment noise, some invalid /null paths);
    canonicalize, validate, extract ids, count per context — the exact
    URL-seen key computation (data_transformations.py:10-27)."""
    orders = load(spark, sf_dir, "orders")
    ctx = (
        F.when(F.col("o_orderkey") % 3 == 0, "projekt")
        .when(F.col("o_orderkey") % 3 == 1, "person")
        .otherwise("institution")
    )
    raw = F.concat(
        F.lit("https://gepris.dfg.de/gepris/"),
        ctx,
        F.lit("/"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("null")).otherwise(
            F.col("o_orderkey").cast("string")
        ),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("?language=en#top")).otherwise(F.lit("")),
    )
    canon = F.regexp_extract(raw, r"^(https?://[^/]*/gepris/[^/?#]+/\d+)", 1)
    parsed = orders.select(
        F.when(canon != "", canon).alias("canon_url"),
        F.regexp_extract(raw, r"^https?://[^/]*/gepris/([^/?#]+)/(\d+)", 1).alias("_ctx"),
        F.regexp_extract(raw, r"^https?://[^/]*/gepris/([^/?#]+)/(\d+)", 2).alias("_id"),
    )
    return (
        parsed.groupBy(
            F.when(F.col("_ctx") != "", F.col("_ctx")).otherwise("__invalid__").alias("context")
        )
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.count_distinct("canon_url").alias("n_canonical"),
            F.max(F.when(F.col("_id") != "", F.col("_id").cast("long"))).alias("max_id"),
        )
        .orderBy("context")
    )


SQL_URL_CANONICALIZE = """
WITH raw AS (
  SELECT 'https://gepris.dfg.de/gepris/'
         || CASE o_orderkey % 3 WHEN 0 THEN 'projekt' WHEN 1 THEN 'person'
                                ELSE 'institution' END
         || '/'
         || CASE WHEN o_orderkey % 11 = 0 THEN 'null'
                 ELSE cast(o_orderkey AS VARCHAR) END
         || CASE WHEN o_orderkey % 7 = 0 THEN '?language=en#top' ELSE '' END AS u
  FROM orders),
parsed AS (
  SELECT nullif(regexp_extract(u, '^(https?://[^/]*/gepris/[^/?#]+/\\d+)', 1), '')
           AS canon_url,
         regexp_extract(u, '^https?://[^/]*/gepris/([^/?#]+)/(\\d+)', 1) AS ctx,
         regexp_extract(u, '^https?://[^/]*/gepris/([^/?#]+)/(\\d+)', 2) AS id
  FROM raw)
SELECT CASE WHEN ctx <> '' THEN ctx ELSE '__invalid__' END AS context,
       count(*) AS n_urls,
       count(DISTINCT canon_url) AS n_canonical,
       max(CASE WHEN id <> '' THEN cast(id AS BIGINT) END) AS max_id
FROM parsed GROUP BY 1 ORDER BY context
"""


# --------------------------------------------------- Q11-style backprop
def q_attribute_backprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 gender back-propagation shape (dfg-gepris.sql:369-378):
    update an entity attribute from unanimous evidence in a referencing
    table — customers inherit an order-priority class only when ALL
    their orders agree; conflicting evidence leaves the attribute
    unchanged. Broadcast-join update, never a full shuffle of the
    entity table."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    evidence = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.when(F.count_distinct("o_orderpriority") == 1, F.min("o_orderpriority")).alias(
            "_evidence"
        )
    )
    return (
        customer.join(evidence, "c_custkey", "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("_evidence"), F.lit("unknown")).alias("priority_class"),
        )
        .orderBy("c_custkey")
    )


SQL_ATTRIBUTE_BACKPROP = """
WITH evidence AS (
  SELECT o_custkey AS c_custkey,
         CASE WHEN count(DISTINCT o_orderpriority) = 1
              THEN min(o_orderpriority) END AS ev
  FROM orders GROUP BY o_custkey)
SELECT c.c_custkey, coalesce(e.ev, 'unknown') AS priority_class
FROM customer c LEFT JOIN evidence e USING (c_custkey)
ORDER BY c_custkey
"""


# ------------------------------------------- sitemap seed discovery
# Input fixtures (both engines read the SAME files; the oracle SQL
# recomputes the operator from them, the imagepipe pattern): per-host
# sitemap XML + the replay visit log as the frontier's seen set.
from gepris_spark.plans.contract_truth import FIXTURE_DIR  # noqa: E402

_SITEMAPS_PATH = str(FIXTURE_DIR / "sitemaps.parquet")
_VISIT_LOG_PATH = str(FIXTURE_DIR / "crawl_replay_visit_log.parquet")
# the canonical-url grammar (F2, functions/canonical.py):
# scheme://host/gepris/{context}/{numeric id}, query/fragment stripped
_CANON_RE = r"^https://([^/]+)/gepris/(projekt|person|institution)/([0-9]+)([?#].*)?$"


def q_crawl_sitemap_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-driven frontier expansion (the reference discovers new
    ids by re-crawling search pages, search_results.py:28-63; a
    web-scale crawler gets the same signal from /sitemap.xml): parse
    `<loc>`/`<lastmod>` entries out of each host's sitemap, apply the
    F2 canonical-url grammar (strip query/fragment, reject non-numeric
    ids and non-gepris paths), anti-join against the frontier's seen
    set, and emit one row per newly-discovered url with the freshest
    lastmod, its listing count, and the type-priority the frontier
    enqueues it under.

    Shape at 100 TB: sitemap parsing is a pure map stage (regexps, no
    shuffle — one task per sitemap blob); the anti-join is the same
    url-keyed shuffle as A7 re-discovery (frontier.py:158); the final
    dedup groups on the canonical url, uniformly hash-distributed.
    Nothing is collected; the discovery set streams straight into the
    frontier MERGE."""
    return _sitemap_discoveries_df(spark).orderBy("priority_type", "item_id", "url")


def _sitemap_discoveries_df(spark: SparkSession) -> DataFrame:
    """The deduped discovery set (url, host, context, item_id, lastmod,
    n_listings, priority_type) — shared by the sitemap query and the
    frontier-plan capstone."""
    sm = spark.read.parquet(_SITEMAPS_PATH)
    entries = sm.select(
        F.explode(
            F.regexp_extract_all(
                F.col("sitemap_xml"), F.lit("<url>(.*?)</url>"), F.lit(1)
            )
        ).alias("entry")
    )
    parsed = entries.select(
        F.regexp_extract("entry", "<loc>([^<]+)</loc>", 1).alias("loc"),
        # ISO yyyy-mm-dd kept as STRING: lexicographic max == date max,
        # and the cross-engine dtype is unambiguous (DATE round-trips
        # differently through arrow on the two engines)
        F.regexp_extract("entry", "<lastmod>([^<]+)</lastmod>", 1).alias("lastmod"),
    ).select(
        F.regexp_extract("loc", _CANON_RE, 1).alias("host"),
        F.regexp_extract("loc", _CANON_RE, 2).alias("context"),
        F.regexp_extract("loc", _CANON_RE, 3).alias("id_s"),
        "lastmod",
    )
    canon = parsed.where(F.col("context") != "").select(
        F.concat(
            F.lit("https://"),
            "host",
            F.lit("/gepris/"),
            "context",
            F.lit("/"),
            "id_s",
        ).alias("url"),
        "host",
        "context",
        F.col("id_s").cast("long").alias("item_id"),
        "lastmod",
    )
    seen = spark.read.parquet(_VISIT_LOG_PATH).select("url").distinct()
    priority = (
        F.when(F.col("context") == "projekt", 0)
        .when(F.col("context") == "person", 1)
        .otherwise(2)
    )
    return (
        canon.join(seen, "url", "left_anti")
        .groupBy("url", "host", "context", "item_id")
        .agg(F.max("lastmod").alias("lastmod"), F.count(F.lit(1)).alias("n_listings"))
        .withColumn("priority_type", priority.cast("int"))
    )


# shared CTE body: `disc` is the deduped discovery set — consumed by
# both the sitemap query and the frontier-plan capstone
_SQL_SITEMAP_CTES = f"""e AS (
  SELECT unnest(regexp_extract_all(sitemap_xml, '<url>(.*?)</url>', 1)) AS entry
  FROM read_parquet('{_SITEMAPS_PATH}')),
p AS (
  SELECT regexp_extract(entry, '<loc>([^<]+)</loc>', 1) AS loc,
         regexp_extract(entry, '<lastmod>([^<]+)</lastmod>', 1) AS lastmod
  FROM e),
c AS (
  SELECT regexp_extract(loc, '{_CANON_RE}', 1) AS host,
         regexp_extract(loc, '{_CANON_RE}', 2) AS context,
         regexp_extract(loc, '{_CANON_RE}', 3) AS id_s, lastmod
  FROM p WHERE regexp_extract(loc, '{_CANON_RE}', 2) <> ''),
u AS (
  SELECT 'https://' || host || '/gepris/' || context || '/' || id_s AS url,
         host, context, CAST(id_s AS BIGINT) AS item_id, lastmod
  FROM c),
fresh AS (
  SELECT * FROM u
  WHERE url NOT IN (SELECT DISTINCT url FROM read_parquet('{_VISIT_LOG_PATH}'))),
disc AS (
  SELECT url, host, context, item_id, max(lastmod) AS lastmod,
         count(*) AS n_listings,
         CAST(CASE context WHEN 'projekt' THEN 0 WHEN 'person' THEN 1 ELSE 2 END AS INT)
           AS priority_type
  FROM fresh GROUP BY url, host, context, item_id)"""

SQL_CRAWL_SITEMAP_EXPAND = f"""
WITH {_SQL_SITEMAP_CTES}
SELECT * FROM disc ORDER BY priority_type, item_id, url
"""


# --------------------------------------------------- robots policy
_ROBOTS_PATH = str(FIXTURE_DIR / "robots.parquet")
_ROBOTS_DEFAULT_DELAY_MS = 2000  # AutoThrottle start delay (settings.py:121)


def q_crawl_robots_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 robots policy as a distributed plan (the engine's driver-side
    parser is politeness.parse_robots_txt; this is the same grammar
    over a robots.txt TABLE, for frontiers with millions of hosts):
    per host, the `User-agent: *` group's Disallow prefixes and
    Crawl-delay (last one wins, seconds -> ms, 2 s default), then the
    policy evaluated against the visit log's urls (n_blocked = urls a
    compliant crawler would have skipped).

    The stateful group-membership parse ("which UA group is this line
    in?") becomes set-based: posexplode lines, and a line is in the
    star group iff the LAST preceding user-agent line is '*' —
    `last(ignorenulls)` over a host-partitioned window, mirrored by
    DuckDB's IGNORE NULLS last_value. No UDF, no driver loop.

    Shape at 100 TB: robots bodies are small per host; everything
    partitions by host (window + both aggregations share the
    exchange), and the tiny policy table broadcasts onto the url side
    exactly like apply_robots does in the engine."""
    policy = _robots_policy_df(spark)
    urls = spark.read.parquet(_VISIT_LOG_PATH).select(
        "host", F.regexp_replace("url", "^https://[^/]+", "").alias("path")
    )
    blocked = (
        urls.join(F.broadcast(policy), "host")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum(
                F.when(
                    F.exists(
                        F.col("disallow"), lambda p: F.col("path").startswith(p)
                    ),
                    1,
                ).otherwise(0)
            ).alias("n_blocked"),
        )
    )
    return (
        policy.join(blocked, "host", "left")
        .select(
            "host",
            "crawl_delay_ms",
            F.size("disallow").cast("long").alias("n_disallow"),
            F.to_json("disallow").alias("disallow_json"),
            F.coalesce(F.col("n_urls"), F.lit(0)).alias("n_urls"),
            F.coalesce(F.col("n_blocked"), F.lit(0)).alias("n_blocked"),
        )
        .orderBy("host")
    )


def _robots_policy_df(spark: SparkSession) -> DataFrame:
    """(host, crawl_delay_ms, disallow array<string>) — the parsed
    star-group policy per robots host, defaults applied."""
    lines = (
        spark.read.parquet(_ROBOTS_PATH)
        .select("host", F.posexplode(F.split("robots_txt", "\n")).alias("idx", "raw"))
        .select(
            "host",
            "idx",
            F.trim(F.split(F.col("raw"), "#", 2).getItem(0)).alias("line"),
        )
        .where(F.instr("line", ":") > 0)
        .select(
            "host",
            "idx",
            F.lower(F.trim(F.substring_index("line", ":", 1))).alias("key"),
            F.trim(
                F.substring(F.col("line"), F.instr("line", ":") + 1, F.length("line"))
            ).alias("value"),
        )
    )
    w = (
        Window.partitionBy("host")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = lines.withColumn(
        "cur_ua",
        F.last(F.when(F.col("key") == "user-agent", F.col("value")), ignorenulls=True).over(w),
    ).where(F.col("cur_ua") == "*")
    policy = grouped.groupBy("host").agg(
        F.sort_array(
            F.collect_list(F.when((F.col("key") == "disallow") & (F.col("value") != ""), F.col("value")))
        ).alias("disallow"),
        F.max_by(
            F.floor(F.col("value").try_cast("double") * 1000).cast("long"),
            F.when(
                (F.col("key") == "crawl-delay")
                & F.col("value").try_cast("double").isNotNull(),
                F.col("idx"),
            ),
        ).alias("delay_ms"),
    )
    hosts = spark.read.parquet(_ROBOTS_PATH).select("host")
    return hosts.join(policy, "host", "left").select(
        "host",
        F.coalesce(F.col("delay_ms"), F.lit(_ROBOTS_DEFAULT_DELAY_MS).cast("long")).alias(
            "crawl_delay_ms"
        ),
        F.coalesce(F.col("disallow"), F.array().cast("array<string>")).alias("disallow"),
    )


# shared CTE body: `policy` is (host, crawl_delay_ms, disallow) —
# consumed by both the robots query and the frontier-plan capstone
_SQL_ROBOTS_CTES = f"""raw AS (
  SELECT host, u.idx - 1 AS idx, trim(split_part(u.raw, '#', 1)) AS line
  FROM (SELECT host,
               unnest(list_transform(string_split(robots_txt, chr(10)),
                      (x, i) -> {{'idx': i, 'raw': x}})) AS u
        FROM read_parquet('{_ROBOTS_PATH}'))),
kv AS (
  SELECT host, idx,
         lower(trim(split_part(line, ':', 1))) AS key,
         trim(substr(line, strpos(line, ':') + 1)) AS value
  FROM raw WHERE strpos(line, ':') > 0),
grp AS (
  SELECT *, last_value(CASE WHEN key = 'user-agent' THEN value END IGNORE NULLS)
              OVER (PARTITION BY host ORDER BY idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur_ua
  FROM kv),
star AS (SELECT * FROM grp WHERE cur_ua = '*'),
pol AS (
  SELECT host,
         list_sort(list(value) FILTER (WHERE key = 'disallow' AND value <> '')) AS disallow,
         arg_max(CAST(floor(TRY_CAST(value AS DOUBLE) * 1000) AS BIGINT), idx)
           FILTER (WHERE key = 'crawl-delay' AND TRY_CAST(value AS DOUBLE) IS NOT NULL)
           AS delay_ms
  FROM star GROUP BY host),
policy AS (
  SELECT h.host,
         coalesce(p.delay_ms, {_ROBOTS_DEFAULT_DELAY_MS}) AS crawl_delay_ms,
         coalesce(p.disallow, CAST([] AS VARCHAR[])) AS disallow
  FROM (SELECT host FROM read_parquet('{_ROBOTS_PATH}')) h
  LEFT JOIN pol p USING (host))"""

SQL_CRAWL_ROBOTS_POLICY = f"""
WITH {_SQL_ROBOTS_CTES},
blocked AS (
  SELECT v.host, count(*) AS n_urls,
         CAST(sum(CASE WHEN len(list_filter(policy.disallow,
                        pfx -> starts_with(regexp_replace(v.url, '^https://[^/]+', ''), pfx))) > 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
  FROM read_parquet('{_VISIT_LOG_PATH}') v JOIN policy ON v.host = policy.host
  GROUP BY v.host)
SELECT p.host, p.crawl_delay_ms,
       CAST(len(p.disallow) AS BIGINT) AS n_disallow,
       to_json(p.disallow)::VARCHAR AS disallow_json,
       coalesce(b.n_urls, 0) AS n_urls,
       coalesce(b.n_blocked, 0) AS n_blocked
FROM policy p LEFT JOIN blocked b USING (host)
ORDER BY host
"""


# ---------------------------------------------- frontier-plan capstone
_BATCH_WINDOW_MS = 60_000  # one micro-batch's per-host politeness budget


def q_crawl_frontier_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-tier capstone: compose sitemap discovery, robots policy,
    and per-host politeness capacity into the next micro-batch's fetch
    plan — the discovery→admission path the reference runs as scrapy's
    robots middleware + priority scheduler + AutoThrottle budget
    (reference settings.py:66 ROBOTSTXT_OBEY, :119-126 delay budget;
    type order = gepris_helper.py:8 CONTEXTS) and the engine runs as
    frontier MERGE → apply_robots → assign_schedule
    (frontier.py:65, politeness.py:86,108), here as ONE declarative
    plan the oracle can replay end-to-end.

    Per host: discovered urls that no Disallow prefix matches are
    ranked (priority_type, freshest lastmod first, item_id) and the
    top floor(window / crawl_delay) admitted — a token bucket where
    the batch window is the budget and the robots crawl-delay is the
    token cost; each admitted url gets its politeness offset
    (rank-1) * delay, the same arithmetic assign_schedule uses.

    Shape at 100 TB: the policy side is O(hosts) and broadcast; the
    discovery side never collects; ranking is a host-partitioned
    window (assign_schedule range-partitions on (host, priority) when
    one host dominates — here admission caps the per-host output at
    window/delay rows, so the window input, not output, is the skew)."""
    disc = _sitemap_discoveries_df(spark)
    policy = _robots_policy_df(spark)
    joined = disc.join(F.broadcast(policy), "host", "left").select(
        disc["url"],
        disc["host"],
        disc["context"],
        disc["item_id"],
        disc["lastmod"],
        disc["priority_type"],
        F.coalesce(
            F.col("crawl_delay_ms"), F.lit(_ROBOTS_DEFAULT_DELAY_MS).cast("long")
        ).alias("crawl_delay_ms"),
        F.coalesce(F.col("disallow"), F.array().cast("array<string>")).alias("disallow"),
        F.regexp_replace(disc["url"], "^https://[^/]+", "").alias("_path"),
    )
    allowed = joined.where(
        ~F.exists(F.col("disallow"), lambda p: F.col("_path").startswith(p))
    )
    w = Window.partitionBy("host").orderBy(
        "priority_type", F.desc("lastmod"), "item_id", "url"
    )
    capacity = F.greatest(
        F.lit(1).cast("long"),
        F.floor(F.lit(_BATCH_WINDOW_MS) / F.greatest(F.col("crawl_delay_ms"), F.lit(1))),
    )
    return (
        allowed.withColumn("host_rank", F.row_number().over(w).cast("long"))
        .where(F.col("host_rank") <= capacity)
        .select(
            "host",
            "url",
            "context",
            "item_id",
            "priority_type",
            "lastmod",
            "crawl_delay_ms",
            "host_rank",
            ((F.col("host_rank") - 1) * F.col("crawl_delay_ms")).alias("scheduled_ms"),
        )
        .orderBy("host", "host_rank")
    )


SQL_CRAWL_FRONTIER_PLAN = f"""
WITH {_SQL_SITEMAP_CTES},
{_SQL_ROBOTS_CTES},
joined AS (
  SELECT d.url, d.host, d.context, d.item_id, d.lastmod, d.priority_type,
         coalesce(p.crawl_delay_ms, {_ROBOTS_DEFAULT_DELAY_MS}) AS crawl_delay_ms,
         coalesce(p.disallow, CAST([] AS VARCHAR[])) AS disallow
  FROM disc d LEFT JOIN policy p USING (host)),
allowed AS (
  SELECT * FROM joined
  WHERE len(list_filter(disallow,
        pfx -> starts_with(regexp_replace(url, '^https://[^/]+', ''), pfx))) = 0),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host
            ORDER BY priority_type, lastmod DESC, item_id, url) AS host_rank
  FROM allowed)
SELECT host, url, context, item_id, priority_type, lastmod, crawl_delay_ms,
       host_rank, (host_rank - 1) * crawl_delay_ms AS scheduled_ms
FROM ranked
WHERE host_rank <= greatest(1, CAST(floor({_BATCH_WINDOW_MS} / greatest(crawl_delay_ms, 1))
                                    AS BIGINT))
ORDER BY host, host_rank
"""


# ---------------------------------------------- recrawl scheduling
def q_crawl_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-driven recrawl scheduling (Cho & Garcia-Molina):
    estimate each item's change rate from its own observation history
    and schedule the next visit one expected change-interval after the
    last check. The reference's crude version is the boolean
    `detail_check_needed` flag flipped by MERGE
    (dfg-gepris.sql:30, database.py:70-90); at 10^10 items a frontier
    schedules by estimated change rate instead, so hot pages recrawl
    often and dead ones back off.

    Per item (events = its observation log, value = observed content):
    a change is an observation whose value differs from the previous
    one; interval = observed span ÷ change count (integer µs — floor
    div on BOTH engines, no float in the schedule); zero observed
    changes back off to the full span. next_due = last check +
    interval; overdue is measured against the corpus' newest
    observation as the deterministic "now".

    Shape at 100 TB: ONE shuffle on item — the lag window and the
    per-item aggregate share the user_id exchange; "now" is a 1-row
    aggregate broadcast back (the same tiny-side NLJ as bm25's corpus
    stats); output is O(items), streamed straight into the frontier's
    priority column (A2)."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    obs = events.select(
        "user_id",
        "value",
        # session tz is pinned UTC (session.py:41) so NTZ→TZ cast is
        # the identity and epoch micros equal DuckDB's epoch_us
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"),
        F.lag("value").over(w).alias("_prev"),
    )
    per = obs.groupBy(F.col("user_id").alias("item_id")).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(
            F.when(F.col("_prev").isNotNull() & (F.col("value") != F.col("_prev")), 1)
            .otherwise(0)
        ).alias("n_changes"),
        F.min("_us").alias("_first_us"),
        F.max("_us").alias("_last_us"),
    )
    sched = per.withColumn(
        "interval_us",
        F.expr("(_last_us - _first_us) div greatest(n_changes, 1L)"),
    ).withColumn("next_due_us", F.col("_last_us") + F.col("interval_us"))
    now = sched.agg(F.max("_last_us").alias("_now_us"))
    return (
        sched.crossJoin(F.broadcast(now))
        .select(
            "item_id",
            "n_obs",
            "n_changes",
            "interval_us",
            "next_due_us",
            (F.col("_now_us") - F.col("next_due_us")).alias("overdue_us"),
            ((F.col("_now_us") - F.col("next_due_us")) >= 0).alias("due"),
        )
        .orderBy(F.desc("overdue_us"), "item_id")
    )


SQL_CRAWL_RECRAWL_SCHEDULE = """
WITH obs AS (
  SELECT user_id, value, epoch_us(ts) AS us,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
per AS (
  SELECT user_id AS item_id, count(*) AS n_obs,
         CAST(sum(CASE WHEN prev IS NOT NULL AND value <> prev THEN 1 ELSE 0 END)
              AS BIGINT) AS n_changes,
         min(us) AS first_us, max(us) AS last_us
  FROM obs GROUP BY user_id),
sched AS (
  SELECT item_id, n_obs, n_changes,
         (last_us - first_us) // greatest(n_changes, 1) AS interval_us,
         last_us + (last_us - first_us) // greatest(n_changes, 1) AS next_due_us
  FROM per),
now_t AS (SELECT max(next_due_us - interval_us) AS now_us FROM sched)
SELECT s.item_id, s.n_obs, s.n_changes, s.interval_us, s.next_due_us,
       n.now_us - s.next_due_us AS overdue_us,
       (n.now_us - s.next_due_us) >= 0 AS due
FROM sched s CROSS JOIN now_t n
ORDER BY overdue_us DESC, item_id
"""


# ---------------------------------------------- politeness audit
_VISIT_LOG_FIXTURE = FIXTURE_DIR / "crawl_replay_visit_log.parquet"


def q_crawl_politeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness compliance over the engine's own visit log —
    the audit the reference enforces only implicitly at runtime
    (DOWNLOAD_DELAY/AutoThrottle, settings.py:119-126): for every host,
    the minimum inter-visit gap must clear the delay budget. The input
    is the committed replay fixture (the visit log the engine produces
    from the seeded corpus, itself pinned byte-identical to the
    single-threaded oracle by tests/test_replay.py), so this query
    grades the WINDOW/AGG plan that a production crawl would run
    nightly over the fetch log to prove the politeness contract held.

    Shape at 100 TB: one shuffle on host; the lag window and the
    per-host aggregate share the exchange (the politeness scheduler's
    own partitioning — hosts are already the salt key, operators/
    politeness.py), and the output is O(hosts). A violation here means
    the scheduler's token-bucket admission (crawl_frontier_plan) and
    the AIMD throttle (crawl_aimd_schedule) disagree with what was
    actually scheduled — the three queries together close the loop
    plan → schedule → audit."""
    return politeness_audit(spark.read.parquet(str(_VISIT_LOG_FIXTURE)))


def politeness_audit(log: DataFrame, budget_ms: int = DEFAULT_DELAY_MS) -> DataFrame:
    """The audit plan over any visit log with (host, seq, scheduled_ms,
    batch_id) columns; see q_crawl_politeness_audit."""
    w = Window.partitionBy("host").orderBy("seq")
    gaps = log.withColumn(
        "gap_ms", F.col("scheduled_ms") - F.lag("scheduled_ms").over(w)
    )
    budget = F.lit(budget_ms).cast("long")
    return (
        gaps.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_visits"),
            F.count_distinct("batch_id").alias("n_batches"),
            F.min("gap_ms").alias("min_gap_ms"),
            F.max("gap_ms").alias("max_gap_ms"),
            (F.max("scheduled_ms") - F.min("scheduled_ms")).alias("span_ms"),
            F.coalesce(
                F.sum(F.when(F.col("gap_ms") < budget, 1).otherwise(0)), F.lit(0)
            ).alias("violations"),
        )
        .select(
            "host",
            "n_visits",
            "n_batches",
            "min_gap_ms",
            "max_gap_ms",
            "span_ms",
            budget.alias("budget_ms"),
            F.col("violations").cast("long").alias("violations"),
            (F.col("violations") == 0).alias("compliant"),
        )
        .orderBy("host")
    )


SQL_CRAWL_POLITENESS_AUDIT = f"""
WITH g AS (
  SELECT host, batch_id, scheduled_ms,
         scheduled_ms - lag(scheduled_ms)
           OVER (PARTITION BY host ORDER BY seq) AS gap_ms
  FROM read_parquet('{_VISIT_LOG_FIXTURE}')
)
SELECT host, count(*) AS n_visits,
       count(DISTINCT batch_id) AS n_batches,
       min(gap_ms) AS min_gap_ms,
       max(gap_ms) AS max_gap_ms,
       max(scheduled_ms) - min(scheduled_ms) AS span_ms,
       CAST({DEFAULT_DELAY_MS} AS BIGINT) AS budget_ms,
       CAST(coalesce(sum(CASE WHEN gap_ms < {DEFAULT_DELAY_MS} THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS violations,
       coalesce(sum(CASE WHEN gap_ms < {DEFAULT_DELAY_MS} THEN 1 ELSE 0 END), 0) = 0
         AS compliant
FROM g GROUP BY host ORDER BY host
"""


# ------------------------------------------------ host-salt shard balance
_SHARD_N = 8
_SHARD_SALTS = 32
# a host is "hot" (gets salted) when it alone exceeds half a fair
# shard share
_SHARD_HOT_DEN = 2 * _SHARD_N


def q_crawl_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The host-salting skew kill, measured (north star: "hosts salted
    across executors to kill skew"): a synthetic frontier where ONE
    host carries ~half the urls (the GEPRIS shape — gepris.dfg.de IS
    the corpus, mirrors are the tail) is sharded across N=8 executor
    shards two ways. Unsalted, shard = hash(host): the hot host pins
    one shard at ~50% of the work and 4x the fair share. Salted, hot
    hosts (per-host count over half a fair share) fan out over 8
    per-row salts, shard = hash(host#salt): every shard lands near the
    fair 12.5%. The output carries both per-shard loads and their
    fair-share ratios in basis points, so the driver grades the skew
    numbers themselves — this is the partitioning argument the crawl
    engine rests on, as a checked query instead of prose.

    Fetch parallelism is what's sharded; the per-host POLITENESS
    contract survives salting because delay scheduling keys on host,
    not shard (politeness.assign_schedule) — the audit for that is
    crawl_politeness_audit.

    Shape at 100 TB: host derivation is scan-side; per-host counts are
    one map-side-combinable groupBy whose output is O(hosts) and
    broadcasts back; the two shard aggregates are O(shards). Nothing
    shuffles the url set by anything finer than its aggregation key.
    All-integer arithmetic end to end."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    urls = orders.select(
        "o_orderkey",
        F.when(F.pmod(F.col("o_custkey"), F.lit(4)) < 2, F.lit("hot.example.org"))
        .otherwise(
            F.concat(
                F.lit("h"),
                F.pmod(F.col("o_custkey"), F.lit(64)).cast("string"),
                F.lit(".example.org"),
            )
        )
        .alias("host"),
    )
    counts = urls.groupBy("host").agg(F.count(F.lit(1)).alias("n_host"))
    total = urls.count()
    hot_thr = total // _SHARD_HOT_DEN
    tagged = urls.join(F.broadcast(counts), "host").select(
        "host",
        "o_orderkey",
        TS.hash60(F.concat(F.lit("shard:"), F.col("host"))).alias("_hu"),
        F.when(
            F.col("n_host") > hot_thr,
            TS.hash60(
                F.concat(
                    F.lit("shard:"),
                    F.col("host"),
                    F.lit("#"),
                    F.pmod(F.col("o_orderkey"), F.lit(_SHARD_SALTS)).cast("string"),
                )
            ),
        )
        .otherwise(TS.hash60(F.concat(F.lit("shard:"), F.col("host"))))
        .alias("_hs"),
    )
    shards = tagged.select(
        F.pmod(F.col("_hu"), F.lit(_SHARD_N)).alias("shard_u"),
        F.pmod(F.col("_hs"), F.lit(_SHARD_N)).alias("shard_s"),
    )
    uns = shards.groupBy(F.col("shard_u").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_unsalted")
    )
    sal = shards.groupBy(F.col("shard_s").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_salted")
    )
    grid = spark.range(_SHARD_N).select(F.col("id").alias("shard"))

    # floor-div as pure integer arithmetic (subtract the remainder so
    # the division is exact) — DuckDB's // matches; a double cast
    # would round there and truncate here
    def _share_bp(n: Column) -> Column:
        a = n * (_SHARD_N * 10000)
        return ((a - F.pmod(a, F.lit(total))) / total).cast("long")

    return (
        grid.join(uns, "shard", "left")
        .join(sal, "shard", "left")
        .select(
            "shard",
            F.coalesce("n_unsalted", F.lit(0)).alias("n_unsalted"),
            _share_bp(F.coalesce("n_unsalted", F.lit(0))).alias("unsalted_share_bp"),
            F.coalesce("n_salted", F.lit(0)).alias("n_salted"),
            _share_bp(F.coalesce("n_salted", F.lit(0))).alias("salted_share_bp"),
        )
        .orderBy("shard")
    )


_SQL_SHARD_HASH = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

SQL_CRAWL_SHARD_BALANCE = f"""
WITH urls AS (
  SELECT o_orderkey,
         CASE WHEN o_custkey % 4 < 2 THEN 'hot.example.org'
              ELSE 'h' || CAST(o_custkey % 64 AS VARCHAR) || '.example.org'
         END AS host
  FROM orders
),
counts AS (SELECT host, count(*) AS n_host FROM urls GROUP BY host),
tot AS (SELECT count(*) AS total FROM urls),
tagged AS (
  SELECT u.host, u.o_orderkey,
         {_SQL_SHARD_HASH.format(x="'shard:' || u.host")} AS hu,
         CASE WHEN c.n_host > t.total // {_SHARD_HOT_DEN}
              THEN {_SQL_SHARD_HASH.format(
                  x="'shard:' || u.host || '#' || CAST(u.o_orderkey % "
                  + str(_SHARD_SALTS) + " AS VARCHAR)")}
              ELSE {_SQL_SHARD_HASH.format(x="'shard:' || u.host")}
         END AS hs
  FROM urls u JOIN counts c USING (host) CROSS JOIN tot t
),
uns AS (SELECT hu % {_SHARD_N} AS shard, count(*) AS n_unsalted
        FROM tagged GROUP BY 1),
sal AS (SELECT hs % {_SHARD_N} AS shard, count(*) AS n_salted
        FROM tagged GROUP BY 1),
grid AS (SELECT unnest(range({_SHARD_N})) AS shard)
SELECT g.shard,
       coalesce(u.n_unsalted, 0) AS n_unsalted,
       CAST(coalesce(u.n_unsalted, 0) * {_SHARD_N} * 10000 // t.total AS BIGINT)
         AS unsalted_share_bp,
       coalesce(s.n_salted, 0) AS n_salted,
       CAST(coalesce(s.n_salted, 0) * {_SHARD_N} * 10000 // t.total AS BIGINT)
         AS salted_share_bp
FROM grid g
LEFT JOIN uns u ON g.shard = u.shard
LEFT JOIN sal s ON g.shard = s.shard
CROSS JOIN tot t
ORDER BY g.shard
"""


# --------------------------------------------------- crawler-trap guard
_TRAP_HOSTS = 40
_TRAP_CAP = 20  # per-(host, template) distinct-URL budget
_TRAP_BENIGN_PAGES = 12  # < cap: catalog templates never trip the guard


def q_crawl_trap_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap detection + budget admission — the classic frontier
    defense (Heritrix/Mercator lore: calendar pages, session-id links
    and faceted search mint unbounded distinct URLs under one path
    template; an unguarded frontier spends its whole fetch budget
    there). The reference never needs this (GEPRIS ids are a closed
    set, SURVEY §2.10 A1) but any open-web deployment of this frontier
    does, so the guard is graded as a first-class query.

    Events become a URL stream: every host serves bounded catalog
    pages, and trap hosts (host id % 7 == 0) additionally mint one
    unique calendar URL per event. URLs collapse to path TEMPLATES by
    digit-run erasure (regexp, scan-side); a template whose distinct-URL
    count exceeds the budget is a trap. Admission then THINS trapped
    templates by deterministic hash: keep urls where
    hash60(url) % ceil(n/cap) == 0 — expected cap survivors, exact and
    order-free. The alternative (rank window per template, admit first
    cap) sorts the very partitions the trap made unbounded — hash
    thinning is scan-side against a broadcast of the per-template
    counts, which is O(templates), bounded by construction. Same
    discipline as corpus_mixture_downsample's hash thresholding.

    Shape at 100 TB: one distinct over (host, template, url) — the
    only shuffle on url; one map-side-combinable groupBy to template
    counts; the thinning join broadcasts O(templates) rows; the final
    rollup groups by host. No window anywhere."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "event_id", "value")
    host = F.concat(F.lit("h"), (F.col("user_id") % _TRAP_HOSTS).cast("string"))
    is_trap_host = (F.col("user_id") % _TRAP_HOSTS) % 7 == 0
    page = F.round(F.col("value") * 100, 0).cast("long") % _TRAP_BENIGN_PAGES
    catalog = ev.select(
        host.alias("host"),
        F.concat(
            F.lit("/page/"), F.col("event_type"), F.lit("/"), page.cast("string")
        ).alias("path"),
    )
    calendar = ev.where(is_trap_host).select(
        host.alias("host"),
        F.concat(
            F.lit("/cal/"), F.col("event_type"), F.lit("/"), F.col("event_id").cast("string")
        ).alias("path"),
    )
    urls = (
        catalog.unionAll(calendar)
        .select(
            "host",
            F.concat(F.lit("https://"), F.col("host"), F.col("path")).alias("url"),
            F.regexp_replace("path", r"[0-9]+", "<n>").alias("template"),
        )
        .distinct()
    )
    counts = urls.groupBy("host", "template").agg(F.count(F.lit(1)).alias("n_urls"))
    thin = F.floor((F.col("n_urls") + _TRAP_CAP - 1) / _TRAP_CAP).cast("long")
    policy = counts.select(
        "host", "template", "n_urls", thin.alias("thin"), (thin > 1).alias("is_trap")
    )
    admitted = (
        urls.join(F.broadcast(policy), ["host", "template"])
        .where(
            F.pmod(
                TS.hash60(F.concat(F.lit("trap:"), F.col("url"))), F.col("thin")
            )
            == 0
        )
        .groupBy("host", "template")
        .agg(F.count(F.lit(1)).alias("n_admitted"))
    )
    return (
        policy.join(admitted, ["host", "template"], "left")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_templates"),
            F.sum(F.col("is_trap").cast("long")).alias("n_trap_templates"),
            F.sum("n_urls").alias("n_urls"),
            F.sum(F.coalesce(F.col("n_admitted"), F.lit(0))).alias("n_admitted"),
        )
        .orderBy("host")
    )


SQL_CRAWL_TRAP_GUARD = f"""
WITH ev AS (
  SELECT 'h' || CAST(user_id % {_TRAP_HOSTS} AS VARCHAR) AS host,
         (user_id % {_TRAP_HOSTS}) % 7 = 0 AS is_trap_host,
         event_type, event_id,
         CAST(round(value * 100) AS BIGINT) % {_TRAP_BENIGN_PAGES} AS page
  FROM events),
paths AS (
  SELECT host, '/page/' || event_type || '/' || CAST(page AS VARCHAR) AS path FROM ev
  UNION ALL
  SELECT host, '/cal/' || event_type || '/' || CAST(event_id AS VARCHAR)
  FROM ev WHERE is_trap_host),
urls AS (
  SELECT DISTINCT host, 'https://' || host || path AS url,
         regexp_replace(path, '[0-9]+', '<n>', 'g') AS template
  FROM paths),
counts AS (
  SELECT host, template, count(*) AS n_urls,
         (n_urls + {_TRAP_CAP} - 1) // {_TRAP_CAP} AS thin
  FROM urls GROUP BY host, template),
adm AS (
  SELECT u.host, u.template, count(*) AS n_admitted
  FROM urls u JOIN counts c ON u.host = c.host AND u.template = c.template
  WHERE ('0x' || substr(md5('trap:' || u.url), 1, 15))::BIGINT % c.thin = 0
  GROUP BY u.host, u.template)
SELECT c.host,
       count(*) AS n_templates,
       CAST(sum(CASE WHEN c.thin > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_trap_templates,
       CAST(sum(c.n_urls) AS BIGINT) AS n_urls,
       CAST(sum(coalesce(a.n_admitted, 0)) AS BIGINT) AS n_admitted
FROM counts c
LEFT JOIN adm a ON c.host = a.host AND c.template = a.template
GROUP BY c.host
ORDER BY c.host
"""


CONTRACT_EXTRA_QUERIES: dict[str, tuple] = {
    "normalise_recode": (q_normalise_recode, SQL_NORMALISE_RECODE),
    "url_canonicalize": (q_url_canonicalize, SQL_URL_CANONICALIZE),
    "attribute_backprop": (q_attribute_backprop, SQL_ATTRIBUTE_BACKPROP),
    "crawl_sitemap_expand": (q_crawl_sitemap_expand, SQL_CRAWL_SITEMAP_EXPAND),
    "crawl_robots_policy": (q_crawl_robots_policy, SQL_CRAWL_ROBOTS_POLICY),
    "crawl_frontier_plan": (q_crawl_frontier_plan, SQL_CRAWL_FRONTIER_PLAN),
    "crawl_recrawl_schedule": (q_crawl_recrawl_schedule, SQL_CRAWL_RECRAWL_SCHEDULE),
    "crawl_politeness_audit": (q_crawl_politeness_audit, SQL_CRAWL_POLITENESS_AUDIT),
    "crawl_shard_balance": (q_crawl_shard_balance, SQL_CRAWL_SHARD_BALANCE),
    "crawl_trap_guard": (q_crawl_trap_guard, SQL_CRAWL_TRAP_GUARD),
}


# ----------------------------------------------------- redirect chains
_RDR_ROUNDS = 4
_RDR_CHAIN_MOD = 11  # ids < 400, i % 11 == 0: i -> i+1 -> i+2 (terminal)
_RDR_LOOP_MOD = 13  # ids in [400, 500), i % 13 == 0: i <-> i+1 (loop)


def q_crawl_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution with loop detection — the fetch-side
    canonicalization every crawler runs before URL-seen/frontier
    admission (Mercator/Heritrix follow a bounded number of 3xx hops,
    collapse the chain to its terminal URL, and kill redirect loops;
    Scrapy's RedirectMiddleware with REDIRECT_MAX_TIMES is the
    reference-stack analogue). The frontier must enqueue the TERMINAL
    url, else every chain member is crawled as a distinct page —
    the alias-family problem `dedup_url_dust` mines after the fact,
    prevented here before the fetch.

    The redirect relation is planted deterministically from the
    documents ids (chains i→i+1→i+2 below id 400, 2-cycles i↔i+1 in
    [400, 500)), mirrored exactly in the oracle. Resolution is R=4
    rounds of bounded relaxation: each round ONE equi-join of the
    current-position column against the edge table (both sides
    hash-partitioned on the url key — the BFS/pagerank iteration
    discipline), a loop flags when the walk returns to its start, and
    a final left join classifies `resolved` (no outgoing edge) vs
    `loop` vs `truncated` (chain longer than the hop budget — none
    planted, the branch exists for the budget semantics). Output is
    the chain/loop members only (hops > 0)."""
    ids = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 500)
        .select(F.col("doc_id").cast("long").alias("i"))
    )
    chain_starts = ids.where((F.col("i") < 400) & (F.col("i") % _RDR_CHAIN_MOD == 0))
    loops = ids.where((F.col("i") >= 400) & (F.col("i") % _RDR_LOOP_MOD == 0))
    u = lambda c: F.concat(F.lit("u"), c.cast("string"))  # noqa: E731
    edges = (
        chain_starts.select(u(F.col("i")).alias("src"), u(F.col("i") + 1).alias("dst"))
        .unionAll(
            chain_starts.select(
                u(F.col("i") + 1).alias("src"), u(F.col("i") + 2).alias("dst")
            )
        )
        .unionAll(loops.select(u(F.col("i")).alias("src"), u(F.col("i") + 1).alias("dst")))
        .unionAll(loops.select(u(F.col("i") + 1).alias("src"), u(F.col("i")).alias("dst")))
    )
    state = ids.select(
        u(F.col("i")).alias("url"),
        u(F.col("i")).alias("cur"),
        F.lit(0).cast("long").alias("hops"),
        F.lit(False).alias("looped"),
    )
    for _ in range(_RDR_ROUNDS):
        e = edges.select(F.col("src").alias("cur"), "dst")
        state = (
            state.join(e, "cur", "left")
            .select(
                "url",
                F.coalesce(F.col("dst"), F.col("cur")).alias("cur"),
                (F.col("hops") + F.when(F.col("dst").isNotNull(), 1).otherwise(0)).alias(
                    "hops"
                ),
                (
                    F.col("looped")
                    | (F.col("dst").isNotNull() & (F.col("dst") == F.col("url")))
                ).alias("looped"),
            )
        )
    term = edges.select(F.col("src").alias("cur"), F.lit(True).alias("has_out")).distinct()
    status = (
        F.when(F.col("looped"), F.lit("loop"))
        .when(F.col("has_out").isNotNull(), F.lit("truncated"))
        .otherwise(F.lit("resolved"))
    )
    return (
        state.where(F.col("hops") > 0)
        .join(term, "cur", "left")
        .select("url", F.col("cur").alias("final_url"), "hops", status.alias("status"))
        .orderBy("url")
    )


def _sql_redirect_resolve() -> str:
    rounds = []
    prev = "s0"
    for i in range(1, _RDR_ROUNDS + 1):
        rounds.append(
            f"""s{i} AS (
  SELECT s.url, coalesce(e.dst, s.cur) AS cur,
         s.hops + CASE WHEN e.dst IS NOT NULL THEN 1 ELSE 0 END AS hops,
         s.looped OR (e.dst IS NOT NULL AND e.dst = s.url) AS looped
  FROM {prev} s LEFT JOIN edges e ON e.src = s.cur)"""
        )
        prev = f"s{i}"
    body = ",\n".join(rounds)
    return f"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents WHERE doc_id < 500),
cs AS (SELECT i FROM ids WHERE i < 400 AND i % {_RDR_CHAIN_MOD} = 0),
lp AS (SELECT i FROM ids WHERE i >= 400 AND i % {_RDR_LOOP_MOD} = 0),
edges AS (
  SELECT 'u' || CAST(i AS VARCHAR) AS src, 'u' || CAST(i + 1 AS VARCHAR) AS dst FROM cs
  UNION ALL
  SELECT 'u' || CAST(i + 1 AS VARCHAR), 'u' || CAST(i + 2 AS VARCHAR) FROM cs
  UNION ALL
  SELECT 'u' || CAST(i AS VARCHAR), 'u' || CAST(i + 1 AS VARCHAR) FROM lp
  UNION ALL
  SELECT 'u' || CAST(i + 1 AS VARCHAR), 'u' || CAST(i AS VARCHAR) FROM lp),
s0 AS (SELECT 'u' || CAST(i AS VARCHAR) AS url, 'u' || CAST(i AS VARCHAR) AS cur,
              CAST(0 AS BIGINT) AS hops, false AS looped
       FROM ids),
{body},
term AS (SELECT DISTINCT src AS cur, true AS has_out FROM edges)
SELECT s.url, s.cur AS final_url, s.hops,
       CASE WHEN s.looped THEN 'loop'
            WHEN t.has_out IS NOT NULL THEN 'truncated'
            ELSE 'resolved' END AS status
FROM {prev} s LEFT JOIN term t ON t.cur = s.cur
WHERE s.hops > 0
ORDER BY s.url
"""


SQL_CRAWL_REDIRECT_RESOLVE = _sql_redirect_resolve()


CONTRACT_EXTRA_QUERIES["crawl_redirect_resolve"] = (
    q_crawl_redirect_resolve,
    SQL_CRAWL_REDIRECT_RESOLVE,
)


# ----------------------------------------------------- MERGE with DELETE
def q_merge_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multi-clause Iceberg MERGE through the engine's own
    `store.table.merge_upsert` — including the clause the other MERGE
    queries never exercise, WHEN MATCHED ... THEN DELETE:

        WHEN MATCHED AND s.op = 'delete' THEN DELETE
        WHEN MATCHED THEN UPDATE SET n_chars = s.new_chars
        WHEN NOT MATCHED AND s.op <> 'delete' THEN INSERT

    Target = documents with doc_id < 400; source batch = doc_id in
    [200, 600) with every 7th id a delete tombstone. The overlap
    exercises all five routes: untouched target rows, updates,
    hard deletes, inserts, and tombstones for never-stored rows
    (which must NOT insert). Hard delete is the GDPR/expiry path;
    the crawler's 'vanished' marking stays a soft-delete UPDATE (Q7,
    operators/frontier.py:130) — both now exist, as in Iceberg.

    Shape at 100 TB: the one full-outer equi-join on the key that
    every MERGE here costs; the delete/insert conditions are row-local
    predicates folded into the same projection, and the bucket-pruned
    variant (`SnapshotStore.merge_bucketed`) takes the same clauses
    (tests/test_store_snapshots.py::test_bucketed_merge_with_delete)."""
    from gepris_spark.store.table import merge_upsert

    docs = load(spark, sf_dir, "documents")
    target = docs.where(F.col("doc_id") < 400).select("doc_id", "n_chars", "lang")
    source = (
        docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 600))
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0, F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
            (F.col("n_chars") + 1000).alias("new_chars"),
            "lang",
        )
    )
    merged = merge_upsert(
        target,
        source,
        keys=["doc_id"],
        matched_update=lambda t, s: {"n_chars": F.col("s.new_chars")},
        not_matched_insert=lambda s: {
            "doc_id": F.col("s.doc_id"),
            "n_chars": F.col("s.new_chars"),
            "lang": F.col("s.lang"),
        },
        matched_delete=lambda t, s: F.col("s.op") == "delete",
        not_matched_condition=lambda s: F.col("s.op") != "delete",
    )
    return merged.orderBy("doc_id")


SQL_MERGE_UPSERT_DELETE = """
WITH t AS (SELECT doc_id, n_chars, lang FROM documents WHERE doc_id < 400),
s AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op,
             n_chars + 1000 AS new_chars, lang
      FROM documents WHERE doc_id >= 200 AND doc_id < 600),
kept AS (
  SELECT t.doc_id,
         CASE WHEN s.doc_id IS NOT NULL THEN s.new_chars ELSE t.n_chars END AS n_chars,
         t.lang
  FROM t LEFT JOIN s USING (doc_id)
  WHERE s.doc_id IS NULL OR s.op <> 'delete'),
ins AS (
  SELECT s.doc_id, s.new_chars AS n_chars, s.lang
  FROM s LEFT JOIN t USING (doc_id)
  WHERE t.doc_id IS NULL AND s.op <> 'delete')
SELECT doc_id, n_chars, lang
FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins)
ORDER BY doc_id
"""


CONTRACT_EXTRA_QUERIES["merge_upsert_delete"] = (
    q_merge_upsert_delete,
    SQL_MERGE_UPSERT_DELETE,
)


# ----------------------------------------------------- UCB bandit budget
_UCB_BUDGET = 1000
_UCB_REWARD_MIN_CHARS = 300


def q_crawl_bandit_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 crawl-budget allocation over hosts (Auer et al. 2002; the
    exploration/exploitation layer crawl schedulers put on top of
    freshness models — hosts whose fetches keep yielding useful pages
    get more of the next batch's budget, rarely-sampled hosts keep an
    exploration bonus so they are never starved; complements
    `crawl_recrawl_schedule`'s per-item freshness with a per-HOST
    yield signal. Reference analogue: the fixed per-type cron budgets,
    docker/scheduler_cronfile:6-33, which this replaces with
    observed-yield allocation).

    Arms = `source` hosts; the fetch history is the documents table;
    a fetch rewards iff it yielded a page worth keeping
    (n_chars >= 300). ucb = mean reward + sqrt(2 ln N / n); the next
    batch of 1000 fetches is split proportionally to the UCB scores
    (floor shares, remainder to the top-ranked arm, so the shares
    provably sum to the budget).

    Shape at 100 TB: ONE partial-agg groupBy(host) builds every arm
    statistic; the grand total and the share denominator are 1-row
    broadcasts; the rank window runs over the O(hosts) aggregate,
    never the fetch log. Cross-engine exactness: ln snaps to integer
    micro-nats immediately (the DSIR discipline); sqrt is
    IEEE-correctly-rounded on identical operands, so the bonus is
    bit-identical; shares are pure BIGINT floor division."""
    arms = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.sum(
                F.when(F.col("n_chars") >= _UCB_REWARD_MIN_CHARS, 1).otherwise(0)
            ).alias("n_rewards"),
        )
    )
    tot = arms.agg(F.sum("n_fetches").alias("n_total"))
    scored = arms.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_fetches",
        "n_rewards",
        F.expr("CAST((n_rewards * 10000) DIV n_fetches AS BIGINT)").alias("mean_bp"),
        (
            F.round(
                F.sqrt(
                    (2.0 * F.round(F.log(F.col("n_total")) * 1000000.0, 0))
                    / (F.col("n_fetches") * 1000000.0)
                )
                * 1000000.0,
                0,
            )
        )
        .cast("long")
        .alias("bonus_micro"),
    )
    scored = scored.withColumn(
        "ucb_micro",
        F.expr("CAST((n_rewards * 1000000) DIV n_fetches AS BIGINT)") + F.col("bonus_micro"),
    )
    denom = scored.agg(F.sum("ucb_micro").alias("ucb_sum"))
    ranked = (
        scored.crossJoin(F.broadcast(denom))
        .withColumn(
            "arm_rank",
            F.row_number().over(
                Window.orderBy(F.col("ucb_micro").desc(), F.col("source"))
            ),
        )
        .withColumn(
            "share",
            F.expr(f"CAST((ucb_micro * {_UCB_BUDGET}) DIV ucb_sum AS BIGINT)"),
        )
    )
    leftover = ranked.agg((F.lit(_UCB_BUDGET) - F.sum("share")).alias("rem"))
    return (
        ranked.crossJoin(F.broadcast(leftover))
        .select(
            "source",
            "n_fetches",
            "n_rewards",
            "mean_bp",
            "bonus_micro",
            "ucb_micro",
            F.col("arm_rank").cast("long").alias("arm_rank"),
            (
                F.col("share")
                + F.when(F.col("arm_rank") == 1, F.col("rem")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("budget_next"),
        )
        .orderBy("arm_rank")
    )


SQL_CRAWL_BANDIT_BUDGET = f"""
WITH arms AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_fetches,
         CAST(sum(CASE WHEN n_chars >= {_UCB_REWARD_MIN_CHARS} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_rewards
  FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(n_fetches) AS BIGINT) AS n_total FROM arms),
scored AS (
  SELECT source, n_fetches, n_rewards,
         (n_rewards * 10000) // n_fetches AS mean_bp,
         CAST(round(sqrt((2.0 * round(ln(n_total) * 1000000.0, 0))
                         / (n_fetches * 1000000.0)) * 1000000.0, 0) AS BIGINT)
           AS bonus_micro,
         (n_rewards * 1000000) // n_fetches
           + CAST(round(sqrt((2.0 * round(ln(n_total) * 1000000.0, 0))
                             / (n_fetches * 1000000.0)) * 1000000.0, 0) AS BIGINT)
           AS ucb_micro
  FROM arms, tot),
denom AS (SELECT CAST(sum(ucb_micro) AS BIGINT) AS ucb_sum FROM scored),
ranked AS (
  SELECT s.*, row_number() OVER (ORDER BY ucb_micro DESC, source) AS arm_rank,
         (ucb_micro * {_UCB_BUDGET}) // d.ucb_sum AS share
  FROM scored s, denom d),
leftover AS (SELECT {_UCB_BUDGET} - CAST(sum(share) AS BIGINT) AS rem FROM ranked)
SELECT source, n_fetches, n_rewards, mean_bp, bonus_micro, ucb_micro,
       CAST(arm_rank AS BIGINT) AS arm_rank,
       CAST(share + CASE WHEN arm_rank = 1 THEN rem ELSE 0 END AS BIGINT)
         AS budget_next
FROM ranked, leftover ORDER BY arm_rank
"""


CONTRACT_EXTRA_QUERIES["crawl_bandit_budget"] = (
    q_crawl_bandit_budget,
    SQL_CRAWL_BANDIT_BUDGET,
)


# ----------------------------------------------------- WARC sink roundtrip
_WARC_SINK_N_DOCS = 100
_WARC_SINK_SHARDS = 5
_WARC_URI_BASE = "https://gepris.dfg.de/gepris/projekt/"


def q_warc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl's native OUTPUT format, round-tripped: the first 100
    documents are written as 5 WARC-style shard files (deterministic
    hash60 shard assignment, id-ordered records, atomic one-file-per-
    shard writes — sources/warcish.py:write_warc_shards) and read back
    one task per shard with the manifest's fail-closed count+digest
    gate. The oracle never sees the files: it recomputes every output
    column (shard hash, UTF-8 byte length, payload md5) directly from
    the documents table, so a sink that corrupted, dropped, reordered
    or mis-sharded even one record diverges.

    Shape at 100 TB: ONE shuffle co-locates each shard's records at its
    writer task (shard count sized so a shard is a task-sized file);
    the manifest is O(shards) driver metadata; re-read is one task per
    shard with no scan ambiguity (offset 0 is a record start by
    construction)."""
    import tempfile

    from gepris_spark.sources import warcish

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _WARC_SINK_N_DOCS)
        .select(
            F.concat(
                F.lit("<urn:gepris:doc:"), F.col("doc_id").cast("string"), F.lit(">")
            ).alias("record_id"),
            F.concat(F.lit(_WARC_URI_BASE), F.col("doc_id").cast("string")).alias(
                "target_uri"
            ),
            F.encode(F.col("text"), "UTF-8").alias("payload"),
        )
    )
    out_dir = tempfile.mkdtemp(prefix="gepris_warcsink_")
    manifest = warcish.write_warc_shards(docs, out_dir, _WARC_SINK_SHARDS).toPandas()
    return (
        warcish.read_warc_shards(spark, manifest)
        .select("shard", "record_id", "target_uri", "content_length", "payload_md5")
        .orderBy("record_id")
    )


SQL_WARC_SINK_ROUNDTRIP = f"""
WITH base AS (
  SELECT '<urn:gepris:doc:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
         '{_WARC_URI_BASE}' || CAST(doc_id AS VARCHAR) AS target_uri,
         text
  FROM documents WHERE doc_id < {_WARC_SINK_N_DOCS})
SELECT ('0x' || substr(md5('warcshard:' || record_id), 1, 15))::BIGINT
         % {_WARC_SINK_SHARDS} AS shard,
       record_id, target_uri,
       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
       md5(text) AS payload_md5
FROM base ORDER BY record_id
"""


CONTRACT_EXTRA_QUERIES["warc_sink_roundtrip"] = (
    q_warc_sink_roundtrip,
    SQL_WARC_SINK_ROUNDTRIP,
)


# ----------------------------------------------------- WARC revisit dedup
def q_warc_revisit_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC revisit-record storage dedup (WARC 1.1 §6.7.2, the
    identical-payload-digest profile the Internet Archive / Heritrix
    use): a second crawl round re-fetches the first 100 documents,
    every third one changed; unchanged captures are written as
    payload-LESS `revisit` records whose WARC-Refers-To points at the
    round-1 capture, changed ones as full `response` records. Both
    rounds are REAL shard files (sources/warcish.py), the round-2
    read-back resolves each revisit against the round-1 archive
    (refers-to join + digest verification), and the oracle recomputes
    every column from the documents table alone — so a sink that
    mis-routed the dedup decision, dropped a payload, or resolved a
    revisit to the wrong capture diverges. This is change-detection
    (K1/K3, operators/history.py) pushed down INTO the storage
    format: the reference stores full page snapshots per run and
    dedups only by whole-item comparison
    (/root/reference/gepris_crawler/database.py).

    Shape at 100 TB: the dedup routing is ONE equi-join of the new
    round against the prior round's CDX index on target_uri (the index
    is (uri, digest, id) — tiny next to payloads); revisit resolution
    is ONE equi-join on refers_to. Payload bytes for unchanged pages
    never shuffle, never re-store: at the reference's observed ~97%
    unchanged-per-recrawl rate that is a ~30x archive-size cut."""
    import tempfile

    from gepris_spark.sources import warcish

    base = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _WARC_SINK_N_DOCS)
        .select(
            "doc_id",
            F.concat(F.lit(_WARC_URI_BASE), F.col("doc_id").cast("string")).alias(
                "target_uri"
            ),
            "text",
            (F.col("doc_id") % 3 == 0).alias("changed"),
        )
    )
    r1 = base.select(
        F.concat(
            F.lit("<urn:gepris:doc:"), F.col("doc_id").cast("string"), F.lit(":r1>")
        ).alias("record_id"),
        "target_uri",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    dir1 = tempfile.mkdtemp(prefix="gepris_warcrev1_")
    man1 = warcish.write_warc_shards(r1, dir1, _WARC_SINK_SHARDS).toPandas()
    r1_scan = warcish.read_warc_shards(spark, man1).select(
        F.col("record_id").alias("r1_id"),
        F.col("target_uri").alias("r1_uri"),
        F.col("payload_md5").alias("r1_md5"),
        F.col("content_length").alias("r1_len"),
    )
    r2_text = F.when(F.col("changed"), F.concat(F.col("text"), F.lit(" rev2"))).otherwise(
        F.col("text")
    )
    fetched = base.select(
        F.concat(
            F.lit("<urn:gepris:doc:"), F.col("doc_id").cast("string"), F.lit(":r2>")
        ).alias("record_id"),
        "target_uri",
        F.encode(r2_text, "UTF-8").alias("new_payload"),
        F.md5(F.encode(r2_text, "UTF-8")).alias("new_md5"),
    )
    routed = fetched.join(r1_scan, fetched.target_uri == r1_scan.r1_uri).select(
        "record_id",
        "target_uri",
        F.when(F.col("new_md5") == F.col("r1_md5"), F.lit("revisit"))
        .otherwise(F.lit("response"))
        .alias("warc_type"),
        F.when(F.col("new_md5") == F.col("r1_md5"), F.encode(F.lit(""), "UTF-8"))
        .otherwise(F.col("new_payload"))
        .alias("payload"),
        F.when(F.col("new_md5") == F.col("r1_md5"), F.col("r1_id"))
        .otherwise(F.lit(""))
        .alias("refers_to"),
        F.when(F.col("new_md5") == F.col("r1_md5"), F.col("r1_md5"))
        .otherwise(F.lit(""))
        .alias("payload_digest"),
    )
    dir2 = tempfile.mkdtemp(prefix="gepris_warcrev2_")
    man2 = warcish.write_warc_shards(routed, dir2, _WARC_SINK_SHARDS).toPandas()
    r2_scan = warcish.read_warc_shards(spark, man2, extended=True)
    return (
        r2_scan.join(r1_scan, r2_scan.refers_to == r1_scan.r1_id, "left")
        .select(
            "record_id",
            "target_uri",
            "warc_type",
            "content_length",
            F.when(F.col("warc_type") == "revisit", F.col("r1_md5"))
            .otherwise(F.col("payload_md5"))
            .alias("effective_md5"),
            F.when(F.col("warc_type") == "revisit", F.col("r1_len"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("bytes_saved"),
            F.when(
                F.col("warc_type") == "revisit",
                F.col("payload_digest") == F.concat(F.lit("md5:"), F.col("r1_md5")),
            )
            .otherwise(F.lit(True))
            .alias("digest_ok"),
        )
        .orderBy("record_id")
    )


SQL_WARC_REVISIT_ROUNDTRIP = f"""
WITH base AS (
  SELECT doc_id,
         '<urn:gepris:doc:' || CAST(doc_id AS VARCHAR) || ':r2>' AS record_id,
         '{_WARC_URI_BASE}' || CAST(doc_id AS VARCHAR) AS target_uri,
         text,
         (doc_id % 3 = 0) AS changed
  FROM documents WHERE doc_id < {_WARC_SINK_N_DOCS})
SELECT record_id, target_uri,
       CASE WHEN changed THEN 'response' ELSE 'revisit' END AS warc_type,
       CAST(CASE WHEN changed THEN octet_length(encode(text || ' rev2')) ELSE 0 END
            AS BIGINT) AS content_length,
       CASE WHEN changed THEN md5(text || ' rev2') ELSE md5(text) END AS effective_md5,
       CAST(CASE WHEN changed THEN 0 ELSE octet_length(encode(text)) END AS BIGINT)
         AS bytes_saved,
       true AS digest_ok
FROM base ORDER BY record_id
"""


CONTRACT_EXTRA_QUERIES["warc_revisit_roundtrip"] = (
    q_warc_revisit_roundtrip,
    SQL_WARC_REVISIT_ROUNDTRIP,
)
