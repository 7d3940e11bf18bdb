"""S9 — google-webcache fallback fetch + A8 — proxy/UA rotation.

Reference: spiders/person_details.py (the `person_details` spider
tries `GOOGLE_CACHE_BASE_URL + details_url(id, 'person')` first with a
fixed disguise User-Agent, and only on request failure falls back to
the direct GEPRIS fetch, person_details.py:36-69); settings.py:26-56
(fake-useragent rotation middleware + rotating_proxies over the
webshare list, proxylist.py:5-8).

Spark-first shape: the callback/errback pair becomes TWO fetch-join
stages over the same corpus-join fetch primitive —

  stage 1: scheduled ids -> cache URLs  ⨝ cache snapshot table
  stage 2: stage-1 misses (fetch_status IS NULL) -> direct URLs
           ⨝ live page table
  item    = union(stage-1 hits, stage-2 results), one row per id

Stage 1's output feeds both branches, so it is persisted once — the
cache join never re-executes (round-1 VERDICT: uncached fan-out
lineage re-runs the upstream join per consumer).

Rotation (A8) is a *deterministic* round-robin: scrapy's middlewares
pick a random UA/proxy per request; a replayable engine derives the
pick from a hash of the request identity instead, which preserves the
rotation property (uniform spread over the pool, stable under retry
sequencing) while keeping the replay byte-identical. Pure column
expressions — `element_at(pool, pmod(xxhash64(...), n)+1)` — no
Python in the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gepris_spark import cacheutil
from gepris_spark.functions import parity as P
from gepris_spark.operators import fetchparse

# person_details.py:44-47 — the fixed disguise UA used for cache hits
GOOGLE_CACHE_USER_AGENT = (
    "Mozilla/5.0 (Windows NT 6.1; WOW64; rv:77.0) Gecko/20190101 Firefox/77.0"
)
# settings.py:32 — the fixed fallback UA when no rotation pool is set
DEFAULT_USER_AGENT = (
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10.15; rv:90.0) Gecko/20100101 Firefox/90.0"
)


def assign_rotation(
    df: DataFrame,
    pool: list[str],
    out_col: str,
    key_cols: tuple[str, ...] = ("url",),
    attempt_col: str | None = None,
) -> DataFrame:
    """A8 — deterministic rotation assignment from a small pool.

    Replaces RandomUserAgentMiddleware / RotatingProxyMiddleware
    (settings.py:41-56): each request row gets pool[h % n] where h
    hashes the request identity (+ attempt number when retries must
    re-roll, mirroring RetryUserAgentMiddleware's fresh UA per retry).

    The pool is a column-literal array — broadcast by value inside the
    plan, O(1) per row, whole-stage codegen; rotation state never
    lives on the driver. Empty pool -> null column (middleware
    disabled, settings.py:29)."""
    if not pool:
        return df.withColumn(out_col, F.lit(None).cast("string"))
    keys = [F.col(c) for c in key_cols]
    if attempt_col is not None:
        keys.append(F.col(attempt_col))
    idx = F.pmod(F.xxhash64(F.lit(out_col), *keys), F.lit(len(pool))).cast("int")
    return df.withColumn(out_col, F.element_at(F.array([F.lit(p) for p in pool]), idx + 1))


# ban detection + cooldown: the deterministic stand-in for
# rotating_proxies' BanDetectionMiddleware + backoff reanimation
# (settings.py:51-55). The default BanDetectionPolicy treats these
# statuses as a ban; a banned proxy sits out PROXY_COOLDOWN_BATCHES
# micro-batches (the replayable analogue of the wall-clock exponential
# backoff) and is then re-checked.
PROXY_BAN_STATUSES = (403, 429)
PROXY_COOLDOWN_BATCHES = 2


def detect_proxy_bans(fetched: DataFrame, batch_id: int) -> DataFrame:
    """Ban rows (proxy, banned_in_batch) from a fetched batch: any
    request through a proxy that answered with a ban status marks that
    proxy dead (rotating_proxies bans on the single response, not a
    quorum). One distinct over the bounded proxy pool — O(pool) rows."""
    return (
        fetched.where(F.col("fetch_status").isin(*PROXY_BAN_STATUSES))
        .where(F.col("proxy").isNotNull())
        .select("proxy")
        .distinct()
        .withColumn("banned_in_batch", F.lit(int(batch_id)).cast("long"))
    )


def alive_proxies(
    pool: list[str],
    bans: DataFrame | None,
    batch_id: int,
    cooldown: int = PROXY_COOLDOWN_BATCHES,
) -> list[str]:
    """The pool minus proxies still cooling down at `batch_id`, in the
    original pool order (so rotation hashing stays stable for the
    survivors). A fully-banned pool reanimates everyone — the same
    fail-open rotating_proxies uses when no alive proxy remains.

    The collect is O(pool) rows (the ban table never outgrows the
    proxy list), so driver traffic is bounded by config size, not data."""
    if not pool or bans is None:
        return list(pool)
    banned = {
        r["proxy"]
        for r in bans.where(
            (F.col("banned_in_batch") < F.lit(int(batch_id)))
            & (F.col("banned_in_batch") >= F.lit(int(batch_id) - cooldown))
        )
        .select("proxy")
        .distinct()
        .collect()
    }
    alive = [p for p in pool if p not in banned]
    return alive or list(pool)


def google_cache_fallback_fetch(
    scheduled: DataFrame,
    cache_pages: DataFrame,
    live_pages: DataFrame,
    user_agent_pool: list[str] | None = None,
    proxy_pool: list[str] | None = None,
) -> DataFrame:
    """S9 — two-stage fetch: google-cache snapshot first, live GEPRIS
    on cache failure (person_details.py:36-69).

    `scheduled` carries (url, context, item_id, language); urls are the
    canonical details urls. Returns one fetched row per scheduled row
    with `via` ('google_cache' | 'gepris'), `user_agent`, `proxy`,
    and the usual fetch columns; `url` is restored to the canonical
    details url on both branches so downstream parse/identity logic is
    branch-blind.

    Scale: both stages are the corpus-join fetch (the batch-bounded
    scheduled side is broadcast, as in fetch_pages). Stage 2's input is the
    stage-1 miss set, ALWAYS <= stage 1 — the fallback never amplifies
    the batch. Stage 1 is persisted because both the hit and miss
    branches consume it."""
    ua_pool = user_agent_pool if user_agent_pool is not None else []
    cache_sched = scheduled.select(
        P.google_cache_url(F.col("url")).alias("url"),
        F.col("url").alias("origin_url"),
        "context",
        "item_id",
        "language",
    )
    # tracked persist: both the hit and miss branches of the returned
    # lazy plan consume stage 1, so release is the caller's via
    # cacheutil.release_caches() (bench.py calls it per query)
    fetched_cache = cacheutil.track(fetchparse.fetch_pages(cache_sched, cache_pages).persist())
    hits = (
        fetched_cache.where(F.col("fetch_status").isNotNull())
        .withColumn("url", F.col("origin_url"))
        .drop("origin_url")
        .withColumn("via", F.lit("google_cache"))
        .withColumn("user_agent", F.lit(GOOGLE_CACHE_USER_AGENT))
    )
    # errback path (person_details.py:66-69): request failure -> direct
    # GEPRIS fetch with the rotated UA/proxy of a normal details request
    retry_sched = fetched_cache.where(F.col("fetch_status").isNull()).select(
        F.col("origin_url").alias("url"), "context", "item_id", "language"
    )
    fetched_live = fetchparse.fetch_pages(retry_sched, live_pages).withColumn(
        "via", F.lit("gepris")
    )
    if ua_pool:
        fetched_live = assign_rotation(fetched_live, ua_pool, "user_agent")
    else:
        fetched_live = fetched_live.withColumn("user_agent", F.lit(DEFAULT_USER_AGENT))
    out = hits.unionByName(fetched_live.select(*hits.columns))
    out = assign_rotation(out, [P.format_proxy_str(p) for p in (proxy_pool or [])], "proxy")
    return out
