"""Web-graph and log-funnel signals a production crawl/index pipeline
computes over its observed link graph and event logs (session 10).

Four operators, each paired with a value-exact DuckDB oracle under the
usual contract discipline (identical string/hash formulas on both
engines, integer arithmetic wherever an iteration or a ratio could
make float addition order observable, every computed column aliased
identically in plan and SQL):

* `graph_anchor_text` — link inversion + per-target anchor-text
  aggregation, the classic web-index signal (anchor terms describe the
  TARGET page; a crawler uses in-degree + anchor diversity for
  priority, reference analogue: the frontier priority queue,
  operators/frontier.py:291).
* `dedup_url_dust` — DUST alias-rule mining (Bar-Yossef et al., "Do
  Not Crawl in the DUST: Different URLs with Similar Text"): detect
  URL rewrite rules (trailing slash, session-id params) from pages
  whose content digests collide, so the frontier canonicalizes them
  BEFORE fetching (reference analogue: extract_id/is_gepris_path
  canonicalization, functions/canonical.py).
* `graph_hits` — Kleinberg hub/authority scoring over the bipartite
  order graph, the second link-analysis priority signal next to
  `graph_pagerank`; fixed iterations with integer mass normalization
  so the trajectory is addition-order invariant.
* `events_funnel` — ordered multi-step funnel (view -> click ->
  purchase) over the event log: the canonical product-analytics
  operator whose scale shape (ONE user_id exchange shared by every
  step) this engine reuses from its sessionizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gepris_spark import cacheutil
from gepris_spark.functions import textstats as TS
from gepris_spark.plans.relational import load

# --------------------------------------------------- anchor inversion
_ANCHOR_TOPK = 3


def q_graph_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invert the order link graph and aggregate anchor text per target:
    for every linked part, total in-links, distinct anchor variants,
    and the top-3 anchors by frequency (ties broken on anchor text so
    the ranking is deterministic on both engines). Anchor strings are
    a deterministic function of (orderkey, partkey): the part name,
    a 'mehr zu <name>' variant, or generic navigational text — the
    mix a real link graph shows.

    Shape at 100 TB: the anchor relation never leaves the scan stage
    un-aggregated — `counts` is ONE shuffle on (dst, anchor) with
    map-side partial counts, and everything downstream operates on the
    collapsed per-(target, anchor) relation, which is bounded by
    anchor vocabulary x targets, orders of magnitude smaller than the
    raw link list. The per-target stats and the top-k window both key
    on dst (high cardinality, no global window); `part` is a dimension
    and is broadcast. A mega-popular target is ONE group in the window
    but its input is already collapsed to distinct anchors, so hot-dst
    skew is capped by vocabulary, not by in-degree."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    od = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    variant = (F.col("o_orderkey") + F.col("l_partkey")) % 3
    links = (
        od.join(li, od.o_orderkey == li.l_orderkey)
        .join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(
            F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("dst"),
            F.when(variant == 0, F.col("p_name"))
            .when(variant == 1, F.concat(F.lit("mehr zu "), F.col("p_name")))
            .otherwise(F.lit("hier klicken"))
            .alias("anchor"),
        )
    )
    # counts feeds BOTH the per-target stats and the top-k window —
    # persist it so the raw link relation is aggregated exactly once
    counts = cacheutil.track(
        links.groupBy("dst", "anchor").agg(F.count(F.lit(1)).alias("n_links")).persist()
    )
    stats = counts.groupBy("dst").agg(
        F.sum("n_links").alias("in_links"),
        F.count(F.lit(1)).alias("n_variants"),
    )
    w = Window.partitionBy("dst").orderBy(F.col("n_links").desc(), F.col("anchor"))
    top = counts.withColumn("rnk", F.row_number().over(w).cast("long")).where(
        F.col("rnk") <= _ANCHOR_TOPK
    )
    return (
        top.join(stats, "dst")
        .select("dst", "rnk", "anchor", "n_links", "in_links", "n_variants")
        .orderBy("dst", "rnk")
    )


SQL_GRAPH_ANCHOR_TEXT = f"""
WITH links AS (
  SELECT 'p:' || CAST(l_partkey AS VARCHAR) AS dst,
         CASE (o_orderkey + l_partkey) % 3
           WHEN 0 THEN p_name
           WHEN 1 THEN 'mehr zu ' || p_name
           ELSE 'hier klicken' END AS anchor
  FROM orders
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN part ON p_partkey = l_partkey),
counts AS (
  SELECT dst, anchor, CAST(count(*) AS BIGINT) AS n_links
  FROM links GROUP BY dst, anchor),
stats AS (
  SELECT dst, CAST(sum(n_links) AS BIGINT) AS in_links,
         CAST(count(*) AS BIGINT) AS n_variants
  FROM counts GROUP BY dst),
top AS (
  SELECT dst, anchor, n_links,
         CAST(row_number() OVER (PARTITION BY dst ORDER BY n_links DESC, anchor)
              AS BIGINT) AS rnk
  FROM counts)
SELECT t.dst, t.rnk, t.anchor, t.n_links, s.in_links, s.n_variants
FROM top t JOIN stats s USING (dst)
WHERE t.rnk <= {_ANCHOR_TOPK}
ORDER BY t.dst, t.rnk
"""


# ------------------------------------------------------ DUST alias rules
_DUST_MIN_SUPPORT = 2
_DUST_BASE = "https://gepris.dfg.de/gepris/projekt/"


def q_dedup_url_dust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUST rule mining: pages reachable at several URLs (trailing
    slash, session-id query params) waste fetch budget and poison the
    URL-seen set; the miner detects the rewrite RULES from observed
    content-digest collisions so canonicalization kills whole alias
    families. Alias URLs are synthesized deterministically per
    document (the base URL, a '/'-suffixed alias on even ids, a
    '?session=<digest prefix>' alias on ids divisible by 3) and the
    miner must recover exactly the two planted rules; every OTHER
    same-digest pair stays observable — prefix-shaped pairs with an
    unrecognized suffix bucket as 'other-prefix', non-prefix pairs
    (cross-document content collisions, or sibling aliases like
    base+'/' vs base+'?session=') as 'other-collision' — never
    silently dropped.

    Shape at 100 TB: alias candidates are scan-side (explode of a
    3-slot array); the ONLY shuffle is the equi-self-join on digest,
    and a digest group holds the alias family of one page (small by
    construction — a real miner caps family size the way
    datapipe._subblocked caps pair blocks); rule classification is
    post-join string ops in codegen; the final rule rollup is a
    partial agg over a relation already linear in alias incidences."""
    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    base = docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("digest"),
        F.concat(F.lit(_DUST_BASE), F.col("doc_id").cast("string")).alias("u0"),
    )
    urls = (
        base.select(
            "digest",
            F.explode(
                F.array(
                    F.col("u0"),
                    F.when(F.col("doc_id") % 2 == 0, F.concat(F.col("u0"), F.lit("/"))),
                    F.when(
                        F.col("doc_id") % 3 == 0,
                        F.concat(
                            F.col("u0"),
                            F.lit("?session="),
                            F.substring(F.col("digest"), 1, 8),
                        ),
                    ),
                )
            ).alias("url"),
        )
        .where(F.col("url").isNotNull())
    )
    a, b = urls.alias("a"), urls.alias("b")
    pairs = (
        a.join(b, F.col("a.digest") == F.col("b.digest"))
        .where(F.col("a.url") < F.col("b.url"))
        .select(
            F.col("a.digest").alias("digest"),
            F.col("a.url").alias("au"),
            # null suffix marks a non-prefix pair — classified below,
            # not dropped
            F.when(
                F.col("b.url").startswith(F.col("a.url")),
                F.expr("substring(b.url, length(a.url) + 1)"),
            ).alias("suffix"),
        )
    )
    rules = pairs.select(
        F.when(F.col("suffix") == "/", F.lit("strip-trailing-slash"))
        .when(F.col("suffix").startswith("?session="), F.lit("strip-param:session"))
        .when(F.col("suffix").isNotNull(), F.lit("other-prefix"))
        .otherwise(F.lit("other-collision"))
        .alias("rule"),
        "digest",
        "au",
    )
    return (
        rules.groupBy("rule")
        .agg(
            F.count(F.lit(1)).alias("support"),
            F.countDistinct("digest").alias("n_digests"),
            F.min("au").alias("example_url"),
        )
        .where(F.col("support") >= _DUST_MIN_SUPPORT)
        .orderBy("rule")
    )


SQL_DEDUP_URL_DUST = f"""
WITH base AS (
  SELECT doc_id, md5(text) AS digest,
         '{_DUST_BASE}' || CAST(doc_id AS VARCHAR) AS u0
  FROM documents),
urls AS (
  SELECT digest, u0 AS url FROM base
  UNION ALL
  SELECT digest, u0 || '/' FROM base WHERE doc_id % 2 = 0
  UNION ALL
  SELECT digest, u0 || '?session=' || substr(digest, 1, 8) FROM base
  WHERE doc_id % 3 = 0),
pairs AS (
  SELECT a.digest, a.url AS au,
         CASE WHEN starts_with(b.url, a.url)
              THEN substr(b.url, length(a.url) + 1) END AS suffix
  FROM urls a JOIN urls b ON a.digest = b.digest
  WHERE a.url < b.url),
rules AS (
  SELECT CASE WHEN suffix = '/' THEN 'strip-trailing-slash'
              WHEN starts_with(suffix, '?session=') THEN 'strip-param:session'
              WHEN suffix IS NOT NULL THEN 'other-prefix'
              ELSE 'other-collision' END AS rule,
         digest, au
  FROM pairs)
SELECT rule, CAST(count(*) AS BIGINT) AS support,
       CAST(count(DISTINCT digest) AS BIGINT) AS n_digests,
       min(au) AS example_url
FROM rules GROUP BY rule
HAVING count(*) >= {_DUST_MIN_SUPPORT}
ORDER BY rule
"""


# ------------------------------------------------------------- HITS
_HITS_ITERS = 2
_HITS_MASS = 1_000_000_000  # total integer mass per score vector
_HITS_H0 = 1_000_000  # unnormalized start mass per hub node


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS over the customer->supplier order graph: K=2
    mutual-reinforcement rounds (authority(d) = sum of hub mass over
    in-edges; hub(s) = sum of authority mass over out-edges), each
    followed by integer renormalization to a fixed total mass of 1e9
    micro-units — `score div (total div 1e9)` with a floor-1 divisor —
    so every score is an exact BIGINT function of the graph and the
    oracle (the same rounds unrolled as CTEs) is value-exact. The
    divisor floor is safe because every hub has >= 1 out-edge, so the
    pre-normalization total always carries at least the full mass;
    flooring the divisor bounds the post-normalization total in
    [MASS - |V|, 2*MASS) rather than pinning it exactly — the
    divide-first order is what keeps every intermediate strictly
    below 2^63 regardless of degree skew (multiply-first would
    overflow on a hot authority at full scale).

    Shape at 100 TB: the edge list is built once, persisted, and every
    round is ONE equi-join (scores onto edges by the node key) plus
    ONE partial-agg groupBy — the same exchange-reuse shape as
    `graph_pagerank`. The normalization total is a 1-row aggregate
    broadcast back (bounded metadata, never a collect); no global sort
    until the final ORDER BY, no inequality join anywhere. For large K
    the lineage would be cut per round exactly as `dedup_clusters`
    does."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    od = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = cacheutil.track(
        od.join(li, od.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
        .persist()
    )

    def _normalize(scores: DataFrame, key: str, col: str) -> DataFrame:
        # the raw vector feeds BOTH the 1-row total and the rescale —
        # persist it so each round's lineage is one join + one agg
        # instead of doubling per round (exponential plan growth)
        raw = cacheutil.track(scores.persist())
        total = raw.agg(F.sum(col).alias("_total"))
        return raw.crossJoin(F.broadcast(total)).select(
            key,
            F.expr(f"{col} div (greatest(_total div {_HITS_MASS}, 1))")
            .cast("long")
            .alias(col),
        )

    hub = (
        edges.select("src")
        .distinct()
        .select("src", F.lit(_HITS_H0).cast("long").alias("hub_m"))
    )
    auth = None
    for _ in range(_HITS_ITERS):
        auth_raw = (
            edges.join(hub, "src")
            .groupBy("dst")
            .agg(F.sum("hub_m").alias("auth_m"))
        )
        auth = _normalize(auth_raw, "dst", "auth_m")
        hub_raw = (
            edges.join(auth, "dst")
            .groupBy("src")
            .agg(F.sum("auth_m").alias("hub_m"))
        )
        hub = _normalize(hub_raw, "src", "hub_m")
    return (
        auth.select(F.col("dst").alias("node"), F.lit("authority").alias("role"),
                    F.col("auth_m").alias("score_m"))
        .unionAll(
            hub.select(F.col("src").alias("node"), F.lit("hub").alias("role"),
                       F.col("hub_m").alias("score_m"))
        )
        .orderBy("role", "node")
    )


def _sql_hits() -> str:
    rounds = []
    prev_hub = "h0"
    prev_auth = None
    for i in range(1, _HITS_ITERS + 1):
        rounds.append(
            f"""ar{i} AS (SELECT e.dst, CAST(sum({prev_hub}.hub_m) AS BIGINT) AS auth_m
       FROM e JOIN {prev_hub} USING (src) GROUP BY e.dst),
a{i} AS (SELECT dst, CAST(auth_m // greatest(
           (SELECT CAST(sum(auth_m) AS BIGINT) FROM ar{i}) // {_HITS_MASS}, 1)
         AS BIGINT) AS auth_m FROM ar{i}),
hr{i} AS (SELECT e.src, CAST(sum(a{i}.auth_m) AS BIGINT) AS hub_m
       FROM e JOIN a{i} USING (dst) GROUP BY e.src),
h{i} AS (SELECT src, CAST(hub_m // greatest(
           (SELECT CAST(sum(hub_m) AS BIGINT) FROM hr{i}) // {_HITS_MASS}, 1)
         AS BIGINT) AS hub_m FROM hr{i})"""
        )
        prev_hub = f"h{i}"
        prev_auth = f"a{i}"
    body = ",\n".join(rounds)
    return f"""
WITH e AS (SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                           's:' || CAST(l_suppkey AS VARCHAR) AS dst
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
h0 AS (SELECT DISTINCT src, CAST({_HITS_H0} AS BIGINT) AS hub_m FROM e),
{body}
SELECT dst AS node, 'authority' AS role, auth_m AS score_m FROM {prev_auth}
UNION ALL
SELECT src AS node, 'hub' AS role, hub_m AS score_m FROM {prev_hub}
ORDER BY role, node
"""


SQL_GRAPH_HITS = _sql_hits()


# ---------------------------------------------------------- funnel
_FUNNEL_BP = 10_000  # basis points — integer conversion ratios


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event log: a user converts at
    step k only with an event of that type AT OR AFTER their step-k-1
    conversion time (first-touch semantics, ties inclusive). Output is
    one row per step with the user count and basis-points-of-step-1 —
    integer arithmetic so the ratio is addition-order invariant.

    Shape at 100 TB: all three step times come from ONE user_id
    exchange — the step-k time is a min-over-partition window
    conditioned on the step-(k-1) column from the same select chain,
    so Catalyst stacks the three windows plus the per-user collapse on
    a single hash partitioning of the log (the sessionizer's shape).
    The step rollup is a 3-row aggregate; nothing global ever sorts."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    t1 = ev.withColumn(
        "t_view", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    t2 = t1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    t3 = t2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = t3.groupBy("user_id").agg(
        F.first("t_view").alias("t_view"),
        F.first("t_click").alias("t_click"),
        F.first("t_purchase").alias("t_purchase"),
    )
    one = per_user.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
    )
    steps = one.select(
        F.inline(
            F.array(
                F.struct(
                    F.lit("view").alias("step"),
                    F.lit(1).cast("long").alias("step_idx"),
                    F.col("n_view").alias("n_users"),
                ),
                F.struct(
                    F.lit("click").alias("step"),
                    F.lit(2).cast("long").alias("step_idx"),
                    F.col("n_click").alias("n_users"),
                ),
                F.struct(
                    F.lit("purchase").alias("step"),
                    F.lit(3).cast("long").alias("step_idx"),
                    F.col("n_purchase").alias("n_users"),
                ),
            )
        ),
        F.col("n_view").alias("_n1"),
    )
    return steps.select(
        "step",
        "step_idx",
        "n_users",
        F.expr(f"(n_users * {_FUNNEL_BP}) div greatest(_n1, 1)")
        .cast("long")
        .alias("bp_of_first"),
    ).orderBy("step_idx")


SQL_EVENTS_FUNNEL = f"""
WITH v AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= v.t_view
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
  GROUP BY e.user_id),
agg AS (
  SELECT CAST((SELECT count(*) FROM v WHERE t_view IS NOT NULL) AS BIGINT) AS n_view,
         CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
         CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase)
SELECT step, step_idx, n_users,
       CAST((n_users * {_FUNNEL_BP}) // greatest(n_view, 1) AS BIGINT) AS bp_of_first
FROM (
  SELECT 'view' AS step, CAST(1 AS BIGINT) AS step_idx, n_view AS n_users, n_view FROM agg
  UNION ALL
  SELECT 'click', CAST(2 AS BIGINT), n_click, n_view FROM agg
  UNION ALL
  SELECT 'purchase', CAST(3 AS BIGINT), n_purchase, n_view FROM agg)
ORDER BY step_idx
"""


# --------------------------------------------- positional phrase search
_PHRASE_TOPK = 3
_SQL_TOKENS_WS = "regexp_extract_all(lower(text), '[a-z0-9]+')"


def q_text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search: mine the corpus's top-3 bigram
    phrases, then answer them THROUGH the positional postings — the
    kernel every phrase/proximity query in a web index runs (Zobel &
    Moffat, "Inverted files for text search engines"; the search-side
    sibling of `text_bm25_topk`, which ranks but cannot see adjacency).

    Two legs, deliberately different plans whose counts must agree:
    * MINING: postings (doc_id, pos, tok) are scan-side posexplode;
      the bigram relation is ONE doc-partitioned `lead` window (linear,
      never a global sort — same discipline as the sessionizer), and
      the top-3 global phrases compile to TakeOrderedAndProject
      (per-partition top-k + merge, no full sort).
    * SEARCH: each phrase's occurrences are found the index way — fetch
      the two terms' posting lists by key (an equi-join of the postings
      against the BROADCAST 3-phrase word set — at web scale this is
      the term-sharded index lookup, never a corpus scan), then
      intersect them on (doc_id, pos+1) adjacency: one equi-join
      shuffling only the two posting lists.

    `n_occurrences` (search leg) must equal `corpus_occurrences`
    (mining leg) row for row — the plan grades its own index against
    the window formulation, and the DuckDB oracle grades both. The
    per-phrase top-doc window partitions by phrase over the per-doc
    hit counts (bounded by docs-containing-phrase, never raw
    postings)."""
    postings = (
        load(spark, sf_dir, "documents", spread=True)
        .select("doc_id", F.posexplode(TS.tokens(F.col("text"))).alias("pos", "tok"))
    )
    wlead = Window.partitionBy("doc_id").orderBy("pos")
    top = (
        postings.withColumn("nxt", F.lead("tok").over(wlead))
        .where(F.col("nxt").isNotNull())
        .groupBy(F.col("tok").alias("w1"), F.col("nxt").alias("w2"))
        .agg(F.count(F.lit(1)).alias("corpus_occurrences"))
        .orderBy(F.col("corpus_occurrences").desc(), "w1", "w2")
        .limit(_PHRASE_TOPK)
        .select(
            F.concat_ws(" ", "w1", "w2").alias("phrase"), "w1", "w2", "corpus_occurrences"
        )
    )
    p1 = postings.join(F.broadcast(top), postings["tok"] == top["w1"]).select(
        "phrase", "corpus_occurrences", "w2", "doc_id", "pos"
    )
    p2 = postings.select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("pos2"), F.col("tok").alias("t2")
    ).join(
        F.broadcast(top.select(F.col("w2").alias("t2")).distinct()), "t2", "semi"
    )
    occ = p1.join(
        p2,
        (F.col("d2") == F.col("doc_id"))
        & (F.col("pos2") == F.col("pos") + 1)
        & (F.col("t2") == F.col("w2")),
    )
    perdoc = occ.groupBy("phrase", "corpus_occurrences", "doc_id").agg(
        F.count(F.lit(1)).alias("hits")
    )
    wp = Window.partitionBy("phrase").orderBy(F.col("hits").desc(), "doc_id")
    return (
        perdoc.withColumn("rn", F.row_number().over(wp))
        .groupBy("phrase", "corpus_occurrences")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("hits").alias("n_occurrences"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("top_doc"),
            F.max(F.when(F.col("rn") == 1, F.col("hits"))).alias("top_doc_hits"),
        )
        .orderBy("phrase")
    )


SQL_TEXT_PHRASE_SEARCH = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS_WS} AS toks FROM documents),
p AS (SELECT doc_id, u.pos, toks[u.pos] AS tok
      FROM t, unnest(generate_series(1, len(toks))) AS u(pos)),
b AS (SELECT doc_id, pos, tok,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM p),
top AS (SELECT tok AS w1, nxt AS w2, tok || ' ' || nxt AS phrase,
               CAST(count(*) AS BIGINT) AS corpus_occurrences
        FROM b WHERE nxt IS NOT NULL
        GROUP BY 1, 2, 3
        ORDER BY corpus_occurrences DESC, w1, w2 LIMIT {_PHRASE_TOPK}),
occ AS (SELECT top.phrase, top.corpus_occurrences, p1.doc_id
        FROM top
        JOIN p p1 ON p1.tok = top.w1
        JOIN p p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1 AND p2.tok = top.w2),
perdoc AS (SELECT phrase, corpus_occurrences, doc_id,
                  CAST(count(*) AS BIGINT) AS hits
           FROM occ GROUP BY 1, 2, 3),
r AS (SELECT *, row_number() OVER (PARTITION BY phrase ORDER BY hits DESC, doc_id) AS rn
      FROM perdoc)
SELECT phrase, corpus_occurrences,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(hits) AS BIGINT) AS n_occurrences,
       max(CASE WHEN rn = 1 THEN doc_id END) AS top_doc,
       max(CASE WHEN rn = 1 THEN hits END) AS top_doc_hits
FROM r GROUP BY phrase, corpus_occurrences ORDER BY phrase
"""


WEBSIGNALS_QUERIES: dict[str, tuple] = {
    "text_phrase_search": (q_text_phrase_search, SQL_TEXT_PHRASE_SEARCH),
    "graph_anchor_text": (q_graph_anchor_text, SQL_GRAPH_ANCHOR_TEXT),
    "dedup_url_dust": (q_dedup_url_dust, SQL_DEDUP_URL_DUST),
    "graph_hits": (q_graph_hits, SQL_GRAPH_HITS),
    "events_funnel": (q_events_funnel, SQL_EVENTS_FUNNEL),
}



# --------------------------------------------------------- retention
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week
    (the cohort), counted as active per whole-week age since that
    week, with cohort size and retention in integer basis points —
    the canonical product-analytics companion to the funnel, and the
    crawl-side shape for 'which discovery cohort of URLs is still
    alive k weeks later' (reference analogue: the data monitor's
    per-run stats, operators/monitor.py).

    Shape at 100 TB: the cohort week is a min-over-user_id window on
    the SAME exchange the (cohort, age) distinct-user rollup then
    keys off; cohort sizes are a second aggregate of the per-user
    relation (already tiny) broadcast back onto the matrix. Integer
    week arithmetic (floor-div of day deltas) and basis points keep
    every value exact on both engines."""
    ev = load(spark, sf_dir, "events").select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    w = Window.partitionBy("user_id")
    aged = (
        ev.withColumn("cohort_week", F.date_trunc("week", F.min("ts").over(w)))
        .select(
            "user_id",
            "cohort_week",
            # integer div, not float /: the delta is always a multiple
            # of 7 today (both ends week-truncated), but `div` keeps
            # the floor semantics aligned with the oracle's // if that
            # ever changes
            F.expr("datediff(date_trunc('week', ts), cohort_week) div 7")
            .cast("long")
            .alias("age_weeks"),
        )
        .distinct()
    )
    cohorts = (
        aged.where(F.col("age_weeks") == 0)
        .groupBy("cohort_week")
        .agg(F.count(F.lit(1)).alias("cohort_size"))
    )
    matrix = aged.groupBy("cohort_week", "age_weeks").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    return (
        matrix.join(F.broadcast(cohorts), "cohort_week")
        .select(
            "cohort_week",
            "age_weeks",
            "n_active",
            "cohort_size",
            F.expr("(n_active * 10000) div cohort_size").cast("long").alias("retention_bp"),
        )
        .orderBy("cohort_week", "age_weeks")
    )


SQL_EVENTS_RETENTION = """
WITH u AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id),
aged AS (
  SELECT DISTINCT e.user_id, u.cohort_week,
         CAST(date_diff('day', u.cohort_week, date_trunc('week', e.ts)) // 7
              AS BIGINT) AS age_weeks
  FROM events e JOIN u USING (user_id)),
cohorts AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
  FROM aged WHERE age_weeks = 0 GROUP BY cohort_week),
matrix AS (
  SELECT cohort_week, age_weeks, CAST(count(*) AS BIGINT) AS n_active
  FROM aged GROUP BY cohort_week, age_weeks)
SELECT m.cohort_week, m.age_weeks, m.n_active, c.cohort_size,
       CAST((m.n_active * 10000) // c.cohort_size AS BIGINT) AS retention_bp
FROM matrix m JOIN cohorts c USING (cohort_week)
ORDER BY m.cohort_week, m.age_weeks
"""


WEBSIGNALS_QUERIES["events_retention"] = (q_events_retention, SQL_EVENTS_RETENTION)
