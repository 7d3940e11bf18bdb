"""Automated physical-plan audit: the README's plan table as
assertions, so a regression that silently de-optimizes a plan (lost
filter pushdown, broadcast flipped to sort-merge, a sneaky cartesian
product) fails CI instead of surviving until someone re-reads an
explain by hand.

These assert on `explain("formatted")` / queryExecution text — plan
SHAPE, not timings, so they are stable across machines."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    from gepris_spark.plans.relational import q_pricing_summary

    plan = _plan(q_pricing_summary(spark, SF))
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters:")[1][:200]
    # column pruning: the scan schema must not contain unused wide columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema


def test_priority_topk_avoids_full_sort(spark):
    from gepris_spark.plans.relational import q_priority_topk

    plan = _plan(q_priority_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_antijoin_discovery_broadcasts(spark):
    from gepris_spark.plans.relational import q_antijoin_discovery

    plan = _plan(q_antijoin_discovery(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_aggregates_are_partial(spark):
    """Every groupBy compiles to partial (map-side) + final
    HashAggregate around the exchange."""
    from gepris_spark.plans.relational import q_pricing_summary

    plan = _plan(q_pricing_summary(spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_fetch_join_broadcasts_scheduled_not_pages(spark):
    """The fetch plan must broadcast the (bounded) scheduled side and
    stream the html side — broadcasting pages would ship the corpus."""
    from gepris_spark.operators import fetchparse
    from gepris_spark.sources import corpus

    seeds = spark.createDataFrame(corpus.gen_seeds_pdf(10, seed=42))
    sched = (
        seeds.dropna(subset=["item_id"])
        .where(~F.col("url").contains("?"))
        .select("url", F.lit("de").alias("language"))
        .distinct()
    )
    images = corpus.gen_images_pdf(4, seed=42)
    pages = spark.createDataFrame(corpus.gen_pages_pdf(corpus.gen_seeds_pdf(10, seed=42), images))
    plan = _plan(fetchparse.fetch_pages(sched, pages))
    assert "BroadcastHashJoin" in plan
    # the completeness anti-join pass must read only the key columns
    assert "html" not in plan.split("ReadSchema:")[-1].splitlines()[0] if "ReadSchema:" in plan else True


def test_no_cartesian_products_anywhere(spark):
    """No contract query may compile to a CartesianProduct or
    BroadcastNestedLoopJoin on its hot path (ann_topk's tiny
    query-side NLJ against a 3-row broadcast is the allowed
    exception — it is the textbook broadcast pattern)."""
    import __spark_entry__ as entry

    allowed_nlj = {
        "ann_topk_cosine",
        "ann_topk_ivf",
        "image_hamming_topk",
        # hard-negative mining broadcasts the 8-row query set into a
        # label<>label non-equi join — the same textbook tiny-side NLJ
        "embedding_hard_negatives",
        # bm25 cross-joins the ONE-row (n_docs, sum_dl) corpus-stats agg
        # back onto the pruned postings — a 1-row broadcast NLJ
        "text_bm25_topk",
        # the bigram LM cross-joins the ONE-row vocab-size agg onto the
        # bigram-count table — the same 1-row broadcast NLJ
        "text_lm_perplexity",
        # the calendar grid build broadcasts the bounded day list
        # (|days| rows from a 1-row min/max agg) onto the user set
        "events_daily_fill",
        # DSIR cross-joins two ONE-row broadcasts (corpus totals, the
        # rank-based keep threshold) — same 1-row broadcast NLJ shape
        "corpus_dsir_weights",
        # recrawl scheduling cross-joins the ONE-row "now" aggregate
        # onto the per-item schedule — same 1-row broadcast NLJ
        "crawl_recrawl_schedule",
        # priority sampling cross-joins the ONE-row tau threshold onto
        # the k sample rows — same 1-row broadcast NLJ
        "corpus_priority_sample",
        # each HITS round cross-joins the ONE-row L1-mass aggregate
        # onto the score vector to renormalize — same 1-row broadcast
        # NLJ, once per (fixed, small) iteration count
        "graph_hits",
        # UCB cross-joins three ONE-row broadcasts (grand total, share
        # denominator, floor-share remainder) onto the O(hosts) arm
        # aggregate — same 1-row broadcast NLJ shape
        "crawl_bandit_budget",
        # the theta pair frame joins the O(event-types) theta relation
        # to itself under type_a < type_b — a bounded-side broadcast
        # NLJ like ann_topk's query side; the sampled-hash
        # intersection itself is an equi-join on h
        "events_theta_intersect",
        # same bounded theta self-join under type_a < type_b (round 4)
        "events_theta_union_diff",
        # RRF's cosine leg broadcasts the 3-row query set into a
        # vec_id <> query_id non-equi join — ann_topk's textbook shape
        "search_hybrid_rrf",
        # waterfill broadcasts two ONE-row aggregates (totals and the
        # (t, share, rem) threshold row) onto the O(sources) relation
        "corpus_unimax_mixture",
    }
    offenders = []
    for name, fn in entry.queries().items():
        if name in ("crawl_replay_visit_log", "stateful_schedule_stream"):
            continue  # engine/stream drivers, not single plans
        df = fn(spark, SF)
        plan = _plan(df)
        if "CartesianProduct" in plan:
            offenders.append((name, "cartesian"))
        if "BroadcastNestedLoopJoin" in plan and name not in allowed_nlj:
            offenders.append((name, "nlj"))
    assert not offenders, offenders


def test_window_functions_always_partitioned(spark):
    """No contract query may run a window over a single-partition
    exchange — the classic global `row_number() OVER (ORDER BY ...)`
    scalability bug. Detection: an `Exchange SinglePartition` feeding
    a Window/Sort pair in the same plan."""
    import __spark_entry__ as entry

    offenders = []
    for name, fn in entry.queries().items():
        if name in ("crawl_replay_visit_log", "stateful_schedule_stream"):
            continue
        plan = _plan(fn(spark, SF))
        if "Window" in plan and "Exchange SinglePartition" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_image_neardup_is_shuffle_equijoin_with_pruned_scan(spark):
    """The banded pHash self-join must be an equi-join (hash or
    sort-merge, never nested-loop) and the catalog scan must read only
    (image_id, phash) — at 100 TB the caption/dims columns stay on
    disk."""
    from gepris_spark.plans.imagepipe import q_image_phash_neardup

    plan = _plan(q_image_phash_neardup(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "caption" not in read_schema and "image_id" in read_schema
    # the binary payload column must stay on disk for metadata-scale ops
    assert "bytes" not in read_schema


def test_sample_stratified_is_scan_plus_filter_no_shuffle(spark):
    """Stratified sampling must compile to scan+filter+sort only: no
    Exchange other than the output ordering's range partitioning."""
    from gepris_spark.plans.datapipe import q_sample_stratified

    plan = _plan(q_sample_stratified(spark, SF))
    assert "Join" not in plan
    body = plan.split("rangepartitioning")[0]
    assert "Exchange hashpartitioning" not in body


def test_shuffle_shards_window_is_per_shard_not_global(spark):
    from gepris_spark.plans.datapipe import q_shuffle_shards

    plan = _plan(q_shuffle_shards(spark, SF))
    assert "Window" in plan
    # the window must partition by shard, never a single global partition
    assert "SinglePartition" not in plan.split("Window")[0]


def test_pack_sequences_global_cumsum_is_partition_offset_pattern(spark):
    """Sequence packing's global token cumsum must use the range-
    partition + driver-offsets pattern (politeness._range_rank's, which ranks
    the crawl's visit order), not a global single-partition window."""
    from gepris_spark.plans.datapipe import q_pack_sequences

    plan = _plan(q_pack_sequences(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in plan


def test_vocab_topk_partial_agg_and_no_global_sort(spark):
    """Word count must partial-aggregate map-side and take top-K via
    TakeOrderedAndProject — never a global sort of the vocabulary."""
    from gepris_spark.plans.datapipe import q_vocab_topk

    plan = _plan(q_vocab_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_asof_enrich_is_union_window_not_range_join(spark):
    """The as-of join must compile to the union-and-window shape: one
    hash exchange on user_id feeding a Window — never a Join operator
    (a range/inequality join would be O(n*m) per user) and never a
    single-partition window."""
    from gepris_spark.plans.trainprep import q_events_asof_enrich

    plan = _plan(q_events_asof_enrich(spark, SF))
    assert "Join" not in plan
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(user_id" in plan


def test_sessionize_single_user_shuffle(spark):
    """Sessionization must reuse ONE hash exchange on user_id for the
    lag window, the session-index cumsum and the final aggregate."""
    from gepris_spark.plans.trainprep import q_events_sessionize

    plan = _plan(q_events_sessionize(spark, SF))
    # formatted explain lists each Exchange's spec on its Arguments
    # line; exactly one hash exchange (user_id) may appear — the lag
    # window, cumsum window, and both aggregate halves all reuse it
    # (the second exchange is the output ordering's rangepartitioning)
    assert plan.count("hashpartitioning(user_id") == 1
    assert "Exchange SinglePartition" not in plan


def test_bpe_pair_counts_partial_agg_topk(spark):
    """Pair counting must partial-aggregate map-side and take the head
    via TakeOrderedAndProject — never a global sort of the pair space."""
    from gepris_spark.plans.trainprep import q_bpe_pair_counts

    plan = _plan(q_bpe_pair_counts(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_boilerplate_removal_join_is_broadcast_anti(spark):
    """The boilerplate-chunk removal must broadcast the (tiny,
    corpus-wide-repeats-only) boilerplate set into a LEFT ANTI join —
    document chunks never shuffle for the removal."""
    from gepris_spark.plans.trainprep import q_text_boilerplate_lines

    plan = _plan(q_text_boilerplate_lines(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_pii_scrub_is_scan_side_only(spark):
    """PII scrubbing is a scan-side projection: no joins, no hash
    exchanges (only the output ordering's range partitioning)."""
    from gepris_spark.plans.trainprep import q_text_pii_scrub

    plan = _plan(q_text_pii_scrub(spark, SF))
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan.split("rangepartitioning")[0]


def test_mixture_downsample_broadcast_threshold_no_doc_shuffle(spark):
    """Mixture downsampling must broadcast the O(sources) threshold
    table; document rows are filtered in place and only the per-source
    aggregate shuffles."""
    from gepris_spark.plans.trainprep import q_mixture_downsample

    plan = _plan(q_mixture_downsample(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_quality_classifier_is_scan_side_no_shuffle(spark):
    """The hashed linear classifier must be a pure scan-side
    projection: no joins, no hash exchange (only the output
    ordering's range partitioning)."""
    from gepris_spark.plans.trainprep import q_text_quality_classifier

    plan = _plan(q_text_quality_classifier(spark, SF))
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan.split("rangepartitioning")[0]


def test_bm25_prunes_postings_before_shuffle(spark):
    """The BM25 postings build must filter to the query vocabulary
    BEFORE the tf groupBy shuffles, and every enrichment join
    (dfreq, query map, corpus stats) must broadcast — the corpus
    never sort-merge-joins."""
    from gepris_spark.plans.trainprep import q_text_bm25_topk

    plan = _plan(q_text_bm25_topk(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the IN-list filter sits in the same stage as the explode (i.e.
    # it appears as a Filter on the token, not after any Exchange)
    assert "Filter" in plan


def test_pagerank_no_nlj_no_single_partition(spark):
    """Each PageRank iteration must be equi-joins + a partial-agg
    groupBy — no cartesian/NLJ anywhere, no single-partition
    exchange (the rank update never funnels to one task)."""
    from gepris_spark.plans.trainprep import q_graph_pagerank

    plan = _plan(q_graph_pagerank(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan.split("rangepartitioning")[0]


def test_hopping_window_single_expand_pass(spark):
    """The sliding window must compile to ONE Expand + aggregate (each
    row fans out map-side), never a self-join of tumbling windows."""
    from gepris_spark.plans.trainprep import q_events_hopping_window

    plan = _plan(q_events_hopping_window(spark, SF))
    assert "Expand" in plan
    assert "Join" not in plan


def test_daily_fill_broadcasts_calendar(spark):
    """The gap-fill grid must broadcast the bounded calendar; the
    event side joins and forward-fills inside user_id partitions."""
    from gepris_spark.plans.trainprep import q_events_daily_fill

    plan = _plan(q_events_daily_fill(spark, SF))
    assert "SortMergeJoin" not in plan or "BroadcastNestedLoopJoin" in plan
    assert "Exchange SinglePartition" not in plan.split("rangepartitioning")[0]


def test_exact_substring_linear_shuffles_no_text_in_window_relation(spark):
    """ExactSubstr must stay linear: window generation scan-side (no
    UDF stage), equi-joins only, and the exploded window relation
    carries the 60-bit hash — never the text column (checked via the
    aggregate side never projecting `text` after the explode)."""
    from gepris_spark.plans.trainprep import q_text_exact_substring

    plan = _plan(q_text_exact_substring(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan.split("rangepartitioning")[0]
    # no Python evaluation anywhere — sequence/transform/slice are codegen
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hard_negatives_broadcasts_query_set(spark):
    """Hard-negative mining must broadcast the bounded query set (the
    corpus side never shuffles for the scoring) and rank inside a
    per-query window."""
    from gepris_spark.plans.trainprep import q_embedding_hard_negatives

    plan = _plan(q_embedding_hard_negatives(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(query_id" in plan


def test_events_range_join_is_equi_join(spark):
    """The binned range join must compile to a pure equi-join on
    (user_id, bucket) — never the nested-loop plan a raw interval
    predicate produces — with the residual containment as a post-join
    filter and a partial-agg rollup."""
    from gepris_spark.plans.trainprep import q_events_range_join

    plan = _plan(q_events_range_join(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert plan.count("HashAggregate") >= 2
    # all codegen — no Python stage anywhere in this query
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmv_distinct_stays_codegen(spark):
    """The KMV sketch is hash + window rank + aggregate — no Python
    stage, no cartesian anything."""
    from gepris_spark.plans.trainprep import q_events_kmv_distinct

    plan = _plan(q_events_kmv_distinct(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_kcore_broadcasts_survivor_set(spark):
    """Every peel round must broadcast the bounded survivor set — the
    edge relation never reshuffles for the semi-joins."""
    from gepris_spark import cacheutil
    from gepris_spark.plans.trainprep import q_graph_kcore

    plan = _plan(q_graph_kcore(spark, SF))
    cacheutil.release_caches()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_kcore_survivor_set_shuffle_fallback_over_threshold(spark, monkeypatch):
    """Round-3 verdict scale caveat: when the measured survivor set
    exceeds GRAPH_BROADCAST_MAX_ROWS (a web graph, not this bipartite
    TPC one), the semi-joins must fall back to a shuffle join
    partitioned on the node key instead of an O(nodes) broadcast.
    Force the fallback by zeroing the threshold and assert BOTH the
    plan flip and unchanged results."""
    from gepris_spark import cacheutil
    from gepris_spark.plans import trainprep

    baseline = [tuple(r) for r in trainprep.q_graph_kcore(spark, SF).collect()]
    cacheutil.release_caches()
    monkeypatch.setattr(trainprep, "GRAPH_BROADCAST_MAX_ROWS", 0)
    df = trainprep.q_graph_kcore(spark, SF)
    plan = _plan(df)
    # static plan picks a shuffle join for the semi-joins (AQE may
    # still convert at runtime from ACTUAL sizes — that's the point
    # of the conditional: the STRATEGY no longer assumes smallness)
    assert "SortMergeJoin LeftSemi" in plan or "ShuffledHashJoin LeftSemi" in plan
    got = [tuple(r) for r in df.collect()]
    cacheutil.release_caches()
    assert got == baseline


def test_lpa_sizes_join_shuffle_fallback_over_threshold(spark, monkeypatch):
    """Same conditional for LPA's community-size join: broadcast under
    the threshold, shuffle join on the label key above it, identical
    results either way."""
    from gepris_spark import cacheutil
    from gepris_spark.plans import trainprep

    under = trainprep.q_graph_label_propagation(spark, SF)
    assert "BroadcastHashJoin" in _plan(under)
    baseline = [tuple(r) for r in under.collect()]
    cacheutil.release_caches()
    monkeypatch.setattr(trainprep, "GRAPH_BROADCAST_MAX_ROWS", 0)
    df = trainprep.q_graph_label_propagation(spark, SF)
    plan = _plan(df)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    got = [tuple(r) for r in df.collect()]
    cacheutil.release_caches()
    assert got == baseline


def test_dsir_threshold_is_partial_topk(spark):
    """DSIR's keep threshold must come from TakeOrderedAndProject
    (partial per-partition top-k), never a global sort; the scoring
    join must broadcast the 256-bucket lambda table; no Python stage."""
    from gepris_spark.plans.trainprep import q_corpus_dsir_weights

    plan = _plan(q_corpus_dsir_weights(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_frontier_plan_broadcasts_policy_partitions_window(spark):
    """The frontier-plan capstone must broadcast the O(hosts) policy
    side onto the discovery set (never shuffle discoveries for it),
    keep the admission rank a host-partitioned window, and stay free
    of Python stages — the whole plan is built-ins."""
    from gepris_spark.plans.contract_extra import q_crawl_frontier_plan

    plan = _plan(q_crawl_frontier_plan(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan and "Exchange SinglePartition" not in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_recrawl_schedule_single_item_shuffle(spark):
    """The lag window and the per-item aggregate must reuse ONE
    user_id exchange; "now" is a tiny-side broadcast, never a second
    shuffle of the schedule; no Python stage."""
    from gepris_spark.plans.contract_extra import q_crawl_recrawl_schedule

    plan = _plan(q_crawl_recrawl_schedule(spark, SF))
    body = plan.split("== Physical Plan ==")[-1].split("* Sort")[0]
    assert body.count("Exchange hashpartitioning") <= 1, plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cms_heavy_hitters_broadcast_sketch_topk_no_global_sort(spark):
    """The Count-Min estimate join must broadcast the 256-cell sketch
    (never shuffle the candidate set for it), the final top-10 must be
    TakeOrderedAndProject (per-partition heads, no global sort), and
    every aggregate must have a map-side partial."""
    from gepris_spark.plans.trainprep import q_events_cms_heavy_hitters

    plan = _plan(q_events_cms_heavy_hitters(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final for sketch and exact
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quantile_sketch_windows_partitioned_totals_broadcast(spark):
    """The CDF and rank windows must stay partitioned by event_type
    (never a single-partition window) and the tiny per-type totals
    must broadcast back onto bucket/value rows, not shuffle them."""
    from gepris_spark.plans.trainprep import q_events_quantile_sketch

    plan = _plan(q_events_quantile_sketch(spark, SF))
    assert "Window" in plan and "Exchange SinglePartition" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_politeness_audit_single_host_shuffle(spark):
    """The gap window and the per-host aggregate must share ONE host
    exchange — the audit is a single pass over the visit log."""
    from gepris_spark.plans.contract_extra import q_crawl_politeness_audit

    plan = _plan(q_crawl_politeness_audit(spark, SF))
    body = plan.split("== Physical Plan ==")[-1].split("* Sort")[0]
    assert body.count("Exchange hashpartitioning") <= 1, plan
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_shard_balance_counts_broadcast_no_url_reshuffle(spark):
    """The per-host count table must broadcast back onto the url set
    (hosts are bounded; never shuffle urls to attach a count), and the
    skew numbers themselves must show the salt working: unsalted max
    share >= 3x fair, salted max share <= 2x fair."""
    from pyspark.sql import functions as F

    from gepris_spark.plans.contract_extra import q_crawl_shard_balance

    df = q_crawl_shard_balance(spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan or "Window" not in plan
    rows = df.collect()
    assert max(r["unsalted_share_bp"] for r in rows) >= 30000
    assert max(r["salted_share_bp"] for r in rows) <= 20000
    # both assignments cover every url exactly once
    assert sum(r["n_unsalted"] for r in rows) == sum(r["n_salted"] for r in rows)


def test_hll_distinct_stays_codegen_no_window(spark):
    """The HLL sketch is hash + two map-side-combinable aggregates —
    no Python stage, no window at all (unlike KMV's rank), no join:
    the whole plan past the distinct is O(types * 64) rows."""
    from gepris_spark.plans.trainprep import q_events_hll_distinct

    plan = _plan(q_events_hll_distinct(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "Join" not in plan


def test_triangles_all_equi_joins_rank_filter_post_join(spark):
    """Every join in the triangle plan is an equi-join (hash or
    sort-merge); the (degree, node) rank comparison must appear as a
    post-join filter, never as an inequality join condition — no
    nested-loop anything."""
    from gepris_spark.plans.trainprep import q_graph_triangles

    plan = _plan(q_graph_triangles(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_trap_guard_broadcast_policy_no_window(spark):
    """The admission join must broadcast the O(templates) policy side —
    the url relation never reshuffles for it — and the plan has no
    window (thinning replaces the per-template rank exactly because a
    trap's partition is unbounded)."""
    from gepris_spark.plans.contract_extra import q_crawl_trap_guard

    plan = _plan(q_crawl_trap_guard(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_anchor_text_collapses_before_window_broadcasts_dimension(spark):
    """The anchor inversion aggregates the raw link relation to
    per-(target, anchor) counts BEFORE the top-k window (map-side
    partials around one exchange), the window partitions on dst (never
    a global sort window), the `part` dimension is broadcast, and the
    counts relation is persisted so stats and top-k read it once."""
    from gepris_spark.plans.websignals import q_graph_anchor_text

    plan = _plan(q_graph_anchor_text(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_url_dust_single_digest_selfjoin_no_window(spark):
    """DUST mining's only shuffle is the equi-self-join on the content
    digest; alias generation and rule classification stay scan-side in
    codegen — no window, no cartesian, no Python stage."""
    from gepris_spark.plans.websignals import q_dedup_url_dust

    plan = _plan(q_dedup_url_dust(spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the self-join keys on the digest: broadcast at toy scale (size-
    # based), shuffle-hash/sort-merge on the same equi-key at scale
    assert "BroadcastHashJoin" in plan or plan.count("hashpartitioning(digest") >= 2


def test_hits_rounds_are_equi_joins_with_persisted_vectors(spark):
    """Every HITS round is an equi-join plus a partial-agg groupBy; the
    per-round raw vectors are persisted (one materialization feeds the
    total AND the rescale), and the only nested-loop joins are the
    1-row normalization-total broadcasts — never a real cartesian."""
    from gepris_spark.plans.websignals import q_graph_hits

    plan = _plan(q_graph_hits(spark, SF))
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_funnel_single_user_exchange(spark):
    """All three funnel-step windows and the per-user collapse share
    ONE hash partitioning on user_id; the only single-partition stage
    is the final 3-row step rollup."""
    from gepris_spark.plans.websignals import q_events_funnel

    plan = _plan(q_events_funnel(spark, SF))
    assert plan.count("hashpartitioning") == 1
    assert "hashpartitioning(user_id" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_retention_single_user_exchange_broadcast_cohorts(spark):
    """The cohort window, the per-user distinct and the matrix rollup
    share the user-keyed partitioning; cohort sizes come back as a
    broadcast join, never a re-shuffle of the matrix."""
    from gepris_spark.plans.websignals import q_events_retention

    plan = _plan(q_events_retention(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cdc_chunks_doc_partitioned_window_no_text_after_chunks(spark):
    """The chunk-id assignment window must partition by doc_id (never a
    global ORDER BY), every join is an equi-join, and the whole plan
    stays codegen — no Python stage touches the token stream."""
    from gepris_spark.plans.storagepipe import q_storage_cdc_chunks

    plan = _plan(q_storage_cdc_chunks(spark, SF))
    assert "Window" in plan
    assert "hashpartitioning(doc_id" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_phrase_search_broadcasts_phrases_topk_no_full_sort(spark):
    """The 3-phrase word set must reach the postings as a broadcast
    (the term-keyed index fetch), the global top-3 must compile to
    TakeOrderedAndProject, and the adjacency intersection must be an
    equi-join, never a nested loop."""
    from gepris_spark.plans.websignals import q_text_phrase_search

    plan = _plan(q_text_phrase_search(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_shortest_path_rounds_equi_join_partial_min(spark):
    """Every BFS round is an equi-join of state onto edges plus a
    map-side-combinable min — no cartesian, no Python, no window."""
    from gepris_spark.plans.trainprep import q_graph_shortest_path

    plan = _plan(q_graph_shortest_path(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_exact_substring_spans_island_window_per_doc(spark):
    """Round-5 variable-length ExactSubstr: the gaps-and-islands window
    pass must partition by doc_id (per-document sort, never a global
    one) and the scan must prune to (doc_id, text)."""
    from gepris_spark.plans.trainprep import q_text_exact_substring_spans

    plan = _plan(q_text_exact_substring_spans(spark, SF))
    assert "hashpartitioning(doc_id" in plan
    assert "Exchange SinglePartition" not in plan or "Window" not in plan
    read_schemas = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln and "documents" not in ln
    ]
    assert any("text" in ln for ln in read_schemas)
    assert not any("lang" in ln for ln in read_schemas)


def test_ann_ivf_probe_join_is_broadcast_with_partial_training_aggs(spark):
    """Round-5 trained-quantizer IVF: the probed (query x cell) relation
    must broadcast against the assigned corpus (an equi-join on cell —
    the probe prune), and the final rank window partitions by
    query_id. The k-means training passes run eagerly inside the
    builder (bounded K x d collects), so the returned plan is the
    query-time path only."""
    from gepris_spark.plans.datapipe import q_ann_topk_ivf

    plan = _plan(q_ann_topk_ivf(spark, SF))
    assert "BroadcastHashJoin" in plan and "cell" in plan
    assert "hashpartitioning(query_id" in plan


def test_hybrid_rrf_ann_legs_broadcast(spark):
    """Round-5 RRF-over-ANN: the lexical inverted-index probe and the
    candidate cosine ranks must both enter as broadcasts; ranking
    windows partition by query_id; no cartesian product anywhere."""
    from gepris_spark.plans.trainprep import q_search_hybrid_rrf_ann

    plan = _plan(q_search_hybrid_rrf_ann(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "hashpartitioning(query_id" in plan
    assert "CartesianProduct" not in plan


def test_filter_new_probes_once(spark, tmp_path):
    """The URL-seen filter probes each candidate once: bloom hits and
    misses share one anti-join, so the executed plan holds one
    MapInPandas probe, not one per branch."""
    from gepris_spark.operators.urlseen import BloomUrlSeen

    def urls(lo, hi):
        return spark.range(lo, hi).select(F.concat(F.lit("https://h/x"), F.col("id")).alias("url"))

    bloom = BloomUrlSeen(str(tmp_path / "bloom"), n_buckets=4)
    bloom.add_urls(urls(0, 300), seen_urls=urls(0, 0))
    fresh = bloom.filter_new(urls(200, 500), urls(0, 300))
    assert sorted(r["url"] for r in fresh.collect()) == sorted(
        f"https://h/x{i}" for i in range(300, 500)
    )
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "== Final Plan ==" in final
    assert final.count("MapInPandas") == 1


def test_filter_new_probes_an_empty_bloom(spark, tmp_path):
    """A fresh filter (batch 0) runs the plan every later batch runs: a
    bucket with no bitset probes as all-miss, so every candidate comes
    back, through the MapInPandas probe."""
    from gepris_spark.operators.urlseen import BloomUrlSeen

    bloom = BloomUrlSeen(str(tmp_path / "bloom"), n_buckets=4)
    cands = spark.range(50).select(F.concat(F.lit("https://h/x"), F.col("id")).alias("url"))
    fresh = bloom.filter_new(cands, cands.limit(0))
    assert bloom.is_empty()
    assert fresh.count() == 50
    assert "MapInPandas" in fresh._jdf.queryExecution().optimizedPlan().toString()


def test_normalise_is_one_pass(spark):
    """Details normalisation runs one plan for projekt, person and
    institution rows: the key recode reads each row's own context, so
    the optimized plan holds one tree MapInPandas and no per-context
    Union."""
    import json

    from gepris_spark.operators.chaining import normalised_success_rows

    def ref(path):
        return json.dumps({"value": "x", "path": path})

    # the person row also carries projekt-only raw keys: they stay
    # unknown there and yield no funding years or gender sets
    projekt_only = {
        "Antragsteller": [ref("/gepris/person/11")],
        "Förderung": ["Förderung von 2001 bis 2004"],
    }
    rows = [
        ("https://h/gepris/projekt/1", "projekt", 1, projekt_only),
        ("https://h/gepris/person/2", "person", 2, {"Adresse": ["Str 1"], **projekt_only}),
        ("https://h/gepris/institution/3", "institution", 3, {"Telefon": ["123"]}),
    ]
    parsed = spark.createDataFrame(
        [(u, c, i, "success", f"n{i}", None, None, None, None, a, None) for u, c, i, a in rows],
        "url string, context string, item_id long, status string, name string, "
        "beschreibung string, caption string, image_id string, phash long, "
        "attributes map<string,array<string>>, trees_json string",
    )
    norm = normalised_success_rows(parsed)
    plan = norm._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Union" not in plan

    got = {r["context"]: r for r in norm.collect()}
    assert set(got) == {"projekt", "person", "institution"}
    p = got["projekt"]
    assert set(p["norm_attributes"]) == {"antragsteller_personen"}
    assert (p["foerderung_beginn"], p["foerderung_ende"]) == (2001, 2004)
    assert p["male_personen"] == [11] and p["female_personen"] == []
    assert set(got["person"]["norm_attributes"]) == {"adressen"}
    assert sorted(got["person"]["unknown_keys"]) == ["Antragsteller", "Förderung"]
    assert set(got["institution"]["norm_attributes"]) == {"telefon"}
    for ctx in ("person", "institution"):
        r = got[ctx]
        assert r["foerderung_beginn"] is None and r["foerderung_ende"] is None
        assert r["male_personen"] is None and r["female_personen"] is None
