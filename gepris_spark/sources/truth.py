"""Independent expected-output generators for the engine-native
contract queries (the round-2 VERDICT's #1 ask: real oracles for the
rows-only surface).

Every function here derives the EXPECTED result of a contract query
directly from the corpus generator's ground-truth formulas
(sources/corpus.py embeds items it constructs from (seed, index)
hashes) or from the independent single-threaded replay oracle
(replay.py) — never through the engine's HTML parser, normaliser, or
Spark operators. tools/gen_truth_fixtures.py materializes these to
`fixtures/*.parquet`; the oracle SQL for each query is then a plain
`SELECT ... FROM read_parquet(fixture)` the driver's DuckDB gate can
execute, turning seven formerly rows-only checks into full
rows+schema+hash oracles.

Reference parity targets are the same as the queries under test:
spiders/search_results.py (search parse), database/init/dfg-gepris.sql
:233-339 (entity ETL), spiders/person_details.py (fallback routing).
"""

from __future__ import annotations

import json

import pandas as pd

from gepris_spark import replay
from gepris_spark.sources import corpus

UA_POOL = ["UA-A/1.0", "UA-B/2.0", "UA-C/3.0"]
PROXY_POOL = ["p1.example.org:8080:u:s", "p2.example.org:8080:u:s"]


def seed_host(context: str, item_id: int, seed: int = 42, n_extra_hosts: int = 3) -> str:
    """Mirror of gen_seeds_pdf's host assignment formula."""
    h = corpus._stable_u64(seed, context, item_id)
    return (
        corpus.GEPRIS_HOST if h % 10 < 7 else f"mirror{h % n_extra_hosts}.example.org"
    )


def page_status(url: str, language: str, seed: int = 42) -> str:
    """Mirror of gen_pages_pdf's status route formula (94/2/2/2)."""
    p = corpus._stable_u64(seed, "page", url, language) % 100
    if p < 94:
        return "success"
    if p < 96:
        return "moved"
    if p < 98:
        return "bad_structure"
    return "wrong_language"


def _compact(obj) -> str:
    return json.dumps(obj, ensure_ascii=False, separators=(",", ":"))


# ------------------------------------------------------- search results
def search_results_truth(
    context: str = "institution",
    n_items: int = 80,
    page_size: int = 40,
    seed: int = 42,
    null_rate: float = 0.02,
) -> pd.DataFrame:
    """Expected parse_search_stage output for the seeded search corpus:
    one row per embedded non-null result (the generator decides which
    rows are /null warn-links), plus one row per embedded
    subInstitution (P7 exploder) carrying the parent id."""
    out: list[dict] = []
    for start in range(0, n_items, page_size):
        ids = range(start + 1, min(start + page_size, n_items) + 1)
        url = f"https://{corpus.GEPRIS_HOST}/search/{context}?index={start}"
        items: list[dict] = []
        n_null = 0
        for i in ids:
            h = corpus._stable_u64(seed, "search", context, i)
            if (h % 10_000) / 10_000 < null_rate:
                n_null += 1
                continue
            items.append(
                {
                    "url": url,
                    "context": context,
                    "item_id": i,
                    "name_de": f"Eintrag {i} ({context})",
                    "addresse": None,
                    "attributes": None,
                    "uebergeordnete_institution": None,
                }
            )
            if context == "institution":
                for j in range(h % 3):
                    sid = i * 100 + j
                    items.append(
                        {
                            "url": url,
                            "context": context,
                            "item_id": sid,
                            "name_de": f"Unterinstitut {sid}",
                            "addresse": f"Nebenstraße {j}",
                            "attributes": None,
                            "uebergeordnete_institution": i,
                        }
                    )
        for it in items:
            it["total_result_count"] = n_items
            it["n_loaded_on_page"] = len(items)
            it["n_null_links"] = n_null
        out.extend(items)
    return pd.DataFrame(out)


# ----------------------------------------------------------- entity ETL
def _success_count(context: str, item_id: int, seed: int = 42) -> int:
    """How many of the (de, en) detail pages for this item parse to
    status=success — the ETL emits one typed row per success page."""
    url = f"https://{seed_host(context, item_id, seed)}/gepris/{context}/{item_id}"
    return sum(
        1 for lang in ("de", "en") if page_status(url, lang, seed) == "success"
    )


def projekte_truth(n: int = 25, seed: int = 42) -> pd.DataFrame:
    """Expected projekte_table rows: every field re-derived from the
    generator's attribute formulas (_page_html), not from parsing."""
    rows = []
    for i in range(1, n + 1):
        n_success = _success_count("projekt", i, seed)
        if n_success == 0:
            continue
        h = corpus._stable_u64("attrs", "projekt", i)
        nk = 3 + h % 4  # number of ATTR_KEYS emitted on the page
        female = h % 3 == 1  # Antragstellerin key variant
        pids = corpus.ref_person_ids(i)
        row = {
            "id": i,
            "name": f"Eintrag{i} (projekt)",
            "dfg_verfahren": f"Wert {i}-5 für DFG-Verfahren" if nk >= 5 else None,
            "fachrichtungen": _compact([f"Wert {i}-2 für Fachliche Zuordnung"]),
            "foerderung_beginn": 2000 + h % 20,
            "foerderung_ende": 2001 + h % 21,
            "internationaler_bezug": None,
            "webseite": f"example.org/p/{i}" if nk >= 6 else None,
            # projektbaum leaves: only the numeric leaf survives the
            # rlike filter; the Gruppe branch serializes as an object
            "teil_projekte": _compact([i * 10 + 1]),
            "male_personen": _compact([] if female else pids),
            "female_personen": _compact(pids if female else []),
            "n_unknown_keys": 0,
        }
        rows.extend([dict(row)] * n_success)
    return pd.DataFrame(rows)


def personen_truth(n: int = 25, seed: int = 42) -> pd.DataFrame:
    rows = []
    for i in range(1, n + 1):
        n_success = _success_count("person", i, seed)
        row = {
            "id": i,
            "name": f"Eintrag{i} (person)",
            "verstorben": False,
            "gender": "unknown",
            # person pages carry only the generic ATTR_KEYS, none of
            # which are in PERSON_KEY_MAP -> all normalized attrs null
            "adresse": None,
            "mail": None,
            "internet": None,
        }
        rows.extend([dict(row)] * n_success)
    return pd.DataFrame(rows)


def _subinstitutions_json(i: int) -> str | None:
    kids = corpus.sub_institution_ids(i)
    if not kids:
        return None
    grand = corpus.sub_institution_ids(kids[0])
    first = {str(kids[0]): [grand[0]]} if grand else kids[0]
    return _compact([first] + kids[1:])


def institutionen_truth(n: int = 25, seed: int = 42) -> pd.DataFrame:
    rows = []
    for i in range(1, n + 1):
        n_success = _success_count("institution", i, seed)
        row = {
            "id": i,
            "name": f"Eintrag{i} (institution)",
            "adresse": None,
            "internet": None,
            "subinstitutions_json": _subinstitutions_json(i),
        }
        rows.extend([dict(row)] * n_success)
    return pd.DataFrame(rows)


# ------------------------------------------------- fallback fetch (S9)
GOOGLE_CACHE_USER_AGENT = (
    "Mozilla/5.0 (Windows NT 6.1; WOW64; rv:77.0) Gecko/20190101 Firefox/77.0"
)


def _xxhash64_picks(spark, urls: list[str], tag: str, n: int) -> dict[str, int]:
    """Rotation indices pmod(xxhash64(tag, url), n). xxhash64 is a
    public Spark builtin, evaluated here directly over the url list —
    the rotation RULE (pool[h % n]) is re-stated independently; only
    the hash primitive is shared, by necessity (it has no portable
    re-implementation in this environment)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        "url", F.pmod(F.xxhash64(F.lit(tag), F.col("url")), F.lit(n)).cast("int").alias("i")
    ).collect()
    return {r["url"]: r["i"] for r in rows}


def fallback_truth(spark, n: int = 40, seed: int = 42) -> pd.DataFrame:
    """Expected q_person_details_fallback rows: route (cache hit vs
    live), rotated UA/proxy, parse status and attribute count — all
    from generator formulas."""
    from gepris_spark.functions.parity import format_proxy_str

    seeds = corpus.gen_seeds_pdf({"person": n}, seed=seed)
    uniq = seeds.dropna(subset=["item_id"])
    uniq = uniq[~uniq["url"].str.contains("?", regex=False)]
    uniq = uniq.drop_duplicates(subset=["url"])
    urls = list(uniq["url"])
    ua_idx = _xxhash64_picks(spark, urls, "user_agent", len(UA_POOL))
    proxies = [format_proxy_str(p) for p in PROXY_POOL]
    px_idx = _xxhash64_picks(spark, urls, "proxy", len(proxies))
    rows = []
    for r in uniq.itertuples(index=False):
        i = int(r.item_id)
        hit = corpus.cache_hit(r.url, seed)
        if hit:
            status = "success"
            ua = GOOGLE_CACHE_USER_AGENT
        else:
            route = page_status(r.url, "de", seed)
            status = {
                "success": "success",
                "moved": "moved",
                "bad_structure": "error",
                "wrong_language": "retry",
            }[route]
            ua = UA_POOL[ua_idx[r.url]]
        success = status == "success"
        h = corpus._stable_u64("attrs", "person", i)
        rows.append(
            {
                "item_id": i,
                "via": "google_cache" if hit else "gepris",
                "user_agent": ua,
                "proxy": proxies[px_idx[r.url]],
                "status": status,
                "name": f"Eintrag{i} (person)" if success else None,
                "n_attributes": (3 + h % 4) if success else 0,
            }
        )
    return pd.DataFrame(rows)


# -------------------------------------------------------- crawl replay
def crawl_replay_truth(n: int = 30, seed: int = 42, batch_size: int = 128) -> pd.DataFrame:
    """Expected visit log from the independent single-threaded replay
    oracle (replay.py) — the same oracle the pytest suite diffs the
    micro-batch engine against."""
    seeds = corpus.gen_seeds_pdf(n, seed=seed)
    res = replay.replay(seeds.to_dict("records"), batch_size=batch_size)
    return pd.DataFrame(
        res.visits,
        columns=["seq", "url", "host", "context", "item_id", "scheduled_ms", "batch_id"],
    )


def crawl_aimd_truth(n: int = 30, seed: int = 42, batch_size: int = 46) -> pd.DataFrame:
    """Expected AIMD visit log: the replay oracle in aimd mode over the
    same seed list and the same deterministic latency formula
    (corpus.fetch_latency_ms) the engine contract query joins in."""
    seeds = corpus.gen_seeds_pdf(n, seed=seed)
    lat = {
        r["url"]: int(r["fetch_cost_ms"])
        for _, r in corpus.gen_latencies_pdf(seeds, seed=seed).iterrows()
    }
    res = replay.replay(
        seeds.to_dict("records"), batch_size=batch_size, aimd=True, latency_ms=lat
    )
    return pd.DataFrame(
        res.visits,
        columns=["seq", "url", "host", "context", "item_id", "scheduled_ms", "batch_id"],
    )


# -------------------------------------------- stateful schedule stream
def stateful_schedule_truth(delay_ms: int = 1000) -> pd.DataFrame:
    """Expected stateful_schedule output for the two-arrival-file
    contract stream: per (batch, host), rows ordered by the A2/A3
    priority key; host_seq continues across batches. Pure pandas
    restatement of the scheduling contract — no Spark state store."""
    host_next: dict[str, int] = {}
    out: list[dict] = []
    for i, seed in enumerate((42, 99)):
        pdf = corpus.gen_seeds_pdf(20, seed=seed)
        pdf = pdf.drop_duplicates(subset=["url"])
        pdf = pdf[~pdf["url"].str.contains(r"[?#]")].dropna(subset=["item_id"])
        pdf = pdf.astype({"item_id": "int64", "priority_type": "int64"})
        if i == 1:
            pdf = pdf.copy()
            pdf["url"] = pdf["url"] + "777"
            pdf["item_id"] = pdf["item_id"] * 10000 + 777
        for host, grp in pdf.groupby("host", sort=False):
            g = grp.sort_values(
                ["priority_type", "recency_ts", "url"],
                kind="mergesort",
                na_position="first",
            )
            base = host_next.get(host, 0)
            for k, r in enumerate(g.itertuples(index=False)):
                out.append(
                    {
                        "url": r.url,
                        "host": host,
                        "context": r.context,
                        "item_id": int(r.item_id),
                        "host_seq": base + k,
                        "scheduled_ms": (base + k) * delay_ms,
                    }
                )
            host_next[host] = base + len(g)
    return pd.DataFrame(out)


# -------------------------------------- multimodal stage truth frames
def multimodal_decode_verify_truth() -> pd.DataFrame:
    """Sequential re-derivation of q_multimodal_decode over the seeded
    page-image corpus (gen_images_pdf(24, seed=42))."""
    from gepris_spark.codecs import image as imagecodec

    out = []
    for r in corpus.gen_images_pdf(24, seed=42).itertuples(index=False):
        pixels = imagecodec.decode(bytes(r.bytes), r.fmt)
        ph = imagecodec.phash64(pixels)
        ok, psnr_db = imagecodec.pixels_match(
            pixels, corpus.ref_pixels(int(r.image_id[3:]), seed=42), r.fmt
        )
        out.append(
            {
                "image_id": r.image_id,
                "fmt": r.fmt,
                "w": r.w,
                "h": r.h,
                "decoded_w": pixels.shape[1],
                "decoded_h": pixels.shape[0],
                "phash_recomputed": ph,
                "phash_ok": bool(ph == r.phash),
                "pixels_ok": bool(ok),
                "psnr_db": None if psnr_db == float("inf") else float(psnr_db),
            }
        )
    return pd.DataFrame(out).sort_values("image_id").reset_index(drop=True)


def multimodal_rgb_features_truth() -> pd.DataFrame:
    """Sequential re-derivation of q_multimodal_features: per-channel
    means, luma std, 64-bin luma entropy — the formulas restated."""
    import numpy as np

    from gepris_spark.codecs import image as imagecodec

    out = []
    for r in corpus.gen_images_pdf(24, seed=42).itertuples(index=False):
        px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.float64)
        luma = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
        hist, _ = np.histogram(luma, bins=64, range=(0, 256))
        p = hist / max(hist.sum(), 1)
        p = p[p > 0]
        out.append(
            {
                "image_id": r.image_id,
                "mean_r": round(float(px[:, :, 0].mean()), 6),
                "mean_g": round(float(px[:, :, 1].mean()), 6),
                "mean_b": round(float(px[:, :, 2].mean()), 6),
                "std_luma": round(float(luma.std()), 6),
                "entropy_luma": round(float(-(p * np.log2(p)).sum()), 6),
            }
        )
    return pd.DataFrame(out).sort_values("image_id").reset_index(drop=True)


def image_sharpness_truth() -> pd.DataFrame:
    """Sequential re-derivation of q_image_sharpness over
    gen_sharpness_pdf(24, seed=42): variance-of-Laplacian + edge
    density restated, threshold verdict at lap_var >= 100."""
    import numpy as np

    from gepris_spark.codecs import image as imagecodec

    out = []
    for r in corpus.gen_sharpness_pdf(24, seed=42).itertuples(index=False):
        px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.float64)
        luma = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
        lap = (
            4 * luma[1:-1, 1:-1]
            - luma[:-2, 1:-1]
            - luma[2:, 1:-1]
            - luma[1:-1, :-2]
            - luma[1:-1, 2:]
        )
        lap_var = round(float(lap.var()), 6)
        out.append(
            {
                "image_id": r.image_id,
                "lap_var": lap_var,
                "edge_density": round(float((np.abs(lap) > 16).mean()), 6),
                "sharp": bool(lap_var >= 100.0),
            }
        )
    return pd.DataFrame(out).sort_values("image_id").reset_index(drop=True)


def image_jpeg_quality_truth() -> pd.DataFrame:
    """Sequential re-derivation of q_image_jpeg_quality over
    gen_jpeg_quality_pdf(36, seed=42): the committed bytes' DQT tables
    (header-only parse, pinned by the codec round-trip tests) matched
    against the 100 IJG scalings re-derived HERE from the Annex-K base
    tables — independent of the operator's matcher — plus the
    bits-per-pixel and keep-threshold arithmetic restated."""
    import numpy as np

    from gepris_spark.codecs import jpeg as jpegcodec

    cands = []
    for q in range(1, 101):
        cands.append(
            (
                q,
                bytes(
                    jpegcodec._scaled(jpegcodec._QT_LUM, q)
                    .astype(np.uint8)
                    .reshape(64)[jpegcodec._ZZ]
                ),
                bytes(
                    jpegcodec._scaled(jpegcodec._QT_CHROM, q)
                    .astype(np.uint8)
                    .reshape(64)[jpegcodec._ZZ]
                ),
            )
        )
    out = []
    for r in corpus.gen_jpeg_quality_pdf(36, seed=42).itertuples(index=False):
        data = bytes(r.bytes)
        tabs = jpegcodec.parse_quant_tables(data)
        est = next(
            q for q, lum, chrom in cands if tabs.get(0) == lum and tabs.get(1) == chrom
        )
        out.append(
            {
                "image_id": r.image_id,
                "est_quality": est,
                "exact_match": True,
                "bits_per_pixel": round(8.0 * len(data) / (int(r.w) * int(r.h)), 6),
                "keep": bool(est >= 50),
            }
        )
    return pd.DataFrame(out).sort_values("image_id").reset_index(drop=True)


def multimodal_audio_features_truth() -> pd.DataFrame:
    """Sequential re-derivation of q_multimodal_audio over
    gen_audio_pdf(24, seed=42): rms / zero-crossings / spectral
    centroid restated; bit-exact (lossless) or SNR>=30dB (mu-law)
    against the formula reference samples."""
    import numpy as np

    from gepris_spark.codecs import wav

    out = []
    for r in corpus.gen_audio_pdf(24, seed=42).itertuples(index=False):
        samples, rate, fmt = wav.decode(bytes(r.bytes))
        mono = samples.mean(axis=1)
        sgn = np.signbit(mono[:-1]) != np.signbit(mono[1:])
        spec = np.abs(np.fft.rfft(mono))
        freqs = np.fft.rfftfreq(len(mono), d=1.0 / rate)
        power = spec.sum()
        ref = corpus.ref_samples(int(r.audio_id[3:]), seed=42)
        if ref.ndim == 1:
            ref = ref[:, None]
        snr = wav.snr_db(ref, samples)
        samples_ok = (
            bool(np.array_equal(samples, ref))
            if wav.is_lossless(fmt)
            else bool(snr >= 30.0)
        )
        out.append(
            {
                "audio_id": r.audio_id,
                "fmt": fmt,
                "sample_rate": int(rate),
                "channels": int(samples.shape[1]),
                "n_samples": int(samples.shape[0]),
                "duration_s": round(samples.shape[0] / rate, 6),
                "rms": round(float(np.sqrt((mono.astype(np.float64) ** 2).mean())), 6),
                "zero_crossing_rate": round(float(sgn.mean()), 6),
                "spectral_centroid_hz": round(
                    float((freqs * spec).sum() / power) if power > 0 else 0.0, 6
                ),
                "samples_ok": samples_ok,
                "snr_db": None if snr == float("inf") else round(float(snr), 3),
            }
        )
    return pd.DataFrame(out).sort_values("audio_id").reset_index(drop=True)


def multimodal_video_frames_truth() -> pd.DataFrame:
    """Sequential re-derivation of q_multimodal_video_frames over
    gen_video_pdf(12, seed=42) with every_n=4: probe the container,
    decode only the sampled frames, restate the per-frame stats."""
    import numpy as np

    from gepris_spark.codecs import avi
    from gepris_spark.codecs import image as imagecodec

    out = []
    for r in corpus.gen_video_pdf(12, seed=42).itertuples(index=False):
        data = bytes(r.bytes)
        meta = avi.probe(data)
        n = meta["n_frames"]
        fps = int(meta["fps"]) if meta["fps"] else 30
        keep = sorted(set(range(0, n, 4)) | ({n - 1} if n else set()))
        for idx in keep:
            off, size = meta["frames"][idx]
            pixels = avi.decode_frame(data, off, size)
            luma = (
                0.299 * pixels[:, :, 0]
                + 0.587 * pixels[:, :, 1]
                + 0.114 * pixels[:, :, 2]
            )
            out.append(
                {
                    "video_id": r.video_id,
                    "frame_idx": idx,
                    "n_frames": n,
                    "fps": fps,
                    "w": int(meta["w"] if meta["w"] else pixels.shape[1]),
                    "h": int(meta["h"] if meta["h"] else pixels.shape[0]),
                    "t_seconds": round(idx / max(fps, 1), 6),
                    "phash": imagecodec.phash64(pixels),
                    "mean_luma": round(float(luma.mean()), 6),
                }
            )
    return (
        pd.DataFrame(out)
        .sort_values(["video_id", "frame_idx"])
        .reset_index(drop=True)
    )


def crawl_image_catalog_truth() -> pd.DataFrame:
    """Sequential re-derivation of q_crawl_image_catalog: walk the
    independent replay oracle's visit log against the GENERATOR
    primitives — which de-page each visited url gets, whether it is a
    success page, and which image the generator embedded in it — and
    restate the catalog row from the generator's image table plus the
    codec-library decode (whose own correctness is pinned by the
    round-trip/bitstream tests). Never touches the engine's scheduler,
    fetch join, or HTML parser."""
    import hashlib

    from gepris_spark.codecs import image as imagecodec

    def clean_f1(text: str) -> str:
        # the reference's clean_string contract restated
        # (data_transformations.py:123-132): drop non-printables FIRST
        # ("a\nb" -> "ab"), then collapse whitespace runs and strip —
        # the caption the parse loader emits
        text = "".join(c for c in text if c.isprintable())
        return " ".join(text.split()).strip()

    seeds = corpus.gen_seeds_pdf(30, seed=42)
    images = corpus.gen_images_pdf(24, seed=42).reset_index(drop=True)
    by_id = {r.image_id: r for r in images.itertuples(index=False)}
    pages = corpus.gen_pages_pdf(seeds, images)
    de = {
        r.url: r
        for r in pages[pages["language"] == "de"].itertuples(index=False)
    }
    agg: dict[str, dict] = {}
    for v in crawl_replay_truth().itertuples(index=False):
        page = de.get(v.url)
        if page is None or page.status != "success" or not page.embedded_image_ids:
            continue
        iid = page.embedded_image_ids[0]
        e = agg.get(iid)
        if e is None:
            img = by_id[iid]
            raw = bytes(img.bytes)
            pixels = imagecodec.decode(raw, img.fmt)
            ok, psnr = imagecodec.pixels_match(
                pixels, corpus.ref_pixels(int(iid[3:]), seed=42), img.fmt
            )
            agg[iid] = {
                "image_id": iid,
                "fmt": img.fmt,
                "w": int(pixels.shape[1]),
                "h": int(pixels.shape[0]),
                "caption": clean_f1(img.caption),
                "phash": imagecodec.phash64(pixels),
                "n_bytes": len(raw),
                "bytes_md5": hashlib.md5(raw).hexdigest(),
                "n_pages": 1,
                "first_url": v.url,
                "all_pixels_ok": bool(ok),
                "min_psnr_db": None if psnr == float("inf") else float(psnr),
            }
        else:
            e["n_pages"] += 1
            e["first_url"] = min(e["first_url"], v.url)
    return (
        pd.DataFrame(sorted(agg.values(), key=lambda r: r["image_id"]))
        .reset_index(drop=True)
    )


# ------------------------------------------------ catalog decode verify
def image_decode_verify_truth() -> pd.DataFrame:
    """Expected output of q_image_decode_verify: a plain sequential
    scan over the catalog decoding every `bytes` payload and verifying
    the input_hint invariants (dims, phash, decoded-pixel allclose /
    PSNR>=40dB vs the (seed, index)-formula reference). Independent of
    the Spark plan; shares only the codec library, whose correctness is
    pinned separately by the codec round-trip/bitstream tests."""
    from gepris_spark.codecs import image as imagecodec

    cat = corpus.gen_image_catalog_pdf()
    out = []
    for r in cat.itertuples(index=False):
        pixels = imagecodec.decode(bytes(r.bytes), r.fmt)
        ph = imagecodec.phash64(pixels)
        ok, psnr_db = imagecodec.pixels_match(
            pixels, corpus.catalog_pixels(r.image_id), r.fmt
        )
        out.append(
            {
                "image_id": r.image_id,
                "fmt": r.fmt,
                "w": r.w,
                "h": r.h,
                "decoded_w": pixels.shape[1],
                "decoded_h": pixels.shape[0],
                "phash_recomputed": ph,
                "phash_ok": bool(ph == r.phash),
                "pixels_ok": bool(ok),
                "psnr_db": None if psnr_db == float("inf") else float(psnr_db),
            }
        )
    return pd.DataFrame(out).sort_values("image_id").reset_index(drop=True)


# -------------------------------------------- incremental image dedup
def image_dedup_stream_truth() -> pd.DataFrame:
    """Expected ledger of the streaming incremental pHash dedup
    (streaming/imagestream.py) over the image catalog in generation
    order: a row is rejected iff it is within hamming distance 3 of an
    EARLIER-ACCEPTED row, duplicate_of = the earliest such accept.
    Pure-python sequential scan — no banding, no Spark; the 4x16-bit
    pigeonhole makes the engine's banded candidate generation complete
    for d<=3, so the two must agree exactly."""
    cat = corpus.gen_image_catalog_pdf()
    accepted: list[tuple[int, str, int]] = []  # (arrival_seq, image_id, phash)
    out: list[dict] = []
    for seq, (image_id, phash) in enumerate(zip(cat["image_id"], cat["phash"])):
        match = None
        for a_seq, a_id, a_hash in accepted:  # arrival order
            d = bin((int(phash) ^ a_hash) & 0xFFFFFFFFFFFFFFFF).count("1")
            if d <= 3:
                match = (a_id, d)
                break
        if match is None:
            accepted.append((seq, image_id, int(phash)))
        out.append(
            {
                "arrival_seq": seq,
                "image_id": image_id,
                "accepted": match is None,
                "duplicate_of": None if match is None else match[0],
                "hamming": None if match is None else match[1],
            }
        )
    return pd.DataFrame(out)


def frontier_changelog_truth() -> pd.DataFrame:
    """Expected snapshot changelog of the frontier after the fixed
    three-step sequence the contract query replays: search run 1
    (insert ids 1..30), details run 10 (check all), search run 2
    (re-see 1..10 unchanged, change 11..20, discover 31..36). The
    Postgres ON CONFLICT semantics (reference database.py:66-96) are
    restated here sequentially over plain dicts — never through the
    engine's MERGE — and the diff of the two final states is the
    changelog: post-images with INSERT/UPDATE_AFTER, ids 21..30
    untouched by run 2 and therefore absent."""

    def ctx(i: int) -> str:
        return ("projekt", "person", "institution")[i % 3]

    def item(i: int, v: int) -> str:
        return f'{{"name_de": "item{i}-v{v}"}}'

    state: dict[tuple[int, str], dict] = {}

    def search_upsert(ids_items: list[tuple[int, int]], run: int) -> None:
        for i, v in ids_items:
            key = (i, ctx(i))
            new_item = item(i, v)
            row = state.get(key)
            if row is None:
                state[key] = {
                    "last_available_seen": run,
                    "last_available_change": run,
                    "last_available_item": new_item,
                    "last_detail_check": None,
                    "detail_check_needed": True,
                }
                continue
            changed = row["last_available_item"] != new_item
            if changed:
                row["last_available_change"] = run
                if row["last_available_seen"] is not None:
                    row["detail_check_needed"] = True
            row["last_available_seen"] = run
            row["last_available_item"] = new_item

    def details_check(ids: list[int], run: int) -> None:
        for i in ids:
            row = state[(i, ctx(i))]
            row["last_detail_check"] = run
            row["detail_check_needed"] = False

    search_upsert([(i, 1) for i in range(1, 31)], run=1)
    details_check(list(range(1, 31)), run=10)
    before = {k: dict(v) for k, v in state.items()}
    search_upsert(
        [(i, 1) for i in range(1, 11)]
        + [(i, 2) for i in range(11, 21)]
        + [(i, 1) for i in range(31, 37)],
        run=2,
    )

    out = []
    for key in sorted(state):
        old, new = before.get(key), state[key]
        if old == new:
            continue
        out.append(
            {
                "id": key[0],
                "context": key[1],
                **new,
                "_change_type": "INSERT" if old is None else "UPDATE_AFTER",
            }
        )
    return pd.DataFrame(out)


def warc_scan_truth(n: int = 120, seed: int = 42) -> pd.DataFrame:
    """Expected rows for source_warc_scan, derived from the archive
    GENERATOR's per-record formulas and cumulative lengths — never by
    running the split reader (sources/warcish.py parse_split), whose
    sync-scan correctness is exactly what the fixture grades."""
    import hashlib as _hashlib

    from gepris_spark.sources import warcish

    rows, off = [], 0
    for i in range(n):
        f = warcish.record_fields(i, seed)
        rows.append(
            {
                "record_id": f["record_id"],
                "target_uri": f["target_uri"],
                "rec_offset": off,
                "content_length": len(f["payload"]),
                "payload_md5": _hashlib.md5(f["payload"]).hexdigest(),
                "payload_has_magic": warcish.MAGIC in f["payload"],
            }
        )
        off += len(warcish.record_bytes(i, seed))
    return pd.DataFrame(rows)
