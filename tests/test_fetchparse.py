"""Fetch+parse stage tests: validation routing, attribute grammar,
trees, and the image+caption row invariants (input_hint)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from gepris_spark.operators import fetchparse
from gepris_spark.operators.htmldom import parse_html
from gepris_spark.operators.multimodal import decode_verify_stage
from gepris_spark.sources import corpus


@pytest.fixture(scope="module")
def parsed_df(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    fetched = pages.select("url", "language", "html")
    out = fetchparse.parse_stage(fetched)
    out.persist()
    out.count()
    return out


def test_status_routing_matches_corpus(spark, corpus_dir, parsed_df):
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    expected = {
        (r["url"], r["language"]): r["status"] for r in pages.collect()
    }
    got = {(r["url"], r["language"]): r["status"] for r in parsed_df.collect()}
    n_checked = 0
    for key, status in expected.items():
        mapped = {
            "success": "success",
            "moved": "moved",
            "bad_structure": "error",
            "wrong_language": "retry",
        }[status]
        assert got[key] == mapped, key
        n_checked += 1
    assert n_checked > 100


def test_attribute_pairs_grammar():
    """The 6-branch tolerant zip from base.py:42-118 (docstring example)."""
    html = (
        '<div><span class="name">key1</span><span class="value">value1</span>'
        '<span class="name">key2</span><span class="value">value2</span>'
        '<span class="name">key3</span>'
        '<span class="name">key4</span><span class="value">value4</span>'
        '<span class="name2">key5</span><span class="value">value5x</span>'
        '<span class="name">key6</span><span class="value2">nope</span>'
        "</div>"
    )
    doc = parse_html(html)
    spans = list(doc.find_all("span"))
    pairs = fetchparse.attributes_pairs_list(spans)
    assert ["key1", "value1"] in pairs
    assert ["key2", "value2"] in pairs
    assert ["key3", None] in pairs  # consecutive keys -> first gets None
    assert ["key4", "value4"] in pairs
    # name2/value: suffix '2' vs '' mismatch -> dropped; value5x lost
    assert not any(p[0] == "key5" and p[1] == "value5x" for p in pairs)
    # trailing un-consumed key emitted with None (key6's value2 suffix mismatched)
    assert ["key6", None] in pairs


def test_extract_text_and_links_singleton_unwrap():
    doc = parse_html("<span>Only</span>")
    span = doc.find("span")
    assert fetchparse._extract_text_and_links(span) == "Only"
    doc = parse_html('<span>A<br>B<a href="/x">P</a></span>')
    got = fetchparse._extract_text_and_links(doc.find("span"))
    assert got == ["A", "B", {"value": "P", "path": "/x"}]


def test_success_rows_have_attributes_and_trees(parsed_df):
    ok = parsed_df.where(F.col("status") == "success")
    row = ok.orderBy("url", "language").first()
    assert row["name"] is not None and row["name"].startswith("Eintrag")
    attrs = row["attributes"]
    assert "Antragsteller" in attrs
    trees = json.loads(row["trees_json"])
    assert "projektbaum" in trees
    tree = trees["projektbaum"]
    # leaf + branch with children (corpus template shape)
    assert any(isinstance(n, dict) and n.get("children") for n in tree)


def test_image_invariants_all_pass(parsed_df):
    """input_hint: decoded-pixel allclose / PSNR>=40dB + caption
    equality on every parsed page, the pixels through
    decode_verify_stage over the emitted bytes."""
    ok = parsed_df.where(F.col("status") == "success")
    images = ok.where(F.col("image_id").isNotNull())
    n_img = images.count()
    assert n_img > 50
    verified = decode_verify_stage(
        images.select(
            "image_id",
            F.col("image_bytes").alias("bytes"),
            F.col("image_w").alias("w"),
            F.col("image_h").alias("h"),
            F.col("image_fmt").alias("fmt"),
            "phash",
        ),
        lambda image_id: corpus.ref_pixels(int(image_id[3:])),
    ).collect()
    assert len(verified) == n_img
    bad = [r for r in verified if not (r["pixels_ok"] and r["phash_ok"])]
    assert bad == [], f"{len(bad)} rows failed pixel invariants: {bad[:3]}"
    # lossless rows must have psnr null (infinite); lossy rows >= 40
    lossy = [r["psnr_db"] for r in verified if r["fmt"] == "qdct" and r["psnr_db"] is not None]
    assert not [p for p in lossy if p < 40.0]
    bad_captions = [
        (r["image_id"], r["caption"])
        for r in images.select("image_id", "caption").collect()
        if r["caption"] != fetchparse._clean(corpus.caption_for(int(r["image_id"][3:])))
    ]
    assert bad_captions == [], f"{len(bad_captions)} rows failed caption equality"
    phashes = ok.where(F.col("phash").isNotNull()).select("image_id", "phash").distinct()
    # phash must be consistent per image across pages
    assert phashes.groupBy("image_id").count().where(F.col("count") > 1).count() == 0


def test_parsed_captions_are_cleaned(parsed_df):
    row = (
        parsed_df.where(F.col("caption").isNotNull())
        .select("caption")
        .first()
    )
    cap = row["caption"]
    assert "\t" not in cap and "  " not in cap and "​" not in cap


def test_fetch_join(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    batch = pages.select("url").distinct().limit(10).select(
        "url", F.lit("de").alias("language")
    )
    fetched = fetchparse.fetch_pages(batch, pages)
    assert fetched.count() == 10
    assert fetched.where(F.col("html").isNull()).count() == 0
    missing = spark.createDataFrame([("https://nowhere/x", "de")], "url string, language string")
    assert fetchparse.fetch_pages(missing, pages).where(F.col("html").isNull()).count() == 1
