"""Parity tests for the scalar function library (SURVEY §2.3 F1-F15).

The oracle is an independent pure-Python restatement of the reference
semantics (/root/reference/gepris_crawler/data_transformations.py,
gepris_helper.py) — the reference itself is not importable here (no
scrapy in the container).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gepris_spark.functions import canonical as C
from gepris_spark.functions import parity as P

GOLDEN_STRINGS = [
    "  hello   world  ",
    "a\nb",
    "tab\tseparated",
    "nbsp\xa0here",
    "zero​width",
    "Förderung von 2000 bis 2010",
    "line1\r\nline2",
    "ctrl\x07bell",
    "em—dash – ok",
    "ideographic　space",
    "",
    "   ",
    "ok",
    "†(†)x(†)",
    "multi   spaces  and thin",
]


def py_clean_string(s: str) -> str:
    cleaned = "".join(c for c in s if c.isprintable())
    return " ".join(cleaned.split()).strip()


def _run_str(spark, col_expr, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r[0] for r in df.select(col_expr(F.col("s")).alias("o")).collect()]


def test_clean_string_parity(spark):
    got = _run_str(spark, P.clean_string, GOLDEN_STRINGS)
    expected = [py_clean_string(s) for s in GOLDEN_STRINGS]
    assert got == expected


PATHS = [
    ("/gepris/projekt/289879542", True, "289879542"),
    ("/gepris/person/215969423", True, "215969423"),
    ("/gepris/institution/12957", True, "12957"),
    ("/gepris/projekt/null", True, "null"),  # reference extracts 'null' too
    ("/gepris/projekt/1/extra", False, None),
    ("/other/projekt/1", False, None),
    ("/gepris/projekt", False, None),
    ("gepris/projekt/5", False, None),  # no leading slash -> 3 splits
]


def test_is_gepris_path_and_extract_id(spark):
    df = spark.createDataFrame([(p,) for p, _, _ in PATHS], "s string")
    rows = df.select(
        C.is_gepris_path(F.col("s")).alias("ok"),
        C.extract_id(F.col("s")).alias("id"),
        C.extract_id_long(F.col("s")).alias("idl"),
        C.extract_id(F.col("s"), "projekt").alias("pid"),
    ).collect()
    for (path, ok, ident), row in zip(PATHS, rows):
        assert row["ok"] == ok, path
        assert row["id"] == ident, path
        if ident is not None and ident.isdigit():
            assert row["idl"] == int(ident)
        else:
            assert row["idl"] is None
        if ok and path.split("/")[2] == "projekt":
            assert row["pid"] == ident


def test_canonical_url_and_host(spark):
    cases = [
        ("HTTPS://Gepris.DFG.de/gepris/projekt/5?language=en#x", "https://gepris.dfg.de/gepris/projekt/5"),
        ("http://a.b/path/", "http://a.b/path"),
        ("https://a.b", "https://a.b"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "s string")
    got = [r[0] for r in df.select(C.canonical_url(F.col("s"))).collect()]
    assert got == [c for _, c in cases]
    hosts = [r[0] for r in df.select(C.url_host(F.col("s"))).collect()]
    assert hosts == ["gepris.dfg.de", "a.b", "a.b"]


def test_filters_and_prefixes(spark):
    vals = ["", "(", ")", "x", "Keine Zusammenfassung vorhanden", "No abstract available"]
    got = _run_str(spark, lambda c: P.filter_empty_string(c), vals)
    assert got == [None, "(", ")", "x", vals[4], vals[5]]
    got = _run_str(spark, lambda c: P.filter_parenthesis(c), vals)
    assert got == ["", None, None, "x", vals[4], vals[5]]
    got = _run_str(spark, lambda c: P.filter_no_abstracts_found(c), vals)
    assert got == ["", "(", ")", "x", None, None]
    got = _run_str(spark, P.remove_http_prefix, ["http://x.de/a", "https://y.de", "ftp://z"])
    assert got == ["x.de/a", "y.de", "ftp://z"]
    got = _run_str(spark, P.remove_crucifix_suffix, ["Meier (†)", "Meier(†)", "(†)Meier"])
    assert got == ["Meier ", "Meier", "(†)Meier"]
    got = _run_str(spark, P.has_crucifix_suffix, ["Meier(†)", "Meier"])
    assert got == [True, False]


def test_gender_and_split(spark):
    cases = {
        "Professor Dr. Max": "male",
        "Professorin Dr. Eva": "female",
        "Privatdozent Dr. Jan": "male",
        "Privatdozentin Dr. Ana": "female",
        "Dr. Kim": "unknown",
    }
    got = _run_str(spark, P.guess_gender_from_title, list(cases))
    assert got == list(cases.values())
    df = spark.createDataFrame([("a, b, c",), ("x",)], "s string")
    got = [r[0] for r in df.select(P.split_comma_space(F.col("s"))).collect()]
    assert got == [["a", "b", "c"], ["x"]]


def test_format_proxy(spark):
    got = _run_str(spark, P.format_proxy, ["1.2.3.4:8080:user:pw"])
    assert got == ["http://user:pw@1.2.3.4:8080"]


def test_build_url_and_details_url(spark):
    df = spark.createDataFrame([(5, "projekt")], "id long, ctx string")
    row = df.select(
        P.details_url(F.col("id"), F.col("ctx")).alias("u"),
        P.build_url(
            "https://gepris.dfg.de/gepris/OCTOPUS",
            {"context": F.col("ctx"), "task": "doSearchExtended", "index": "0"},
        ).alias("b"),
    ).collect()[0]
    assert row["u"] == "https://gepris.dfg.de/gepris/projekt/5"
    assert row["b"] == "https://gepris.dfg.de/gepris/OCTOPUS?context=projekt&task=doSearchExtended&index=0"


def test_dates(spark):
    df = spark.createDataFrame([("18.10.2021", "Mon Oct 18 14:12:00 CEST 2021")], "d string, t string")
    row = df.select(
        P.to_german_date(F.col("d")).alias("date"),
        P.parse_monitor_timestamp(F.col("t")).alias("ts"),
    ).collect()[0]
    assert str(row["date"]) == "2021-10-18"
    # 14:12 Berlin DST (CEST=UTC+2) -> 12:12 UTC
    assert row["ts"].strftime("%Y-%m-%d %H:%M") == "2021-10-18 12:12"


def test_parse_foerderung_zeitraum(spark):
    cases = [
        ("Förderung von 2000 bis 2010", (2000, 2010, True)),
        ("Förderung in 2005", (2005, 2005, True)),
        ("Förderung seit 1999", (1999, None, True)),
        ("Förderung bis 2003", (None, 2003, True)),
        ("Förderung von 2001 bis heute", (2001, None, True)),
        ("kaputt", (None, None, False)),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    rows = df.select(C.parse_foerderung_zeitraum(F.col("s")).alias("p")).collect()
    for (_, exp), row in zip(cases, rows):
        p = row["p"]
        assert (p["foerderung_beginn"], p["foerderung_ende"], p["valid"]) == exp


def test_drop_attribute_keys(spark):
    df = spark.createDataFrame(
        [({"Antragsteller": ["a"], "Fachliche Zuordnung": ["b"]},)],
        "m map<string, array<string>>",
    )
    got = df.select(P.drop_attribute_keys(F.col("m"), "Antragsteller").alias("o")).collect()[0]["o"]
    assert got == {"Fachliche Zuordnung": ["b"]}
