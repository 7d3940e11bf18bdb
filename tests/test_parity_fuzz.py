"""Seeded unicode fuzz parity: the Spark column expression for F1
clean_string must agree with the exact Python semantics
(str.isprintable filter + whitespace collapse — the reference's
data_transformations.py:123-132) on adversarial strings (SURVEY §7.4
risk 2). One DataFrame pass over the whole corpus, no per-example
Spark round trips."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from gepris_spark.functions import canonical as C
from gepris_spark.functions import parity as P


def _python_clean(text: str) -> str:
    printable = "".join(c for c in text if c.isprintable())
    return " ".join(printable.split()).strip()


def _fuzz_corpus(n: int = 400, seed: int = 20260817) -> list[str]:
    rng = random.Random(seed)
    pools = [
        "abc XYZ 123 äöü ß é 漢字 ",  # printable text
        "\t\n\r\x0b\x0c",  # ascii whitespace controls
        "\x00\x07\x1b\x7f",  # C0/C1 controls
        "\xa0  ⁠​‎",  # NBSP, word-joiner, ZWSP, bidi
        "  ",  # line/para separators (Zl/Zp)
        "­﻿￹",  # soft hyphen, BOM, interlinear
        " (†) — ",  # reference-domain decorations
    ]
    out = []
    for _ in range(n):
        s = "".join(
            rng.choice(rng.choice(pools)) for _ in range(rng.randrange(0, 40))
        )
        out.append(s)
    # pin the known regression cases
    out += ["a b c", "Eintrag\xa01  (projekt)", "x\tz  w", "a​b", "", " "]
    return out


def test_clean_string_matches_python_semantics(spark):
    corpus = _fuzz_corpus()
    df = spark.createDataFrame([(i, s) for i, s in enumerate(corpus)], "i int, s string")
    got = {
        r["i"]: r["c"]
        for r in df.select("i", P.clean_string(F.col("s")).alias("c")).collect()
    }
    mismatches = [
        (corpus[i], got[i], _python_clean(corpus[i]))
        for i in range(len(corpus))
        if got[i] != _python_clean(corpus[i])
    ]
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[0]!r}"


def test_extract_id_parity_on_noisy_paths(spark):
    """F2: canonical id extraction agrees with a straightforward Python
    re-implementation over noisy paths."""
    import re

    paths = [
        "/gepris/projekt/123",
        "/gepris/person/1",
        "/gepris/institution/99999",
        "/gepris/projekt/null",
        "/gepris/unknown/5",
        "/gepris/projekt/12x",
        "gepris/projekt/12",
        "/gepris/projekt/12/extra",
        "",
    ]

    def py_extract(p):
        # reference semantics (gepris_helper.py:100-106 + extract_id):
        # 4 path segments starting '/gepris/' — ANY context accepted
        # when none is specified; the long variant nulls non-numeric ids
        m = re.fullmatch(r"/gepris/([^/]*)/([^/]*)", p)
        return int(m.group(2)) if m and m.group(2).isdigit() else None

    df = spark.createDataFrame([(i, p) for i, p in enumerate(paths)], "i int, p string")
    got = {
        r["i"]: r["x"]
        for r in df.select("i", C.extract_id_long(F.col("p")).alias("x")).collect()
    }
    for i, p in enumerate(paths):
        assert got[i] == py_extract(p), (p, got[i], py_extract(p))
