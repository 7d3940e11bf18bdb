"""URL canonicalisation and the id/period parsers the crawl engine
calls (SURVEY.md §2.3 F2, F10, F12) as Column expressions.

Every function here is a *pure built-in composition* — JVM-side, inside
WholeStageCodegen, no Python in the hot path. Parity targets are the
reference crawler's per-value Python functions in
`gepris_crawler/data_transformations.py` and `gepris_helper.py`; each
docstring cites the exact lines. The other F1-F15 helpers, which only
the contract queries call, live in `functions/parity.py`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def is_gepris_path(col: Column, context: str | None = None) -> Column:
    """F2 — predicate for canonical GEPRIS paths `/gepris/<ctx>/<id>`.

    Parity: gepris_helper.py:100-106 — exactly 4 slash-splits with
    splits[1]=='gepris'; any context passes unless one is requested.
    """
    parts = F.split(col, "/")
    base = (F.size(parts) == 4) & (parts[1] == F.lit("gepris"))
    if context is not None:
        return base & (parts[2] == F.lit(context))
    return base


def extract_id(col: Column, context: str | None = None) -> Column:
    """F2/F10 — canonicalize URL path to its trailing id (string).

    Parity: data_transformations.py:10-27 (`extract_id` and the
    context-filtered `extract_person_id`/`extract_institution_id`/
    `extract_projekt_id`). Returns NULL for non-GEPRIS paths; like the
    reference, it does NOT require the id to be numeric (the search
    spider filters `/gepris/<ctx>/null` separately, P6).
    """
    parts = F.split(col, "/")
    return F.when(is_gepris_path(col, context), F.element_at(parts, -1))


def extract_id_long(col: Column, context: str | None = None) -> Column:
    """F2 variant: id as LongType; non-numeric ids (e.g. 'null') -> NULL."""
    raw = extract_id(col, context)
    return F.when(raw.rlike(r"^\d+$"), raw.cast("long"))


def canonical_url(url: Column) -> Column:
    """URL-seen canonicalization: scheme+host lowered, query/fragment
    dropped, trailing slash trimmed. This is the key of the frontier's
    bloom/URL-seen filter (SURVEY §2.7 A1). The reference achieves the
    same aliasing-resistance by bypassing fingerprint dedup and deduping
    on extracted ids (gepris_helper.py:59-68, search_results.py:60-63).
    """
    no_q = F.regexp_replace(url, r"[?#].*$", "")
    no_slash = F.regexp_replace(no_q, r"/$", "")
    scheme_host = F.lower(F.regexp_extract(no_slash, r"(?i)^(https?://[^/]*)", 1))
    rest = F.regexp_replace(no_slash, r"(?i)^https?://[^/]*", "")
    return F.concat(scheme_host, rest)


def url_host(url: Column) -> Column:
    """Host component (lowercased), for per-host politeness keys."""
    return F.lower(F.regexp_extract(url, r"(?i)^https?://([^/:?#]*)", 1))


def parse_foerderung_zeitraum(col: Column) -> Column:
    """F12 — parse German funding-period strings into a
    struct(foerderung_beginn int, foerderung_ende int, valid boolean).

    Grammar (normalisation/project_attributes.py:301-316), 5 cases:
      'Förderung von YYYY bis YYYY'   -> (y1, y2)
      'Förderung in YYYY'             -> (y, y)
      'Förderung seit YYYY'           -> (y, null)
      'Förderung bis YYYY'            -> (null, y)
      'Förderung von YYYY bis heute'  -> (y, null)
    Anything else -> valid=false (quarantine instead of raise_error,
    matching the engine's fail-to-quarantine policy §1.3).
    """
    s = F.trim(col)
    von_bis = F.regexp_extract(s, r"^Förderung von (\d{4}) bis (\d{4})$", 0)
    von_heute = F.regexp_extract(s, r"^Förderung von (\d{4}) bis heute$", 1)
    in_y = F.regexp_extract(s, r"^Förderung in (\d{4})$", 1)
    seit = F.regexp_extract(s, r"^Förderung seit (\d{4})$", 1)
    bis = F.regexp_extract(s, r"^Förderung bis (\d{4})$", 1)
    y1 = F.regexp_extract(s, r"^Förderung von (\d{4}) bis (\d{4})$", 1)
    y2 = F.regexp_extract(s, r"^Förderung von (\d{4}) bis (\d{4})$", 2)
    begin = (
        F.when(von_bis != "", y1)
        .when(von_heute != "", von_heute)
        .when(in_y != "", in_y)
        .when(seit != "", seit)
    ).cast("int")
    end = (
        F.when(von_bis != "", y2).when(in_y != "", in_y).when(bis != "", bis)
    ).cast("int")
    valid = (von_bis != "") | (von_heute != "") | (in_y != "") | (seit != "") | (bis != "")
    return F.struct(
        begin.alias("foerderung_beginn"), end.alias("foerderung_ende"), valid.alias("valid")
    )
