"""The vectorized fetch+parse stage (SURVEY §2.1 S7/S8, §2.4 P1-P12).

"Fetch" against the synthetic corpus is a JOIN (scheduled batch ⨝
pages on url+language) — the idiomatic Spark form of a read-through
page cache (the reference's DBM HTTPCACHE, middlewares.py:118-138).
A real-HTTP deployment swaps the join for `http_fetch_stage` — an
injectable fetcher inside a mapInPandas stage with the identical
output contract (tests/test_http_fetch.py proves the downstream
parse/validate/chain path is unchanged against a loopback server).

Parse runs as ONE `mapInPandas` stage over Arrow batches (input_hint:
vectorized pandas/Arrow UDFs, no per-row Python UDF serde):

* P9/P10/P11 validators -> status routing success|moved|error|retry
  (middlewares.py:15-114),
* P1 tolerant nameX/valueX span pairing (base.py:42-118),
* P2 extract_text_and_links with singleton unwrap (base.py:120-160),
* P3 ul/li tree extraction under content_frame divs (base.py:172-205),
* P5 h1.facelift name (details.py:142-144),
* P12 embedded-image decode (data URI): dims, phash and the payload
  bytes, caption from figcaption. The per-row pixel invariant (allclose
  for lossless, PSNR>=40dB for lossy) is checked downstream by
  `operators/multimodal.decode_verify_stage` over the emitted bytes.

The search-results sweep (P6/P7) parses with the same helpers in
`operators/search.py`.
"""

from __future__ import annotations

import base64
import json
import re
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gepris_spark import schemas
from gepris_spark.codecs import image as imagecodec
from gepris_spark.operators.htmldom import Node, parse_html

# Per-worker decode-metadata cache: dims + phash are pure functions of
# the payload bytes, and a crawl sees the same payload many times
# (site logos, placeholder images — the bench corpus reuses 24 images
# across 60k pages). Keyed by md5 digest so the cache never pins the
# payloads themselves; bounded FIFO so a 100 TB run with mostly-unique
# images just misses at O(1) cost. Failures are cached too — a corrupt
# payload served on every page should not pay the failing decode per
# page.
_DECODE_META_MAX = 4096
_decode_meta_cache: dict[bytes, tuple] = {}


def _decode_meta(raw: bytes, fmt: str):
    """(h, w, phash) of the decoded payload, memoized per worker.
    Raises the original codec error for undecodable payloads."""
    import hashlib

    key = hashlib.md5(fmt.encode() + b"\0" + raw).digest()
    hit = _decode_meta_cache.get(key)
    if hit is None:
        try:
            pixels = imagecodec.decode(raw, fmt)
            hit = (pixels.shape[0], pixels.shape[1], imagecodec.phash64(pixels))
        except (ValueError, NotImplementedError) as exc:
            hit = (None, None, None, exc)
        if len(_decode_meta_cache) >= _DECODE_META_MAX:
            _decode_meta_cache.pop(next(iter(_decode_meta_cache)))
        _decode_meta_cache[key] = hit
    if len(hit) == 4:
        raise hit[3]
    return hit


def _clean(text: str) -> str:
    """Python-side clean_string (F1 parity: data_transformations.py:123-132).

    Fast path: str.isprintable() is a single C call and true for the
    vast majority of strings — only strings that actually contain
    non-printables pay the per-char filter."""
    if not text.isprintable():
        text = "".join(c for c in text if c.isprintable())
    return " ".join(text.split()).strip()


def _non_empty_text(node: Node | None) -> str | None:
    """base.py:208-234 with err switches off (engine quarantines instead)."""
    if node is None:
        return None
    texts = [_clean(t) for t in node.all_text()]
    texts = [t for t in texts if t != ""]
    if not texts:
        return None
    return texts[0] if len(texts) == 1 else texts


def _extract_text_and_links(node: Node):
    """base.py:120-160 — strings and {value,path} refs, singleton unwrap."""
    values = []
    for child in node.children:
        if isinstance(child, str):
            cleaned = _clean(child)
            if cleaned != "":
                values.append(cleaned)
        elif child.attrs.get("href") is not None:
            values.append({"value": _non_empty_text(child), "path": child.attrs.get("href")})
        else:
            sub = _extract_text_and_links(child)
            if isinstance(sub, list):
                values.extend(sub)
            else:
                values.append(sub)
    return values[0] if len(values) == 1 else values


def attributes_pairs_list(spans: list[Node]) -> list[list]:
    """P1 — the 6-branch tolerant key/value zip (base.py:42-118)."""
    attributes: list[list] = []
    last_key: Node | None = None
    for span in spans:
        span_class = span.attrs.get("class")
        if span_class is None:
            if last_key is not None:
                attributes.append([_non_empty_text(last_key), _extract_text_and_links(span)])
                last_key = None
            # else: expected a key, ignore (warn branch)
        elif span_class.startswith("name"):
            if last_key is not None:  # two consecutive keys -> first gets null value
                attributes.append([_non_empty_text(last_key), None])
            last_key = span
        elif span_class.startswith("value"):
            if last_key is None:
                pass  # value with no key -> dropped (warn branch)
            elif (last_key.attrs.get("class") or "")[4:] != span_class[5:]:
                pass  # mismatched X suffix -> dropped (warn branch)
            else:
                key_text = _non_empty_text(last_key)
                if key_text is not None:
                    attributes.append([key_text, _extract_text_and_links(span)])
                last_key = None
        # else: unexpected class -> dropped (warn branch)
    if last_key is not None:
        attributes.append([_non_empty_text(last_key), None])
    return attributes


def _handle_tree_nodes(nodes: list[Node]):
    """P3 recursion (base.py:185-205)."""
    mapped = []
    for node in nodes:
        children = [
            li
            for ul in node.child_elements()
            if ul.tag == "ul"
            for li in ul.child_elements()
            if li.tag == "li"
        ]
        if not children:
            mapped.append(_extract_text_and_links(node))
        else:
            link = next((c for c in node.child_elements() if c.tag == "a"), None)
            mapped.append(
                {
                    "value": _non_empty_text(link),
                    "path": link.attrs.get("href") if link else None,
                    "children": _handle_tree_nodes(children),
                }
            )
    return mapped


def extract_trees(content: Node) -> dict:
    """P3 — trees under ./div.content_frame/div or the frame itself when
    it carries the id (the synthetic corpus puts the id on the frame)."""
    trees = {}
    for frame in content.find_all("div", cls="content_frame"):
        inner = [d for d in frame.child_elements() if d.tag == "div" and "class" not in d.attrs]
        targets = inner or ([frame] if frame.attrs.get("id") else [])
        for div in targets:
            ul = next((c for c in div.child_elements() if c.tag == "ul"), None)
            if ul is not None and div.attrs.get("id"):
                lis = [li for li in ul.child_elements() if li.tag == "li"]
                trees[div.attrs["id"]] = _handle_tree_nodes(lis)
    return trees


_DATA_URI_RE = re.compile(r"^data:image/(\w+);base64,(.*)$", re.S)

_NOT_FOUND = ("Page not found", "Seite nicht gefunden")
_NO_ABSTRACT = ("Keine Zusammenfassung vorhanden", "No abstract available")


def _page_status(doc: Node, expected_language: str | None) -> str | None:
    """The middleware validators every details and result page passes
    through: "moved" (P10, page exists, middlewares.py:97-103), "error"
    (P9, structure, :78-85), "retry" (P11, language, :106-114), or None
    for a page that parses on."""
    title = doc.find("title")
    title_text = _clean(" ".join(title.all_text())) if title else ""
    if title_text in _NOT_FOUND or any(
        _clean(" ".join(h2.all_text())) in _NOT_FOUND for h2 in doc.find_all("h2")
    ):
        return "moved"
    if doc.find("h2", cls="h2-context-title") is None or doc.find("abbr") is None:
        return "error"
    html_node = doc.find("html")
    page_lang = (html_node.attrs.get("lang") if html_node else None) or ""
    if expected_language and page_lang and page_lang != expected_language:
        return "retry"
    return None


def _parse_one(
    url: str,
    html: str,
    expected_language: str | None,
    context: str | None,
    item_id,
) -> dict:
    out = {
        "url": url,
        "item_id": item_id,
        "context": context,
        "language": expected_language,
        "status": "success",
        "name": None,
        "attributes": None,
        "trees_json": None,
        "caption": None,
        "image_id": None,
        "image_bytes": None,
        "image_w": None,
        "image_h": None,
        "image_fmt": None,
        "phash": None,
        "result_href": None,
        "beschreibung": None,
    }
    doc = parse_html(html)
    status = _page_status(doc, expected_language)
    if status is not None:
        out["status"] = status
        return out

    # P5 — name
    h1 = doc.find("h1", cls="facelift")
    out["name"] = _non_empty_text(h1) if h1 is not None else None

    content = doc.find("div", cls="content_inside")
    if content is not None:
        # P1 — attribute pairs; folded to map<string, array<string>>
        spans = [
            s
            for s in content.find_all("span")
            if (s.attrs.get("class") or "").startswith(("name", "value"))
            or s.attrs.get("class") is None
        ]
        pairs = attributes_pairs_list(spans)
        attrs: dict[str, list[str]] = {}
        for key, value in pairs:
            if key is None:
                continue
            if value is None:
                vals = []
            elif isinstance(value, list):
                vals = [v if isinstance(v, str) else json.dumps(v, ensure_ascii=False) for v in value]
            elif isinstance(value, dict):
                vals = [json.dumps(value, ensure_ascii=False)]
            else:
                vals = [value]
            attrs[key] = vals  # last key wins (Compose(dict), items.py:102)
        out["attributes"] = attrs

        # P3 — trees
        trees = extract_trees(content)
        if trees:
            out["trees_json"] = json.dumps(trees, ensure_ascii=False)

        # beschreibung (details.py:66-71): projektbeschreibung >
        # projekttext, no-abstract sentinel filtered, Join() semantics
        desc = next(
            (n for n in content.iter() if n.attrs.get("id") == "projektbeschreibung"),
            None,
        )
        if desc is not None:
            texts = [
                t
                for d in desc.child_elements()
                if d.tag == "div" and d.attrs.get("id") == "projekttext"
                for t in (_clean(s) for s in d.all_text())
                if t != ""
            ]
            if len(texts) == 1 and texts[0] in _NO_ABSTRACT:
                texts = []
            out["beschreibung"] = " ".join(texts) if texts else None

        # A6 stages 3-4 trigger — the result tab link; the reference
        # follows it only when EXACTLY one matches (details.py:91-96)
        tab_links = [
            a
            for li in content.find_all("li")
            if li.attrs.get("id") == "tabbutton2"
            for a in li.find_all("a")
        ]
        if len(tab_links) == 1:
            out["result_href"] = tab_links[0].attrs.get("href")

    # P12 — embedded image + caption
    img = doc.find("img")
    fig = doc.find("figcaption")
    if fig is not None:
        out["caption"] = _clean(" ".join(fig.all_text()))
    if img is not None:
        out["image_id"] = img.attrs.get("id")
        src = img.attrs.get("src") or ""
        m = _DATA_URI_RE.match(src)
        if m:
            fmt, b64 = m.group(1), m.group(2)
            try:
                raw = base64.b64decode(b64)
                out["image_h"], out["image_w"], out["phash"] = _decode_meta(raw, fmt)
                out["image_bytes"] = raw
                out["image_fmt"] = fmt
            except (ValueError, NotImplementedError):
                # fields stay None: _decode_meta raises before any is set
                out["status"] = "error"
    return out


def fetch_pages(scheduled: DataFrame, pages: DataFrame) -> DataFrame:
    """S7/S8 — the corpus-backed fetch: left join on (url, language).

    Missing pages carry fetch_status NULL (connection-failure analogue);
    the downstream parse stage routes NULL-status rows to status='error',
    and read_through_fetch keys its cache-miss fallback on exactly this
    NULL signal.

    Physical plan: the batch of scheduled urls is bounded by the
    per-batch budget and the page store is the big side, so the
    SCHEDULED side is broadcast and pages STREAM through a
    broadcast-hash join with zero shuffle of the multi-KB html rows.
    The hint is unconditional: the scheduled side is often a derived
    plan (retry sets, en/result continuations hang off a parse stage),
    so sizing it here would re-execute that upstream lineage once per
    fetch. The left-outer semantics (keep scheduled rows with no page)
    come from a second, column-pruned anti-join pass: it rescans only
    the (url, language) columns of the parquet, never the html.
    """
    pages_sel = pages.select(
        F.col("url").alias("_p_url"),
        F.col("language").alias("_p_language"),
        F.col("status").alias("fetch_status"),
        "html",
        "fetch_cost_ms",
    )
    cond = (scheduled["url"] == F.col("_p_url")) & (
        scheduled["language"] == F.col("_p_language")
    )
    found = pages_sel.join(F.broadcast(scheduled), cond, "inner").drop(
        "_p_url", "_p_language"
    )
    page_keys = pages.select(
        F.col("url").alias("_p_url"), F.col("language").alias("_p_language")
    )
    missing = scheduled.join(page_keys, cond, "left_anti").select(
        "*",
        F.lit(None).cast("string").alias("fetch_status"),
        F.lit(None).cast("string").alias("html"),
        F.lit(None).cast("int").alias("fetch_cost_ms"),
    )
    return found.unionByName(missing.select(*found.columns))


def read_through_fetch(scheduled: DataFrame, pages: DataFrame, live_fetch: Callable) -> DataFrame:
    """S8 cache read-through WITH live fallback: serve each scheduled
    row from the page store; rows the store misses (connection-failure
    rows from fetch_pages) go to `live_fetch` (http_fetch_stage against
    the live site, or another store). This is the Scrapy httpcache
    middleware composition (reference middlewares.py:118-138 over the
    dbm cache): cache hit short-circuits, miss falls through to the
    network — so evicting one (id, context)'s pages from the store
    (`cli cache evict`, reference cache_control.py:21-37
    delete_detail_cache) forces exactly those pages to refetch in the
    next batch while every other row still serves from cache.

    Note cached rows whose STORED status is an error still count as
    cache hits and never fall through to live_fetch — intended parity
    with Scrapy's DummyPolicy, which serves any cached response
    regardless of status; only rows absent from the store refetch."""
    cached = fetch_pages(scheduled, pages)
    hits = cached.where(F.col("fetch_status").isNotNull())
    misses = cached.where(F.col("fetch_status").isNull()).drop(
        "fetch_status", "html", "fetch_cost_ms"
    )
    return hits.unionByName(live_fetch(misses).select(*hits.columns))


def http_fetch_stage(scheduled: DataFrame, http_fetch_fn: Callable) -> DataFrame:
    """S7 with a REAL fetcher: same output contract as fetch_pages
    (scheduled columns + fetch_status/html/fetch_cost_ms), but the page
    body comes from `http_fetch_fn(url, language) -> (fetch_status,
    html, cost_ms)` executed INSIDE the mapInPandas partition —
    executor-side, no driver round-trip, html never shuffled. The
    corpus join (fetch_pages) stays the deterministic default/test
    double; this stage is the swap-in the module docstring promises,
    and tests/test_http_fetch.py drives the UNCHANGED downstream
    parse/validate/chain path through it against a loopback server.

    Scale: one fetch call per row inside the Arrow batch loop.
    Politeness is enforced upstream by the logical schedule, not here:
    the stage fetches each partition's rows in the order it receives
    them, and the measured fetch_cost_ms feeds the AIMD delay loop
    (politeness.py AIMD notes).
    Reference parity: gepris_helper.py:58-83 (the live fetcher) behind
    the same stage boundary as the cache read-through
    (middlewares.py:118-138)."""
    out_schema = T.StructType(
        list(scheduled.schema.fields)
        + [
            T.StructField("fetch_status", T.StringType(), True),
            T.StructField("html", T.StringType(), True),
            T.StructField("fetch_cost_ms", T.IntegerType(), True),
        ]
    )
    in_cols = [f.name for f in scheduled.schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            statuses, bodies, costs = [], [], []
            for url, lang in zip(pdf["url"], pdf["language"]):
                s, b, c = http_fetch_fn(url, lang)
                statuses.append(s)
                bodies.append(b)
                costs.append(c)
            out = pdf[in_cols].copy()
            out["fetch_status"] = pd.array(statuses, dtype="string")
            out["html"] = pd.array(bodies, dtype="string")
            out["fetch_cost_ms"] = pd.array(costs, dtype="Int32")
            yield out

    return scheduled.mapInPandas(run, out_schema)


def urllib_fetcher(
    timeout_s: float = 10.0,
    user_agent: str | None = None,
    headers: dict[str, str] | None = None,
) -> Callable:
    """Factory for a stdlib real-HTTP `http_fetch_fn`.

    2xx (after redirects) -> ('success', body, cost_ms); any HTTP error
    status or network failure -> (None, None, cost_ms) — the same
    connection-failure row fetch_pages emits for a missing corpus page,
    which the parse stage routes to status='error'. moved /
    bad_structure / wrong_language remain CONTENT-level outcomes
    detected by the P9-P11 validators, exactly as in the reference
    (middlewares.py:78-114): GEPRIS serves HTTP 200 with a
    not-found page for vanished ids."""

    def fetch(url: str, language: str | None):
        import time
        import urllib.error
        import urllib.request

        req_headers = {"Accept-Language": language or "de"}
        if user_agent:
            req_headers["User-Agent"] = user_agent
        if headers:
            req_headers.update(headers)
        t0 = time.perf_counter()
        try:
            req = urllib.request.Request(url, headers=req_headers)
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                body = resp.read().decode("utf-8", "replace")
            return "success", body, int((time.perf_counter() - t0) * 1000)
        except (urllib.error.URLError, OSError, ValueError):
            return None, None, int((time.perf_counter() - t0) * 1000)

    return fetch


def _map_pages(fetched: DataFrame, parse_one: Callable[..., dict], schema) -> DataFrame:
    """One mapInPandas of `parse_one` over the fetched pages, in the
    fetched batch's own partitions: a parquet scan (the broadcast-join
    fetch path) already splits into balanced small partitions, and a
    shuffle of the html would only burn I/O."""
    names = schema.fieldNames()
    longs = [f.name for f in schema.fields if isinstance(f.dataType, T.LongType)]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                parse_one(
                    r.url,
                    r.html if isinstance(r.html, str) else "",
                    getattr(r, "language", None),
                    getattr(r, "context", None),
                    getattr(r, "item_id", None),
                )
                for r in pdf.itertuples(index=False)
            ]
            out = pd.DataFrame(rows, columns=names)
            # pandas promotes an int column to float64 when the batch
            # mixes values and None (None -> NaN) — float64 has a 53-bit
            # mantissa, so a 64-bit phash silently loses its low bits
            # depending on HOW ROWS HAPPEN TO BATCH. Nullable Int64 keeps
            # every long column exact (caught by the http-vs-join fetch
            # parity test, which batches the same rows differently).
            for name in longs:
                out[name] = pd.array([r[name] for r in rows], dtype="Int64")
            yield out

    cols = ["url", "language", "html"] + [c for c in ("context", "item_id") if c in fetched.columns]
    return fetched.select(*cols).mapInPandas(run, schema)


def parse_stage(fetched: DataFrame) -> DataFrame:
    """The fetched details pages -> PARSED rows."""
    return _map_pages(fetched, _parse_one, schemas.PARSED)


# ----------------------------------------------------- result-page parse
# A6 stages 3-4 (spiders/details.py:98-117 + items.py:133-149 loader).

# MapCompose(filter_parenthesis, filter_strings(..., '(Siehe online unter'))
_PUB_DROP = ("(", ")", "(Siehe online unter")
# normalisation/project_result_attributes.py:7-9
_RESULT_ATTRIBUTES_MAP = {"Erstellungsjahr": "ergebnis_erstellungsjahr"}


def _parse_result_one(
    url: str,
    html: str,
    expected_language: str | None,
    context: str | None,
    item_id,
) -> dict:
    """Parse one projekt result page.

    parse_project_result (details.py:98-117): summary from
    #projektbeschreibung > p, attribute span rows normalised through
    PROJEKT_RESULT_ATTRIBUTES_MAP (int-cast Erstellungsjahr), one
    publication entry per ul.publications > li with the '(' / ')' /
    '(Siehe online unter' chrome filtered out (items.py:136-138).
    Unknown attribute keys quarantine instead of raising the
    reference's UnexpectedFieldError (engine N1 policy)."""
    out = {
        "url": url,
        "item_id": item_id,
        "context": context,
        "language": expected_language,
        "status": "success",
        "summary": None,
        "erstellungsjahr": None,
        "publications": None,
        "unknown_result_keys": [],
    }
    doc = parse_html(html)
    # same middleware validators as the details pages: the result fetch
    # goes through details_request too (details.py:100-103)
    status = _page_status(doc, expected_language)
    if status is not None:
        out["status"] = status
        return out

    desc = next(
        (n for n in doc.iter() if n.attrs.get("id") == "projektbeschreibung"), None
    )
    if desc is None:
        out["status"] = "error"
        return out

    # summary: './p' children, Join() after the no-abstract filter
    texts = [
        t
        for p in desc.child_elements()
        if p.tag == "p"
        for t in (_clean(s) for s in p.all_text())
        if t != ""
    ]
    if len(texts) == 1 and texts[0] in _NO_ABSTRACT:
        texts = []
    out["summary"] = " ".join(texts) if texts else None

    # attributes: './div' span rows -> recode through the result map
    for div in (c for c in desc.child_elements() if c.tag == "div"):
        spans = [c for c in div.child_elements() if c.tag == "span"]
        for key, value in attributes_pairs_list(spans):
            if key is None:
                continue
            if key in _RESULT_ATTRIBUTES_MAP:
                first = value[0] if isinstance(value, list) and value else value
                try:
                    out["erstellungsjahr"] = int(first)
                except (TypeError, ValueError):
                    out["unknown_result_keys"] = out["unknown_result_keys"] + [key]
            else:
                out["unknown_result_keys"] = out["unknown_result_keys"] + [key]

    # publications: one entry per './ul[@class="publications"]/li'
    pubs = []
    for ul in (c for c in desc.child_elements() if c.tag == "ul"):
        if (ul.attrs.get("class") or "") != "publications":
            continue
        for li in (c for c in ul.child_elements() if c.tag == "li"):
            parts = _extract_text_and_links(li)
            if not isinstance(parts, list):
                parts = [parts]
            entry = [
                p if isinstance(p, str) else json.dumps(p, ensure_ascii=False)
                for p in parts
                if not (isinstance(p, str) and p in _PUB_DROP)
            ]
            pubs.append(entry)
    out["publications"] = pubs if pubs else None
    return out


def parse_result_stage(fetched: DataFrame) -> DataFrame:
    """The fetched result pages -> RESULT_PARSED rows, in the same
    single pass as parse_stage; result pages are text-only (no image
    decode), so the per-row cost is the DOM walk alone."""
    return _map_pages(fetched, _parse_result_one, schemas.RESULT_PARSED)
