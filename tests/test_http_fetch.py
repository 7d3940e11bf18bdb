"""S7 real-HTTP leg (round-2 VERDICT #5): `http_fetch_stage` with the
stdlib `urllib_fetcher` runs against a local loopback server serving
the seeded corpus, and the downstream parse/validate/chain path is
IDENTICAL to the corpus-join fetch — proving the "real HTTP swaps in
inside the same stage" claim instead of asserting it."""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from gepris_spark.operators import chaining, fetchparse
from gepris_spark.sources import corpus

N_SEEDS = 10


@pytest.fixture(scope="module")
def corpus_pages():
    seeds = corpus.gen_seeds_pdf(N_SEEDS, seed=42)
    images = corpus.gen_images_pdf(4, seed=42)
    pages = corpus.gen_pages_pdf(seeds, images, seed=42)
    return seeds, pages


@pytest.fixture(scope="module")
def server(corpus_pages):
    """Loopback HTTP server: serves each corpus page body (HTTP 200)
    keyed by path + Accept-Language — GEPRIS-faithful in that moved /
    bad-structure / wrong-language pages are CONTENT, not HTTP errors.
    Unknown paths 404."""
    _, pages = corpus_pages
    by_key: dict[tuple[str, str], str] = {}
    for r in pages.itertuples(index=False):
        path = "/" + r.url.split("//", 1)[1].split("/", 1)[1]
        by_key[(path, r.language)] = r.html

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            lang = (self.headers.get("Accept-Language") or "de")[:2]
            if self.path == "/redirect-loop":
                self.send_response(302)
                self.send_header("Location", "/redirect-loop")
                self.end_headers()
                return
            body = by_key.get((self.path, lang))
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            data = body.encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args):  # keep pytest output clean
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    yield srv.server_address[1]
    srv.shutdown()


def _scheduled(spark, seeds, port, language="de"):
    """The de schedule, with urls rewritten to the loopback host (the
    gepris path is preserved, so canonical-url validators still
    hold)."""
    uniq = seeds.dropna(subset=["item_id"]).drop_duplicates(subset=["url"])
    uniq = uniq[~uniq["url"].str.contains(r"[?#]")]
    rows = [
        (
            f"http://127.0.0.1:{port}/" + r.url.split("//", 1)[1].split("/", 1)[1],
            r.context,
            int(r.item_id),
            language,
        )
        for r in uniq.itertuples(index=False)
    ]
    return spark.createDataFrame(
        rows, "url string, context string, item_id long, language string"
    )


def _corpus_scheduled(spark, seeds, language="de"):
    uniq = seeds.dropna(subset=["item_id"]).drop_duplicates(subset=["url"])
    uniq = uniq[~uniq["url"].str.contains(r"[?#]")]
    rows = [(r.url, r.context, int(r.item_id), language) for r in uniq.itertuples(index=False)]
    return spark.createDataFrame(
        rows, "url string, context string, item_id long, language string"
    )


_PARITY_COLS = ["item_id", "context", "status", "name", "caption", "result_href"]


def _parity_rows(parsed):
    return sorted(
        (tuple(r) for r in parsed.select(*_PARITY_COLS).collect()),
        key=lambda t: (t[1] or "", t[0] or -1),
    )


def test_http_fetch_parse_parity(spark, server, corpus_pages):
    """Fetching over real HTTP yields the exact same parse output
    (status routing + extracted fields) as the corpus join."""
    seeds, pages = corpus_pages
    via_http = fetchparse.parse_stage(
        fetchparse.http_fetch_stage(
            _scheduled(spark, seeds, server), fetchparse.urllib_fetcher()
        )
    )
    via_join = fetchparse.parse_stage(
        fetchparse.fetch_pages(
            _corpus_scheduled(spark, seeds), spark.createDataFrame(pages)
        )
    )
    got, want = _parity_rows(via_http), _parity_rows(via_join)
    assert len(got) == len(want) > 0
    assert got == want
    # every status class that exists in the corpus routed identically
    assert {t[2] for t in got} == {t[2] for t in want}


def test_http_fetch_failure_routes_to_error(spark, server):
    """404 and redirect-to-nowhere come back as connection-failure rows
    (fetch_status null, html null) and parse to status='error' — the
    same route a missing corpus page takes."""
    sched = spark.createDataFrame(
        [
            (f"http://127.0.0.1:{server}/gepris/projekt/999999", "projekt", 999999, "de"),
            (f"http://127.0.0.1:{server}/redirect-loop", "projekt", 999998, "de"),
        ],
        "url string, context string, item_id long, language string",
    )
    fetched = fetchparse.http_fetch_stage(sched, fetchparse.urllib_fetcher(timeout_s=5.0))
    rows = fetched.collect()
    assert all(r["fetch_status"] is None and r["html"] is None for r in rows)
    parsed = fetchparse.parse_stage(fetched)
    assert {r["status"] for r in parsed.collect()} == {"error"}


def test_aimd_over_real_http_matches_replay_oracle(spark, tmp_path):
    """Round-3 verdict ask #7: end-to-end AIMD over REAL HTTP. A
    loopback server injects per-host latency (slow host sleeps past
    the 2 s AIMD floor, fast host responds instantly); the measured
    `fetch_cost_ms` from `http_fetch_stage` feeds the engine's AIMD
    loop AND the single-threaded replay oracle, and the visit schedule
    (seq, url, scheduled_ms, batch) must match exactly — the slow
    host's spacing stretches identically in both, the fast host stays
    clamped at the floor."""
    import time

    import pandas as pd

    from gepris_spark.operators.politeness import DEFAULT_DELAY_MS
    from gepris_spark.replay import replay
    from gepris_spark.streaming.microbatch import CrawlEngine, EngineConfig

    slow_s = 2.2  # > the 2 s floor so (floor + obs) // 2 stretches

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            if (self.headers.get("Host") or "").startswith("localhost"):
                time.sleep(slow_s)
            data = b"<html><body>ok</body></html>"
            self.send_response(200)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        port = srv.server_address[1]
        # two politeness hosts resolving to the same loopback server:
        # host_of() strips the port, so localhost vs 127.0.0.1 is the
        # only way to get two distinct per-host AIMD states
        rows = []
        for i in range(4):
            for host in (f"localhost:{port}", f"127.0.0.1:{port}"):
                rows.append(
                    {
                        "url": f"http://{host}/gepris/projekt/{i + 1}",
                        "priority_type": i % 3,
                        "recency_ts": pd.Timestamp("2024-01-01") + pd.Timedelta(days=i),
                    }
                )
        pdf = pd.DataFrame(rows)
        pdf["arrival_seq"] = range(len(pdf))

        sched = spark.createDataFrame(
            [(r["url"], "projekt", i + 1, "de") for i, r in enumerate(rows)],
            "url string, context string, item_id long, language string",
        )
        measured = {
            r["url"]: r["fetch_cost_ms"]
            for r in fetchparse.http_fetch_stage(
                sched, fetchparse.urllib_fetcher(timeout_s=30.0)
            )
            .select("url", "fetch_cost_ms")
            .collect()
        }
        assert all(c is not None for c in measured.values())
        slow_costs = [c for u, c in measured.items() if "localhost" in u]
        fast_costs = [c for u, c in measured.items() if "localhost" not in u]
        assert min(slow_costs) >= int(slow_s * 1000)
        assert max(fast_costs) < DEFAULT_DELAY_MS

        lat_df = spark.createDataFrame(
            [(u, int(c)) for u, c in measured.items()], "url string, fetch_cost_ms long"
        )
        engine = CrawlEngine(spark, str(tmp_path / "aimd_http"), EngineConfig(batch_size=4))
        engine.run_seed_list(spark.createDataFrame(pdf), latencies=lat_df)
        oracle = replay(
            [
                {"url": r["url"], "priority_type": r["priority_type"], "recency_ts": r["recency_ts"].to_pydatetime()}
                for r in rows
            ],
            batch_size=4,
            aimd=True,
            latency_ms={u: int(c) for u, c in measured.items()},
        )
        got = [
            (r["seq"], r["url"], r["scheduled_ms"], r["batch_id"])
            for r in engine.visit_log().orderBy("seq").collect()
        ]
        want = [(v["seq"], v["url"], v["scheduled_ms"], v["batch_id"]) for v in oracle.visits]
        assert got == want and len(got) == len(rows)

        state = {r["host"]: r["delay_ms"] for r in engine.host_state().collect()}
        assert state["localhost"] > DEFAULT_DELAY_MS  # stretched by real latency
        assert state["127.0.0.1"] == DEFAULT_DELAY_MS  # clamped at the floor
    finally:
        srv.shutdown()


def test_details_chain_over_http(spark, server, corpus_pages):
    """The FULL A6 chain (de -> en -> result pages) runs through the
    injected HTTP fetch hook: every continuation stage fetches from the
    loopback server, and the bilingual items equal the corpus-join
    chain's."""
    seeds, pages = corpus_pages
    chain_http = chaining.details_chain(
        _scheduled(spark, seeds, server),
        None,
        fetchparse.parse_stage,
        max_retries=2,
        fetch=lambda s: fetchparse.http_fetch_stage(s, fetchparse.urllib_fetcher()),
    )
    chain_join = chaining.details_chain(
        _corpus_scheduled(spark, seeds),
        spark.createDataFrame(pages),
        fetchparse.parse_stage,
        max_retries=2,
    )

    def items_key(res):
        # url intentionally excluded: the http chain fetches from the
        # loopback host; everything else must be identical
        return sorted(
            (r["id"], r["context"], r["status"], r["en_status"], r["item"])
            for r in res["items"].collect()
        )

    assert items_key(chain_http) == items_key(chain_join)
    assert sorted(
        (r["item_id"], r["status"]) for r in chain_http["terminal_nonsuccess"].collect()
    ) == sorted(
        (r["item_id"], r["status"]) for r in chain_join["terminal_nonsuccess"].collect()
    )
    for res in (chain_http, chain_join):
        for df in res.get("_cached", []):
            df.unpersist()
