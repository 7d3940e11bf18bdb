"""Correctness gates of the crawl-engine benchmark.

Pure Python (no Spark import), so the benchmark's tests can check the
gates themselves on hand-made inputs. Every function returns the number
of failed operations; the caller adds them to the run's `failed` count,
and any failure makes the run exit non-zero.
"""

from __future__ import annotations


def visit_log_failures(got: list[tuple], want: list[tuple]) -> int:
    """Rows of the visit log `(seq, url, scheduled_ms, batch_id)` that
    differ from the replay oracle, position by position. Rows missing
    on either side count as failures too."""
    failures = abs(len(got) - len(want))
    failures += sum(1 for g, w in zip(got, want) if g != w)
    return failures


def url_seen_failures(got: set[str], want: set[str]) -> int:
    """URLs in exactly one of the engine's and the oracle's seen sets."""
    return len(got ^ want)


def details_failures(stats: dict, n_scheduled: int) -> int:
    """A details batch must bring every scheduled id to a terminal
    history row (an item or a non-success status) and leave no retry
    unresolved."""
    terminal = int(stats["n_items"]) + int(stats["n_nonsuccess"])
    return abs(n_scheduled - terminal) + int(stats["n_unresolved_retries"])


def oracle_visit_rows(oracle_visits: list[dict]) -> list[tuple]:
    return [(v["seq"], v["url"], v["scheduled_ms"], v["batch_id"]) for v in oracle_visits]
