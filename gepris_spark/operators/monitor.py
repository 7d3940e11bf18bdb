"""Data-monitor path: S3/P8 monitor parse, K4 metrics append, G5
latest-stat lookup, K7 alert decision matrix.

Reference: spiders/data_monitor.py:13-34 (single fixed-url fetch, tbody
row iteration, German label -> canonical key via a synonym map that
includes mojibake variants, gepris_helper.py:10-26), pipelines.py:60-142
(email decision: Error > count-mismatch Warning > version-change
Warning > big-success, with the exact subject format). The engine has
no SMTP — the decision matrix emits alert rows, and the sandbox
analogue of sending mail is the durable alerts.jsonl ledger
(append_alert_ledger / alert_ledger_sink below: one JSON line per
alerting run, idempotent on run_id; a real deployment's mailer tails
it)."""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gepris_spark.operators.htmldom import parse_html

# German row label -> canonical counter key (gepris_helper.py:10-26;
# includes the encoding-variant spellings the live site has served)
DATA_MONITOR_KEYS = {
    "Projekte mit Abschlussberichten": "finished_project_count",
    "Projekte f�r die Abschlussberichtsdaten in GEPRIS vorliegen": "finished_project_count",
    "Projekte für die Abschlussberichtsdaten in GEPRIS vorliegen": "finished_project_count",
    "Projekt": "project_count",
    "Projekte": "project_count",
    "Person": "person_count",
    "Personen": "person_count",
    "Institution": "institution_count",
    "Institutionen": "institution_count",
    "Geistes- und Sozialwissenschaften": "humanities_count",
    "Lebenswissenschaften": "life_count",
    "Naturwissenschaften": "natural_count",
    "Ingenieurwissenschaften": "engineering_count",
    "Infrastrukturförderung": "infrastructure_count",
    "Forschungsinfrastruktur": "research_infrastructure_count",
}

_VERSION_RE = re.compile(r"Version\s+([\w.\-]+)")

MONITOR_PARSED = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("counters", T.MapType(T.StringType(), T.LongType())),
        T.StructField("gepris_version", T.StringType()),
        T.StructField("unknown_labels", T.ArrayType(T.StringType())),
    ]
)


def parse_monitor_html(html: str) -> dict:
    """P8 — tbody row iteration + synonym-map recode + version banner
    regex (data_monitor.py:23-34, F13)."""
    doc = parse_html(html)
    counters: dict[str, int] = {}
    unknown: list[str] = []
    for tr in doc.find_all("tr"):
        cells = [c for c in tr.child_elements() if c.tag in ("td", "th")]
        if len(cells) < 2:
            continue
        label = " ".join(" ".join(cells[0].all_text()).split())
        value_text = " ".join(cells[1].all_text())
        digits = re.sub(r"[^0-9]", "", value_text)  # dot-stripped int (G3 style)
        key = DATA_MONITOR_KEYS.get(label)
        if key is None:
            unknown.append(label)
        elif digits:
            counters[key] = int(digits)
    version = None
    m = _VERSION_RE.search(html)
    if m:
        version = m.group(1)
    return {"counters": counters, "gepris_version": version, "unknown_labels": unknown}


def parse_monitor_stage(fetched: DataFrame) -> DataFrame:
    """1-row-per-run monitor parse as the same Arrow-batched stage shape
    as the details parser (trivially small batches, S3)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                parsed = parse_monitor_html(r.html if isinstance(r.html, str) else "")
                rows.append(
                    {
                        "url": r.url,
                        "counters": parsed["counters"],
                        "gepris_version": parsed["gepris_version"],
                        "unknown_labels": parsed["unknown_labels"],
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MONITOR_PARSED.fields])

    return fetched.select("url", "html").mapInPandas(run, MONITOR_PARSED)


def latest_stat(monitor: DataFrame, key: str) -> Column | None:
    """G5 — most recent monitor value for a counter key
    (database.py:231-241 anti-exists as orderBy-limit-1)."""
    row = monitor.orderBy(F.col("run_ended_at").desc()).limit(1).collect()
    if not row:
        return None
    return row[0][key]


def alert_decision(
    runs: DataFrame,
    detail_success_min_items: int = 10_000,
) -> DataFrame:
    """K7 — the email decision matrix (pipelines.py:91-107) as a
    DataFrame expression over run-metric rows with columns
    (spider, context, scraped_items, moved_items, expected_items,
    had_error, old_version, new_version).

    Precedence: Error > count-mismatch Warning > version-change
    Warning > details big-success; otherwise no alert. Subject string
    matches _build_subject (pipelines.py:109-126)."""
    actual = F.col("scraped_items") + F.col("moved_items")
    version_changed = (
        F.col("new_version").isNotNull()
        & ~F.col("new_version").eqNullSafe(F.col("old_version"))
    )
    status = (
        F.when(F.col("had_error"), "Error")
        .when(actual != F.col("expected_items"), "Warning")
        .when((F.col("spider") == "data_monitor") & version_changed, "Warning")
        .when(
            (F.col("spider") == "details") & (actual > detail_success_min_items), "Success"
        )
    )
    diff = actual - F.col("expected_items")
    items_string = F.when(
        diff != 0,
        F.concat(F.lit(" - "), actual.cast("string"), F.lit(" ("), diff.cast("string"), F.lit(") items")),
    ).otherwise(F.concat(F.lit(" - "), actual.cast("string"), F.lit(" items")))
    context_string = F.when(
        F.col("spider") != "data_monitor",
        F.concat(F.lit(" - context '"), F.col("context"), F.lit("'")),
    ).otherwise(F.lit(""))
    additional = F.when(
        (F.col("spider") == "data_monitor") & version_changed & ~F.col("had_error") & (actual == F.col("expected_items")),
        F.concat(F.lit(" - new gepris version "), F.col("new_version")),
    ).otherwise(F.lit(""))
    subject = F.concat(
        status, F.lit(" - GeprisCrawler - Spider '"), F.col("spider"), F.lit("'"),
        context_string, items_string, additional,
    )
    return runs.withColumn("alert_status", status).withColumn(
        "alert_subject", F.when(status.isNotNull(), subject)
    )


ALERT_LEDGER_FILE = "alerts.jsonl"


def _append_alert_rows(rows, root: str) -> list[dict]:
    """Idempotent append of decided alert rows to root/alerts.jsonl —
    the engine's durable analogue of the reference's one-mail-per-
    alerting-run (pipelines.py:108-142): same subject line, body
    carrying the run's summary stats (the run row itself, sorted keys,
    standing in for pprint(crawler.stats)). Keyed on run_id so a
    resumed/replayed run never double-notifies, mirroring the engine's
    run-ledger idempotence."""
    import json
    import os

    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, ALERT_LEDGER_FILE)
    seen: set = set()
    try:
        with open(path) as fh:
            for line in fh:
                seen.add(json.loads(line)["run_id"])
    except OSError:
        pass
    written: list[dict] = []
    with open(path, "a") as fh:
        for r in sorted(rows, key=lambda r: (r["run_id"] is None, r["run_id"])):
            d = r.asDict() if hasattr(r, "asDict") else dict(r)
            if d["run_id"] in seen:
                continue
            seen.add(d["run_id"])
            stats = {
                k: v for k, v in sorted(d.items()) if k not in ("alert_status", "alert_subject")
            }
            rec = {
                "run_id": d["run_id"],
                "status": d["alert_status"],
                "subject": d["alert_subject"],
                "spider": d.get("spider"),
                "context": d.get("context"),
                "body": "Summary stats from crawl run:\n\n"
                + json.dumps(stats, ensure_ascii=False, indent=2, default=str),
            }
            fh.write(json.dumps(rec, ensure_ascii=False) + "\n")
            written.append(rec)
        fh.flush()
        os.fsync(fh.fileno())
    return written


def append_alert_ledger(
    runs: DataFrame, root: str, detail_success_min_items: int = 10_000
) -> list[dict]:
    """K7 end-to-end (batch): decision matrix -> alert rows -> durable
    alerts.jsonl. Alert volume is one row per completed spider run, so
    the collect is O(runs) driver-side metadata, not data."""
    decided = alert_decision(runs, detail_success_min_items).where(
        F.col("alert_status").isNotNull()
    )
    return _append_alert_rows(decided.collect(), root)


RUN_METRICS_SCHEMA = (
    "run_id long, spider string, context string, scraped_items long,"
    " moved_items long, expected_items long, had_error boolean,"
    " old_version string, new_version string"
)


def alert_stream(spark: SparkSession, metrics_dir: str) -> DataFrame:
    """K7's decision matrix applied to a STREAM of run-metric rows
    (alert_decision is pure column expressions, so the same operator
    serves batch and stream): each completed run appends a metrics
    file; alert rows emerge with status + subject, non-alert runs are
    filtered out."""
    raw = (
        spark.readStream.schema(RUN_METRICS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(metrics_dir)
    )
    return alert_decision(raw).where(F.col("alert_status").isNotNull())


def alert_ledger_sink(decided_stream: DataFrame, root: str, checkpoint_dir: str):
    """K7 end-to-end (streaming): attach the ledger append to an
    already-decided alert stream (alert_stream above) via
    foreachBatch. The append's run_id dedup makes the sink
    effectively exactly-once even when a killed query replays its last
    micro-batch."""
    return (
        decided_stream.writeStream.foreachBatch(
            lambda df, _bid: _append_alert_rows(df.collect(), root)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
