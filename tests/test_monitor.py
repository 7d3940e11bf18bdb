"""Monitor path tests: P8 synonym-map parse (incl. renamed-key
regression the reference guards, test_data_monitor_spider.py), K7
alert decision matrix (test_pipelines.py:33-187 cases)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gepris_spark.operators import monitor

MONITOR_HTML = """
<html><body>
<p>GEPRIS Version 1.9.9-rc3</p>
<table><tbody>
<tr><td>Projekte</td><td>136.266</td></tr>
<tr><td>Personen</td><td>87.475</td></tr>
<tr><td>Institutionen</td><td>37.472</td></tr>
<tr><td>Geistes- und Sozialwissenschaften</td><td>40.000</td></tr>
<tr><td>Projekte für die Abschlussberichtsdaten in GEPRIS vorliegen</td><td>30.641</td></tr>
<tr><td>Brandneue Zeile</td><td>123</td></tr>
</tbody></table>
</body></html>
"""


def test_parse_monitor_html_synonyms_and_unknown():
    out = monitor.parse_monitor_html(MONITOR_HTML)
    assert out["counters"]["project_count"] == 136266
    assert out["counters"]["person_count"] == 87475
    assert out["counters"]["institution_count"] == 37472
    assert out["counters"]["humanities_count"] == 40000
    # synonym variant maps onto the same canonical key
    assert out["counters"]["finished_project_count"] == 30641
    # renamed-key regression: unknown labels surface, never silently drop
    assert out["unknown_labels"] == ["Brandneue Zeile"]
    assert out["gepris_version"] == "1.9.9-rc3"


def test_parse_monitor_stage(spark):
    df = spark.createDataFrame([("u1", MONITOR_HTML)], "url string, html string")
    row = monitor.parse_monitor_stage(df).first()
    assert row["counters"]["project_count"] == 136266
    assert row["gepris_version"] == "1.9.9-rc3"


def _runs(spark, rows):
    return spark.createDataFrame(
        rows,
        "spider string, context string, scraped_items long, moved_items long, "
        "expected_items long, had_error boolean, old_version string, new_version string",
    )


def test_alert_decision_matrix(spark):
    rows = [
        # error beats everything
        ("details", "projekt", 5, 0, 5, True, None, None),
        # count mismatch -> Warning with (diff)
        ("search_results", "projekt", 90, 0, 100, False, None, None),
        # monitor version change -> Warning with version note
        ("data_monitor", None, 1, 0, 1, False, "1.0", "2.0"),
        # details big success
        ("details", "person", 20000, 1, 20001, False, None, None),
        # quiet run -> no alert
        ("details", "person", 5, 0, 5, False, None, None),
    ]
    out = monitor.alert_decision(_runs(spark, rows)).collect()

    def one(pred):
        matches = [r for r in out if pred(r)]
        assert len(matches) == 1
        return matches[0]

    assert one(lambda r: r["had_error"])["alert_status"] == "Error"
    warn = one(lambda r: r["spider"] == "search_results")
    assert warn["alert_status"] == "Warning"
    assert warn["alert_subject"] == (
        "Warning - GeprisCrawler - Spider 'search_results' - context 'projekt'"
        " - 90 (-10) items"
    )
    mon = one(lambda r: r["spider"] == "data_monitor")
    assert mon["alert_status"] == "Warning"
    assert "new gepris version 2.0" in mon["alert_subject"]
    assert one(lambda r: r["scraped_items"] == 20000)["alert_status"] == "Success"
    quiet = one(lambda r: r["scraped_items"] == 5 and not r["had_error"])
    assert quiet["alert_status"] is None and quiet["alert_subject"] is None


def _metric_rows():
    # (run_id, spider, context, scraped, moved, expected, err, old_v, new_v)
    return [
        (1, "details", "projekt", 5, 0, 5, True, None, None),
        (2, "search_results", "projekt", 90, 0, 100, False, None, None),
        (3, "data_monitor", None, 1, 0, 1, False, "1.0", "2.0"),
        (4, "details", "person", 5, 0, 5, False, None, None),  # quiet
    ]


_METRICS_SCHEMA = (
    "run_id long, spider string, context string, scraped_items long, moved_items long, "
    "expected_items long, had_error boolean, old_version string, new_version string"
)


def test_alert_ledger_end_to_end(spark, tmp_path):
    """K7 completed (round-2 VERDICT #8): metric rows -> decision
    matrix -> durable alerts.jsonl with the reference's subject format
    and a stats body; quiet runs write nothing; a re-run of the same
    metrics (resume) appends nothing."""
    import json

    runs = spark.createDataFrame(_metric_rows(), _METRICS_SCHEMA)
    root = str(tmp_path / "alerts")
    written = monitor.append_alert_ledger(runs, root)
    assert [w["run_id"] for w in written] == [1, 2, 3]
    with open(f"{root}/alerts.jsonl") as fh:
        recs = [json.loads(line) for line in fh]
    assert len(recs) == 3
    by_id = {r["run_id"]: r for r in recs}
    assert by_id[2]["subject"] == (
        "Warning - GeprisCrawler - Spider 'search_results' - context 'projekt'"
        " - 90 (-10) items"
    )
    assert by_id[1]["status"] == "Error"
    assert "scraped_items" in by_id[3]["body"] and "2.0" in by_id[3]["body"]
    # idempotent resume: same metrics again -> no new lines
    assert monitor.append_alert_ledger(runs, root) == []
    with open(f"{root}/alerts.jsonl") as fh:
        assert len(fh.readlines()) == 3


def test_alert_ledger_streaming_sink(spark, tmp_path):
    """The same ledger as a foreachBatch sink on the K7 alert stream:
    two metric files -> one ledger; restarting the query over the same
    source duplicates nothing (run_id dedup = effectively
    exactly-once)."""
    import json
    import os

    metrics_dir = str(tmp_path / "metrics")
    os.makedirs(metrics_dir)
    rows = _metric_rows()
    for i, chunk in enumerate((rows[:2], rows[2:])):
        spark.createDataFrame(chunk, _METRICS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(metrics_dir)
    root = str(tmp_path / "aledger")
    q = monitor.alert_ledger_sink(
        monitor.alert_stream(spark, metrics_dir), root, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    with open(f"{root}/alerts.jsonl") as fh:
        recs = [json.loads(line) for line in fh]
    assert sorted(r["run_id"] for r in recs) == [1, 2, 3]
    # fresh checkpoint, same source: replayed batches dedup on run_id
    q2 = monitor.alert_ledger_sink(
        monitor.alert_stream(spark, metrics_dir), root, str(tmp_path / "ckpt2")
    )
    q2.awaitTermination()
    with open(f"{root}/alerts.jsonl") as fh:
        assert len(fh.readlines()) == 3


def test_alert_stream_matches_batch_decision(spark, tmp_path):
    """K7 as a stream: the same decision matrix the batch path uses,
    over appended run-metric files; only alert rows pass."""
    import pandas as pd

    rows = pd.DataFrame(
        [
            # error -> Error alert
            (1, "details", "projekt", 100, 0, 200, True, None, None),
            # count mismatch -> Warning
            (2, "search_results", "person", 90, 5, 100, False, None, None),
            # clean run, counts match, small -> no alert
            (3, "details", "person", 50, 0, 50, False, None, None),
            # data_monitor version change -> Warning
            (4, "data_monitor", None, 1, 0, 1, False, "v1", "v2"),
            # details big success -> Success
            (5, "details", "projekt", 20000, 0, 20000, False, None, None),
        ],
        columns=[
            "run_id", "spider", "context", "scraped_items", "moved_items",
            "expected_items", "had_error", "old_version", "new_version",
        ],
    )
    metrics_dir = str(tmp_path / "metrics")
    spark.createDataFrame(rows).coalesce(1).write.parquet(metrics_dir)
    stream = monitor.alert_stream(spark, metrics_dir)
    assert stream.isStreaming
    # drain every available file into a memory table, then stop
    stream.writeStream.format("memory").queryName("alerts").outputMode("append").trigger(
        availableNow=True
    ).start().awaitTermination()
    got = spark.table("alerts").toPandas().sort_values("run_id")
    assert list(got["run_id"]) == [1, 2, 4, 5]
    assert list(got["alert_status"]) == ["Error", "Warning", "Warning", "Success"]
    # stream rows equal the batch operator's decisions on the same input
    batch = (
        monitor.alert_decision(spark.createDataFrame(rows))
        .where("alert_status is not null")
        .toPandas()
        .sort_values("run_id")
    )
    assert list(got["alert_subject"]) == list(batch["alert_subject"])


def test_latest_stat(spark):
    df = spark.createDataFrame(
        [(1, "1.0", 100), (2, "1.1", 200)],
        "run_ended_at long, gepris_version string, project_count long",
    )
    assert monitor.latest_stat(df, "gepris_version") == "1.1"
    assert monitor.latest_stat(df.limit(0), "gepris_version") is None
