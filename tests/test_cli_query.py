"""`cli query` — the ad-hoc run-any-contract-query surface."""

from __future__ import annotations

import json
import os

import pytest

from gepris_spark.cli import main

SF = "/root/testdata/sf0.001"


def test_list_names(capsys):
    assert main(["query", "--list"]) == 0
    names = capsys.readouterr().out.split()
    assert "pricing_summary" in names and "dedup_minhash_lsh" in names
    assert len(names) >= 124


def test_unknown_name_suggests(capsys):
    assert main(["query", "pricing_sumary"]) == 2
    out = capsys.readouterr().out
    assert "did you mean" in out and "pricing_summary" in out


def test_runs_query_and_reports_rows(spark, capsys):
    """In-process main() must reuse the caller's session (the
    _stop_unless_owned contract) and report the row count."""
    assert main(["query", "pricing_summary", "--sf-dir", SF, "--limit", "0"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    rec = json.loads(out[-1])
    assert rec["rows"] == 6 and rec["query"] == "pricing_summary"
    # the caller's session must still be alive
    assert spark.range(1).count() == 1


def test_replay_gate_checks_schedule_and_batch(spark, tmp_path, capsys, monkeypatch):
    """`cli replay` passes on a tiny seed list and fails when the oracle
    differs only in `scheduled_ms`, which a `(seq, url)` check misses."""
    from gepris_spark import replay as oracle
    from gepris_spark.sources import corpus

    seeds = str(tmp_path / "seeds")
    spark.createDataFrame(corpus.gen_seeds_pdf(12, seed=3)).write.parquet(seeds)
    argv = ["replay", "--seeds", seeds, "--state", str(tmp_path / "state"), "--batch-size", "20"]
    assert main(argv) == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["exact_match"] and rec["n_visits"] > 0

    real = oracle.replay

    def drifted(*args, **kwargs):
        res = real(*args, **kwargs)
        res.visits[-1]["scheduled_ms"] += 1
        return res

    monkeypatch.setattr(oracle, "replay", drifted)
    # the state dir is fully committed, so this re-run only re-checks
    assert main(argv) == 1


def test_crawl_visits_what_replay_visits(spark, tmp_path, capsys):
    """`cli crawl` over a tiny seed list, with visit-log compaction on,
    visits exactly as many URLs as the oracle does."""
    import os

    from gepris_spark.replay import replay
    from gepris_spark.sources import corpus

    pdf = corpus.gen_seeds_pdf(20, seed=5)
    seeds = str(tmp_path / "seeds")
    spark.createDataFrame(pdf).write.parquet(seeds)
    state = str(tmp_path / "state")
    argv = ["crawl", "--seeds", seeds, "--state", state, "--batch-size", "25", "--compact-every", "2"]
    assert main(argv) == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rows = pdf.sort_values("arrival_seq").to_dict("records")
    assert rec["visited"] == len(replay(rows, batch_size=25).visits)
    # three batches: the third one's compaction folded the first
    assert rec["batches"] == 3
    assert any(e.startswith("_compact_seg") for e in os.listdir(os.path.join(state, "visit_log")))


def test_crawl_rejects_n_salts():
    """The schedule has no salt shards, so `--n-salts` is not an option."""
    import pytest

    with pytest.raises(SystemExit) as exc:
        main(["crawl", "--seeds", "s", "--state", "t", "--n-salts", "8"])
    assert exc.value.code == 2


@pytest.mark.parametrize("table", ["frontier", "history", "visit_log"])
def test_export_writes_the_table_fields(spark, tmp_path, capsys, table):
    """`cli export --table frontier|history` writes exactly the table's
    schema fields, in order: the store's `_bucket` partition column and
    the append ledger's `batch_id` column stay inside the store. The
    visit log's contract rows carry their batch id, which the files
    store only as their `batch_id=N` dir: its export adds it last."""
    from gepris_spark import schemas
    from gepris_spark.operators.frontier import Frontier
    from gepris_spark.store.table import SnapshotStore

    state = str(tmp_path / "state")
    store = SnapshotStore(state)
    if table == "frontier":
        schema = schemas.FRONTIER
        rows = [(i, "projekt", 1, 1, f'{{"n": {i}}}', 2, i % 2 == 0) for i in range(5)]
        Frontier(spark, store).commit(spark.createDataFrame(rows, schema))
    elif table == "history":
        schema = schemas.HISTORY
        rows = [(i, "projekt", 1, f'{{"n": {i}}}', "success") for i in range(5)]
        store.append_batch(spark.createDataFrame(rows, schema), "history", 1)
    else:
        schema = schemas.VISIT_LOG
        rows = [(i, f"https://h/gepris/projekt/{i}", "h", "projekt", i, 0) for i in range(5)]
        store.append_batch(spark.createDataFrame(rows, schema), "visit_log", 3)
    fields = schema.fieldNames()
    if table == "visit_log":
        fields, rows = fields + ["batch_id"], [(*r, 3) for r in rows]
    out = str(tmp_path / "out")
    assert main(["export", "--state", state, "--table", table, "--out", out]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"] == 5
    exported = []
    for name in sorted(os.listdir(out)):
        if name.endswith(".json"):
            with open(os.path.join(out, name)) as fh:
                exported += [json.loads(line) for line in fh]
    assert [list(r) for r in exported] == [fields] * 5
    assert sorted(tuple(r.values()) for r in exported) == rows
