"""Snapshot-lifecycle tests for the store layer: time travel,
rollback-as-new-snapshot, and expiration — the Iceberg table-maintenance
semantics the north rule's "frontier over Iceberg" story needs
(snapshot log = Iceberg metadata history, expire_snapshots =
`expire_snapshots` procedure, rollback = `rollback_to_snapshot`)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gepris_spark.store.table import SnapshotStore

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("val", T.StringType()),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _vals(df):
    return {(r["id"], r["val"]) for r in df.collect()}


def test_time_travel_read(spark, store_dir):
    store = SnapshotStore(store_dir)
    store.commit_snapshot(_df(spark, [(1, "a")]), "t")
    store.commit_snapshot(_df(spark, [(1, "a"), (2, "b")]), "t")
    store.commit_snapshot(_df(spark, [(3, "c")]), "t")

    assert _vals(store.read(spark, "t", SCHEMA)) == {(3, "c")}
    assert _vals(store.read(spark, "t", SCHEMA, version=1)) == {(1, "a")}
    assert _vals(store.read(spark, "t", SCHEMA, version=2)) == {(1, "a"), (2, "b")}
    with pytest.raises(FileNotFoundError):
        store.read(spark, "t", SCHEMA, version=9)


def test_snapshot_history_excludes_uncommitted_leftovers(spark, store_dir):
    store = SnapshotStore(store_dir)
    store.commit_snapshot(_df(spark, [(1, "a")]), "t")
    store.commit_snapshot(_df(spark, [(2, "b")]), "t")
    # simulate a killed run: v3 written but the pointer never flipped
    os.makedirs(os.path.join(store_dir, "t", "v3"))

    snaps = store.snapshots("t")
    assert [s["version"] for s in snaps] == [1, 2]
    assert [s["current"] for s in snaps] == [False, True]
    assert snaps[0]["committed_at"] <= snaps[1]["committed_at"]
    # an explicit read of the never-committed version refuses
    with pytest.raises(FileNotFoundError):
        store.read(spark, "t", SCHEMA, version=3)


def test_rollback_commits_new_version(spark, store_dir):
    store = SnapshotStore(store_dir)
    store.commit_snapshot(_df(spark, [(1, "good")]), "t")
    store.commit_snapshot(_df(spark, [(1, "bad")]), "t")

    new_version = store.rollback("t", 1)
    assert new_version == 3
    assert _vals(store.read(spark, "t", SCHEMA)) == {(1, "good")}
    # history stays monotonic; the bad snapshot remains inspectable
    assert [s["version"] for s in store.snapshots("t")] == [1, 2, 3]
    assert _vals(store.read(spark, "t", SCHEMA, version=2)) == {(1, "bad")}
    # committing after rollback continues the version line
    store.commit_snapshot(_df(spark, [(4, "d")]), "t")
    assert store.current_version("t") == 4


def test_expire_keeps_window_and_current(spark, store_dir):
    store = SnapshotStore(store_dir)
    for i in range(1, 6):
        store.commit_snapshot(_df(spark, [(i, f"v{i}")]), "t")

    expired = store.expire_snapshots("t", keep_last=2)
    assert expired == [1, 2, 3]
    assert [s["version"] for s in store.snapshots("t")] == [4, 5]
    assert _vals(store.read(spark, "t", SCHEMA)) == {(5, "v5")}
    assert _vals(store.read(spark, "t", SCHEMA, version=4)) == {(4, "v4")}
    with pytest.raises(FileNotFoundError):
        store.read(spark, "t", SCHEMA, version=3)
    # idempotent; never expires the current snapshot even at keep_last=1
    assert store.expire_snapshots("t", keep_last=2) == []
    assert store.expire_snapshots("t", keep_last=1) == [4]
    assert _vals(store.read(spark, "t", SCHEMA)) == {(5, "v5")}


def test_expire_safe_under_bucketed_hardlinks(spark, store_dir):
    """merge_bucketed hardlinks untouched buckets forward; expiring the
    predecessor must not damage the current snapshot's shared files."""
    store = SnapshotStore(store_dir)
    bucketed = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
    )
    base = spark.createDataFrame([(i, f"old{i}") for i in range(64)], bucketed)
    store.commit_bucketed(base, "b", "id", n_buckets=16)

    source = spark.createDataFrame([(0, "new0")], bucketed)
    store.merge_bucketed(
        spark,
        "b",
        bucketed,
        source,
        keys=["id"],
        matched_update=lambda t, s: {"val": s["val"]},
        n_buckets=16,
    )
    assert store.expire_snapshots("b", keep_last=1) == [1]

    rows = {(r["id"], r["val"]) for r in store.read(spark, "b", bucketed).collect()}
    expected = {(i, f"old{i}") for i in range(1, 64)} | {(0, "new0")}
    assert rows == expected


def test_merge_refuses_layout_mismatch(spark, store_dir):
    """A pruned merge with a different bucket modulus than the committed
    layout would silently skip live buckets and duplicate keys — it must
    raise instead; a full rewrite may evolve the spec."""
    store = SnapshotStore(store_dir)
    bucketed = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
    )
    store.commit_bucketed(
        spark.createDataFrame([(1, "a")], bucketed), "b", "id", n_buckets=16
    )
    with pytest.raises(ValueError, match="bucket layout mismatch"):
        store.merge_bucketed(
            spark,
            "b",
            bucketed,
            spark.createDataFrame([(1, "x")], bucketed),
            keys=["id"],
            matched_update=lambda t, s: {"val": s["val"]},
            n_buckets=64,
        )
    # partition-spec evolution through the full-rewrite path is allowed
    store.commit_bucketed(
        spark.createDataFrame([(1, "a")], bucketed), "b", "id", n_buckets=8
    )
    assert store.bucket_layout("b") == {"key_col": "id", "n_buckets": 8}


def test_cli_snapshot_maintenance(spark, store_dir, capsys):
    """The spark-submit surface exposes history/rollback/expire without
    needing a Spark session (pure metadata ops)."""
    import json as _json

    from gepris_spark.cli import main

    store = SnapshotStore(store_dir)
    for i in range(1, 4):
        store.commit_snapshot(_df(spark, [(i, f"v{i}")]), "frontier")

    main(["snapshots", "history", "--state", store_dir])
    hist = _json.loads(capsys.readouterr().out.strip())
    assert [s["version"] for s in hist["snapshots"]] == [1, 2, 3]

    main(["snapshots", "rollback", "--state", store_dir, "--version", "1"])
    rb = _json.loads(capsys.readouterr().out.strip())
    assert rb["new_version"] == 4
    assert _vals(store.read(spark, "frontier", SCHEMA)) == {(1, "v1")}

    main(["snapshots", "expire", "--state", store_dir, "--keep-last", "1"])
    exp = _json.loads(capsys.readouterr().out.strip())
    assert exp["expired"] == [1, 2, 3]
    assert _vals(store.read(spark, "frontier", SCHEMA)) == {(1, "v1")}


def test_changelog_between_snapshots(spark, store_dir):
    """Iceberg `table_changes` parity: the diff between two snapshots is
    keyed rows with INSERT / UPDATE_AFTER / DELETE, and the scan prunes
    to buckets whose file sets actually differ (hardlink identity)."""
    store = SnapshotStore(store_dir)
    bucketed = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
    )
    base = spark.createDataFrame([(i, f"old{i}") for i in range(64)], bucketed)
    store.commit_bucketed(base, "c", "id", n_buckets=16)  # v1

    source = spark.createDataFrame([(0, "new0"), (100, "ins100")], bucketed)
    store.merge_bucketed(
        spark,
        "c",
        bucketed,
        source,
        keys=["id"],
        matched_update=lambda t, s: {"val": s["val"]},
        n_buckets=16,
    )  # v2

    # the micro-batch touched at most 2 of 16 buckets — pruning must see that
    assert 0 < len(store.changed_buckets("c", 1, 2)) <= 2

    rows = {
        (r["id"], r["val"], r["_change_type"])
        for r in store.changes(spark, "c", bucketed, 1, 2, keys=["id"]).collect()
    }
    assert rows == {(0, "new0", "UPDATE_AFTER"), (100, "ins100", "INSERT")}

    # full rewrite dropping a row -> DELETE appears in the changelog
    survivors = spark.createDataFrame(
        [(i, f"old{i}") for i in range(1, 64) if i != 5] + [(0, "new0"), (100, "ins100")],
        bucketed,
    )
    store.commit_bucketed(survivors, "c", "id", n_buckets=16)  # v3
    delta = {
        (r["id"], r["_change_type"])
        for r in store.changes(spark, "c", bucketed, 2, 3, keys=["id"]).collect()
    }
    assert delta == {(5, "DELETE")}

    # no-op diff: zero changed buckets, empty changelog, schema stable
    empty = store.changes(spark, "c", bucketed, 3, 3, keys=["id"])
    assert empty.count() == 0
    assert empty.columns == ["id", "val", "_change_type"]


def test_lifecycle_random_walk(spark, store_dir):
    """Model-based check: a seeded random interleaving of commit /
    rollback / expire must always agree with a pure-Python model on
    history, current pointer, and every live version's content —
    and every expired version must refuse time travel."""
    import random

    rng = random.Random(20260818)
    store = SnapshotStore(store_dir)
    model: dict[int, int] = {}  # live version -> payload
    expired: set[int] = set()
    payload = 0

    def commit(value: int) -> None:
        v = store.commit_snapshot(_df(spark, [(int(value), f"p{value}")]), "w")
        model[v] = value

    commit(payload)
    for _ in range(30):
        op = rng.choice(["commit", "commit", "commit", "rollback", "expire"])
        current = max(model)
        if op == "commit":
            payload += 1
            commit(payload)
        elif op == "rollback":
            target = rng.choice(sorted(model))
            new_v = store.rollback("w", target)
            assert new_v == current + 1
            model[new_v] = model[target]
        else:
            keep = rng.randint(1, 3)
            got = store.expire_snapshots("w", keep_last=keep)
            live = sorted(model)
            want = live[:-keep] if len(live) > keep else []
            assert got == want
            for v in want:
                expired.add(v)
                del model[v]

        snaps = store.snapshots("w")
        assert [s["version"] for s in snaps] == sorted(model)
        assert [s for s in snaps if s["current"]][0]["version"] == max(model)
        # every live version's content matches the model
        probe = rng.sample(sorted(model), min(2, len(model)))
        for v in probe:
            assert _vals(store.read(spark, "w", SCHEMA, version=v)) == {
                (model[v], f"p{model[v]}")
            }
        if expired:
            dead = rng.choice(sorted(expired))
            with pytest.raises(FileNotFoundError):
                store.read(spark, "w", SCHEMA, version=dead)


def test_schema_evolution_add_and_drop_column(spark, store_dir):
    """Iceberg add/drop-column semantics without rewriting snapshots:
    old snapshots read with an extended schema surface the new column
    as typed nulls (both read paths and the merge target), dropped
    columns vanish on read, and the changelog diffs across the
    evolution boundary."""
    store = SnapshotStore(store_dir)
    v1_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
    )
    v2_schema = T.StructType(
        list(v1_schema.fields) + [T.StructField("score", T.DoubleType())]
    )
    store.commit_bucketed(
        spark.createDataFrame([(1, "a"), (2, "b")], v1_schema), "e", "id", n_buckets=4
    )

    # old snapshot, extended schema: new column is null, typed double
    grown = store.read(spark, "e", v2_schema)
    assert dict(grown.dtypes)["score"] == "double"
    assert {(r["id"], r["val"], r["score"]) for r in grown.collect()} == {
        (1, "a", None),
        (2, "b", None),
    }

    # merge with the extended schema against the v1 snapshot
    src = spark.createDataFrame([(2, "b2", 0.5), (3, "c", 0.9)], v2_schema)
    store.merge_bucketed(
        spark,
        "e",
        v2_schema,
        src,
        keys=["id"],
        matched_update=lambda t, s: {"val": s["val"], "score": s["score"]},
        n_buckets=4,
    )
    merged = store.read(spark, "e", v2_schema)
    assert {(r["id"], r["val"], r["score"]) for r in merged.collect()} == {
        (1, "a", None),
        (2, "b2", 0.5),
        (3, "c", 0.9),
    }

    # changelog across the evolution boundary sees the update + insert
    delta = {
        (r["id"], r["score"], r["_change_type"])
        for r in store.changes(spark, "e", v2_schema, 1, 2, keys=["id"]).collect()
    }
    assert delta == {(2, 0.5, "UPDATE_AFTER"), (3, 0.9, "INSERT")}

    # dropping a column is a projection on read
    narrow = store.read(
        spark, "e", T.StructType([T.StructField("id", T.LongType())])
    )
    assert narrow.columns == ["id"]


# ------------------------------------------------- append-ledger compaction


def _append_rows(df):
    return {(r["id"], r["val"], r["batch_id"]) for r in df.collect()}


def _batch_ids(store, spark):
    rows = store.read_appends(spark, "led", SCHEMA).select("batch_id").distinct().collect()
    return sorted(r["batch_id"] for r in rows)


def test_compact_appends_preserves_rows_and_batch_ids(spark, store_dir):
    store = SnapshotStore(store_dir)
    for b in range(1, 6):
        store.append_batch(_df(spark, [(b, f"v{b}"), (b + 100, f"w{b}")]), "led", b)
    before = _append_rows(store.read_appends(spark, "led", SCHEMA))
    assert _batch_ids(store, spark) == [1, 2, 3, 4, 5]

    res = store.compact_appends(spark, "led", SCHEMA, keep_last=2)
    assert res["folded"] == [1, 2, 3]
    assert res["rows"] == 6
    # only the two newest batches remain as live dirs
    live = [e for e in os.listdir(os.path.join(store_dir, "led")) if e.startswith("batch_id=")]
    assert sorted(live) == ["batch_id=4", "batch_id=5"]
    # readers see byte-identical rows, batch identity intact
    assert _append_rows(store.read_appends(spark, "led", SCHEMA)) == before
    assert _batch_ids(store, spark) == [1, 2, 3, 4, 5]


def test_compact_appends_repeated_folds_prior_segment(spark, store_dir):
    store = SnapshotStore(store_dir)
    for b in range(1, 4):
        store.append_batch(_df(spark, [(b, f"v{b}")]), "led", b)
    store.compact_appends(spark, "led", SCHEMA, keep_last=1)
    for b in range(4, 7):
        store.append_batch(_df(spark, [(b, f"v{b}")]), "led", b)
    res = store.compact_appends(spark, "led", SCHEMA, keep_last=1)
    assert res["folded"] == [1, 2, 3, 4, 5]
    # exactly one segment dir survives
    segs = [e for e in os.listdir(os.path.join(store_dir, "led")) if e.startswith("_compact_seg")]
    assert len(segs) == 1
    assert _append_rows(store.read_appends(spark, "led", SCHEMA)) == {
        (b, f"v{b}", b) for b in range(1, 7)
    }
    assert _batch_ids(store, spark) == [1, 2, 3, 4, 5, 6]


def test_compact_appends_reappended_batch_wins_over_segment(spark, store_dir):
    store = SnapshotStore(store_dir)
    for b in range(1, 4):
        store.append_batch(_df(spark, [(b, f"v{b}")]), "led", b)
    store.compact_appends(spark, "led", SCHEMA, keep_last=0)
    # idempotent re-run of folded batch 2 with corrected content
    store.append_batch(_df(spark, [(2, "FIXED")]), "led", 2)
    rows = _append_rows(store.read_appends(spark, "led", SCHEMA))
    assert rows == {(1, "v1", 1), (2, "FIXED", 2), (3, "v3", 3)}
    assert _batch_ids(store, spark) == [1, 2, 3]


def test_compact_appends_noop_when_nothing_to_fold(spark, store_dir):
    store = SnapshotStore(store_dir)
    store.append_batch(_df(spark, [(1, "a")]), "led", 1)
    res = store.compact_appends(spark, "led", SCHEMA, keep_last=5)
    assert res["folded"] == [] and res["rows"] == 0
    assert _append_rows(store.read_appends(spark, "led", SCHEMA)) == {(1, "a", 1)}



def test_zero_length_version_file_raises(spark, store_dir):
    """A zero-length `_VERSION` (a rename whose data never reached the
    disk) is a fault, not an empty table: read as empty, the next
    commit would take version 1 again and delete the committed v1."""
    store = SnapshotStore(store_dir)
    store.commit_snapshot(_df(spark, [(1, "a")]), "t")
    open(os.path.join(store_dir, "t", "_VERSION"), "w").close()
    with pytest.raises(ValueError):
        store.read(spark, "t", SCHEMA)
    with pytest.raises(ValueError):
        store.commit_snapshot(_df(spark, [(2, "b")]), "t")
    v1 = os.path.join(store_dir, "t", "v1")
    assert _vals(spark.read.schema(SCHEMA).parquet(v1)) == {(1, "a")}


def test_zero_length_compact_manifest_raises(spark, store_dir):
    """A zero-length `_COMPACT` must not hide the folded batches: read
    as no manifest, every batch in the segment would vanish from
    `read_appends`."""
    store = SnapshotStore(store_dir)
    for b in range(1, 4):
        store.append_batch(_df(spark, [(b, f"v{b}")]), "led", b)
    store.compact_appends(spark, "led", SCHEMA, keep_last=1)
    open(os.path.join(store_dir, "led", "_COMPACT"), "w").close()
    with pytest.raises(ValueError):
        store.read_appends(spark, "led", SCHEMA)


def _append_ten_rows_per_batch(spark, store, n_batches):
    for b in range(n_batches):
        store.append_batch(
            spark.range(10).select(F.col("id"), F.lit(f"v{b}").alias("val")), "ledger", b
        )


def test_read_appends_since_prunes_dirs_and_segment(spark, store_dir):
    store = SnapshotStore(store_dir)
    _append_ten_rows_per_batch(spark, store, 6)
    df, rep = store.read_appends_since(spark, "ledger", SCHEMA, min_batch_id=4)
    assert rep == {"dirs_total": 6, "dirs_read": 2, "segment_read": False}
    assert df.count() == 20 and set(r.batch_id for r in df.collect()) == {4, 5}


def test_read_appends_since_after_compaction(spark, store_dir):
    store = SnapshotStore(store_dir)
    _append_ten_rows_per_batch(spark, store, 6)
    store.compact_appends(spark, "ledger", SCHEMA, keep_last=2)  # folds 0-3
    # tail entirely in live dirs: the segment must not be touched
    df, rep = store.read_appends_since(spark, "ledger", SCHEMA, min_batch_id=4)
    assert rep["segment_read"] is False and rep["dirs_read"] == 2
    assert df.count() == 20
    # tail reaching into folded batches: segment read, rows exact
    df2, rep2 = store.read_appends_since(spark, "ledger", SCHEMA, min_batch_id=2)
    assert rep2["segment_read"] is True
    assert df2.count() == 40 and set(r.batch_id for r in df2.collect()) == {2, 3, 4, 5}
    full = store.read_appends(spark, "ledger", SCHEMA).where(F.col("batch_id") >= 2)
    assert sorted((r.batch_id, r.id) for r in df2.collect()) == sorted(
        (r.batch_id, r.id) for r in full.collect()
    )

def test_cli_compact_appends(spark, store_dir, capsys):
    import json as _json

    from gepris_spark import schemas
    from gepris_spark.cli import main

    store = SnapshotStore(store_dir)
    for b in range(1, 4):
        df = spark.createDataFrame([(b, "projekt", b, None, "success")], schemas.HISTORY)
        store.append_batch(df, "history", b)

    main(["snapshots", "compact", "--state", store_dir, "--table", "history", "--keep-last", "1"])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["folded"] == [1, 2]
    got = store.read_appends(spark, "history", schemas.HISTORY)
    assert sorted(r["batch_id"] for r in got.collect()) == [1, 2, 3]


def test_bucketed_merge_with_delete(spark, store_dir):
    """The DELETE and conditional-INSERT clauses work through the
    bucket-pruned merge path: deletes remove stored rows, tombstones
    for never-stored keys insert nothing, and untouched buckets carry
    forward."""
    store = SnapshotStore(store_dir)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
    )
    store.commit_bucketed(
        spark.createDataFrame([(i, f"v{i}") for i in range(8)], schema),
        "d",
        "id",
        n_buckets=4,
    )
    src_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("val", T.StringType()),
        ]
    )
    source = spark.createDataFrame(
        [
            (2, "delete", ""),       # stored -> hard delete
            (3, "upsert", "V3"),     # stored -> update
            (8, "upsert", "V8"),     # new -> insert
            (9, "delete", ""),       # tombstone for never-stored key -> no-op
        ],
        src_schema,
    )
    store.merge_bucketed(
        spark,
        "d",
        schema,
        source,
        keys=["id"],
        matched_update=lambda t, s: {"val": s["val"]},
        not_matched_insert=lambda s: {"id": s["id"], "val": s["val"]},
        matched_delete=lambda t, s: s["op"] == "delete",
        not_matched_condition=lambda s: s["op"] != "delete",
        n_buckets=4,
    )
    got = {
        r["id"]: r["val"]
        for r in store.read(spark, "d", schema).collect()
    }
    assert 2 not in got and 9 not in got
    assert got[3] == "V3" and got[8] == "V8"
    assert got[0] == "v0" and got[7] == "v7"
    assert len(got) == 8  # 8 original - 1 delete + 1 insert
