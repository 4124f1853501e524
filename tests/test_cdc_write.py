"""CDC ``_change_data`` write path (VERDICT r7 #5).

Tables with ``delta.enableChangeDataFeed=true`` get real cdc files
from UPDATE and general MERGE, so :func:`table_changes` shows paired
``update_preimage``/``update_postimage`` rows instead of the
delete+insert derivation. Non-CDF tables keep the derivation
(delta-spark's behavior without the property).
"""

from __future__ import annotations

import os

from medallion_delta_lake_spark.sources import delta_log

import pytest

pytestmark = pytest.mark.slow  # heavy battery: excluded from the fast default tier (pytest.ini)


def _src(spark, rows):
    return spark.createDataFrame(rows, "k int, v int").coalesce(1)


def _cdf_table(spark, path, rows):
    delta_log.write_delta(spark, _src(spark, rows), path)
    delta_log.set_table_properties(
        path, {"delta.enableChangeDataFeed": "true"}
    )


def _feed(spark, path, v):
    return sorted(
        (r.k, r.v, r._change_type)
        for r in delta_log.table_changes(spark, path, v, v).collect()
    )


def test_update_emits_paired_images(spark, tmp_path):
    t = str(tmp_path / "t")
    _cdf_table(spark, t, [(1, 10), (2, 20), (3, 30)])
    out = delta_log.update_delta_log(
        spark, t, [("k", "<=", 2)], {"v": "v + 1"}
    )
    assert out["updated_rows"] == 2
    assert _feed(spark, t, out["version"]) == [
        (1, 10, "update_preimage"),
        (1, 11, "update_postimage"),
        (2, 20, "update_preimage"),
        (2, 21, "update_postimage"),
    ]
    # the cdc files live under _change_data/ and are commit-referenced
    assert os.path.isdir(os.path.join(t, "_change_data"))
    # table content matches the postimages
    got = {(r.k, r.v) for r in delta_log.read_delta(spark, t).collect()}
    assert got == {(1, 11), (2, 21), (3, 30)}


def test_update_without_cdf_keeps_derivation(spark, tmp_path):
    t = str(tmp_path / "t")
    delta_log.write_delta(spark, _src(spark, [(1, 10)]), t)
    out = delta_log.update_delta_log(
        spark, t, [("k", "=", 1)], {"v": "v + 1"}
    )
    types = {c for _, _, c in _feed(spark, t, out["version"])}
    assert types == {"insert", "delete"}  # unpaired derivation
    assert not os.path.isdir(os.path.join(t, "_change_data"))


def test_merge_emits_insert_update_delete(spark, tmp_path):
    t = str(tmp_path / "t")
    _cdf_table(spark, t, [(1, 10), (2, 20), (3, 30)])
    v = delta_log.merge_delta_log(
        spark,
        _src(spark, [(1, 11), (4, 40)]),
        t,
        keys=["k"],
        clauses=[
            {"when": "matched", "action": "update", "set": {"v": "s.v"}},
            {"when": "not_matched", "action": "insert"},
            {
                "when": "not_matched_by_source",
                "action": "delete",
                "condition": "d.k = 2",
            },
        ],
    )
    assert _feed(spark, t, v) == [
        (1, 10, "update_preimage"),
        (1, 11, "update_postimage"),
        (2, 20, "delete"),
        (4, 40, "insert"),
    ]
    got = {(r.k, r.v) for r in delta_log.read_delta(spark, t).collect()}
    assert got == {(1, 11), (3, 30), (4, 40)}


def test_upsert_emits_paired_images(spark, tmp_path):
    """The SCD-1 upsert is a preset of the general MERGE, so its feed
    carries paired images for the changed key and an insert for the
    new one — not a delete + insert of every row of the rewritten
    file."""
    t = str(tmp_path / "t")
    _cdf_table(spark, t, [(k, 10 * k) for k in range(1, 11)])
    v = delta_log.upsert_delta_log(
        spark,
        _src(spark, [(1, 11), (11, 110)]),
        t,
        keys=["k"],
        delete_missing=False,
    )
    assert _feed(spark, t, v) == [
        (1, 10, "update_preimage"),
        (1, 11, "update_postimage"),
        (11, 110, "insert"),
    ]
    got = {(r.k, r.v) for r in delta_log.read_delta(spark, t).collect()}
    assert got == {(k, 10 * k) for k in range(2, 11)} | {(1, 11), (11, 110)}


def test_noop_update_emits_no_cdc(spark, tmp_path):
    t = str(tmp_path / "t")
    _cdf_table(spark, t, [(1, 10)])
    out = delta_log.update_delta_log(
        spark, t, [("k", "=", 99)], {"v": "v + 1"}
    )
    assert out["updated_rows"] == 0
    assert _feed(spark, t, out["version"]) == []


def test_feed_spans_cdc_and_derived_commits(spark, tmp_path):
    """A range covering both a CDF UPDATE and a plain append merges
    cleanly: cdc commits read from files, others derive."""
    t = str(tmp_path / "t")
    _cdf_table(spark, t, [(1, 10)])
    u = delta_log.update_delta_log(
        spark, t, [("k", "=", 1)], {"v": "v * 2"}
    )
    delta_log.write_delta(spark, _src(spark, [(2, 2)]), t, mode="append")
    rows = sorted(
        (r.k, r.v, r._change_type, r._commit_version)
        for r in delta_log.table_changes(
            spark, t, u["version"]
        ).collect()
    )
    assert rows == [
        (1, 10, "update_preimage", u["version"]),
        (1, 20, "update_postimage", u["version"]),
        (2, 2, "insert", u["version"] + 1),
    ]


def test_vacuum_keeps_retained_cdc_files(spark, tmp_path):
    t = str(tmp_path / "t")
    _cdf_table(spark, t, [(1, 10), (2, 20)])
    u = delta_log.update_delta_log(
        spark, t, [("k", "=", 1)], {"v": "0"}
    )
    deleted = delta_log.vacuum(t, keep_versions=10)
    assert not any(d.startswith("_change_data/") for d in deleted)
    assert _feed(spark, t, u["version"]) == [
        (1, 0, "update_postimage"),
        (1, 10, "update_preimage"),
    ]


def test_incremental_agg_maintenance(spark, tmp_path):
    """A maintained groupBy aggregate folded forward from the change
    feed equals the full recompute after every mutation kind — the
    paired update images are what make the UPDATE net out correctly."""
    from medallion_delta_lake_spark.operators.incremental import (
        aggregate_table,
        apply_changes_to_agg,
    )

    t = str(tmp_path / "t")
    rows = [(k, k % 3, float(10 * k)) for k in range(1, 9)]
    delta_log.write_delta(
        spark,
        spark.createDataFrame(rows, "k int, g int, v double").coalesce(1),
        t,
    )
    delta_log.set_table_properties(
        t, {"delta.enableChangeDataFeed": "true"}
    )
    base = delta_log.read_delta(spark, t)
    agg = aggregate_table(base, ["g"], ["v"]).localCheckpoint()
    v0 = delta_log.resolve_snapshot(t)["version"]

    # one UPDATE, one MERGE (update+insert+by-source delete)
    delta_log.update_delta_log(spark, t, [("g", "=", 0)], {"v": "v + 5"})
    delta_log.merge_delta_log(
        spark,
        spark.createDataFrame(
            [(1, 0, 1.5), (99, 2, 100.0)], "k int, g int, v double"
        ).coalesce(1),
        t,
        keys=["k"],
        clauses=[
            {"when": "matched", "action": "update", "set": {"v": "s.v"}},
            {"when": "not_matched", "action": "insert"},
            {
                "when": "not_matched_by_source",
                "action": "delete",
                "condition": "d.k >= 7",
            },
        ],
    )
    feed = delta_log.table_changes(spark, t, v0 + 1)
    maintained = apply_changes_to_agg(agg, feed, ["g"], ["v"])
    recomputed = aggregate_table(
        delta_log.read_delta(spark, t), ["g"], ["v"]
    )
    got = {tuple(r) for r in maintained.collect()}
    want = {tuple(r) for r in recomputed.collect()}
    assert got == want

    # a delete that empties a group drops it from the aggregate
    v1 = delta_log.resolve_snapshot(t)["version"]
    delta_log.delete_delta_log(spark, t, [("g", "=", 1)])
    feed2 = delta_log.table_changes(spark, t, v1 + 1)
    m2 = apply_changes_to_agg(maintained, feed2, ["g"], ["v"])
    r2 = aggregate_table(delta_log.read_delta(spark, t), ["g"], ["v"])
    assert {tuple(r) for r in m2.collect()} == {
        tuple(r) for r in r2.collect()
    }
    assert not any(r["g"] == 1 for r in m2.collect())


def test_replication_from_change_feed(spark, tmp_path):
    """A replica folded forward from the change feed equals the source
    table after a multi-commit mutation series (UPDATE, MERGE with
    insert+delete, DELETE) — per key the latest action wins."""
    from medallion_delta_lake_spark.operators.incremental import (
        replicate_from_changes,
    )

    t = str(tmp_path / "t")
    _cdf_table(spark, t, [(1, 10), (2, 20), (3, 30), (4, 40)])
    replica = delta_log.read_delta(spark, t).localCheckpoint()
    v0 = delta_log.resolve_snapshot(t)["version"]

    delta_log.update_delta_log(spark, t, [("k", "<=", 2)], {"v": "v + 1"})
    delta_log.merge_delta_log(
        spark,
        _src(spark, [(1, 100), (9, 90)]),
        t,
        keys=["k"],
        clauses=[
            {"when": "matched", "action": "update", "set": {"v": "s.v"}},
            {"when": "not_matched", "action": "insert"},
            {
                "when": "not_matched_by_source",
                "action": "delete",
                "condition": "d.k = 3",
            },
        ],
    )
    delta_log.delete_delta_log(spark, t, [("k", "=", 4)])

    feed = delta_log.table_changes(spark, t, v0 + 1)
    folded = replicate_from_changes(replica, feed, ["k"])
    got = {(r.k, r.v) for r in folded.collect()}
    want = {(r.k, r.v) for r in delta_log.read_delta(spark, t).collect()}
    assert got == want == {(1, 100), (2, 21), (9, 90)}


def test_cdc_on_column_mapped_table(spark, tmp_path):
    """CDF + column mapping: cdc files carry PHYSICAL names on disk
    (interoperable with external delta-spark CDF readers) and
    :func:`table_changes` maps back to logical names, so the feed
    reads back correctly even after a metadata-only RENAME."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    _cdf_table(spark, t, [(1, 10), (2, 20)])
    delta_log.enable_column_mapping(t)
    delta_log.rename_column(t, "v", "amount")
    out = delta_log.update_delta_log(
        spark, t, [("k", "=", 1)], {"amount": "amount + 5"}
    )
    rows = sorted(
        (r.k, r.amount, r._change_type)
        for r in delta_log.table_changes(
            spark, t, out["version"], out["version"]
        ).collect()
    )
    assert rows == [
        (1, 10, "update_preimage"),
        (1, 15, "update_postimage"),
    ]
    got = {(r.k, r.amount) for r in delta_log.read_delta(spark, t).collect()}
    assert got == {(1, 15), (2, 20)}
    # on-disk cdc parquet columns are the PHYSICAL names of the
    # mapped table (plus _change_type), never the logical ones
    snap = delta_log.resolve_snapshot(t)
    fields = delta_log.json.loads(snap["meta"]["schemaString"])["fields"]
    phys = {
        f["metadata"]["delta.columnMapping.physicalName"]
        for f in fields
    }
    cdir = os.path.join(t, "_change_data")
    for name in os.listdir(cdir):
        cols = set(
            pq.ParquetFile(os.path.join(cdir, name)).schema_arrow.names
        )
        assert "_change_type" in cols
        assert phys <= cols
        # the renamed column's LOGICAL name must not appear — its
        # physical name stays "v" (assigned at mapping enablement)
        assert "amount" not in cols


def test_incremental_join_maintenance(spark, tmp_path):
    """A maintained two-table inner join folded forward from BOTH
    sides' change feeds equals the full recompute across inserts,
    updates, and deletes on each side (r10 maintain_join_from_changes:
    affected-key refresh, O(changed keys) per batch)."""
    from medallion_delta_lake_spark.operators.incremental import (
        maintain_join_from_changes,
    )

    a = str(tmp_path / "orders_t")
    b = str(tmp_path / "cust_t")
    delta_log.write_delta(
        spark,
        spark.createDataFrame(
            [(k, k % 4, float(10 * k)) for k in range(1, 11)],
            "ok int, ck int, amt double",
        ).coalesce(1),
        a,
    )
    delta_log.write_delta(
        spark,
        spark.createDataFrame(
            [(c, f"seg{c}") for c in range(4)], "ck int, seg string"
        ).coalesce(1),
        b,
    )
    for t in (a, b):
        delta_log.set_table_properties(
            t, {"delta.enableChangeDataFeed": "true"}
        )

    def snap(t):
        return delta_log.read_delta(spark, t)

    def recompute():
        return snap(a).join(snap(b), ["ck"], "inner")

    joined = recompute().localCheckpoint()
    va = delta_log.resolve_snapshot(a)["version"]
    vb = delta_log.resolve_snapshot(b)["version"]

    # batch 1: insert on the left, update on the right (same key class)
    delta_log.write_delta(
        spark,
        spark.createDataFrame(
            [(11, 1, 999.0)], "ok int, ck int, amt double"
        ).coalesce(1),
        a,
    )
    delta_log.update_delta_log(
        spark, b, [("ck", "=", 2)], {"seg": "'seg2-v2'"}
    )
    fa = delta_log.table_changes(spark, a, va + 1)
    fb = delta_log.table_changes(spark, b, vb + 1)
    joined = maintain_join_from_changes(
        joined, snap(a), snap(b), fa, fb, ["ck"]
    ).localCheckpoint()
    assert {tuple(r) for r in joined.collect()} == {
        tuple(r) for r in recompute().collect()
    }

    # batch 2: delete on the left (kills some pairs), delete a whole
    # key on the right (kills every pair of ck=3), insert a brand-new
    # right key that has no left partners (must add nothing)
    va = delta_log.resolve_snapshot(a)["version"]
    vb = delta_log.resolve_snapshot(b)["version"]
    delta_log.delete_delta_log(spark, a, [("ok", "=", 4)])
    delta_log.delete_delta_log(spark, b, [("ck", "=", 3)])
    delta_log.write_delta(
        spark,
        spark.createDataFrame([(7, "seg7")], "ck int, seg string")
        .coalesce(1),
        b,
    )
    fa = delta_log.table_changes(spark, a, va + 1)
    fb = delta_log.table_changes(spark, b, vb + 1)
    joined = maintain_join_from_changes(
        joined, snap(a), snap(b), fa, fb, ["ck"]
    ).localCheckpoint()
    got = {tuple(r) for r in joined.collect()}
    want = {tuple(r) for r in recompute().collect()}
    assert got == want
    assert not any(r["ck"] == 3 for r in joined.collect())

    # batch 3: a one-sided feed (left only) — right feed is None
    va = delta_log.resolve_snapshot(a)["version"]
    delta_log.update_delta_log(
        spark, a, [("ok", "=", 2)], {"amt": "amt + 1"}
    )
    fa = delta_log.table_changes(spark, a, va + 1)
    joined = maintain_join_from_changes(
        joined, snap(a), snap(b), fa, None, ["ck"]
    )
    assert {tuple(r) for r in joined.collect()} == {
        tuple(r) for r in recompute().collect()
    }
