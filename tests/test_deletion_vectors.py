"""Deletion vectors on the pure-Python Delta log engine.

Codec-level tests pin the public formats (Z85 — including the RFC
draft's 'HelloWorld' test vector — and the portable Roaring layouts
from RoaringFormatSpec / Delta PROTOCOL.md); engine-level tests run
the full lifecycle: DELETE-by-DV (inline and file-backed), DV-merging
second deletes, whole-file removal, time travel across deletes,
filter+DV interplay, OPTIMIZE materialization (dataChange: false),
checkpoint survival, vacuum GC of unreferenced DV files, and the
concurrent-writer conflict guard.

Reference parity note: the reference deletes only via whole-partition
Delta MERGE rewrites (medallion_delta_lake/
silver_table_creation.py:47-66); DV support exceeds it deliberately —
see delta_log.delete_delta_log's docstring.
"""

from __future__ import annotations

import glob
import json
import os
import struct

import pytest

pytestmark = pytest.mark.slow  # heavy battery: excluded from the fast default tier (pytest.ini)

from pyspark.sql import functions as F

from medallion_delta_lake_spark.sources import delta_log, deletion_vectors as dv


# ---------------------------------------------------------------------------
# codec


def test_z85_known_vector_and_round_trip():
    # the Z85 spec's reference vector
    assert dv.z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])) == "HelloWorld"
    assert dv.z85_decode("HelloWorld") == bytes(
        [0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B]
    )
    for n in (4, 16, 36):
        b = bytes(range(n))
        assert dv.z85_decode(dv.z85_encode(b)) == b
    with pytest.raises(ValueError):
        dv.z85_encode(b"abc")  # not a word multiple


@pytest.mark.parametrize(
    "values",
    [
        [],
        [0],
        [0, 1, 2, 5, 65535, 65536, 100000],
        list(range(5000, 5200)),
        sorted({(i * 2654435761) % 300000 for i in range(9000)}),  # bitmap containers
        [7, 8, 2**33 + 5, 2**33 + 6, 2**34],  # multiple high-32 words
    ],
)
def test_dv_serialize_round_trip(values):
    assert dv.deserialize_dv(dv.serialize_dv(values)) == sorted(set(values))


def test_roaring_run_container_parse():
    # hand-built run+array bitmap (a layout our writer never emits but
    # other Delta writers do): runs [10..20],[100..100] in key 0, array
    # {7,9} in key 2
    n = 2
    cookie = 12347 | ((n - 1) << 16)
    buf = (
        struct.pack("<i", cookie)
        + bytes([0b01])
        + struct.pack("<HH", 0, 11)
        + struct.pack("<HH", 2, 1)
        + struct.pack("<H", 2)
        + struct.pack("<HH", 10, 10)
        + struct.pack("<HH", 100, 0)
        + struct.pack("<2H", 7, 9)
    )
    vals, used = dv._deserialize_roaring32(buf, 0)
    assert used == len(buf)
    assert vals == list(range(10, 21)) + [100, (2 << 16) | 7, (2 << 16) | 9]


def test_inline_descriptor_pads_to_word_boundary():
    desc = dv.inline_descriptor([3, 4, 5])
    assert desc["storageType"] == "i"
    assert len(desc["pathOrInlineDv"]) % 5 == 0
    assert desc["cardinality"] == 3
    assert dv.dv_row_indexes("/nonexistent", desc) == [3, 4, 5]


def test_dv_file_round_trip_and_checksum(tmp_path):
    t = str(tmp_path)
    wanted = {"a.parquet": [1, 5, 9], "sub/b.parquet": list(range(3000, 8000))}
    descs = dv.write_dv_file(t, wanted)
    for rel, desc in descs.items():
        assert desc["storageType"] == "u"
        assert dv.dv_row_indexes(t, desc) == sorted(wanted[rel])
    # flip one payload byte → checksum must catch it
    (bin_path,) = glob.glob(os.path.join(t, "deletion_vector_*.bin"))
    blob = bytearray(open(bin_path, "rb").read())
    blob[descs["a.parquet"]["offset"] + 4] ^= 0xFF
    open(bin_path, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="checksum"):
        dv.dv_row_indexes(t, descs["a.parquet"])


# ---------------------------------------------------------------------------
# engine lifecycle


def _make_table(spark, tmp_path, partitioned=True):
    t = str(tmp_path / "tab")
    # 4 tasks × 4 partition values → ≤16 files, each spanning the whole
    # id range, so selective deletes hit files PARTIALLY (DV path) —
    # without the repartition, local[32] writes ~1-row files that
    # whole-file deletes would simply remove
    df = (
        spark.range(100)
        .withColumn("grp", (F.col("id") % 4).cast("string"))
        .withColumn("val", F.col("id") * 10)
        .withColumn("slot", F.col("id") % 4)
        .repartition(4, "slot")
        .drop("slot")
    )
    delta_log.write_delta(
        spark, df, t, mode="overwrite",
        partition_by=["grp"] if partitioned else [],
    )
    return t


def _ids(spark, t, **kw):
    return sorted(r.id for r in delta_log.read_delta(spark, t, **kw).collect())


def test_delete_inline_merge_and_time_travel(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    r1 = delta_log.delete_delta_log(spark, t, [("val", "<", 200)])
    assert r1["deleted_rows"] == 20 and r1["files_removed"] == 0
    assert _ids(spark, t) == list(range(20, 100))
    # second delete merges with the existing DVs (no double-delete)
    r2 = delta_log.delete_delta_log(spark, t, [("id", ">=", 90)])
    assert r2["deleted_rows"] == 10
    assert _ids(spark, t) == list(range(20, 90))
    # every pre-delete version stays readable
    assert len(_ids(spark, t, version_as_of=0)) == 100
    assert len(_ids(spark, t, version_as_of=r1["version"])) == 80
    # protocol upgraded on first DV
    proto = delta_log.resolve_snapshot(t)["protocol"]
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]


def test_delete_file_backed_dvs(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    r = delta_log.delete_delta_log(
        spark, t, [("val", "<", 500)], inline_threshold=0
    )
    assert r["files_with_new_dv"] > 0
    bins = glob.glob(os.path.join(t, "deletion_vector_*.bin"))
    assert len(bins) == 1  # one packed DV file per commit
    assert _ids(spark, t) == list(range(50, 100))
    snap = delta_log.resolve_snapshot(t)
    descs = [
        a["deletionVector"]
        for a in snap["files"].values()
        if a.get("deletionVector")
    ]
    assert descs and all(d["storageType"] == "u" for d in descs)


def test_delete_whole_partition_removes_files(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    before = len(delta_log.resolve_snapshot(t)["files"])
    r = delta_log.delete_delta_log(spark, t, [("grp", "=", "0")])
    assert r["files_removed"] > 0 and r["files_with_new_dv"] == 0
    after = delta_log.resolve_snapshot(t)["files"]
    assert len(after) == before - r["files_removed"]
    assert all(i % 4 != 0 for i in _ids(spark, t))


def test_delete_skips_unmatched_files_by_stats(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    snap = delta_log.resolve_snapshot(t)
    # the predicate only matches grp='1'; partitionValues prove every
    # other file untouched, so no other file gains a DV
    delta_log.delete_delta_log(spark, t, [("grp", "=", "1"), ("id", "<", 50)])
    after = delta_log.resolve_snapshot(t)["files"]
    for rel, add in after.items():
        if add.get("deletionVector"):
            assert add["partitionValues"]["grp"] == "1", rel
    assert snap["files"].keys() == after.keys()  # no rewrite, no removal


def test_delete_no_match_still_commits_a_version(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    v0 = delta_log.resolve_snapshot(t)["version"]
    r = delta_log.delete_delta_log(spark, t, [("val", ">", 10_000)])
    assert r["deleted_rows"] == 0
    assert r["version"] == v0 + 1
    assert len(_ids(spark, t)) == 100


def test_read_filters_compose_with_dvs(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    delta_log.delete_delta_log(spark, t, [("id", "<", 30)])
    got = sorted(
        r.id
        for r in delta_log.read_delta(
            spark, t, filters=[("val", "<", 700)]
        ).collect()
    )
    assert got == list(range(30, 70))


def test_delete_unpartitioned_table(spark, tmp_path):
    t = _make_table(spark, tmp_path, partitioned=False)
    delta_log.delete_delta_log(spark, t, [("id", ">=", 40), ("id", "<", 60)])
    assert _ids(spark, t) == list(range(0, 40)) + list(range(60, 100))


def test_delete_conflicts_with_concurrent_commit(spark, tmp_path):
    """Round-8 optimistic-concurrency contract: a DELETE losing the
    commit race REBASES past a provably disjoint interloper
    (commitInfo-only here) and still commits — but an interloper whose
    commit changed metaData raises, because the DELETE's validation
    and staged schema are stale (the old unconditional-raise behavior
    survives only for true conflicts)."""
    orig = delta_log.resolve_snapshot

    def _race_with(payload: dict):
        raced = {"done": False}

        def racing(path, version_as_of=None):
            snap = orig(path, version_as_of)
            if not raced["done"] and version_as_of is None:
                raced["done"] = True
                v = snap["version"] + 1
                with open(
                    os.path.join(
                        path, "_delta_log", f"{v:020d}.json"
                    ),
                    "w",
                ) as fh:
                    fh.write(json.dumps(payload) + "\n")
            return snap

        return racing

    # disjoint interloper: rebase succeeds, the delete lands
    t = _make_table(spark, tmp_path)
    delta_log.resolve_snapshot = _race_with(
        {"commitInfo": {"operation": "X"}}
    )
    try:
        out = delta_log.delete_delta_log(spark, t, [("id", "<", 5)])
        assert out["deleted_rows"] > 0
    finally:
        delta_log.resolve_snapshot = orig
    assert not any(
        r.id < 5 for r in delta_log.read_delta(spark, t).collect()
    )

    # metadata-changing interloper: still a hard conflict
    t2 = str(tmp_path / "tab_conflict")
    df = spark.range(10).selectExpr("id", "id % 2 AS grp")
    delta_log.write_delta(spark, df, t2)
    meta = delta_log.resolve_snapshot(t2)["meta"]
    delta_log.resolve_snapshot = _race_with({"metaData": meta})
    try:
        with pytest.raises(delta_log.DeltaConcurrentWriteError):
            delta_log.delete_delta_log(spark, t2, [("id", "<", 5)])
    finally:
        delta_log.resolve_snapshot = orig


def test_optimize_materializes_dvs_and_compacts(spark, tmp_path):
    # round-robin into 8 tasks → ~8 small files in EACH grp directory,
    # so bin-packing has something to pack
    t = str(tmp_path / "tab8")
    df = (
        spark.range(100)
        .withColumn("grp", (F.col("id") % 4).cast("string"))
        .withColumn("val", F.col("id") * 10)
        .repartition(8)
    )
    delta_log.write_delta(spark, df, t, mode="overwrite", partition_by=["grp"])
    delta_log.delete_delta_log(spark, t, [("id", "<", 20)])
    want = _ids(spark, t)
    n_before = len(delta_log.resolve_snapshot(t)["files"])
    res = delta_log.optimize_delta_log(spark, t, target_file_bytes=1 << 20)
    assert res["files_compacted"] > 0
    snap = delta_log.resolve_snapshot(t)
    assert len(snap["files"]) < n_before
    assert not any(a.get("deletionVector") for a in snap["files"].values())
    assert _ids(spark, t) == want
    # the commit is metadata-only table maintenance: dataChange false
    log = os.path.join(t, "_delta_log", f"{res['version']:020d}.json")
    for line in open(log):
        a = json.loads(line)
        for kind in ("add", "remove"):
            if a.get(kind):
                assert a[kind]["dataChange"] is False
    # pre-optimize version still time-travels
    assert _ids(spark, t, version_as_of=res["version"] - 1) == want


def test_optimize_noop_commits_nothing(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    delta_log.optimize_delta_log(spark, t, target_file_bytes=1 << 20)
    v = delta_log.resolve_snapshot(t)["version"]
    res = delta_log.optimize_delta_log(spark, t, target_file_bytes=1 << 20)
    assert res["files_compacted"] == 0
    assert delta_log.resolve_snapshot(t)["version"] == v


def test_optimize_zorder_clusters_for_two_column_skipping(spark, tmp_path):
    t = str(tmp_path / "ztab")
    n = 16384
    df = (
        spark.range(n)
        .withColumn("x", (F.col("id") * 2654435761 % n).cast("bigint"))
        .withColumn("y", (F.col("id") * 40503 % n).cast("bigint"))
        .repartition(8)
    )
    delta_log.write_delta(spark, df, t, mode="overwrite")
    res = delta_log.optimize_delta_log(
        spark, t, zorder_by=["x", "y"], target_file_bytes=16 << 10
    )
    assert res["files_written"] >= 8
    snap = delta_log.resolve_snapshot(t)
    part_cols: list = []
    # with Z-order clustering, a selective predicate on EITHER column
    # must stat-skip a solid majority of files (an x-range this narrow
    # crosses only the z-curve cells straddling it; the sampled range
    # partitioner makes boundaries approximate, hence 60%, not 25%)
    for col in ("x", "y"):
        flt = [(col, "<", n // 8)]
        survivors = [
            rel
            for rel, add in snap["files"].items()
            if not delta_log._file_can_skip(add, flt, part_cols)
        ]
        assert len(survivors) <= 0.6 * len(snap["files"]), (
            col, len(survivors), len(snap["files"]),
        )
    # and correctness is untouched
    got = delta_log.read_delta(spark, t, filters=[("x", "<", 100)]).count()
    want = df.filter(F.col("x") < 100).count()
    assert got == want


def test_checkpoint_preserves_dvs_and_protocol(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    delta_log.delete_delta_log(spark, t, [("id", "<", 25)])
    want = _ids(spark, t)
    delta_log.write_checkpoint(t)
    assert _ids(spark, t) == want
    proto = delta_log.resolve_snapshot(t)["protocol"]
    assert "deletionVectors" in proto["readerFeatures"]


def test_vacuum_keeps_referenced_dv_files_gcs_stale_ones(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    delta_log.delete_delta_log(
        spark, t, [("id", "<", 70)], inline_threshold=0
    )
    want = _ids(spark, t)
    assert glob.glob(os.path.join(t, "deletion_vector_*.bin"))
    # live DV referenced by the latest snapshot → vacuum must keep it
    delta_log.vacuum(t, keep_versions=1, staging_ttl_s=0)
    assert glob.glob(os.path.join(t, "deletion_vector_*.bin"))
    assert _ids(spark, t) == want
    # optimize materializes the DV; vacuum then collects the stale .bin
    delta_log.optimize_delta_log(spark, t, target_file_bytes=1 << 20)
    delta_log.vacuum(t, keep_versions=1, staging_ttl_s=0)
    assert not glob.glob(os.path.join(t, "deletion_vector_*.bin"))
    assert _ids(spark, t) == want


def test_restore_undoes_delete_and_keeps_history(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    v0 = delta_log.resolve_snapshot(t)["version"]
    delta_log.delete_delta_log(spark, t, [("id", "<", 40)])
    assert len(_ids(spark, t)) == 60
    res = delta_log.restore_delta_log(t, v0)
    assert len(_ids(spark, t)) == 100
    # the delete is still a time-travelable part of history
    assert len(_ids(spark, t, version_as_of=res["version"] - 1)) == 60
    ops = [h["operation"] for h in delta_log.table_history(t)]
    assert ops[:2] == ["RESTORE", "DELETE"]


def test_restore_refuses_when_vacuumed(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    v0 = delta_log.resolve_snapshot(t)["version"]
    df2 = delta_log.read_delta(spark, t).filter(F.col("id") < 10)
    delta_log.write_delta(spark, df2, t, mode="overwrite")
    delta_log.vacuum(t, keep_versions=1, staging_ttl_s=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        delta_log.restore_delta_log(t, v0)


def test_table_history_counts(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    delta_log.delete_delta_log(spark, t, [("id", "<", 20)])
    h = delta_log.table_history(t)
    assert h[0]["operation"] == "DELETE"
    assert h[0]["numAddedFiles"] == h[0]["numRemovedFiles"] > 0
    assert h[-1]["version"] == 0


try:
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=2**40),
            max_size=400,
        )
    )
    def test_dv_codec_property_round_trip(values):
        data = dv.serialize_dv(values)
        assert dv.deserialize_dv(data) == sorted(set(values))
        # inline descriptor round-trips through Z85 + padding too
        desc = dv.inline_descriptor(values)
        assert dv.dv_row_indexes("/nope", desc) == sorted(set(values))

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(min_value=0, max_value=2**32 - 1),
        st.integers(min_value=3500, max_value=6000),
    )
    def test_dv_codec_property_dense(seed, n):
        # cardinalities straddling the 4096 array/bitmap container
        # boundary — the layout switch must be invisible to readers
        # (values derived from a small seed so hypothesis can shrink)
        x, values = seed or 1, []
        for _ in range(n):
            x = (1103515245 * x + 12345) % (2**31)
            values.append(x % 70_000)
        assert dv.deserialize_dv(dv.serialize_dv(values)) == sorted(
            set(values)
        )

except ImportError:  # hypothesis absent in a stripped env
    pass


def test_table_changes_reconstructs_cdf(spark, tmp_path):
    """Log-derived change feed: appends → inserts; DV deletes → exact
    newly-flagged rows as deletes; whole-file removals → deletes;
    OPTIMIZE (dataChange:false) → silence; RESTORE → resurrected rows
    as inserts."""
    t = _make_table(spark, tmp_path)  # v0: 100 rows
    delta_log.delete_delta_log(spark, t, [("id", "<", 10)])  # v1
    delta_log.write_delta(
        spark,
        spark.range(100, 105)
        .withColumn("grp", (F.col("id") % 4).cast("string"))
        .withColumn("val", F.col("id") * 10),
        t,
        mode="append",
    )  # v2
    delta_log.delete_delta_log(spark, t, [("id", ">=", 100)])  # v3 (files?)
    opt = delta_log.optimize_delta_log(spark, t, target_file_bytes=1 << 20)  # v4

    cdf = delta_log.table_changes(spark, t, 1).collect()
    by = {}
    for r in cdf:
        by.setdefault((r._commit_version, r._change_type), set()).add(r.id)
    assert by[(1, "delete")] == set(range(10))
    assert by[(2, "insert")] == set(range(100, 105))
    assert by[(3, "delete")] == set(range(100, 105))
    assert not any(v == opt["version"] for v, _k in by)  # OPTIMIZE silent

    # v0 insert of the full table
    full = delta_log.table_changes(spark, t, 0, 0).collect()
    assert {r.id for r in full} == set(range(100))
    assert all(r._change_type == "insert" for r in full)

    # RESTORE back past the first delete resurrects rows as inserts
    res = delta_log.restore_delta_log(t, 0)
    cdf_r = delta_log.table_changes(
        spark, t, res["version"], res["version"]
    ).collect()
    ins = {r.id for r in cdf_r if r._change_type == "insert"}
    assert set(range(10)).issubset(ins)
