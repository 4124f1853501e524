"""The benchmark's own tests: deterministic inputs, incremental gold
equal to a cold build, the lake model, and metric names that match
BENCHMARK.json."""

from __future__ import annotations

import json
from pathlib import Path

import pyarrow.parquet as pq

import enefit
import metrics
import tables
import workloads
from tracing import Tracer

ROOT = Path(__file__).resolve().parent.parent


def _read_drop(path: Path) -> dict[str, str]:
    return {p.name: p.read_text() for p in sorted(path.iterdir())}


def test_enefit_drop_is_deterministic(tmp_path):
    enefit.write_drop(str(tmp_path / "a"), [0, 1, 2, 3], 13, seed=5)
    enefit.write_drop(str(tmp_path / "b"), [0, 1, 2, 3], 13, seed=5)
    enefit.write_drop(str(tmp_path / "c"), [0, 1, 2, 3], 13, seed=6)
    a, b, c = (_read_drop(tmp_path / x) for x in "abc")
    assert a == b
    assert a["train.csv"] != c["train.csv"]
    assert enefit.expected_gold_keys([2, 3], 13, 5) == enefit.expected_gold_keys([2, 3], 13, 5)


def test_enefit_block_reads_the_same_alone(tmp_path):
    """A block's rows do not depend on which other blocks share its drop."""
    enefit.write_drop(str(tmp_path / "all"), [2, 3], 13, seed=5)
    enefit.write_drop(str(tmp_path / "one"), [3], 13, seed=5)
    all_rows = (tmp_path / "all" / "train.csv").read_text().splitlines()
    one_rows = (tmp_path / "one" / "train.csv").read_text().splitlines()
    assert set(one_rows) <= set(all_rows)
    assert len(one_rows) > 1


def test_query_tables_are_deterministic(tmp_path):
    tables.generate(str(tmp_path / "a"), seed=3)
    tables.generate(str(tmp_path / "b"), seed=3)
    tables.generate(str(tmp_path / "c"), seed=4)
    for name in tables.SIZES:
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
        assert a.num_rows == tables.SIZES[name]
    assert not pq.read_table(tmp_path / "a" / "lineitem.parquet").equals(
        pq.read_table(tmp_path / "c" / "lineitem.parquet")
    )


def _gold(spark, base: Path, cols: tuple[str, ...] = ()) -> set[tuple]:
    from medallion_delta_lake_spark.sources import readers

    df = readers.scan_table(spark, str(base / "gold" / "enefit"))
    return {tuple(r) for r in (df.select(*cols) if cols else df).collect()}


def test_increments_equal_cold_build(spark, tmp_path):
    from medallion_delta_lake_spark.pipelines import medallion

    counties, seed = 13, 9  # 13 counties include the filtered id 12
    enefit.write_drop(str(tmp_path / "cold"), [0, 1, 2, 3, 4], counties, seed)
    medallion.run_all(spark, str(tmp_path / "cold"), str(tmp_path / "t_cold"))

    enefit.write_drop(str(tmp_path / "first"), [0, 1, 2], counties, seed)
    medallion.run_all(spark, str(tmp_path / "first"), str(tmp_path / "t_incr"))
    for b in (3, 4):
        enefit.write_drop(str(tmp_path / f"b{b}"), [b], counties, seed)
        medallion.run_all(spark, str(tmp_path / f"b{b}"), str(tmp_path / "t_incr"))

    assert _gold(spark, tmp_path / "t_cold") == _gold(spark, tmp_path / "t_incr")
    keys = _gold(spark, tmp_path / "t_cold", enefit.GOLD_KEY)
    assert keys == enefit.expected_gold_keys([0, 1, 2, 3, 4], counties, seed)


def test_medallion_times_increments_after_a_cold_build(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "COUNTIES", 13)
    prepared = workloads.medallion_prepare(spark, tmp_path, seed=3, seconds=30)
    tracer = Tracer(spark, enabled=False)
    workloads.medallion_warm(spark, tracer, prepared)
    out = workloads.medallion_run(spark, tracer, tmp_path, 3, prepared)
    assert out.failures == []
    # the cold build (set-up) and one increment, each followed by a gold check
    assert out.attempted == 2
    assert out.e2e["total_s"] == out.report["incr_p50_s"] > 0
    assert out.report["full_build_s"] == prepared["full_s"] > 0


def test_lake_commits_match_model(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(workloads, "BASE_DAYS", 3)
    monkeypatch.setattr(workloads, "ROWS_PER_DAY", 200)
    monkeypatch.setattr(workloads, "MERGE_UPDATES", 20)
    monkeypatch.setattr(workloads, "MERGE_INSERTS", 5)
    prepared = workloads.lake_prepare(spark, tmp_path, seed=4, seconds=60)
    out = workloads.lake_run(spark, Tracer(spark, enabled=False), tmp_path, 4, prepared)
    assert out.failures == []
    # two cycles of seven ops, then OPTIMIZE and a checkpoint
    assert out.attempted == 2 * 7 + 2
    assert out.report["rows"] > 0


def test_printed_metric_names_match_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == {k: v["unit"] for k, v in metrics.render({}, metrics.END_TO_END).items()}
    assert layer == {k: v["unit"] for k, v in metrics.render({}, metrics.PER_LAYER).items()}
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_tail_has_ten_samples_beyond():
    values = [float(i) for i in range(1, 31)]
    v, pct = metrics.tail(values)
    assert sum(x > v for x in values) == 10
    assert pct == 100.0 * 20 / 30
    assert metrics.tail([1.0, 2.0]) == (2.0, 100.0)
    assert metrics.tail([float(i) for i in range(13)]) == (12.0, 100.0)


def test_query_sample_is_stratified_and_deferrals_are_visible():
    import __spark_entry__  # noqa: F401  registers every plans module

    sample = workloads.stratified_sample()
    assert [workloads.domain(q) for q in sample] == list(metrics.SAMPLED_DOMAINS)
    ids = workloads.query_ids()
    assert set(workloads.TARGET_IDS) <= set(ids)
    # a deferred id drops out with no substitute from its domain
    assert set(ids) == set(workloads.TARGET_IDS) | (set(sample) - set(workloads.DEFERRED))
    assert {workloads.domain(q) for q in ids} == set(metrics.QUERY_DOMAINS)
