"""Metric names, units and the statistics the benchmark reports.

``END_TO_END`` is what every untraced run prints and ``PER_LAYER`` what
every traced run prints, whatever the workload: a metric a workload does
not exercise reads 0 (per-layer only; no end-to-end metric is ever 0).
Per-layer figures outside ``PER_LAYER`` go into the run's report line.
The benchmark's own tests check these names against BENCHMARK.json.
"""

from __future__ import annotations

import statistics

# a per-run median over one or two increments or cycles swung by a
# quarter between identical runs on a shared 4-core host, so the gated
# timing is the whole measured work; medians and tails go to the report
END_TO_END = {
    "setup_s": "s",
    "total_s": "s",
    "peak_rss_mb": "MB",
    "lake_mb": "MB",
}

# query-mix domains: the prefixes of the ROADMAP's target ids, and the
# registry's two largest read-only domains, one stratified pick each
# (see workloads.stratified_sample); more would not fit a benchmark
# series' time budget on a slow host. The stats pick is deferred
# (workloads.DEFERRED), so stats has no per-layer figures yet.
TARGET_DOMAINS = ("affinity", "dedup", "graph", "pandas", "sim")
SAMPLED_DOMAINS = ("stats", "window")
QUERY_DOMAINS = tuple(sorted(TARGET_DOMAINS + ("window",)))
UPSERT_TABLES = (
    "train",
    "client",
    "electricity_prices",
    "gas_prices",
    "historical_weather",
    "forecast_weather",
    "enefit",
)
LAKE_OPS = ("append", "merge", "update", "delete", "optimize", "checkpoint", "read_full", "read_pruned", "changes")
LAKE_COMMITS = ("append", "merge", "update", "delete", "optimize")
LAKE_READS = ("read_full", "read_pruned", "changes")
SPARK_FIELDS = ("jobs", "tasks", "executor_run_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s")


def unit_of(name: str) -> str:
    """A metric's unit, from its name's suffix."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_rate")):
        return "ratio"
    if name.endswith("_pct"):
        return "%"
    return "count"


def _per_layer_names() -> list[str]:
    names = ["session.start_s"]
    for mode in ("full", "incr"):
        for step in ("bronze", "silver", "gold"):
            names += [f"medallion.{mode}.{step}_s", f"medallion.{mode}.{step}_jobs"]
    names += [
        "medallion.incr_full_ratio",
        "readers.scan_csv_s",
        "readers.scan_table_s",
        "writers.write_append_s",
        "writers.write_overwrite_s",
        "writers.files_written",
    ]
    names += [f"upsert.{t}_s" for t in UPSERT_TABLES] + ["upsert.jobs"]
    for op in LAKE_OPS:
        names += [f"delta_log.{op}_s", f"delta_log.{op}_jobs"]
    names.append("delta_log.files_rewritten")
    for d in QUERY_DOMAINS:
        names += [f"query.{d}.build_s", f"query.{d}.exec_s", f"query.{d}.build_jobs", f"query.{d}.exec_jobs"]
    names.append("caching.tracked")
    names += [f"spark.{f}" for f in SPARK_FIELDS]
    names.append("trace.total_s")
    return names


PER_LAYER = {name: unit_of(name) for name in _per_layer_names()}


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). Below 21 samples that percentile would be under
    the median, no tail at all, so the maximum is returned with
    percentile 100."""
    s = sorted(values)
    if len(s) < 21:
        return s[-1], 100.0
    k = len(s) - 11  # exactly ten samples lie above index k
    return s[k], 100.0 * (k + 1) / len(s)


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def render(values: dict[str, float], units: dict[str, str]) -> dict[str, dict]:
    """{name: {"value", "unit"}} for exactly the names in ``units``."""
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in units.items()}
