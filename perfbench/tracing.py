"""Spans and Spark-side counters for the traced run.

Every operation a workload times goes through :meth:`Tracer.op`. The
wall time is taken the same way in both runs; only with tracing on does
the op also get its own Spark job group, so its jobs can be counted
with ``statusTracker().getJobIdsForGroup`` and its task metrics folded
out of the event log after the session stops (the sparkMeasure
stage-metrics pattern). :meth:`Tracer.wrap_modules` adds spans around
module attributes of the engine's layers (readers, writers, upsert,
delta_log); callers inside the engine look those attributes up at call
time, so the spans see the pipeline's own calls. Wrappers exist only in
the traced run and are removed on exit.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# (module path, attributes) whose calls get a span in the traced run
WRAPPED = {
    "medallion_delta_lake_spark.sources.readers": ("scan_csv", "scan_json", "scan_table"),
    "medallion_delta_lake_spark.sources.writers": ("write_append", "write_overwrite"),
    "medallion_delta_lake_spark.operators.upsert": ("upsert",),
    "medallion_delta_lake_spark.sources.delta_log": (
        "write_delta",
        "merge_delta_log",
        "update_delta_log",
        "delete_delta_log",
        "optimize_delta_log",
        "write_checkpoint",
        "read_delta",
        "table_changes",
    ),
}

TASK_FIELDS = ("tasks", "executor_run_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s")


class Tracer:
    """Times ops; with ``enabled`` also tags, counts and wraps."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.times: dict[str, list[float]] = defaultdict(list)
        self.jobs: dict[str, list[int]] = defaultdict(list)
        # layer span name → [calls, inclusive seconds, jobs, files written]
        self.spans: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0, 0])
        self._seq = 0
        self._paused = False
        self._active_layers: set[str] = set()
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def op(self, name: str):
        """Time one operation; traced, run it in its own job group."""
        sc = self.spark.sparkContext
        group = None
        if self.enabled:
            self._seq += 1
            group = f"{name}#{self._seq}"
            sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.times[name].append(time.perf_counter() - t0)
            if group is not None:
                self.jobs[name].append(len(sc.statusTracker().getJobIdsForGroup(group)))
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def paused(self):
        """Keep the benchmark's own output checks out of the spans."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def _next_job_id(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def wrap_modules(self) -> None:
        """Install the layer spans (traced run only)."""
        import importlib

        for mod_name, attrs in WRAPPED.items():
            mod = importlib.import_module(mod_name)
            layer = mod_name.rsplit(".", 1)[1]
            for attr in attrs:
                orig = getattr(mod, attr)
                setattr(mod, attr, self._span(layer, attr, orig))
                self._restore.append((mod, attr, orig))

    def unwrap_modules(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()

    def _span(self, layer: str, attr: str, orig):
        @functools.wraps(orig)
        def span(*args, **kwargs):
            # inside the same layer (delta_log calling its own public
            # functions) only the outermost call is recorded
            if self._paused or layer in self._active_layers:
                return orig(*args, **kwargs)
            name = f"{layer}.{attr}"
            path = _path_arg(attr, args, kwargs)
            if attr == "upsert" and path:
                name = f"upsert.{Path(path).name}"
            before = _data_files(path) if layer == "writers" else None
            j0 = self._next_job_id()
            self._active_layers.add(layer)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                rec = self.spans[name]
                rec[0] += 1
                rec[1] += time.perf_counter() - t0
                self._active_layers.discard(layer)
                rec[2] += self._next_job_id() - j0
                if before is not None:
                    rec[3] += len(_data_files(path) - before)

        return span


def _path_arg(attr: str, args: tuple, kwargs: dict) -> str | None:
    """The table path argument of a wrapped call, if it has one."""
    if "path" in kwargs:
        return kwargs["path"]
    positions = {"write_append": 1, "write_overwrite": 1, "upsert": 2}
    pos = positions.get(attr)
    if pos is not None and len(args) > pos:
        return args[pos]
    return None


def _data_files(path: str | None) -> set[str]:
    if not path or not Path(path).exists():
        return set()
    return {str(p) for p in Path(path).rglob("*.parquet")}


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per op name from the event log(s) in ``log_dir``.

    Jobs map to their group through the ``spark.jobGroup.id`` property
    of ``SparkListenerJobStart``; stages map to jobs; each
    ``SparkListenerTaskEnd`` adds to its stage's op. Group names are
    ``<op>#<seq>`` (see :meth:`Tracer.op`); jobs outside any op go
    under ``""``."""
    stage_op: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS + ("jobs",), 0.0))
    for f in _event_files(log_dir):
        with open(f) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    op = group.rsplit("#", 1)[0]
                    out[op]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = op
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    rec = out[stage_op.get(ev.get("Stage ID"), "")]
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    rec["tasks"] += 1
                    rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    rec["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / 2**20
                    rec["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 2**20
                    rec["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
    return dict(out)


def _event_files(log_dir: str) -> list[Path]:
    """Event log files in write order. Spark 4 rolls the log into
    ``eventlog_v2_<app>/events_<n>_<app>`` files; a single-file log is
    the one file itself. Hidden ``.crc`` checksum files are skipped."""

    def order(p: Path) -> tuple:
        parts = p.name.split("_")
        return (str(p.parent), int(parts[1]) if p.name.startswith("events_") and parts[1].isdigit() else 0)

    files = [p for p in Path(log_dir).rglob("*") if p.is_file() and not p.name.startswith((".", "appstatus"))]
    return sorted(files, key=order)
