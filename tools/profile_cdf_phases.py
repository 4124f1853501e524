"""Phase-level timing of the CDF/staging faces (guide §1): wraps the
delta_log ops (write_delta, set_table_properties, delete_delta_log,
update_delta_log, table_changes, merge_delta_log, optimize_delta_log)
and the Spark job counter so each face's wall clock decomposes into
its staging phases + job counts. Each commit a face makes is listed
with its data and change-data file counts (``table_history``'s
``numAddedFiles`` / ``numChangeFiles``), so file fan-out shows next to
the phase times.

Usage: python tools/profile_cdf_phases.py [--reps 2] id [id ...]
"""

from __future__ import annotations

import argparse
import functools
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry  # noqa: E402
from medallion_delta_lake_spark.operators import caching  # noqa: E402
from medallion_delta_lake_spark.session import get_spark  # noqa: E402
from medallion_delta_lake_spark.sources import delta_log  # noqa: E402

PHASES: list[tuple[str, float, int]] = []
COMMITS: list[tuple[str, int]] = []  # (table path, committed version)


def _wrap(mod, name, sc):
    orig = getattr(mod, name)

    @functools.wraps(orig)
    def timed(*a, **k):
        j0 = sc._jsc.sc().dagScheduler().nextJobId()
        t0 = time.perf_counter()
        try:
            return orig(*a, **k)
        finally:
            dt = time.perf_counter() - t0
            j1 = sc._jsc.sc().dagScheduler().nextJobId()
            PHASES.append((name, dt, j1 - j0))

    setattr(mod, name, timed)
    return orig


def _record_commits():
    orig = delta_log._commit_version

    @functools.wraps(orig)
    def recorded(path, *a, **k):
        version = orig(path, *a, **k)
        COMMITS.append((path, version))
        return version

    delta_log._commit_version = recorded


def _print_commits() -> None:
    for path, version in COMMITS:
        try:
            hist = {h["version"]: h for h in delta_log.table_history(path)}
            h = hist[version]
        except (FileNotFoundError, KeyError):  # table or log file cleaned up
            print(f"    commit v{version:<3d} no longer in the log  {path}")
            continue
        print(
            f"    commit v{version:<3d} {h['operation'] or '-':18s} "
            f"numAddedFiles={h['numAddedFiles']} "
            f"numChangeFiles={h['numChangeFiles']}  {path}"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("ids", nargs="+")
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    q = entry.queries()
    spark = get_spark(app_name="mdls-cdf-profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    from medallion_delta_lake_spark.plans import registry

    registry.table(spark, sf_dir, "region").count()

    _record_commits()
    for name in (
        "write_delta",
        "set_table_properties",
        "delete_delta_log",
        "update_delta_log",
        "table_changes",
        "merge_delta_log",
        "optimize_delta_log",
        "resolve_snapshot",
        "_scan_adds",
        "_stage_physical",
        "_stage_cdc_files",
        "_enforce_invariants",
        "_commit_version",
        "_commit_with_rebase",
        "_parquet_file_stats",
    ):
        _wrap(delta_log, name, sc)

    for qid in args.ids:
        for rep in range(args.reps):
            PHASES.clear()
            COMMITS.clear()
            j0 = sc._jsc.sc().dagScheduler().nextJobId()
            t0 = time.perf_counter()
            df = q[qid](spark, sf_dir)
            t1 = time.perf_counter()
            n = df.count()
            t2 = time.perf_counter()
            j1 = sc._jsc.sc().dagScheduler().nextJobId()
            print(
                f"\n=== {qid} rep{rep}: total={t2 - t0:6.3f}s "
                f"(build={t1 - t0:6.3f} action={t2 - t1:6.3f}) "
                f"jobs={j1 - j0} rows={n}"
            )
            acc = 0.0
            for ph, dt, nj in PHASES:
                acc += dt
                print(f"    {ph:22s} {dt:6.3f}s  jobs={nj}")
            print(f"    {'(phases total)':22s} {acc:6.3f}s")
            _print_commits()
            caching.release_caches()
    spark.stop()


if __name__ == "__main__":
    main()
