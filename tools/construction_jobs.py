"""Count the Spark jobs that CONSTRUCTING every registered query launches
(eager localCheckpoint/collect jobs and Parquet schema inference; no
action runs). Each query is built under its own job group, with the
derived caches and dead checkpoints released before it, so every query
pays its full construction and no query inherits another's.

Usage:
  python tools/construction_jobs.py SF_DIR [--top N]

where SF_DIR is a testdata directory holding the ten tables
(``<sf_dir>/<table>.parquet``).

Prints one line per failed construction, then the total job count, the
number of queries built with no job, and the N queries with the most.
Streaming micro-batch jobs run under their stream's own job group and
are not counted here; a query that drains a stream counts only the jobs
its building thread launches, so a count that depended on how long the
micro-batches took would not repeat (tests/test_construction_jobs.py
rebuilds the streaming queries three times and pins equal counts).
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")

from geoparquet_python_spark import registry  # noqa: E402
from geoparquet_python_spark.functions.exact import release_dead_checkpoints  # noqa: E402
from geoparquet_python_spark.session import get_spark  # noqa: E402


def construction_jobs(spark, sf_dir: str, names=None) -> tuple[dict, dict]:
    """Jobs each registered query's construction launched (every query,
    or those in `names`), and the constructions that raised
    (name -> error). Each build gets a job group of its own, so building
    a query again counts only the new build's jobs."""
    sc = spark.sparkContext
    jobs, failed = {}, {}
    for name in names or registry.QUERIES:
        registry.clear_derived_caches()
        release_dead_checkpoints()
        group = f"construct_{name}_{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, f"construction of {name}")
        try:
            registry.QUERIES[name](spark, sf_dir)
        except Exception as e:  # count what ran, report the failure
            failed[name] = f"{type(e).__name__}: {e}".splitlines()[0]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    release_dead_checkpoints()
    return jobs, failed


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("sf_dir")
    ap.add_argument("--top", type=int, default=10)
    args = ap.parse_args()

    registry.load_all()
    spark = get_spark("construction-jobs")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    jobs, failed = construction_jobs(spark, args.sf_dir)
    wall = time.perf_counter() - t0
    for name, err in failed.items():
        print(f"FAILED {name}: {err}")
    zero = sum(1 for n in jobs.values() if n == 0)
    print(f"sf_dir {args.sf_dir}: {sum(jobs.values())} construction jobs over "
          f"{len(jobs)} queries ({zero} with none) in {wall:.1f} s")
    for name, n in sorted(jobs.items(), key=lambda kv: (-kv[1], kv[0]))[: args.top]:
        print(f"{n:6d}  {name}")
    spark.stop()


if __name__ == "__main__":
    main()
