"""Split a query's warm wall-clock into DataFrame construction (Python +
analysis), physical planning (optimize + plan), and execution — guide §1's
empirical loop, aimed at finding whether big logical trees pay their cost in
Catalyst or in tasks.

Usage: python tools/phase_split.py q1,q2,... [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# bench's import builds the corpora for SPARK_GRAFT_SF_DIR's scale factor
# (bench._parse_sf) and points SPARK_GRAFT_{BLOB,GIF,PNG,WAV}_DIR at them
# (fixtures.fixture_env), exactly as for the bench itself.
from bench import _bench_sf_dir as _sf_dir  # noqa: E402
from hadoop_hdfs_spark import registry  # noqa: E402
from hadoop_hdfs_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1].split(",")
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("hadoop-hdfs-spark-phase")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    spark.range(1).count()
    registry._entities(spark, _sf_dir)  # the entity image, built on first use
    # cold pass for the targets (builds their eager caches)
    for n in names:
        qs[n](spark, _sf_dir).count()
    print(f"{'query':<32} {'constr':>8} {'plan':>8} {'exec':>8} {'total':>8}")
    for n in names:
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            df = qs[n](spark, _sf_dir)
            t1 = time.perf_counter()
            # force optimization + physical planning without running jobs
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.count()
            t3 = time.perf_counter()
            row = (t1 - t0, t2 - t1, t3 - t2, t3 - t0)
            if best is None or row[3] < best[3]:
                best = row
        print(f"{n:<32} {best[0]:8.3f} {best[1]:8.3f} {best[2]:8.3f} {best[3]:8.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
