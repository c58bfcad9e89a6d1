"""Diagnose the within-session pass-over-pass slowdown: run the full
catalog N times, printing per-pass wall total, JVM heap used, cumulative GC
time, and executor-store block counts after each pass.

Usage: python tools/pass_diag.py [n_passes]
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


def jvm_stats(spark):
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    heap_used_mb = (rt.totalMemory() - rt.freeMemory()) / 1e6
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = 0
    it = mf.getGarbageCollectorMXBeans().iterator()
    while it.hasNext():
        gc_ms += it.next().getCollectionTime()
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    return heap_used_mb, gc_ms, status.size()


def storage_stats(spark):
    sc = spark.sparkContext._jsc.sc()
    infos = sc.getRDDStorageInfo()
    n_rdds = len(infos)
    mem_used = sum(i.memSize() for i in infos) / 1e6
    cached_parts = sum(i.numCachedPartitions() for i in infos)
    total_parts = sum(i.numPartitions() for i in infos)
    # executor storage remaining (local mode: one executor)
    em = sc.getExecutorMemoryStatus()
    rem = em.toString()
    return n_rdds, mem_used, cached_parts, total_parts, rem


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    spark = get_spark("hadoop-hdfs-spark-passdiag")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    spark.range(1).count()
    registry._entities(spark, _sf_dir)  # the entity image, built on first use
    names = sorted(qs)
    prev_gc = 0
    for p in range(n + 1):  # pass 0 = cold
        per = {}
        t0 = time.perf_counter()
        for nm in names:
            tq = time.perf_counter()
            qs[nm](spark, _sf_dir).count()
            per[nm] = time.perf_counter() - tq
        total = time.perf_counter() - t0
        heap, gc_ms, execs = jvm_stats(spark)
        n_rdds, mem_used, cp, tp, rem = storage_stats(spark)
        top = sorted(per.items(), key=lambda kv: -kv[1])[:5]
        print(
            f"pass {p}: total={total:7.1f}s heap={heap:7.0f}MB "
            f"gc_delta={(gc_ms - prev_gc) / 1000:6.1f}s gc_cum={gc_ms / 1000:6.1f}s "
            f"rdds={n_rdds} cached_mb={mem_used:7.0f} parts={cp}/{tp} "
            f"execmem={rem} "
            f"top5={[(k, round(v, 2)) for k, v in top]}",
            flush=True,
        )
        prev_gc = gc_ms
    spark.stop()


if __name__ == "__main__":
    main()
