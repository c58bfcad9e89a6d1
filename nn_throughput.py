"""NNThroughputBenchmark analog: the reference's own benchmark harness
defines its metric as ``1000 * numOpsExecuted / elapsedTimeMs`` per
namespace verb (NNThroughputBenchmark.java:288,483-485 — ops: create, open,
delete, fileStatus, rename, blockReport). This restates each verb as the
set-oriented batch operation this engine executes, and reports the same
ops/sec figure — except here one Spark job executes ALL N ops of a verb at
once, which is exactly the inversion that makes the engine scale: the
reference loops N RPCs under a namesystem lock; we run one declarative plan
whose throughput grows with executors.

Usage: python nn_throughput.py  [env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
NN_OPS (default 100000)]. Prints one JSON line: {"metric":
"nn_throughput_ops_per_sec", "ops": {...}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, functions as F

from hadoop_hdfs_spark.session import get_spark


def _timed(n_ops: int, df: DataFrame) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(n_ops / (time.perf_counter() - t0), 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import _parse_sf  # handles 'sf0.1', 'sf1', 'sf1_<hash>'

    sf = _parse_sf(sf_dir, -1.0)
    n = int(os.environ.get("NN_OPS", "100000"))
    spark = get_spark("nn-throughput")
    spark.sparkContext.setLogLevel("ERROR")
    from hadoop_hdfs_spark import registry

    # registry._entities memoizes: the t6 call below goes through the same
    # path, so loading via load_entities here would read and register a
    # SECOND set of entity frames
    e = registry._entities(spark, sf_dir)
    inodes = e["inodes"]
    inodes.count()  # warm the JVM's parquet read of the image, untimed

    ops: dict[str, float] = {}

    # op=create (NNThroughputBenchmark.java:483-485): add N new file rows
    # ids offset past every existing inode id (file ids are 10M + orderkey
    # in the entity model) and path/name derived from the SAME offset id
    new_id = F.col("id") + 1_000_000_000
    new_files = spark.range(n).select(
        new_id.alias("id"),
        F.lit(1).alias("parent_id"),
        F.concat(F.lit("/bench/f"), new_id).alias("path"),
        F.concat(F.lit("f"), new_id).alias("name"),
        F.lit(False).alias("is_dir"),
    )
    ops["create"] = _timed(n, new_files)

    # op=open / getBlockLocations (:583-600): N path lookups joined to
    # their block lists — the batch form of N getBlockLocations RPCs
    sample = inodes.filter(~F.col("is_dir")).limit(n).select("id", "path")
    opened = sample.join(e["blocks"], sample.id == e["blocks"].file_id, "left")
    n_open = sample.count()
    ops["open"] = _timed(n_open, opened)

    # op=fileStatus (:688-708): N point projections (HdfsFileStatus row)
    ops["fileStatus"] = _timed(
        n_open,
        sample.select("id").join(inodes, "id").select(
            "path", "length", "replication", "mtime_ms"
        ),
    )

    # op=delete (:657-676): anti-join N paths out of the namespace
    ops["delete"] = _timed(n_open, inodes.join(sample.select("id"), "id", "anti"))

    # op=rename (:713-730): prefix rewrite of N paths (subtree move)
    renamed = sample.select(
        F.concat(F.lit("/moved"), F.col("path")).alias("path")
    )
    ops["rename"] = _timed(n_open, renamed)

    # op=blockReport (:896-930): full-outer reconcile of reported blocks
    # vs namenode state (the J2 report diff over every replica)
    replicas = e["replicas"]
    n_rep = replicas.count()
    report = replicas.sample(0.9, seed=7).withColumn("reported", F.lit(True))
    diff = replicas.join(report.select("block_id", "datanode_id", "reported"),
                         ["block_id", "datanode_id"], "full_outer")
    ops["blockReport"] = _timed(n_rep, diff)

    # op=replication (ReplicationStats, :1043-1090): one pass of the
    # replication monitor — compute and assign the pending-replication work
    # queue (the T6 scheduler plan); ops = work items scheduled
    work = registry.queries()["t6_replication_work"](spark, sf_dir)
    n_work = max(work.count(), 1)
    ops["replication"] = _timed(n_work, work)

    # op=clean (CleanAllStats, :421-434): delete the benchmark subtree —
    # filter every /bench inode out of the namespace (subtree delete is a
    # map-side prefix predicate, no shuffle)
    with_bench = inodes.select("id", "path").unionByName(
        new_files.select("id", "path")
    )
    ops["clean"] = _timed(n, with_bench.filter(~F.col("path").startswith("/bench")))

    print(
        json.dumps(
            {
                "metric": "nn_throughput_ops_per_sec",
                "harness": "1000*numOps/elapsedMs per NNThroughputBenchmark.java:288",
                "ops": ops,
                "n_requested": n,
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
