"""The one drain primitive of the driver-gated streaming certifications.

Every memory-sink gate (t14, t17-t23, t26) runs its streaming query
through :func:`drain`: a fresh sink name, the state-partition count, an
``availableNow`` run to completion, the drained sink pinned with
``localCheckpoint`` and its temp view dropped, and the query's
per-micro-batch progress handed back. t2c's ``foreachBatch`` replay
sizes its partitions with the same rule.

A stateful operator keeps one state store per shuffle partition and
opens and commits every one of them in every micro-batch (a streaming
aggregation keeps one store per partition, a stream-stream join four);
an ``applyInPandasWithState`` task also feeds its own Python worker. The
gates drain fixture-scale input, so that fixed charge per partition, not
the data, decides their wall time. The partition count is therefore
sized from the input about to be drained:

    partitions = min(defaultParallelism, max(1, ceil(rows_per_batch / ROWS_PER_PARTITION)))

``rows_per_batch`` is the mean input rows per micro-batch: the file
stream sources' parquet footer row counts (read on the driver, no Spark
job) over the number of micro-batches ``maxFilesPerTrigger`` splits them
into. When it cannot be read (a non-file source, a remote path) the cap
is used. Streaming state partitioning is fixed when a query first runs;
every drain uses a fresh temp checkpoint, so the size applies cleanly.
Results are identical at any count: state partitioning is physical
layout only (tests/test_drain.py checks 1 against the cap).

Calibration on a 4-core box (defaultParallelism 4): seconds to
re-drain each gate at a forced 1 / 2 / 4 / 8 state partitions and under
the rule, staging already built. One process per scale factor runs the
passes in the order 8, 4, 2, 1, rule, so later passes meet a warmer JVM.
``rows`` is the rule's input (mean rows per data micro-batch) and ``n``
the count it picks:

    gate  sf       rows  n      1      2      4      8   rule
    t21   0.001      34  1    9.9    8.7    9.4   17.4    7.3
    t22   0.001       5  1   10.4   11.5   12.0   21.0    9.5
    t23   0.001      60  1    4.7    5.4    5.6    8.5    4.7
    t26   0.001       8  1   10.8   11.7   12.9   23.0    9.7
    t21   0.01      313  3   16.4   15.3   12.8   21.1   12.7
    t22   0.01       45  1   10.1   11.4   12.6   22.6    9.7
    t23   0.01      197  2   13.7   14.6   16.7   24.5   13.1
    t26   0.01      107  1   14.6   13.2   17.1   24.0   12.7
    t21   0.1     3,130  4  126.2   67.6   35.9   40.2   40.7
    t22   0.1       445  4   27.7   15.7   15.3   23.3   15.1
    t23   0.1     2,005  4   55.8   33.6   25.8   30.5   27.5
    t26   0.1     1,135  4   45.2   30.5   21.9   28.5   26.8
    all ten gates (t14, t17-t23, t26, t2c):
          0.001              52.1   54.2   58.2   91.7   46.3
          0.01               72.4   74.9   83.3  118.4   65.8
          0.1               283.9  168.5  119.5  147.8  138.0

Below about a hundred rows per batch one partition is fastest; from a
few hundred up the extra tasks pay for themselves (t21 at sf0.1 takes
3.5x longer on one partition than on four). ROWS_PER_PARTITION = 128
puts the switch between the two. The JVM-state gates (t14, t17-t20) take
1-5 s and t2c 8-17 s at every count; the applyInPandasWithState gates
above carry the total.

Again with the Python workers forked from :mod:`hadoop_hdfs_spark.pydaemon`
(no task re-reads Spark's archives), same box, one process per scale
factor after one warm-up call of each gate, passes in the order 4, 2, 1,
rule:

    gate  sf       rows  n      1      2      4   rule
    t21   0.001      34  1    3.8    3.3    4.4    3.4
    t22   0.001       5  1    4.3    4.6    5.8    4.1
    t23   0.001      60  1    2.1    2.2    2.9    2.2
    t26   0.001       8  1    4.6    5.1    7.1    4.7
    t21   0.01      313  3   11.1    7.5    6.8    6.2
    t22   0.01       45  1    4.2    4.6    5.3    4.4
    t23   0.01      197  2    7.2    6.3    7.4    5.6
    t26   0.01      107  1    6.4    6.5    8.0    5.9

The charge per partition fell with the per-task worker cost, and the rule
still picks the fastest count or one within a pass's noise of it.
"""

from __future__ import annotations

import fnmatch
import itertools
import math
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

ROWS_PER_PARTITION = 128

_KEY = "spark.sql.shuffle.partitions"
_SEQ = itertools.count(1)  # memory-sink names, atomic under the GIL


def state_partitions(spark: SparkSession, rows_per_batch: float | None) -> int:
    """The sizing rule; ``None`` (size unknown) gets the cap."""
    cap = spark.sparkContext.defaultParallelism
    if rows_per_batch is None:
        return cap
    return min(cap, max(1, math.ceil(rows_per_batch / ROWS_PER_PARTITION)))


def rows_per_batch(
    path: str, files_per_trigger: int | None = None, glob: str | None = None
) -> float | None:
    """Mean rows per micro-batch of a parquet file stream source over
    ``path`` (a file or a directory, filtered like ``pathGlobFilter``),
    from the footers alone; ``None`` when they cannot be read."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f[0] not in "._" and fnmatch.fnmatch(f, glob or "*")
        ]
    else:
        files = [path]
    if not files:
        return None
    try:
        rows = sum(pq.read_metadata(f).num_rows for f in files)
    except (OSError, ValueError):  # missing file, remote path, not parquet
        return None
    batches = math.ceil(len(files) / (files_per_trigger or len(files)))
    return rows / batches


def _file_sources(df: DataFrame) -> set[tuple] | None:
    """(path, maxFilesPerTrigger, pathGlobFilter) of every streaming source
    ``df`` reads, from its analyzed plan; ``None`` if any is not a file
    source with a path."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    found = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if not leaf.isStreaming():
            continue  # a static side, e.g. a broadcast dimension
        if leaf.getClass().getSimpleName() != "StreamingRelation":
            return None
        opts = leaf.dataSource().options()
        if not opts.get("path").isDefined():
            return None
        mfpt, glob = opts.get("maxFilesPerTrigger"), opts.get("pathGlobFilter")
        found.add(
            (
                opts.get("path").get(),
                int(mfpt.get()) if mfpt.isDefined() else None,
                glob.get() if glob.isDefined() else None,
            )
        )
    return found


def partitions_for(df: DataFrame) -> int:
    """State partitions for draining ``df``: its file sources' rows per
    micro-batch summed (a self-joined source counts once)."""
    sources = _file_sources(df)
    sizes = [rows_per_batch(*s) for s in sources or ()]
    rows = None if not sources or None in sizes else sum(sizes)
    return state_partitions(df.sparkSession, rows)


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int):
    """Run a query start under ``n`` shuffle (= state) partitions."""
    prev = spark.conf.get(_KEY)
    spark.conf.set(_KEY, str(n))
    try:
        yield
    finally:
        spark.conf.set(_KEY, prev)


def drain(df: DataFrame, output_mode: str, name: str) -> tuple[DataFrame, list]:
    """Drain the streaming ``df`` into a fresh memory sink (named
    ``<name>_sink_<n>``) under an ``availableNow`` trigger and return
    ``(pinned sink, recentProgress)``. The sink's view is dropped, so a
    long-lived session does not keep one memory table per drain."""
    spark = df.sparkSession
    sink = f"{name}_sink_{next(_SEQ)}"
    with shuffle_partitions(spark, partitions_for(df)):
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    try:
        out = spark.table(sink).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(sink)
    return out, q.recentProgress
