"""streaming/drain.py: the one drain primitive of the streaming gates.

- the partition-sizing rule (floor 1, cap at defaultParallelism, cap when
  the input size is unknown) and its parquet-footer input;
- gate results are identical at 1 state partition and at the cap;
- t23 keeps its multi-batch semantics, and re-drains after the bench's
  memo eviction instead of reading a pin, without collecting its entity
  again once its stage is built;
- no module copies the drain boilerplate or starts a memory sink.
"""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parents[1] / "hadoop_hdfs_spark"


def _write(path, n_rows: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"x": list(range(n_rows))}), str(path))


def test_state_partitions_floor_cap_and_unknown(spark):
    from hadoop_hdfs_spark.streaming.drain import ROWS_PER_PARTITION, state_partitions

    cap = spark.sparkContext.defaultParallelism
    assert state_partitions(spark, 0) == 1
    assert state_partitions(spark, 1) == 1
    assert state_partitions(spark, ROWS_PER_PARTITION) == 1
    assert state_partitions(spark, ROWS_PER_PARTITION + 1) == min(2, cap)
    assert state_partitions(spark, 10**9) == cap
    assert state_partitions(spark, None) == cap


def test_rows_per_batch_reads_footers(tmp_path):
    from hadoop_hdfs_spark.streaming.drain import rows_per_batch

    for name, n in [("a.parquet", 30), ("b.parquet", 10), ("c.other", 20)]:
        _write(tmp_path / name, n)
    (tmp_path / "_SUCCESS").write_text("")  # ignored, as Spark does
    assert rows_per_batch(str(tmp_path)) == 60  # one batch, every file
    assert rows_per_batch(str(tmp_path), 1) == 20  # 60 rows, 3 batches
    assert rows_per_batch(str(tmp_path), 2) == 30
    assert rows_per_batch(str(tmp_path), None, "*.parquet") == 40
    assert rows_per_batch(str(tmp_path / "a.parquet")) == 30
    assert rows_per_batch(str(tmp_path / "missing")) is None
    (tmp_path / "empty").mkdir()
    assert rows_per_batch(str(tmp_path / "empty")) is None


def test_partitions_for_reads_the_plans_file_sources(spark, tmp_path):
    from pyspark.sql import functions as F

    from hadoop_hdfs_spark.streaming import drain as D

    for i in range(4):
        _write(tmp_path / f"f{i}.parquet", 100)
    src = (
        spark.readStream.schema("x long")
        .option("maxFilesPerTrigger", 2)
        .parquet(str(tmp_path))
    )
    assert D._file_sources(src) == {(str(tmp_path), 2, None)}
    # a self-join reads its one source once; a static side is not drained
    joined = src.join(src.withColumnRenamed("x", "y"), F.expr("x = y")).join(
        spark.range(3).withColumnRenamed("id", "x"), "x"
    )
    assert D._file_sources(joined) == {(str(tmp_path), 2, None)}
    assert D.partitions_for(joined) == D.state_partitions(spark, 200)
    # a source without parquet footers: the cap
    rate = spark.readStream.format("rate").load()
    assert D._file_sources(rate) is None
    assert D.partitions_for(rate) == spark.sparkContext.defaultParallelism


@pytest.mark.parametrize("gate", ["t14_stream_rates", "t19_stream_dedup"])
def test_jvm_state_gate_equal_at_one_partition_and_cap(
    spark, sf_dir, monkeypatch, gate
):
    import bench
    from hadoop_hdfs_spark import registry
    from hadoop_hdfs_spark.streaming import drain as D

    query = registry.queries()[gate]
    results, used = [], []
    for n in (1, spark.sparkContext.defaultParallelism):
        monkeypatch.setattr(
            D, "state_partitions", lambda _s, _r, n=n: used.append(n) or n
        )
        bench._evict_result_memo(gate)
        results.append(sorted(map(tuple, query(spark, sf_dir).collect())))
    assert used == [1, spark.sparkContext.defaultParallelism]
    assert results[0] == results[1] and results[0]


def test_t23_multi_batch_drain_reruns_after_memo_eviction(
    spark, sf_dir, monkeypatch
):
    """t23 drains one staged window file per micro-batch
    (maxFilesPerTrigger=1) plus the no-data batch that fires the last
    timeouts: 4 micro-batches at sf0.001. After bench._evict_result_memo
    the gate drains all of them again; without eviction it reads its
    pin."""
    import bench
    from hadoop_hdfs_spark import registry
    from hadoop_hdfs_spark.streaming import drain as D

    real, runs = D.drain, []

    def spy(df, *args, **kwargs):
        out, progress = real(df, *args, **kwargs)
        runs.append((D._file_sources(df), progress))
        return out, progress

    monkeypatch.setattr(D, "drain", spy)
    query = registry.queries()["t23_lease_expiry_stream"]
    results = []
    for _ in range(2):
        bench._evict_result_memo("t23_lease_expiry_stream")
        results.append(sorted(map(tuple, query(spark, sf_dir).collect())))
    query(spark, sf_dir).collect()  # memo hit: no drain
    assert len(runs) == 2 and results[0] == results[1] and results[0]
    for sources, progress in runs:
        ((path, files_per_trigger, _),) = sources
        assert files_per_trigger == 1
        staged = [f for f in os.listdir(path) if f.endswith(".parquet")]
        assert sum(p.numInputRows > 0 for p in progress) == len(staged)
        assert len(progress) == len(staged) + 1
        if sf_dir.rstrip("/").endswith("sf0.001"):
            assert len(progress) == 4


def test_cached_windowed_stage_costs_no_collect(spark, sf_dir, monkeypatch):
    """The entity behind a windowed stage is collected when the stage is
    built, not on every drain: a fresh t23 stage costs one toPandas, a
    re-drain over the built stage none."""
    import shutil
    import uuid

    import bench
    from hadoop_hdfs_spark import registry
    from hadoop_hdfs_spark.streaming import staging

    real_fp, real_staged = staging.fixture_fingerprint, staging.staged_dir
    fresh, stages = uuid.uuid4().hex, []
    monkeypatch.setattr(
        staging, "fixture_fingerprint", lambda d: real_fp(d) + fresh
    )
    monkeypatch.setattr(
        staging,
        "staged_dir",
        lambda *a: stages.append(real_staged(*a)) or stages[-1],
    )
    frame_cls = type(registry._entities(spark, sf_dir)["lease_events"])
    real_to_pandas, collects = frame_cls.toPandas, []

    def counting_to_pandas(df):
        collects.append(df)
        return real_to_pandas(df)

    monkeypatch.setattr(frame_cls, "toPandas", counting_to_pandas)
    query = registry.queries()["t23_lease_expiry_stream"]
    try:
        counts = []
        for _ in range(2):
            bench._evict_result_memo("t23_lease_expiry_stream")
            before = len(collects)
            assert query(spark, sf_dir).count() > 0
            counts.append(len(collects) - before)
    finally:
        for stage in set(stages):
            shutil.rmtree(stage, ignore_errors=True)
    assert counts == [1, 0]
    assert len(stages) == 2 and stages[0] == stages[1]


def _modules():
    """Every package module, parsed."""
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), ast.parse(path.read_text())


def _calls(node, attr):
    return [
        n
        for n in ast.walk(node)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
    ]


# Functions allowed to trigger or await a streaming query outside
# drain.py: the foreachBatch writers, which are no memory-sink drains
# (t2c sizes its partitions with drain.state_partitions).
_ALLOWED = {
    ("streaming/replay.py", "replay_edits_stream"),
    ("streaming/checkpoint.py", "t2c_checkpoint_replay"),
}


def test_no_module_copies_the_drain():
    found, memory_sinks = set(), set()
    for mod, tree in _modules():
        if mod == "streaming/drain.py":
            continue
        memory_sinks |= {
            (mod, c.lineno)
            for c in _calls(tree, "format")
            if c.args
            and isinstance(c.args[0], ast.Constant)
            and c.args[0].value == "memory"
        }
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            triggers = [
                c
                for c in _calls(fn, "trigger")
                if any(k.arg == "availableNow" for k in c.keywords)
            ]
            if triggers or _calls(fn, "awaitTermination"):
                found.add((mod, fn.name))
    assert memory_sinks == set(), "drain through streaming.drain.drain()"
    assert found - _ALLOWED == set(), "drain through streaming.drain.drain()"
    assert _ALLOWED - found == set(), "stale exception"


def test_gate_pin_tags_start_with_their_query_prefix():
    """bench._evict_result_memo evicts the pins whose tag starts with the
    query's prefix (``t23_``); a gate pinned under another tag would
    never re-drain in the benchmark."""
    import bench

    checked = set()
    for _mod, tree in _modules():
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            names = [
                d.args[0].value
                for d in fn.decorator_list
                if isinstance(d, ast.Call)
                and getattr(d.func, "id", None) == "register"
            ]
            if not names or names[0] not in bench._DRAIN_MEMO_GATES:
                continue
            tags = [
                c.args[1].value
                for c in ast.walk(fn)
                if isinstance(c, ast.Call)
                and getattr(c.func, "id", None) == "eager_cache_thunk"
            ]
            assert tags, names[0]
            prefix = names[0].split("_")[0] + "_"
            assert all(t.startswith(prefix) for t in tags), (names[0], tags)
            checked.add(names[0])
    assert checked == set(bench._DRAIN_MEMO_GATES)
