"""T3 heartbeat liveness as a live stateful stream: verifies both the
update path (heartbeats refresh state) and the timeout path (a silent
datanode is declared dead by the processing-time timeout)."""

from __future__ import annotations

import time

import pytest


@pytest.mark.timeout(180)
def test_heartbeat_timeout_declares_dead(spark, tmp_path):
    from hadoop_hdfs_spark.streaming.timeouts import heartbeat_liveness_stream

    src = tmp_path / "hb"
    src.mkdir()
    schema = "datanode_id STRING, heartbeat_ms LONG"

    # batch 1: dn_a and dn_b both heartbeat
    spark.createDataFrame(
        [("dn_a", 1000), ("dn_b", 1000)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = heartbeat_liveness_stream(stream, timeout_ms=3000)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("liveness")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # wait for batch 1 to land: both alive
        deadline = time.time() + 60
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM liveness").collect()
            if len(rows) >= 2:
                break
            time.sleep(1)
        alive = {r["datanode_id"]: r["is_dead"] for r in rows}
        assert alive == {"dn_a": False, "dn_b": False}

        # dn_b keeps heartbeating (several batches); dn_a goes silent
        deadline = time.time() + 90
        dead_seen = False
        i = 0
        while time.time() < deadline and not dead_seen:
            spark.createDataFrame(
                [("dn_b", 2000 + i)], schema
            ).coalesce(1).write.mode("append").parquet(str(src))
            i += 1
            time.sleep(2)
            for r in spark.sql("SELECT * FROM liveness").collect():
                if r["datanode_id"] == "dn_a" and r["is_dead"]:
                    dead_seen = True
        assert dead_seen, "silent datanode was never declared dead by timeout"
        # the survivor's LATEST observation is alive (it may transiently be
        # declared dead during a batch-processing gap and revive — correct
        # monitor semantics, matching the reference's dead->alive flap on a
        # recovered heartbeat)
        b_rows = [
            r
            for r in spark.sql("SELECT * FROM liveness").collect()
            if r["datanode_id"] == "dn_b"
        ]
        assert b_rows
        latest = max(b_rows, key=lambda r: (r["last_heartbeat_ms"], not r["is_dead"]))
        assert not latest["is_dead"]
    finally:
        q.stop()


@pytest.mark.timeout(180)
def test_pending_replication_timeout_requeues(spark, tmp_path):
    """T7 live: a confirmed block leaves the pending map; an unconfirmed
    block is re-emitted with timed_out=True by the processing-time
    timeout (PendingReplicationBlocks timedOutItems semantics)."""
    from hadoop_hdfs_spark.streaming.timeouts import pending_replication_stream

    src = tmp_path / "pending"
    src.mkdir()
    schema = "block_id LONG, event STRING, event_ms LONG, n_replicas LONG"

    # batch 1: work dispatched for blocks 1 and 2
    spark.createDataFrame(
        [(1, "dispatch", 1000, 2), (2, "dispatch", 1000, 1)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = pending_replication_stream(stream, timeout_ms=3000)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("pending")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM pending").collect()
            if len(rows) >= 2:
                break
            time.sleep(1)
        got = {r["block_id"]: r for r in rows}
        assert got[1]["replicas_in_flight"] == 2 and not got[1]["timed_out"]
        assert got[2]["replicas_in_flight"] == 1 and not got[2]["timed_out"]

        # block 2's replica is confirmed; block 1 never confirms. Keep the
        # micro-batches coming (timeouts only fire when a batch runs) until
        # block 1 is re-emitted by timeout.
        spark.createDataFrame(
            [(2, "confirm", 2000, 1)], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
        deadline = time.time() + 90
        timed_out_seen = False
        confirmed_seen = False
        i = 0
        while time.time() < deadline and not (timed_out_seen and confirmed_seen):
            # heartbeat batches on an unrelated block to trigger processing
            spark.createDataFrame(
                [(99, "dispatch", 3000 + i, 1)], schema
            ).coalesce(1).write.mode("append").parquet(str(src))
            i += 1
            time.sleep(2)
            for r in spark.sql("SELECT * FROM pending").collect():
                if r["block_id"] == 1 and r["timed_out"]:
                    assert r["replicas_in_flight"] == 2  # unconfirmed work re-queued
                    timed_out_seen = True
                if r["block_id"] == 2 and r["replicas_in_flight"] == 0:
                    assert not r["timed_out"]
                    confirmed_seen = True
        assert timed_out_seen, "unconfirmed work never re-queued by timeout"
        assert confirmed_seen, "confirmed work never evicted from the map"
    finally:
        q.stop()


def test_t22_event_time_liveness_matches_batch_f4(spark, sf_dir):
    """The gated event-time heartbeat monitor (t22) must agree with the
    BATCH dead-node classification (f4's DEAD rows) node-for-node, and
    its folded state must reproduce the datanodes snapshot column —
    cross-operator consistency beyond the SQL oracle."""
    from pyspark.sql import functions as F

    from hadoop_hdfs_spark import registry
    from hadoop_hdfs_spark.entities import HEARTBEAT_EXPIRY_MS, NOW_MS

    e = registry._entities(spark, sf_dir)
    stream_dead = registry.queries()["t22_heartbeat_liveness_stream"](
        spark, sf_dir
    )
    batch_dead = e["datanodes"].filter(
        F.lit(NOW_MS) - F.col("last_heartbeat_ms") > HEARTBEAT_EXPIRY_MS
    ).select("datanode_id", "last_heartbeat_ms")
    got = {
        (r.datanode_id, r.last_heartbeat_ms) for r in stream_dead.collect()
    }
    want = {
        (r.datanode_id, r.last_heartbeat_ms) for r in batch_dead.collect()
    }
    assert got == want and len(got) > 0
    # removal_pass is the registration-order sequence, 1..N dense
    passes = sorted(r.removal_pass for r in stream_dead.collect())
    assert passes == list(range(1, len(got) + 1))


def test_t23_event_time_leases_matches_batch_t4(spark, sf_dir):
    """The gated event-time lease monitor (t23) must agree with the BATCH
    expiry classification (t4's soft/hard rows) lease-for-lease, and its
    release_pass must be the dense oldest-first sequence over exactly the
    hard-released set — cross-operator consistency beyond the SQL oracle."""
    from pyspark.sql import functions as F

    from hadoop_hdfs_spark import registry
    from hadoop_hdfs_spark.entities import (
        LEASE_HARD_MS,
        LEASE_SOFT_MS,
        NOW_MS,
    )

    e = registry._entities(spark, sf_dir)
    rows = registry.queries()["t23_lease_expiry_stream"](
        spark, sf_dir
    ).collect()
    age = F.lit(NOW_MS) - F.col("last_renewed_ms")
    batch = {
        (r.holder, r.path, r.last_renewed_ms): r.hard
        for r in e["leases"]
        .filter(age > LEASE_SOFT_MS)
        .select("holder", "path", "last_renewed_ms", (age > LEASE_HARD_MS).alias("hard"))
        .collect()
    }
    got = {(r.holder, r.path, r.last_renewed_ms): r.hard_released for r in rows}
    assert got == batch and len(got) > 0
    assert all(r.soft_expired for r in rows)
    # release_pass: dense 1..N over the hard set in (lastUpdate, holder,
    # path) order — checkLeases' flattened oldest-first release sequence —
    # and 0 for soft-only leases (the Monitor never touches them)
    hard = sorted(
        (r for r in rows if r.hard_released),
        key=lambda r: (r.last_renewed_ms, r.holder, r.path),
    )
    assert [r.release_pass for r in hard] == list(range(1, len(hard) + 1))
    assert all(r.release_pass == 0 for r in rows if not r.hard_released)


def test_t23_lease_ladder_mid_stream_rungs(spark, tmp_path, monkeypatch):
    """The two-phase ladder on a tiny synthetic stream: a lease whose soft
    pin is crossed mid-stream (watermark between the rungs) emits the soft
    row with state retained, then the hard row once the watermark passes
    the second pin — and a renewal resets the ladder (no firing for the
    renewed lease until its NEW pin is crossed). The same relation drains
    at 1 state partition and at defaultParallelism."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from hadoop_hdfs_spark.streaming import drain as D
    from hadoop_hdfs_spark.streaming.timeouts import lease_event_stream

    # soft 100ms, hard 1000ms, times offset from epoch 0 (a watermark of 0
    # reads as "no watermark yet" and suppresses timeouts). Lease A renews
    # at t=0 only: soft crosses at wm>100, hard at wm>1000. Lease B renews
    # at t=0 and t=500: its ladder resets, pins at 600/1500 — only soft
    # fires by the final wm=1200.
    B0 = 1_000_000
    files = [
        [("A", "/a", B0 + 0), ("B", "/b", B0 + 0)],
        [("B", "/b", B0 + 500)],
        [("__sentinel__", "", B0 + 1200)],
    ]
    stage = tmp_path / "t23_ladder"
    _os.makedirs(stage)
    schema = pa.schema(
        [("holder", pa.string()), ("path", pa.string()), ("renewed_ms", pa.int64())]
    )
    for i, rows_i in enumerate(files):
        p = str(stage / f"f{i}.parquet")
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(("holder", "path", "renewed_ms"), r)) for r in rows_i],
                schema=schema,
            ),
            p,
        )
        _os.utime(p, (1_700_000_000 + 10 * i,) * 2)
    src = (
        spark.readStream.schema("holder string, path string, renewed_ms long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    renewals = src.withColumn(
        "ts", F.timestamp_millis(F.col("renewed_ms"))
    ).withWatermark("ts", "0 seconds")
    out = lease_event_stream(renewals, soft_ms=100, hard_ms=1000)

    def emitted(partitions: int) -> set:
        monkeypatch.setattr(D, "state_partitions", lambda _s, _r: partitions)
        sink, progress = D.drain(out, "append", "t23_ladder")
        # maxFilesPerTrigger=1: one data micro-batch per staged file
        assert sum(p.numInputRows > 0 for p in progress) == len(files)
        return {
            (r.holder, r.phase, r.last_renewed_ms)
            for r in sink.collect()
            if r.holder != "__sentinel__"
        }

    expected = {
        ("A", "soft_preemptable", B0 + 0),
        ("A", "hard_released", B0 + 0),
        ("B", "soft_preemptable", B0 + 500),  # renewed: ladder reset, hard not crossed
    }
    assert emitted(1) == expected
    assert emitted(spark.sparkContext.defaultParallelism) == expected


def test_t26_token_monitor_sequential_authority(spark, tmp_path):
    """The token monitor's branch ladder on a tiny synthetic stream,
    pinning the SEQUENTIAL-authority semantics that distinguish t26 from
    the t25 batch fold:

    - token 1: issued, renewed in-authority (re-pin extends life past the
      horizon) -> ALIVE, emits nothing;
    - token 2: issued, never renewed -> 'expired' at min(maxDate, expiry)
      when the watermark passes the pin;
    - token 3: issued, renewal arrives AFTER its expiry -> 'expired' at
      the original pin, the late renewal is the InvalidToken no-op (t25
      would resurrect it: the deliberate semantic difference);
    - token 4: issued, cancelled in-authority -> 'cancelled' at the
      cancel ts, even though its expiry was still ahead;
    - token 5: renewal capped by maxDate (renewToken's min) -> 'expired'
      at maxDate, with the renewal counted."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from hadoop_hdfs_spark.streaming.drain import drain
    from hadoop_hdfs_spark.streaming.timeouts import token_expiry_event_stream

    GET, REN, CAN = (
        "OP_GET_DELEGATION_TOKEN",
        "OP_RENEW_DELEGATION_TOKEN",
        "OP_CANCEL_DELEGATION_TOKEN",
    )
    B0 = 1_000_000
    HORIZON = B0 + 2000
    cols = ("token_seq", "op", "ts_ms", "expiry_ms", "max_ms", "owner")
    files = [
        [
            (1, GET, B0 + 0, B0 + 500, B0 + 9000, "u1"),
            (2, GET, B0 + 0, B0 + 400, B0 + 9000, "u2"),
            (3, GET, B0 + 0, B0 + 300, B0 + 9000, "u3"),
            (4, GET, B0 + 0, B0 + 9000, B0 + 9000, "u4"),
            (5, GET, B0 + 0, B0 + 600, B0 + 800, "u5"),
        ],
        [
            (1, REN, B0 + 450, B0 + 99000, None, None),  # in-authority
            (4, CAN, B0 + 200, None, None, None),        # valid cancel
            (5, REN, B0 + 550, B0 + 99000, None, None),  # capped at maxDate
        ],
        [
            (3, REN, B0 + 900, B0 + 99000, None, None),  # after expiry: no-op
        ],
        [
            (-1, "__sentinel__", HORIZON, None, None, None),
        ],
    ]
    stage = tmp_path / "t26_ladder"
    _os.makedirs(stage)
    schema = pa.schema(
        [
            ("token_seq", pa.int64()),
            ("op", pa.string()),
            ("ts_ms", pa.int64()),
            ("expiry_ms", pa.int64()),
            ("max_ms", pa.int64()),
            ("owner", pa.string()),
        ]
    )
    for i, rows_i in enumerate(files):
        p = str(stage / f"f{i}.parquet")
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(cols, r)) for r in rows_i], schema=schema
            ),
            p,
        )
        _os.utime(p, (1_700_000_000 + 10 * i,) * 2)
    src = (
        spark.readStream.schema(
            "token_seq long, op string, ts_ms long, expiry_ms long, "
            "max_ms long, owner string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    events = src.withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms"))
    ).withWatermark("ts", "0 seconds")
    out = token_expiry_event_stream(events)
    sink, _ = drain(out, "append", "t26_ladder")
    emitted = {
        r.token_seq: (r.status, r.death_ms, r.n_valid_renewals)
        for r in sink.collect()
        if r.token_seq >= 0
    }
    assert 1 not in emitted  # renewed past the horizon: alive, no emission
    assert emitted[2] == ("expired", B0 + 400, 0)
    assert emitted[3] == ("expired", B0 + 300, 0)  # late renewal ignored
    assert emitted[4] == ("cancelled", B0 + 200, 0)
    assert emitted[5] == ("expired", B0 + 800, 1)  # maxDate cap, renewal counted
    assert len(emitted) == 4


@pytest.mark.parametrize(
    "query, module, windows",
    [
        pytest.param(q, m, w, id=q)
        for q, m, w in [
            ("t26_token_expiry_stream", "tokens", "_T26_WINDOWS"),
            ("t23_lease_expiry_stream", "leases", "_T23_WINDOWS"),
        ]
    ],
)
def test_t26_output_invariant_to_stream_slicing(
    spark, sf_dir, monkeypatch, query, module, windows
):
    """The purity claim of the t26 and t23 docstrings, pinned: the drained
    relation is a pure function of the data however the micro-batches
    slice the stream. Re-stage the same events into 3 windows instead of
    8 (different watermark advance points, different data/timeout
    interleavings per key) and the emitted relation must be IDENTICAL."""
    import importlib

    import bench
    from hadoop_hdfs_spark import registry

    run = registry.queries()[query]
    baseline = {tuple(r) for r in run(spark, sf_dir).collect()}
    mod = importlib.import_module(f"hadoop_hdfs_spark.streaming.{module}")
    monkeypatch.setattr(mod, windows, 3)  # the window count keys a new stage
    # evict the memoized 8-window frame so the query rebuilds and re-drains
    bench._evict_result_memo(query)
    resliced = {tuple(r) for r in run(spark, sf_dir).collect()}
    assert resliced == baseline and baseline
