"""T1 edit replay, the streaming A6 aggregation, and the multimodal
mapInPandas plumbing."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from hadoop_hdfs_spark.entities import load_entities
from hadoop_hdfs_spark.streaming.drain import drain
from hadoop_hdfs_spark.pipeline.multimodal import (
    decode_kernel,
    documents_as_assets,
    extract_features,
    frame_sample,
)
from hadoop_hdfs_spark.streaming.replay import (
    EDITS_COLUMNS,
    apply_edits_batch,
    edits_opcode_stream_stats,
    load_latest_snapshot,
    replay_edits_stream,
)
from hadoop_hdfs_spark.streaming.sessions import edit_sessions_stream


def test_apply_edits_batch_semantics(spark):
    state = spark.createDataFrame(
        [("/a", True, 3), ("/a/x", True, 3), ("/b", True, 2)],
        "path STRING, exists BOOLEAN, replication INT",
    )
    batch = spark.createDataFrame(
        [
            (1, "OP_RENAME", 0, "/a", "/c", None),       # subtree rename
            (2, "OP_ADD", 0, "/d", None, 1),             # create
            (3, "OP_DELETE", 0, "/b", None, None),       # delete
            (4, "OP_SET_REPLICATION", 0, "/d", None, 5), # update (after add)
        ],
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, replication INT",
    )
    out = {r["path"]: (r["exists"], r["replication"]) for r in apply_edits_batch(state, batch).collect()}
    # rename rewrote the subtree prefix
    assert "/c" in out and "/c/x" in out and "/a" not in out and "/a/x" not in out
    # delete flips exists; last-writer-wins applied set_replication over add
    assert out["/b"][0] is False
    assert out["/d"] == (True, 5)


def test_apply_edits_batch_idempotent(spark):
    """foreachBatch is at-least-once: re-applying the same batch must
    converge (MERGE keyed by path, not append)."""
    state = spark.createDataFrame(
        [("/a", True, 3)], "path STRING, exists BOOLEAN, replication INT"
    )
    batch = spark.createDataFrame(
        [(1, "OP_ADD", 0, "/e", None, 2)],
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, replication INT",
    )
    once = apply_edits_batch(state, batch)
    twice = apply_edits_batch(once, batch)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_apply_edits_cross_batch_authority(spark):
    """Persisted exist_txid: an out-of-order later segment carrying OLDER
    txids must not override newer state (the documented cross-batch
    guarantee — a stale OP_DELETE cannot kill a newer create)."""
    empty = spark.createDataFrame([], "path STRING, exists BOOLEAN, replication INT")
    seg2 = spark.createDataFrame(
        [(10, "OP_ADD", 10000, "/f", None, 2)],
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, replication INT",
    )
    seg1 = spark.createDataFrame(
        [(5, "OP_DELETE", 5000, "/f", None, None)],
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, replication INT",
    )
    state = apply_edits_batch(empty, seg2)  # newer segment applied first
    out = {r["path"]: r["exists"] for r in apply_edits_batch(state, seg1).collect()}
    assert out["/f"] is True  # stale delete (txid 5 < authority 10) ignored
    # and the delete DOES apply when it is genuinely newer
    seg3 = spark.createDataFrame(
        [(11, "OP_DELETE", 11000, "/f", None, None)],
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, replication INT",
    )
    out3 = {r["path"]: r["exists"] for r in apply_edits_batch(state, seg3).collect()}
    assert out3["/f"] is False


def test_stale_create_cannot_regress_attributes(spark):
    """ADVICE r10 #1: a late out-of-order segment whose OP_ADD targets a
    still-existing path passes the stream's order guard as existence-only
    (exist_txid blocks the existence write) — its create-borne attribute
    payloads (replication, mtime) must be blocked by the SAME authority,
    not silently folded via coalesce back to stale values."""
    empty = spark.createDataFrame([], "path STRING, exists BOOLEAN, replication INT")
    sch = (
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, "
        "replication INT"
    )
    # fresh history: create rep=2 @10, then bump rep to 7 @20, mtime @30
    fresh = spark.createDataFrame(
        [
            (10, "OP_ADD", 10_000, "/g", None, 2),
            (20, "OP_SET_REPLICATION", 20_000, "/g", None, 7),
            (30, "OP_TIMES", 30_000, "/g", None, None),
        ],
        sch,
    )
    state = apply_edits_batch(empty, fresh)
    # stale duplicate create (txid 5 < authority 30) arrives late
    stale = spark.createDataFrame(
        [(5, "OP_ADD", 5_000, "/g", None, 1)], sch
    )
    row = {r["path"]: r for r in apply_edits_batch(state, stale).collect()}["/g"]
    assert row["exists"] is True
    assert row["replication"] == 7, "stale OP_ADD regressed replication"
    assert row["mtime_ms"] == 30_000, "stale OP_ADD regressed mtime"
    assert row["exist_txid"] == 10  # authority = last create/delete op
    # control: a create NEWER than the authority applies its payloads
    newer = spark.createDataFrame(
        [(40, "OP_ADD", 40_000, "/g", None, 4)], sch
    )
    row2 = {r["path"]: r for r in apply_edits_batch(state, newer).collect()}["/g"]
    assert row2["replication"] == 4 and row2["mtime_ms"] == 40_000


def test_replay_stream_end_to_end(spark, sf_dir, tmp_path):
    """Stream the derived edits changelog through foreachBatch MERGE and
    check the final snapshot agrees with a batch replay."""
    e = load_entities(spark, sf_dir)
    edits_dir = str(tmp_path / "edits")
    e["edits"].select(*EDITS_COLUMNS).coalesce(
        2
    ).write.parquet(edits_dir)
    q = replay_edits_stream(
        spark,
        edits_dir,
        str(tmp_path / "ckpt"),
        str(tmp_path / "snapshot"),
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(240), "stream did not drain in time"
    snap = load_latest_snapshot(spark, str(tmp_path / "snapshot"))
    assert snap.count() > 0
    # every OP_ADD/OP_MKDIR path with no later delete/rename-away exists
    batch_applied = apply_edits_batch(
        spark.createDataFrame([], "path STRING, exists BOOLEAN, replication INT"),
        e["edits"].select(*EDITS_COLUMNS).orderBy("txid"),
    )
    # streamed (multiple micro-batches) vs one-shot batch replay converge
    lhs = {(r["path"], r["exists"]) for r in snap.collect()}
    rhs = {(r["path"], r["exists"]) for r in batch_applied.collect()}
    assert lhs == rhs


def test_edits_opcode_stream_matches_batch(spark, sf_dir, tmp_path):
    e = load_entities(spark, sf_dir)
    edits_dir = str(tmp_path / "edits2")
    e["edits"].select(*EDITS_COLUMNS).coalesce(
        3
    ).write.parquet(edits_dir)
    sink, _ = drain(
        edits_opcode_stream_stats(spark, edits_dir), "complete", "opcode_stats"
    )
    stream_counts = {r["op"]: r["count"] for r in sink.collect()}
    batch_counts = {
        r["op"]: r["n"]
        for r in e["edits"].groupBy("op").agg(F.count("*").alias("n")).collect()
    }
    assert stream_counts == batch_counts


def test_edit_sessions_stream_matches_batch(spark, sf_dir, tmp_path):
    """session_window sessions == the batch lag/cumsum query, for every
    session the watermark finalized (append mode emits a session once its
    end — last event + gap — falls below the final watermark; tail
    sessions stay in state)."""
    from hadoop_hdfs_spark import registry
    from hadoop_hdfs_spark.operators.admin import SESSION_GAP_MS

    e = load_entities(spark, sf_dir)
    edits_dir = str(tmp_path / "edits_sessions")
    e["edits"].select(*EDITS_COLUMNS).coalesce(
        1
    ).write.parquet(edits_dir)
    sink, _ = drain(
        edit_sessions_stream(spark, edits_dir, watermark="1 milliseconds"),
        "append",
        "edit_sessions",
    )
    streamed = {
        (
            r["client"],
            int(r["session_window"]["start"].timestamp() * 1000),
            r["ops"],
        )
        for r in sink.collect()
    }
    batch_rows = registry.queries()["t10_edit_sessions"](spark, sf_dir).collect()
    max_ts = max(r["session_end_ms"] for r in batch_rows)
    finalized = {
        (r["client"], r["session_start_ms"], r["ops"])
        for r in batch_rows
        if r["session_end_ms"] + SESSION_GAP_MS < max_ts - 1
    }
    assert streamed == finalized
    assert len(streamed) > 0


def test_multimodal_feature_extraction(spark, sf_dir):
    e = load_entities(spark, sf_dir)
    assets = documents_as_assets(e["documents"])
    feats = extract_features(assets)
    rows = feats.collect()
    assert len(rows) == e["documents"].count()
    # digests deterministic: re-run produces identical output
    again = {r["asset_id"]: r["feature_digest"] for r in extract_features(assets).collect()}
    for r in rows:
        assert again[r["asset_id"]] == r["feature_digest"]
        assert r["byte_len"] > 0 and 0 <= r["width"] < 4096


def test_multimodal_frame_sample_fanout(spark, sf_dir):
    e = load_entities(spark, sf_dir)
    assets = documents_as_assets(e["documents"]).limit(20)
    frames = frame_sample(assets, every_n_bytes=100)
    pdf = frames.toPandas()
    assert len(pdf) >= 20  # 1->N fan-out
    assert (pdf.groupby("asset_id")["frame_idx"].min() == 0).all()


def test_multimodal_resize_stage(spark, sf_dir):
    from hadoop_hdfs_spark.pipeline.multimodal import resize_assets

    e = load_entities(spark, sf_dir)
    assets = documents_as_assets(e["documents"]).limit(50)
    resized = resize_assets(assets, width=32, height=16).collect()
    assert len(resized) == 50
    for r in resized:
        if r["media_type"] in ("image", "video"):
            assert len(r["payload"]) == 32 * 16
            assert (r["width"], r["height"]) == (32, 16)
        else:  # audio passes through
            assert r["width"] == 0 and len(r["payload"]) == r["orig_bytes"]


def test_decode_kernel_rejects_unknown_media():
    with pytest.raises(NotImplementedError):
        decode_kernel(b"xx", "hologram")


def test_near_dup_clusters_transitive(spark):
    """a~b and b~c must land in one cluster even without an a~c edge."""
    from hadoop_hdfs_spark.pipeline.corpus import near_dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "a_id LONG, b_id LONG",
    )
    got = {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_near_dup_clusters_on_lsh_output(spark, sf_dir):
    from hadoop_hdfs_spark import registry
    from hadoop_hdfs_spark.pipeline.corpus import near_dup_clusters

    pairs = registry.queries()["d_minhash_lsh"](spark, sf_dir)
    labels = near_dup_clusters(pairs)
    # every doc in a pair got a label; labels are the min of their component
    n_docs = pairs.selectExpr("a_id AS d").union(pairs.selectExpr("b_id")).distinct().count()
    assert labels.count() == n_docs
    assert labels.filter("cluster_id > doc_id").count() == 0


def test_shingles_short_docs_no_ansi_crash(spark):
    """<3-token documents must yield empty shingle arrays, not an ANSI
    element_at error (sequence(1, size-2) descends below 1)."""
    from hadoop_hdfs_spark.pipeline.dedup import _shingles

    docs = spark.createDataFrame(
        [
            (1, "one", "en", "s0"),
            (2, "two words", "en", "s0"),
            (3, "three word doc", "en", "s0"),
        ],
        "doc_id LONG, text STRING, lang STRING, source STRING",
    )
    rows = {r["doc_id"]: r["sh"] for r in _shingles(docs).collect()}
    assert rows[1] == [] and rows[2] == []
    assert rows[3] == ["three word doc"]

def test_event_rates_stream_matches_batch(spark, sf_dir, tmp_path):
    """Tumbling-window streaming rates == the batch t11 aggregates, for
    every window the watermark finalized (the window containing the last
    event stays open in state)."""
    from hadoop_hdfs_spark import registry
    from hadoop_hdfs_spark.streaming.rates import event_rates_stream

    # FileStreamSource needs a directory; the fixture is a single file
    e = load_entities(spark, sf_dir)
    events_dir = str(tmp_path / "events_rates")
    e["events"].coalesce(1).write.parquet(events_dir)
    sink, _ = drain(
        event_rates_stream(spark, events_dir, watermark="1 milliseconds"),
        "append",
        "event_rates",
    )
    streamed = {
        (
            int(r["window"]["start"].timestamp() * 1000),
            r["event_type"],
            r["n_events"],
            r["value_cents"],
        )
        for r in sink.collect()
    }
    batch_rows = registry.queries()["t11_event_rates"](spark, sf_dir).collect()
    max_end = max(r["bucket_start_ms"] for r in batch_rows) + 60000
    finalized = {
        (r["bucket_start_ms"], r["event_type"], r["n_events"], r["value_cents"])
        for r in batch_rows
        if r["bucket_start_ms"] + 60000 < max_end  # last window stays open
    }
    assert streamed == finalized
    assert len(streamed) > 0

def test_dedup_stream_keeps_one_per_digest(spark, sf_dir, tmp_path):
    """Streaming dedup emits exactly one row per distinct digest, and it is
    the first occurrence (lowest ingest timestamp = lowest doc_id here)."""
    from hadoop_hdfs_spark.streaming.dedup import dedup_documents_stream

    e = load_entities(spark, sf_dir)
    docs_dir = str(tmp_path / "docs_dedup")
    # inject guaranteed duplicates: the corpus plus a doc_id-shifted copy
    base = e["documents"].select("doc_id", "text", "lang", "source", "n_chars")
    dup = base.withColumn("doc_id", F.col("doc_id") + 1000000)
    # originals land in an earlier file (earlier micro-batch with
    # maxFilesPerTrigger=1) — first-wins is the cross-batch contract;
    # within one batch the kept occurrence is arbitrary
    import glob as _glob
    import os as _os

    base.coalesce(1).write.parquet(docs_dir)
    originals = set(_glob.glob(f"{docs_dir}/part-*.parquet"))
    dup.coalesce(1).write.mode("append").parquet(docs_dir)
    # FileStreamSource orders files by mtime; same-second writes tie and the
    # tiebreak is arbitrary — push the original file decisively earlier
    for p in originals:
        _os.utime(p, (_os.path.getmtime(p) - 3600,) * 2)
    sink, _ = drain(
        dedup_documents_stream(
            spark, docs_dir, watermark="365 days", max_files_per_trigger=1
        ),
        "append",
        "dedup_documents",
    )
    got = sink.collect()
    n_distinct = base.select(F.md5("text")).distinct().count()
    assert len(got) == n_distinct
    # first occurrence wins: every kept doc_id is from the original range
    assert all(r["doc_id"] < 1000000 for r in got)

def test_helper_drains_in_one_session_keep_their_own_rows(spark, tmp_path):
    """Two drains of one helper in one session get their own sinks: the
    second run over a larger directory leaves the first result as it was."""
    from hadoop_hdfs_spark.streaming.dedup import dedup_documents_stream

    results = []
    for n in (3, 5):
        docs_dir = str(tmp_path / f"docs_{n}")
        spark.createDataFrame(
            [(i, f"doc {i}") for i in range(n)], "doc_id LONG, text STRING"
        ).coalesce(1).write.parquet(docs_dir)
        sink, _ = drain(dedup_documents_stream(spark, docs_dir), "append", "dedup")
        results.append(sink)
    assert [r.count() for r in results] == [3, 5]
    assert {r["doc_id"] for r in results[0].collect()} == {0, 1, 2}


def test_open_close_pairs_stream_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join == the equivalent batch interval join
    (inner joins emit every match once both sides arrive; no watermark
    truncation of results, only of state)."""
    from hadoop_hdfs_spark.streaming.joins import open_close_pairs_stream

    e = load_entities(spark, sf_dir)
    edits_dir = str(tmp_path / "edits_oc")
    e["edits"].select(*EDITS_COLUMNS).coalesce(
        2
    ).write.parquet(edits_dir)
    sink, _ = drain(
        open_close_pairs_stream(spark, edits_dir, max_files_per_trigger=1),
        "append",
        "open_close_pairs",
    )
    streamed = {
        (r["path"], r["open_txid"], r["close_txid"], r["open_age_ms"])
        for r in sink.collect()
    }
    adds = e["edits"].filter(F.col("op") == "OP_ADD")
    closes = e["edits"].filter(F.col("op") == "OP_CLOSE")
    batch = (
        closes.alias("c")
        .join(
            adds.alias("a"),
            (F.col("a.path") == F.col("c.path"))
            & (F.col("a.ts_ms") <= F.col("c.ts_ms"))
            & (F.col("a.ts_ms") >= F.col("c.ts_ms") - 86400000),
        )
        .select(
            F.col("c.path").alias("path"),
            F.col("a.txid").alias("open_txid"),
            F.col("c.txid").alias("close_txid"),
            (F.col("c.ts_ms") - F.col("a.ts_ms")).alias("open_age_ms"),
        )
    )
    expected = {
        (r["path"], r["open_txid"], r["close_txid"], r["open_age_ms"])
        for r in batch.collect()
    }
    assert streamed == expected
    assert len(streamed) > 0


def test_replay_snapshot_retention(spark, sf_dir, tmp_path):
    """Snapshot versions are bounded: a long replay keeps only the newest
    committed versions (NNStorage checkpoint-purge analog), and the torn
    (marker-less) directory survives pruning untouched."""
    import glob
    import os

    from hadoop_hdfs_spark import registry
    from hadoop_hdfs_spark.sources import save_edits
    from hadoop_hdfs_spark.streaming.replay import (
        load_latest_snapshot,
        replay_edits_stream,
    )

    edits = registry._entities(spark, sf_dir)["edits"].limit(2000)
    edits_dir = str(tmp_path / "edits")
    save_edits(edits, edits_dir, n_segments=6)
    snap = str(tmp_path / "snap")
    # a torn, uncommitted write that pruning must never touch
    os.makedirs(snap + "_v999999")
    q = replay_edits_stream(
        spark, edits_dir, str(tmp_path / "ckpt"), snap, max_files_per_trigger=1
    )
    q.awaitTermination(300)
    committed = [
        p
        for p in glob.glob(snap + "_v*")
        if os.path.exists(os.path.join(p, "_SUCCESS"))
    ]
    assert len(committed) <= 2, committed
    assert os.path.isdir(snap + "_v999999")  # uncommitted left alone
    before = sorted(
        map(tuple, load_latest_snapshot(spark, snap).collect())
    )
    assert len(before) > 0
    # Prune harder: the latest version must survive BYTE-IDENTICAL even
    # though its untouched partitions are hardlinks into versions the
    # sweep deletes (link count drops, inode data must not).
    from hadoop_hdfs_spark.streaming.replay import _prune_snapshot_versions

    latest_dir = max(committed, key=lambda p: int(p.rsplit("_v", 1)[1]))
    bytes_before = {
        f: open(os.path.join(dp, f), "rb").read()
        for dp, _, fs in os.walk(latest_dir)
        for f in fs
    }
    _prune_snapshot_versions(snap, keep=1)
    committed_after = [
        p
        for p in glob.glob(snap + "_v*")
        if os.path.exists(os.path.join(p, "_SUCCESS"))
    ]
    assert committed_after == [latest_dir]
    assert os.path.isdir(snap + "_v999999")  # still untouched
    bytes_after = {
        f: open(os.path.join(dp, f), "rb").read()
        for dp, _, fs in os.walk(latest_dir)
        for f in fs
    }
    assert bytes_after == bytes_before
    assert sorted(map(tuple, load_latest_snapshot(spark, snap).collect())) == before


def test_mm_certify_kernel_matches_library_stage(spark, sf_dir):
    """The self-contained kernel inside mm_feature_certify must agree with
    the library decode stage (extract_features/decode_kernel) asset for
    asset — the query certifies the same arithmetic the library runs."""
    from pyspark.sql import functions as F

    from hadoop_hdfs_spark import registry
    from hadoop_hdfs_spark.pipeline.multimodal import (
        documents_as_assets,
        extract_features,
    )

    e = registry._entities(spark, sf_dir)
    lib = extract_features(documents_as_assets(e["documents"]))
    lib_agg = lib.groupBy("media_type").agg(
        F.count("*").cast("long").alias("n_assets"),
        F.sum("byte_len").cast("long").alias("total_bytes"),
        F.sum("width").cast("long").alias("sum_width"),
        F.sum("height").cast("long").alias("sum_height"),
        F.md5(
            F.concat_ws("", F.sort_array(F.collect_list("feature_digest")))
        ).alias("digest_of_digests"),
    )
    q = registry.queries()["mm_feature_certify"](spark, sf_dir)
    assert q.exceptAll(lib_agg).isEmpty() and lib_agg.exceptAll(q).isEmpty()


def test_incremental_snapshot_links_untouched_partitions(spark, tmp_path):
    """T2 incremental compaction (hashed two-level buckets): a micro-batch
    touching only /a/x and /a/z must NOT rewrite any bucket outside
    {bucket(/a/x), bucket(/a/z)} — untouched buckets' files are
    byte-identical hardlinks of version N-1's (st_nlink >= 2), while the
    touched buckets advance. Segment files are written with a mtime gap
    so the file source processes them in order (one per trigger)."""
    import os
    import time as _t

    edits_dir = tmp_path / "edits_inc"
    edits_dir.mkdir()
    schema = (
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, "
        "replication INT, perm STRING, owner STRING, gen_stamp LONG"
    )
    seg1 = [
        (1, "OP_MKDIR", 1000, "/a", None, None, None, None, None),
        (2, "OP_MKDIR", 2000, "/b", None, None, None, None, None),
        (3, "OP_ADD", 3000, "/a/x", None, 2, None, None, None),
        (4, "OP_ADD", 4000, "/b/y", None, 3, None, None, None),
    ]
    seg2 = [
        (5, "OP_ADD", 5000, "/a/z", None, 1, None, None, None),
        (6, "OP_SET_PERMISSIONS", 6000, "/a/x", None, None, "rw-r--r--", None, None),
    ]
    spark.createDataFrame(seg1, schema).coalesce(1).write.mode("append").parquet(
        str(edits_dir)
    )
    _t.sleep(1.1)  # distinct mtime -> deterministic processing order
    spark.createDataFrame(seg2, schema).coalesce(1).write.mode("append").parquet(
        str(edits_dir)
    )

    snap = str(tmp_path / "snap_inc")
    q = replay_edits_stream(
        spark, str(edits_dir), str(tmp_path / "ckpt_inc"), snap,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(240), "stream did not drain in time"

    v0, v1 = f"{snap}_v0", f"{snap}_v1"
    assert os.path.exists(os.path.join(v0, "_SUCCESS"))
    assert os.path.exists(os.path.join(v1, "_SUCCESS"))

    # bucket values of every path in play, via the layout's own function
    from pyspark.sql import functions as F

    from hadoop_hdfs_spark.streaming.replay import snapshot_bucket

    all_paths = ["/a", "/b", "/a/x", "/b/y", "/a/z"]
    bk = {
        r["p"]: r["b"]
        for r in spark.createDataFrame([(p,) for p in all_paths], "p string")
        .select("p", snapshot_bucket(F.col("p")).alias("b"))
        .collect()
    }
    touched = {bk["/a/z"], bk["/a/x"]}  # segment 2's ops
    untouched = {bk[p] for p in all_paths} - touched
    # precondition (xxhash64 is deterministic, so this is stable): the
    # batch's buckets must not happen to cover everything
    assert untouched, "bucket collision voided the untouched set"

    def part_bytes(version, bucket):
        d = os.path.join(version, f"pbucket={bucket}")
        return {
            f: open(os.path.join(d, f), "rb").read()
            for f in sorted(os.listdir(d))
            if not f.startswith(".")
        }

    # untouched buckets: byte-identical, and physically HARDLINKED (zero
    # data movement), not copied
    for b in sorted(untouched):
        assert part_bytes(v0, b) == part_bytes(v1, b)
        d = os.path.join(v1, f"pbucket={b}")
        data_files = [f for f in os.listdir(d) if not f.startswith(".")]
        assert data_files and all(
            os.stat(os.path.join(d, f)).st_nlink >= 2 for f in data_files
        ), f"pbucket={b} was copied, not hardlinked"
    # touched buckets advanced: /a/z's bucket appears only in v1 (unless a
    # seg-1 path shares it), and /a/x's carries the re-perm
    if bk["/a/z"] not in {bk["/a"], bk["/b"], bk["/a/x"], bk["/b/y"]}:
        assert not os.path.exists(os.path.join(v0, f"pbucket={bk['/a/z']}"))
    a1 = spark.read.parquet(os.path.join(v1, f"pbucket={bk['/a/x']}"))
    assert [
        r["perm"] for r in a1.collect() if r["path"] == "/a/x"
    ] == ["rw-r--r--"]
    # and the public reader sees the merged namespace with stable schema
    final = load_latest_snapshot(spark, snap)
    got = {r["path"]: r for r in final.collect()}
    assert got["/a/x"]["perm"] == "rw-r--r--"
    assert got["/a/z"]["exists"]
    assert got["/b/y"]["exists"] and got["/b/y"]["replication"] == 3
    assert "prefix" not in final.columns


def test_incremental_snapshot_depth1_delete_reaches_deep_partitions(
    spark, tmp_path
):
    """A depth-1 op (OP_DELETE /a) has no second-level segment, but must
    invalidate EVERY second-level bucket under h1('a') — the enumerable-
    set leg of the touched computation. If the filter or the hardlink
    assembly treated touched as the op's own bucket only, /a/x would
    survive as a stale hardlink."""
    import os
    import time as _t

    edits_dir = tmp_path / "edits_del"
    edits_dir.mkdir()
    schema = (
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, "
        "replication INT, perm STRING, owner STRING, gen_stamp LONG"
    )
    seg1 = [
        (1, "OP_ADD", 1000, "/a/x", None, 2, None, None, None),
        (2, "OP_ADD", 2000, "/b/y", None, 3, None, None, None),
    ]
    seg2 = [(3, "OP_DELETE", 3000, "/a", None, None, None, None, None)]
    spark.createDataFrame(seg1, schema).coalesce(1).write.mode("append").parquet(
        str(edits_dir)
    )
    _t.sleep(1.1)
    spark.createDataFrame(seg2, schema).coalesce(1).write.mode("append").parquet(
        str(edits_dir)
    )
    snap = str(tmp_path / "snap_del")
    q = replay_edits_stream(
        spark, str(edits_dir), str(tmp_path / "ckpt_del"), snap,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(240), "stream did not drain in time"
    final = load_latest_snapshot(spark, snap)
    got = {r["path"]: r["exists"] for r in final.collect()}
    assert got == {"/a": False, "/a/x": False, "/b/y": True}


def test_snapshot_bucket_bounds_and_levels(spark):
    """snapshot_bucket: values bounded by B1*B2 at any path population,
    NULL for the root, and every path under one top-level dir lands in
    the same h1 block of B2 consecutive buckets (the enumerable-set
    algebra the depth-1 invalidation relies on)."""
    from pyspark.sql import functions as F

    from hadoop_hdfs_spark.streaming.replay import (
        SNAPSHOT_B1,
        SNAPSHOT_B2,
        snapshot_bucket,
    )

    paths = (
        ["/", "/solo"]
        + [f"/a/x{i}" for i in range(40)]
        + [f"/b{i}/y/z/deep" for i in range(40)]
    )
    rows = (
        spark.createDataFrame([(p,) for p in paths], "p string")
        .select("p", snapshot_bucket(F.col("p")).alias("b"))
        .collect()
    )
    bk = {r["p"]: r["b"] for r in rows}
    assert bk["/"] is None  # root op = full rewrite, no bucket
    assert all(
        0 <= b < SNAPSHOT_B1 * SNAPSHOT_B2
        for p, b in bk.items()
        if b is not None
    )
    # one top-level dir -> one h1 block: /a and every /a/* share h1
    a_h1 = {bk[p] // SNAPSHOT_B2 for p in bk if p.startswith("/a/")}
    assert len(a_h1) == 1
    # deterministic across sessions (xxhash64 is seed-stable)
    again = {
        r["p"]: r["b"]
        for r in spark.createDataFrame([(p,) for p in paths], "p string")
        .select("p", snapshot_bucket(F.col("p")).alias("b"))
        .collect()
    }
    assert again == bk


def test_legacy_prefix_snapshot_migrates_to_buckets(spark, tmp_path):
    """A snapshot written by the pre-r8 raw-prefix layout (``prefix=``
    partition dirs) must keep working: the next micro-batch reads the
    WHOLE legacy snapshot (no bucket algebra exists for raw prefixes),
    merges, and writes the new bucketed layout — no rows lost, old
    attributes preserved, new ops applied."""
    import glob
    import os

    from hadoop_hdfs_spark.streaming.replay import (
        load_latest_snapshot,
        replay_edits_stream,
    )

    # hand-build a legacy-layout committed version v0
    legacy = spark.createDataFrame(
        [
            ("/a/x", True, 2, "a~x"),
            ("/b/y", True, 3, "b~y"),
        ],
        "path STRING, exists BOOLEAN, replication INT, prefix STRING",
    )
    snap = str(tmp_path / "snap_mig")
    legacy.write.partitionBy("prefix").parquet(snap + "_v0")
    open(os.path.join(snap + "_v0", "_SUCCESS"), "w").close()

    edits_dir = tmp_path / "edits_mig"
    edits_dir.mkdir()
    schema = (
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, "
        "replication INT, perm STRING, owner STRING, gen_stamp LONG"
    )
    seg = [(10, "OP_ADD", 1000, "/c/z", None, 1, None, None, None)]
    spark.createDataFrame(seg, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(edits_dir))

    q = replay_edits_stream(
        spark, str(edits_dir), str(tmp_path / "ckpt_mig"), snap,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(240), "stream did not drain in time"
    final = load_latest_snapshot(spark, snap)
    got = {r["path"]: (r["exists"], r["replication"]) for r in final.collect()}
    assert got["/a/x"] == (True, 2)  # legacy rows carried through
    assert got["/b/y"] == (True, 3)
    assert got["/c/z"] == (True, 1)  # new op applied
    # and the rewritten version is bucketed, not raw-prefix (batch ids
    # start at 0, so the migrated version REPLACES the legacy v0 — the
    # merge materializes to the .inprogress dir before assembly removes
    # the old directory, so the replacement is safe)
    versions = [
        p for p in glob.glob(snap + "_v*")
        if os.path.exists(os.path.join(p, "_SUCCESS"))
    ]
    assert versions
    newest = max(versions, key=lambda p: int(p.rsplit("_v", 1)[1]))
    assert glob.glob(os.path.join(newest, "pbucket=*"))
    assert not glob.glob(os.path.join(newest, "prefix=*"))


def test_replay_redelivered_committed_batch_is_skipped(spark, tmp_path):
    """At-least-once redelivery of an already-committed micro-batch must be
    a no-op: assembling it again would hardlink untouched buckets FROM the
    directory being rebuilt (prev == final) and silently drop them."""
    import os

    edits_dir = str(tmp_path / "edits_redeliver")
    spark.createDataFrame(
        [(1, "OP_ADD", 1000, "/a/x", None, 2)],
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, replication INT",
    ).coalesce(1).write.parquet(edits_dir)
    snap = str(tmp_path / "snap_redeliver")
    ckpt = str(tmp_path / "ckpt_redeliver")
    # simulate the redelivery: version _v0 is already committed BY THIS
    # STREAM when micro-batch 0 arrives (marker written with the stream's
    # checkpoint identity, checkpoint offset lost)
    os.makedirs(snap + "_v0")
    with open(os.path.join(snap + "_v0", "_SUCCESS"), "w") as fh:
        fh.write(os.path.realpath(ckpt))
    q = replay_edits_stream(spark, edits_dir, ckpt, snap)
    assert q.awaitTermination(120), "stream did not drain"
    # the committed version was left byte-untouched (no new partitions)
    assert os.listdir(snap + "_v0") == ["_SUCCESS"]


def test_replay_reset_onto_surviving_head_versions_raises(spark, tmp_path):
    """The shadowed collision (ADVICE r8): a RESET checkpoint pointed at an
    existing store whose head versions survived retention (prior stream ran
    <=2 batches, so _v0/_v1 are still committed) must raise, not silently
    no-op batch ids that coincide with surviving versions — the new
    batching may differ from the old one, and a silent skip drops edits."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    edits_dir = str(tmp_path / "edits_survive")
    os.makedirs(edits_dir)
    schema = (
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, replication INT"
    )
    for i, r in enumerate(
        [(1, "OP_ADD", 1000, "/a/x", None, 2), (2, "OP_ADD", 2000, "/b/y", None, 2)]
    ):
        spark.createDataFrame([r], schema).coalesce(1).write.parquet(
            str(tmp_path / f"seg_survive{i}")
        )
        import glob as _g
        import shutil as _sh

        (part,) = _g.glob(str(tmp_path / f"seg_survive{i}") + "/part-*.parquet")
        _sh.copy(part, os.path.join(edits_dir, f"seg{i}.parquet"))
        os.utime(os.path.join(edits_dir, f"seg{i}.parquet"), (1000 + i, 1000 + i))
    snap = str(tmp_path / "snap_survive")
    q = replay_edits_stream(
        spark, edits_dir, str(tmp_path / "ckpt_survive"), snap
    )
    assert q.awaitTermination(120), "first stream did not drain"
    assert os.path.exists(snap + "_v0") and os.path.exists(snap + "_v1")
    # the reset: fresh checkpoint, same store — batch 0 collides with the
    # SURVIVING committed _v0, which the head-version guard can't see
    q2 = replay_edits_stream(
        spark, edits_dir, str(tmp_path / "ckpt_survive2"), snap
    )
    with pytest.raises(
        StreamingQueryException, match="committed .* by a different stream"
    ):
        q2.awaitTermination(120)


def test_replay_reset_checkpoint_fails_loudly_not_silently(spark, tmp_path):
    """A fresh checkpoint pointed at an existing snapshot store restarts
    batch ids below the committed head; the stream must refuse (the merged
    version would sort under the head and never be served) instead of
    clobbering or silently serving stale state."""
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    edits_dir = str(tmp_path / "edits_reset")
    rows = [
        (1, "OP_ADD", 1000, "/a/x", None, 2),
        (2, "OP_ADD", 2000, "/b/y", None, 2),
        (3, "OP_ADD", 3000, "/c/z", None, 2),
    ]
    schema = (
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, replication INT"
    )
    for i, r in enumerate(rows):
        spark.createDataFrame([r], schema).coalesce(1).write.parquet(
            f"{edits_dir}/seg{i}"
        )
    # one txid-range parquet per directory entry: point the stream at a
    # flat dir of the three part files
    import glob
    import os

    flat = str(tmp_path / "edits_reset_flat")
    os.makedirs(flat)
    for i in range(3):
        (part,) = glob.glob(f"{edits_dir}/seg{i}/part-*.parquet")
        shutil.copy(part, os.path.join(flat, f"seg{i}.parquet"))
        os.utime(os.path.join(flat, f"seg{i}.parquet"), (1000 + i, 1000 + i))
    ckpt = str(tmp_path / "ckpt_reset")
    snap = str(tmp_path / "snap_reset")
    q = replay_edits_stream(spark, flat, ckpt, snap)
    assert q.awaitTermination(120), "first stream did not drain"
    # retention keeps v1/v2; v0 is pruned — exactly the reset hazard shape
    assert not os.path.exists(snap + "_v0")
    head_before = {
        (r["path"], r["exists"])
        for r in load_latest_snapshot(spark, snap).collect()
    }
    shutil.rmtree(ckpt)  # the reset: fresh checkpoint, same snapshot store
    q2 = replay_edits_stream(spark, flat, str(tmp_path / "ckpt_reset2"), snap)
    with pytest.raises(StreamingQueryException, match="version collision"):
        q2.awaitTermination(120)
    # the committed head is intact and still served
    head_after = {
        (r["path"], r["exists"])
        for r in load_latest_snapshot(spark, snap).collect()
    }
    assert head_after == head_before


def test_assemble_refuses_prev_equals_final(tmp_path):
    """Defense-in-depth under the redelivery skip: assembling a version from
    itself must raise, never rmtree-then-hardlink from the deleted dir."""
    import os

    from hadoop_hdfs_spark.streaming.replay import _assemble_incremental_version

    final = str(tmp_path / "snap_v3")
    os.makedirs(final)
    open(os.path.join(final, "_SUCCESS"), "w").close()
    tmp = str(tmp_path / "tmp_v3")
    os.makedirs(tmp)
    with pytest.raises(ValueError, match="from itself"):
        _assemble_incremental_version(tmp, final, final, lambda v: False)
    assert os.path.exists(os.path.join(final, "_SUCCESS"))


def test_rename_chain_through_occupied_path_is_deterministic(spark):
    """An in-batch rename CHAIN through an occupied intermediate path must
    resolve like the sequential loader: /a->/b replaces the incumbent /b
    row, then /b->/c moves the survivor — so /c must carry /a's
    attributes, never the dead /b row's (pre-fix, both rows reached /c
    with the same final-rule authority and row_number picked one
    arbitrarily)."""
    state = spark.createDataFrame(
        [("/a", True, 2, 0), ("/b", True, 3, 0)],
        "path STRING, exists BOOLEAN, replication INT, exist_txid LONG",
    )
    batch = spark.createDataFrame(
        [
            (1, "OP_RENAME", 1000, "/a", "/b", None),
            (2, "OP_RENAME", 2000, "/b", "/c", None),
        ],
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, replication INT",
    )
    for _ in range(3):  # the pre-fix failure was nondeterministic
        out = {r["path"]: r["replication"] for r in apply_edits_batch(state, batch).collect()}
        assert set(out) == {"/c"}
        assert out["/c"] == 2  # /a's row survived the chain
    # and a swap via a temp path keeps both rows, attributes crossed
    swap = spark.createDataFrame(
        [
            (1, "OP_RENAME", 1000, "/a", "/tmp_swap", None),
            (2, "OP_RENAME", 2000, "/b", "/a", None),
            (3, "OP_RENAME", 3000, "/tmp_swap", "/b", None),
        ],
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, replication INT",
    )
    out = {r["path"]: r["replication"] for r in apply_edits_batch(state, swap).collect()}
    assert out == {"/a": 3, "/b": 2}


def test_replay_redelivery_onto_legacy_empty_marker_is_skipped(spark, tmp_path):
    """Upgrade path: a version committed by a PRE-identity release wrote a
    bare _SUCCESS (no checkpoint identity). Redelivery of that batch id
    after the upgrade must keep the old skip semantics — an empty marker is
    legacy-unknown, not a different stream — or the ordinary at-least-once
    crash-redelivery becomes a permanent stream failure on upgrade."""
    import os

    edits_dir = str(tmp_path / "edits_legacy_marker")
    spark.createDataFrame(
        [(1, "OP_ADD", 1000, "/a/x", None, 2)],
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, replication INT",
    ).coalesce(1).write.parquet(edits_dir)
    snap = str(tmp_path / "snap_legacy_marker")
    ckpt = str(tmp_path / "ckpt_legacy_marker")
    os.makedirs(snap + "_v0")
    open(os.path.join(snap + "_v0", "_SUCCESS"), "w").close()  # legacy: empty
    q = replay_edits_stream(spark, edits_dir, ckpt, snap)
    assert q.awaitTermination(120), "stream did not drain"
    assert os.listdir(snap + "_v0") == ["_SUCCESS"]  # left byte-untouched


def test_subtree_delete_stamps_authority_on_killed_rows(spark):
    """A subtree delete must bump the killed row's exist_txid to the
    delete's txid: otherwise an out-of-order segment whose create carries
    a txid above the row's ORIGINAL create authority (but below the
    delete's) resurrects the killed row, violating the persisted-authority
    guarantee for existence."""
    sch = (
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, "
        "replication INT"
    )
    empty = spark.createDataFrame([], "path STRING, exists BOOLEAN, replication INT")
    seg_a = spark.createDataFrame([(4, "OP_ADD", 4000, "/d/x", None, 2)], sch)
    seg_c = spark.createDataFrame([(9, "OP_DELETE", 9000, "/d", None, None)], sch)
    seg_b = spark.createDataFrame([(6, "OP_ADD", 6000, "/d/x", None, 2)], sch)
    state = apply_edits_batch(apply_edits_batch(empty, seg_a), seg_c)
    killed = {r["path"]: r for r in state.collect()}
    assert killed["/d/x"]["exists"] is False
    assert killed["/d/x"]["exist_txid"] == 9  # the delete's authority
    # the out-of-order middle segment must NOT resurrect the row
    out = {r["path"]: r for r in apply_edits_batch(state, seg_b).collect()}
    assert out["/d/x"]["exists"] is False
    # while a genuinely newer create does
    seg_d = spark.createDataFrame([(12, "OP_ADD", 12000, "/d/x", None, 2)], sch)
    out2 = {r["path"]: r for r in apply_edits_batch(state, seg_d).collect()}
    assert out2["/d/x"]["exists"] is True


def test_latest_genstamp_skips_null_payloads(spark):
    """The last NON-NULL payload wins (the module's uniform attribute
    rule) — a higher-txid OP_SET_GENSTAMP carrying a NULL stamp must not
    erase the valid one before it."""
    from hadoop_hdfs_spark.streaming.replay import latest_genstamp

    edits = spark.createDataFrame(
        [(5, "OP_SET_GENSTAMP", 1007), (9, "OP_SET_GENSTAMP", None)],
        "txid LONG, op STRING, gen_stamp LONG",
    )
    assert latest_genstamp(edits) == 1007


def test_committed_versions_with_glob_metacharacters(tmp_path):
    """Snapshot paths containing glob metacharacters ([1] etc.) must not
    make committed versions invisible — that silently degrades every
    batch to a full rewrite against EMPTY state."""
    import os

    from hadoop_hdfs_spark.streaming.replay import _latest_snapshot_path

    snap = str(tmp_path / "run[1]" / "snap")
    os.makedirs(snap + "_v3")
    open(os.path.join(snap + "_v3", "_SUCCESS"), "w").close()
    assert _latest_snapshot_path(snap) == snap + "_v3"


def test_replay_bucket_relayout_triggers_full_rewrite(spark, tmp_path):
    """Restarting the stream with different (b1, b2) against an existing
    pbucket store must take the full-rewrite migration path: the bucket
    algebra (touched sets, pruning, hardlinks) is only valid at the
    writer's layout, and mixing numberings would serve duplicate rows."""
    import glob as _glob
    import os

    sch = (
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, "
        "replication INT"
    )
    edits_dir = str(tmp_path / "edits_relayout")
    spark.createDataFrame(
        [(i, "OP_ADD", 1000 * i, f"/m/d{i}/f", None, 2) for i in range(1, 9)],
        sch,
    ).coalesce(1).write.parquet(edits_dir)
    snap = str(tmp_path / "snap_relayout")
    ckpt = str(tmp_path / "ckpt_relayout")
    q = replay_edits_stream(spark, edits_dir, ckpt, snap)
    assert q.awaitTermination(120), "first stream did not drain"
    # append a second segment and restart at a DIFFERENT bucket layout
    spark.createDataFrame(
        [(20, "OP_ADD", 20000, "/m/d1/g", None, 2)], sch
    ).coalesce(1).write.mode("append").parquet(edits_dir)
    q2 = replay_edits_stream(spark, edits_dir, ckpt, snap, b1=4, b2=4)
    assert q2.awaitTermination(120), "relayout stream did not drain"
    snap_df = load_latest_snapshot(spark, snap)
    rows = snap_df.collect()
    paths = [r["path"] for r in rows]
    assert len(paths) == len(set(paths)), "relayout served duplicate rows"
    assert f"/m/d1/g" in paths and all(r["exists"] for r in rows)
    # the new version is fully re-bucketed under the 4x4 numbering
    latest = max(
        _glob.glob(_glob.escape(snap) + "_v*"),
        key=lambda p: int(p.rsplit("_v", 1)[1]),
    )
    buckets = [
        int(os.path.basename(d).split("=", 1)[1])
        for d in _glob.glob(os.path.join(_glob.escape(latest), "pbucket=*"))
    ]
    assert buckets and all(b < 16 for b in buckets), buckets
    with open(os.path.join(latest, "_SUCCESS")) as fh:
        assert "layout=pbucket:4x4" in fh.read()


def test_replay_legacy_marker_without_layout_forces_full_rewrite(
    spark, tmp_path
):
    """A committed pbucket version whose _SUCCESS lacks a layout line (a
    pre-layout-stamp writer) must take the full-rewrite migration path
    EVEN under default (b1, b2) (ADVICE r9): a legacy store written with
    non-default constants is indistinguishable from one written with
    defaults, so the incremental bucket algebra cannot be trusted. Full
    rewrite is observable as zero hardlinks into the prior version and a
    freshly stamped layout line."""
    import os

    sch = (
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, "
        "replication INT"
    )
    edits_dir = str(tmp_path / "edits_legacy")
    spark.createDataFrame(
        [(i, "OP_ADD", 1000 * i, f"/lg/d{i}/f", None, 2) for i in range(1, 9)],
        sch,
    ).coalesce(1).write.parquet(edits_dir)
    snap = str(tmp_path / "snap_legacy")
    ckpt = str(tmp_path / "ckpt_legacy")
    q = replay_edits_stream(spark, edits_dir, ckpt, snap)
    assert q.awaitTermination(120), "first stream did not drain"

    # strip the layout stamp: keep only the checkpoint-identity line, as a
    # pre-layout-stamp release would have written it
    marker = os.path.join(f"{snap}_v0", "_SUCCESS")
    with open(marker) as fh:
        ident = fh.read().splitlines()[0]
    with open(marker, "w") as fh:
        fh.write(ident)

    # second segment touches ONE bucket — an incremental pass would
    # hardlink every other bucket from v0
    spark.createDataFrame(
        [(20, "OP_ADD", 20000, "/lg/d1/g", None, 2)], sch
    ).coalesce(1).write.mode("append").parquet(edits_dir)
    q2 = replay_edits_stream(spark, edits_dir, ckpt, snap)  # default layout
    assert q2.awaitTermination(120), "legacy-marker stream did not drain"

    latest = max(
        (d for d in os.listdir(tmp_path) if d.startswith("snap_legacy_v")),
        key=lambda d: int(d.rsplit("_v", 1)[1]),
    )
    vdir = os.path.join(tmp_path, latest)
    assert latest != "snap_legacy_v0"
    for root, _dirs, files in os.walk(vdir):
        for f in files:
            if f.startswith(".") or f == "_SUCCESS":
                continue
            assert os.stat(os.path.join(root, f)).st_nlink == 1, (
                f"{root}/{f} hardlinked from the legacy version — the "
                "incremental path ran against an unstamped store"
            )
    with open(os.path.join(vdir, "_SUCCESS")) as fh:
        assert "layout=pbucket:" in fh.read()
    snap_df = load_latest_snapshot(spark, snap)
    paths = [r["path"] for r in snap_df.collect()]
    assert "/lg/d1/g" in paths and len(paths) == len(set(paths)) == 9


def test_out_of_order_attribute_segment_rejected(spark, tmp_path):
    """The T1 ordering contract is ENFORCED, not just documented (judge
    r9 #5): a late-arriving segment whose txids fall at/below the
    snapshot store's committed high-water mark is rejected loudly when it
    carries attribute/rename ops (no persisted per-attribute authority —
    arrival-order apply could regress newer state), while an
    existence-only late segment still applies under exist_txid
    authority."""
    import time as _t

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    sch = (
        "txid LONG, op STRING, ts_ms LONG, path STRING, dst STRING, "
        "replication INT, perm STRING, owner STRING"
    )

    def seg(edits_dir, rows):
        spark.createDataFrame(rows, sch).coalesce(1).write.mode(
            "append"
        ).parquet(edits_dir)
        _t.sleep(1.1)  # distinct mtime -> deterministic processing order

    # --- attribute op below the high-water mark: loud failure
    edits1 = str(tmp_path / "edits_ooo_attr")
    seg(edits1, [
        (10, "OP_MKDIR", 10000, "/o", None, None, None, None),
        (12, "OP_ADD", 12000, "/o/f", None, 2, None, None),
        (13, "OP_SET_OWNER", 13000, "/o/f", None, None, None, "alice"),
    ])
    snap1, ckpt1 = str(tmp_path / "snap_ooo"), str(tmp_path / "ckpt_ooo")
    q = replay_edits_stream(spark, edits1, ckpt1, snap1)
    assert q.awaitTermination(120), "first segment did not drain"
    seg(edits1, [
        (5, "OP_SET_OWNER", 5000, "/o/f", None, None, None, "mallory"),
    ])
    q2 = replay_edits_stream(spark, edits1, ckpt1, snap1)
    with pytest.raises(StreamingQueryException, match="out-of-order"):
        q2.awaitTermination(120)
        q2.processAllAvailable()
    # state unchanged: the bad batch wrote no new version
    owner = {
        r["path"]: r["owner"]
        for r in load_latest_snapshot(spark, snap1).collect()
    }
    assert owner["/o/f"] == "alice"

    # --- existence-only late segment: accepted, authority decides
    edits2 = str(tmp_path / "edits_ooo_exist")
    seg(edits2, [
        (10, "OP_MKDIR", 10000, "/p", None, None, None, None),
        (12, "OP_ADD", 12000, "/p/f", None, 2, None, None),
    ])
    snap2, ckpt2 = str(tmp_path / "snap_ooo2"), str(tmp_path / "ckpt_ooo2")
    q3 = replay_edits_stream(spark, edits2, ckpt2, snap2)
    assert q3.awaitTermination(120), "exist segment 1 did not drain"
    seg(edits2, [
        (5, "OP_DELETE", 5000, "/p/f", None, None, None, None),  # stale
        (6, "OP_ADD", 6000, "/p/g", None, 1, None, None),  # novel path
    ])
    q4 = replay_edits_stream(spark, edits2, ckpt2, snap2)
    assert q4.awaitTermination(120), "late existence segment rejected"
    st = {
        r["path"]: r["exists"]
        for r in load_latest_snapshot(spark, snap2).collect()
    }
    assert st["/p/f"] is True, "stale delete regressed newer existence"
    assert st.get("/p/g") is True, "novel late create dropped"
