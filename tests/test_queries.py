"""The local mirror of the driver's correctness gate: every registered query
runs under Spark AND its DuckDB oracle; results must hash-match."""

from __future__ import annotations

import pytest

from hadoop_hdfs_spark import registry
from hadoop_hdfs_spark.testing import assert_query_matches_oracle

QUERIES = registry.queries()
ORACLES = registry.oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    if name not in ORACLES:
        # rows-only check (non-SQL-expressible op)
        n = QUERIES[name](spark, sf_dir).count()
        assert n >= 0
        return
    n = assert_query_matches_oracle(spark, QUERIES[name], ORACLES[name], sf_dir)
    assert n > 0, f"{name} returned no rows — trivial result proves nothing"

def test_pivot_unpivot_roundtrip(spark, sf_dir):
    """Unpivot (melt) is pivot's inverse: melting the opcode matrix back to
    long form must reproduce the plain groupBy counts exactly."""
    from pyspark.sql import functions as F

    from hadoop_hdfs_spark import registry

    from hadoop_hdfs_spark.operators.events import _OPCODES

    wide = registry.queries()["t12_opcode_hour_pivot"](spark, sf_dir)
    long = (
        wide.unpivot(
            "hour_bucket",
            [op.lower() for op in _OPCODES],
            "op",
            "n",
        )
        .filter(F.col("n") > 0)
        .select("hour_bucket", F.upper("op").alias("op"), "n")
    )
    e = registry._entities(spark, sf_dir)
    direct = (
        e["edits"]
        .groupBy(
            (F.col("ts_ms") / 3600000).cast("long").alias("hour_bucket"), "op"
        )
        .agg(F.count("*").alias("n"))
    )
    assert long.exceptAll(direct).count() == 0
    assert direct.exceptAll(long).count() == 0


def test_epoch_shuffle_is_permutation(spark, sf_dir):
    """Each epoch's positions are exactly 1..N (a true permutation) and the
    two epochs order the corpus differently (the re-shuffle is real)."""
    from pyspark.sql import functions as F

    out = QUERIES["c_epoch_shuffle"](spark, sf_dir).cache()
    n_docs = registry._entities(spark, sf_dir)["documents"].count()
    per = (
        out.groupBy("epoch")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("pos").alias("n_pos"),
            F.min("pos").alias("lo"),
            F.max("pos").alias("hi"),
        )
        .collect()
    )
    assert len(per) == 2
    for r in per:
        assert r.n == n_docs and r.n_pos == n_docs
        assert r.lo == 1 and r.hi == n_docs
    # the epoch-0 and epoch-1 orders must differ for some doc
    e0 = out.filter("epoch = 0").select("doc_id", "pos")
    e1 = out.filter("epoch = 1").select(
        "doc_id", F.col("pos").alias("pos1")
    )
    moved = e0.join(e1, "doc_id").filter("pos <> pos1").count()
    assert moved > 0
    out.unpersist()


def test_chunk_windows_cover_every_token(spark, sf_dir):
    """Stride-16 windows of length 32 leave no token uncovered: the summed
    coverage (chunks x window minus overlaps) must reach each doc's token
    count, and the final chunk must end at the last token."""
    from pyspark.sql import functions as F

    ch = QUERIES["t_chunk_windows"](spark, sf_dir)
    agg = ch.groupBy("doc_id").agg(
        F.max("chunk_idx").alias("last_idx"),
        F.max(
            F.col("chunk_idx") * 16 + F.col("n_chunk_tokens")
        ).alias("covered_to"),
    )
    docs = registry._entities(spark, sf_dir)["documents"].select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    bad = (
        agg.join(docs, "doc_id")
        .filter(
            (F.col("covered_to") != F.col("n_tokens"))
            | (F.col("last_idx") * 16 >= F.col("n_tokens"))
        )
        .count()
    )
    assert bad == 0


def test_w2_decommission_only_block_is_priority_zero(spark):
    """UnderReplicatedBlocks.getPriority:92-97 + BlockManager.countNodes:
    1726-1750: a replica on a DECOMMISSION* node is NOT live, so a block
    whose only copies sit on draining nodes has curReplicas=0/decom>0 and
    must land in priority 0 (highest urgency) — and must be schedulable
    by t6 (the draining node is the copy source). Pre-fix, live counted
    every non-corrupt replica and the branch was unreachable."""
    from pyspark.sql import functions as F

    from hadoop_hdfs_spark.operators.blocks import w2_replication_priority

    e = {
        # seq/num_bytes: the blocksMap pin the queue reads groups by them
        "blocks": spark.createDataFrame(
            [(1, 100, 0, 1), (2, 100, 1, 1), (3, 100, 2, 1)],
            "block_id LONG, file_id LONG, seq INT, num_bytes LONG",
        ),
        "replicas": spark.createDataFrame(
            # blk 1: all copies on draining nodes; blk 2: healthy x3;
            # blk 3: only a corrupt replica
            [(1, "dnA", False), (1, "dnB", False),
             (2, "dn1", False), (2, "dn2", False), (2, "dn3", False),
             (3, "dn1", True)],
            "block_id LONG, datanode_id STRING, is_corrupt BOOLEAN",
        ),
        "datanodes": spark.createDataFrame(
            [("dnA", "DECOMMISSION_INPROGRESS", "r1"),
             ("dnB", "DECOMMISSIONED", "r2"),
             ("dn1", "NORMAL", "r1"), ("dn2", "NORMAL", "r2"),
             ("dn3", "NORMAL", "r3")],
            "datanode_id STRING, admin_state STRING, rack STRING",
        ),
        "inodes": spark.createDataFrame(
            [(100, 3)], "id LONG, replication INT"
        ),
    }
    rows = {r["block_id"]: r for r in w2_replication_priority(e).collect()}
    assert rows[1]["priority"] == 0 and rows[1]["live"] == 0  # decom-only
    assert rows[3]["priority"] == 4  # no usable replica at all
    assert 2 not in rows  # healthy, spread over 3 racks: not queued


def test_t24_recovery_ladder_all_branches(spark):
    """recoverLeaseInternal's four outcomes (FSNamesystem.java:1521-1596)
    on synthetic entities — the fixture rarely produces an active lease
    whose last block is UNDER_RECOVERY, so the RECOVERY_IN_PROGRESS branch
    is pinned here: the RWR check applies ONLY below the soft limit, and
    only to the LAST block (an RWR on an earlier block must not trip it)."""
    from hadoop_hdfs_spark.entities import LEASE_HARD_MS, LEASE_SOFT_MS, NOW_MS
    from hadoop_hdfs_spark.operators.cluster import t24_lease_recovery

    def renewed(age_ms):
        return NOW_MS - age_ms

    e = {
        "leases": spark.createDataFrame(
            [("c1", "/f/hard", renewed(LEASE_HARD_MS + 1)),
             ("c2", "/f/soft", renewed(LEASE_SOFT_MS + 1)),
             ("c3", "/f/rwr", renewed(1000)),
             ("c4", "/f/active", renewed(1000)),
             ("c5", "/f/earlier_rwr", renewed(1000))],
            "holder STRING, path STRING, last_renewed_ms LONG",
        ),
        "inodes": spark.createDataFrame(
            [(1, "/f/hard"), (2, "/f/soft"), (3, "/f/rwr"),
             (4, "/f/active"), (5, "/f/earlier_rwr")],
            "id LONG, path STRING",
        ),
        "blocks": spark.createDataFrame(
            # file 5: RWR sits on seq 0, last block (seq 1) is healthy
            [(10, 1, 0), (20, 2, 0), (30, 3, 0),
             (40, 4, 0), (50, 5, 0), (51, 5, 1)],
            "block_id LONG, file_id LONG, seq INT",
        ),
        "replicas": spark.createDataFrame(
            [(10, "FINALIZED"), (20, "FINALIZED"), (30, "RWR"),
             (40, "FINALIZED"), (50, "RWR"), (51, "FINALIZED")],
            "block_id LONG, state STRING",
        ),
    }
    rows = {r["path"]: r for r in t24_lease_recovery(e).collect()}
    assert rows["/f/hard"]["verdict"] == "MONITOR_RELEASED"
    assert rows["/f/soft"]["verdict"] == "RECOVERY_STARTED"
    assert rows["/f/rwr"]["verdict"] == "RECOVERY_IN_PROGRESS"
    assert rows["/f/active"]["verdict"] == "DENIED_ALREADY_BEING_CREATED"
    assert rows["/f/earlier_rwr"]["verdict"] == "DENIED_ALREADY_BEING_CREATED"
    assert rows["/f/earlier_rwr"]["last_block_id"] == 51


def test_t25_token_ladder_all_branches(spark):
    """DelegationTokenSecretManager fold on synthetic token ops — pins the
    branches the fixture cannot isolate: the maxDate CAP (a renewal logged
    past maxDate must not resurrect the token — renewToken's
    min(maxDate, now + interval)), cancel-wins (a cancel beats any
    renewal), and the orphan-ref row (renew/cancel with no issued
    target, the InvalidToken branch)."""
    from hadoop_hdfs_spark.operators.cluster import t25_token_expiry

    GET, REN, CAN = (
        "OP_GET_DELEGATION_TOKEN",
        "OP_RENEW_DELEGATION_TOKEN",
        "OP_CANCEL_DELEGATION_TOKEN",
    )
    # now = max ts + 1 = 5001
    rows = [
        (GET, 1000, 1, "u1", 99999, 6000, 1),   # active (expiry0 past now)
        (GET, 1000, 2, "u1", 99999, 4000, 1),   # expired, never renewed
        (GET, 1000, 3, "u1", 4500, 3000, 4),    # renewed past maxDate ...
        (REN, 5000, 3, "u1", None, 9000, None), # ... cap -> still expired
        (GET, 1000, 4, "u2", 99999, 4000, 2),   # renewal saves it -> active
        (REN, 4800, 4, "u2", None, 8000, None),
        (GET, 1000, 5, "u2", 99999, 9000, 3),   # cancelled despite expiry
        (CAN, 2000, 5, "u2", None, None, None),
        (REN, 3000, None, None, None, 7000, None),  # orphan renew
        (CAN, 3500, None, None, None, None, None),  # orphan cancel
    ]
    e = {
        "token_ops": spark.createDataFrame(
            rows,
            "op STRING, ts_ms LONG, token_seq LONG, owner STRING, "
            "max_ms LONG, expiry_ms LONG, master_key_id INT",
        )
    }
    got = {r["owner"]: r for r in t25_token_expiry(e).collect()}
    u1, u2, orphan = got["u1"], got["u2"], got[None]
    assert (u1["n_tokens"], u1["n_active"], u1["n_expired"],
            u1["n_cancelled"]) == (3, 1, 2, 0)
    assert u1["n_renewals"] == 1 and u1["n_keys_pinned"] == 1
    assert (u2["n_tokens"], u2["n_active"], u2["n_expired"],
            u2["n_cancelled"]) == (2, 1, 0, 1)
    assert u2["n_renewals"] == 1 and u2["n_keys_pinned"] == 1
    assert orphan["n_orphan_refs"] == 2 and orphan["n_tokens"] == 0


def test_quality_cascade_funnel_algebra(spark, sf_dir):
    """Funnel invariants that hold for ANY corpus (engine-independent, so
    they also guard the shared-SQL blind spot): per source, the funnel
    telescopes — n_entering at a stage equals that stage's removals plus
    the next present stage's n_entering; the first present stage's
    n_entering equals the source's total doc count; and every doc is
    attributed exactly once (stage n_docs sum to the corpus size)."""
    from pyspark.sql import functions as F

    from hadoop_hdfs_spark import registry

    rows = (
        registry.queries()["c_quality_filter_cascade"](spark, sf_dir)
        .orderBy("source", "stage_idx")
        .collect()
    )
    docs = registry._entities(spark, sf_dir)["documents"]
    totals = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    assert set(by_source) == set(totals)
    for source, srows in by_source.items():
        assert srows[0]["n_entering"] == totals[source]
        assert sum(r["n_docs"] for r in srows) == totals[source]
        for cur, nxt in zip(srows, srows[1:]):
            assert cur["n_entering"] - cur["n_docs"] == nxt["n_entering"]
        last = srows[-1]
        assert last["n_entering"] == last["n_docs"]  # funnel bottoms out


def test_t15_no_genstamp_op_emits_zero_rows(spark):
    """With no OP_SET_GENSTAMP in the log there is no authority: both
    engines must emit ZERO rows (the ungrouped max's NULL row is dropped;
    the oracle's LIMIT-1 subquery is empty)."""
    from hadoop_hdfs_spark.operators.cluster import t15_genstamp_blocks

    e = {
        "edits": spark.createDataFrame(
            [(1, "OP_ADD", 5)], "txid LONG, op STRING, gen_stamp LONG"
        ),
        "blocks": spark.createDataFrame([(1, 7)], "block_id LONG, gen_stamp LONG"),
    }
    assert t15_genstamp_blocks(e).count() == 0


def test_au_ip_profile_branches(spark):
    """All au_ip_profile verdict branches on synthetic audit records:
    single-IP principal (never dispersed), dominant-IP principal (>= 80%
    share, not dispersed), dispersed principal, and an op-count tie that
    must break to the lexicographically lowest ip."""
    from hadoop_hdfs_spark.operators.audit import au_ip_profile

    rows = []
    rows += [("solo", "10.0.0.1")] * 4                      # 1 ip
    rows += [("dom", "10.0.0.2")] * 8 + [("dom", "10.0.0.3")] * 2
    rows += [("disp", "10.0.0.4")] * 3 + [("disp", "10.0.0.5")] * 3 \
        + [("disp", "10.0.0.6")] * 2
    rows += [("tie", "10.0.0.9")] * 3 + [("tie", "10.0.0.8")] * 3
    e = {
        "audit": spark.createDataFrame(
            [(i, u, ip) for i, (u, ip) in enumerate(rows)],
            "audit_id LONG, ugi STRING, ip STRING",
        )
    }
    got = {r.ugi: r for r in au_ip_profile(e).collect()}
    assert (got["solo"].n_ips, got["solo"].dispersed) == (1, False)
    assert got["solo"].top_ip_share_permille == 1000
    assert (got["dom"].top_ip, got["dom"].dispersed) == ("10.0.0.2", False)
    assert got["dom"].top_ip_share_permille == 800
    assert got["disp"].dispersed and got["disp"].n_ips == 3
    assert got["disp"].top_ip == "10.0.0.4"                 # 3-3 tie, lowest
    assert got["tie"].top_ip == "10.0.0.8"                  # tie -> lowest ip


def test_t25_t26_cross_gate_containments(spark, sf_dir):
    """The documented semantic difference between the token gates has
    provable DIRECTIONS, pinned here on the fixture:

    - sequential authority only kills MORE: every token the whole-log
      fold (t25) classifies expired or cancelled is dead in the monitor
      (t26) too — per owner, t26's dead count >= t25's
      n_expired + n_cancelled (equivalently: t26-alive subset of
      t25-active);
    - a sequentially-valid cancel is also a log-fold cancel: per owner,
      t26's cancelled count <= t25's n_cancelled."""
    from hadoop_hdfs_spark import registry

    qs = registry.queries()
    t25 = {
        r["owner"]: r
        for r in qs["t25_token_expiry"](spark, sf_dir).collect()
        if r["owner"] is not None
    }
    t26 = qs["t26_token_expiry_stream"](spark, sf_dir).collect()
    dead = {}
    cancelled = {}
    for r in t26:
        dead[r["owner"]] = dead.get(r["owner"], 0) + 1
        if r["status"] == "cancelled":
            cancelled[r["owner"]] = cancelled.get(r["owner"], 0) + 1
    assert t25, "fixture must issue tokens"
    for owner, row in t25.items():
        assert dead.get(owner, 0) >= row["n_expired"] + row["n_cancelled"], owner
        assert cancelled.get(owner, 0) <= row["n_cancelled"], owner
        # and the monitor can never kill more than the owner ever issued
        assert dead.get(owner, 0) <= row["n_tokens"], owner
