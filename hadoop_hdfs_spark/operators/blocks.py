"""Block / replica analytics (SURVEY.md §2.1 S3/S10, §2.2 F5-F7, §2.3 J1-J3/J5,
§2.4 A3/A9/A10/A11/A12, §2.5 W1/W2/W5/W6, §2.6 U3).

"live" replica throughout = a replica that is not corrupt (the reference
counts liveness from BlocksMap minus CorruptReplicasMap,
BlockManager.java:441-473).

Scale notes: every query below is a single equi-join tree on block_id /
file_id followed by one aggregation — Catalyst plans hash/sort-merge joins
partitioned on the join key, so the shuffle count stays constant as data
grows. The only broadcast candidates are `datanodes` (node-count-sized) and
single-row aggregates; both stay under the auto-broadcast threshold at any
scale.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..entities import HEARTBEAT_EXPIRY_MS, NOW_MS
from ..registry import eager_cache_thunk, register
from ..session import fan_out

# Shared DuckDB fragment: per-block replica rollup.
_BLOCK_REPL = """
  SELECT b.block_id, b.file_id, b.seq, b.num_bytes,
         CAST(COUNT(r.datanode_id) AS BIGINT)                            AS total_replicas,
         CAST(SUM(CASE WHEN NOT r.is_corrupt THEN 1 ELSE 0 END) AS BIGINT) AS live
  FROM blocks b LEFT JOIN replicas r ON r.block_id = b.block_id
  GROUP BY b.block_id, b.file_id, b.seq, b.num_bytes
"""


def _block_replica_counts(e) -> DataFrame:
    """blocks + per-block replica folds (counts, copy source, racks,
    state-aware counts) — the rollup most queries start from.

    Pinned per session since r11 (the blocksMap-in-RAM analog, deferred
    from r8 for rotation-budget reasons — this optimization round has the
    slack): one blocks|><|replicas shuffle + rollup per session instead
    of one per caller per pass cuts the shared exchange out of the
    registered callers' warm paths (f5, j5, a3, u3, w6, w6b, t6 — guide
    §2.4: two operations keyed the same way share one exchange; here the
    sharing is across queries). Frame size is block-population-scale
    (12 narrow columns).

    ``min_live_source`` (min non-corrupt replica's datanode, NULL when
    none) rides along for t6_replication_work's copy-source choice, and
    ``n_live_racks`` (distinct racks holding a non-corrupt replica, 0
    when none) for j5/j12's placement verdicts — the same per-block folds
    the blocksMap answers in RAM — instead of separate full replica
    rollups per caller per pass. The rack leg left-joins the datanode dim
    (broadcast): a replica on an unknown datanode still counts in
    total_replicas/live but contributes no rack, exactly the oracles'
    inner replicas|><|datanodes rack derivation.

    ``live_normal``/``decom_replicas`` are the admin-state-aware countNodes
    pair (BlockManager.countNodes reads each replica's node state off the
    blocksMap exactly like this): non-corrupt on a NORMAL node vs
    non-corrupt on a DECOMMISSION* node — t8b's readiness verdict reads
    them off the pin instead of windowing a per-pass replica scan. A
    replica whose datanode is unknown to the dim contributes to
    total_replicas/live but to neither state-aware count nor any rack —
    the oracles' inner replicas|><|datanodes derivations. Every consumer
    reads this one pin since r12 (a10/a18's r11 rotation-budget copy of
    the bare rollup is folded back in).

    ``rack_lo``/``rack_hi`` (min/max rack of the non-corrupt replicas on
    NORMAL nodes, NULL when none) are the W2 queue's rack-deficit test:
    with ``live_normal`` and ``decom_replicas`` they are every fold the
    queue needs, so it is this pin joined to ``inodes``.
    """
    blocks, replicas, datanodes = e["blocks"], e["replicas"], e["datanodes"]
    normal_rack = F.when(
        ~F.col("is_corrupt") & (F.col("admin_state") == "NORMAL"), F.col("rack")
    )
    return eager_cache_thunk(
        e,
        "block_repl",
        lambda: blocks.join(replicas, "block_id", "left")
        .join(
            F.broadcast(datanodes.select("datanode_id", "rack", "admin_state")),
            "datanode_id",
            "left",
        )
        .groupBy("block_id", "file_id", "seq", "num_bytes")
        .agg(
            F.count("datanode_id").alias("total_replicas"),
            F.sum(F.when(~F.col("is_corrupt"), 1).otherwise(0)).alias("live"),
            F.min(
                F.when(~F.col("is_corrupt"), F.col("datanode_id"))
            ).alias("min_live_source"),
            F.size(
                F.collect_set(F.when(~F.col("is_corrupt"), F.col("rack")))
            )
            .cast("long")
            .alias("n_live_racks"),
            F.sum(
                F.when(
                    ~F.col("is_corrupt") & (F.col("admin_state") == "NORMAL"),
                    1,
                ).otherwise(0)
            ).alias("live_normal"),
            F.sum(
                F.when(
                    ~F.col("is_corrupt") & (F.col("admin_state") != "NORMAL"),
                    1,
                ).otherwise(0)
            ).alias("decom_replicas"),
            F.min(normal_rack).alias("rack_lo"),
            F.max(normal_rack).alias("rack_hi"),
        ),
    )


# The former standalone _block_live_racks pin (per-block distinct live
# racks) merged into _block_replica_counts in r11: j5 and j12, its only
# consumers, read the blocksMap pin's n_live_racks column directly, so
# their warm plans lose the block_id re-join against a second pin.


@register(
    "w1_block_offsets",
    oracle="""
SELECT block_id, file_id, seq,
       CAST(COALESCE(SUM(num_bytes) OVER (
         PARTITION BY file_id ORDER BY seq
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset,
       CAST(COALESCE(SUM(num_bytes) OVER (
         PARTITION BY file_id ORDER BY seq
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + num_bytes AS BIGINT)                                           AS end_offset
FROM blocks
""",
    doc="W1 offset->block mapping (BlockManager.java:410-437, "
    "LocatedBlocks.findBlock binary search LocatedBlocks.java:117-138): "
    "cumulative byte offset of every block via a running-sum window.",
)
def w1_block_offsets(e) -> DataFrame:
    w = Window.partitionBy("file_id").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, -1
    )
    start = F.coalesce(F.sum("num_bytes").over(w), F.lit(0)).cast("long")
    return e["blocks"].select(
        "block_id",
        "file_id",
        "seq",
        start.alias("start_offset"),
        (start + F.col("num_bytes")).cast("long").alias("end_offset"),
    )


@register(
    "s3_pread_range",
    oracle="""
SELECT block_id, file_id, seq, start_offset, end_offset
FROM (
  SELECT block_id, file_id, seq,
         CAST(COALESCE(SUM(num_bytes) OVER (
           PARTITION BY file_id ORDER BY seq
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset,
         CAST(COALESCE(SUM(num_bytes) OVER (
           PARTITION BY file_id ORDER BY seq
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + num_bytes AS BIGINT)                                           AS end_offset
  FROM blocks
) o
WHERE start_offset < 157286400 AND end_offset > 52428800
""",
    doc="S3 positional read (DFSInputStream.fetchBlockByteRange:655-762): "
    "select the blocks of every file overlapping byte range "
    "[50 MiB, 150 MiB) — the pread block-selection predicate.",
)
def s3_pread_range(e, off: int = 52428800, end: int = 157286400) -> DataFrame:
    offs = w1_block_offsets(e)
    return offs.filter((F.col("start_offset") < end) & (F.col("end_offset") > off))


@register(
    "s10_file_tail",
    oracle="""
SELECT file_id, block_id, seq
FROM (
  SELECT file_id, block_id, seq,
         ROW_NUMBER() OVER (PARTITION BY file_id ORDER BY seq DESC) AS rn
  FROM blocks
) t
WHERE rn <= 2
""",
    doc="S10 file tail (webapps/datanode/tail.jsp): last blocks of every "
    "file — per-group top-k by descending offset.",
)
def s10_file_tail(e) -> DataFrame:
    w = Window.partitionBy("file_id").orderBy(F.col("seq").desc())
    return (
        e["blocks"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("file_id", "block_id", "seq")
    )


@register(
    "f6_block_id_projection",
    oracle="SELECT block_id, gen_stamp FROM blocks",
    doc="F6 id-only projection (Block.writeId Block.java:182-191): column "
    "pruning down to (blockId, genstamp).",
)
def f6_block_id_projection(e) -> DataFrame:
    return e["blocks"].select("block_id", "gen_stamp")


@register(
    "f7_block_name_codec",
    oracle="""
SELECT block_id,
       'blk_' || CAST(block_id AS STRING) AS blk_name,
       'blk_' || CAST(block_id AS STRING) || '_'
              || CAST(gen_stamp AS STRING) || '.meta' AS meta_name,
       CAST(regexp_extract('blk_' || CAST(block_id AS STRING), 'blk_(-?[0-9]+)', 1) AS BIGINT) AS parsed_id,
       CAST(regexp_extract('blk_' || CAST(block_id AS STRING) || '_'
              || CAST(gen_stamp AS STRING) || '.meta',
              'blk_-?[0-9]+_([0-9]+)\\.meta', 1) AS BIGINT) AS parsed_gen_stamp,
       regexp_matches('blk_' || CAST(block_id AS STRING) || '_'
              || CAST(gen_stamp AS STRING) || '.meta',
              '^blk_-?[0-9]+_[0-9]+\\.meta$') AS name_is_meta
FROM blocks
""",
    doc="F7/C2 block filename codec (Block.java:47-82,126-128): build "
    "blk_<id> / blk_<id>_<genstamp>.meta names and parse them back with "
    "regexes (the DataNode's on-disk scan classifier).",
)
def f7_block_name_codec(e) -> DataFrame:
    blocks = e["blocks"]
    blk = F.concat(F.lit("blk_"), F.col("block_id").cast("string"))
    meta = F.concat(blk, F.lit("_"), F.col("gen_stamp").cast("string"), F.lit(".meta"))
    return blocks.select(
        "block_id",
        blk.alias("blk_name"),
        meta.alias("meta_name"),
        F.regexp_extract(blk, r"blk_(-?[0-9]+)", 1).cast("long").alias("parsed_id"),
        F.regexp_extract(meta, r"blk_-?[0-9]+_([0-9]+)\.meta", 1)
        .cast("long")
        .alias("parsed_gen_stamp"),
        meta.rlike(r"^blk_-?[0-9]+_[0-9]+\.meta$").alias("name_is_meta"),
    )


@register(
    "j1_block_locations",
    oracle="""
SELECT b.block_id, b.file_id,
       CAST(COUNT(r.datanode_id) AS BIGINT)                              AS total_replicas,
       CAST(SUM(CASE WHEN NOT r.is_corrupt THEN 1 ELSE 0 END) AS BIGINT) AS live,
       string_agg(CASE WHEN NOT r.is_corrupt THEN r.datanode_id END,
                  ',' ORDER BY r.datanode_id)                            AS machines,
       (COUNT(r.datanode_id) > 0
        AND SUM(CASE WHEN NOT r.is_corrupt THEN 1 ELSE 0 END) = 0)       AS is_corrupt_block
FROM blocks b LEFT JOIN replicas r ON r.block_id = b.block_id
GROUP BY b.block_id, b.file_id
""",
    doc="J1 getBlockLocations (BlockManager.getBlockLocation:441-473): "
    "attach the sorted live-replica location list to every block; a block "
    "is corrupt iff ALL its replicas are corrupt.",
)
def j1_block_locations(e) -> DataFrame:
    blocks, replicas = e["blocks"], e["replicas"]
    agg = (
        blocks.join(replicas, "block_id", "left")
        .groupBy("block_id", "file_id")
        .agg(
            F.count("datanode_id").alias("total_replicas"),
            F.sum(F.when(~F.col("is_corrupt"), 1).otherwise(0)).alias("live"),
            F.sort_array(
                F.collect_list(F.when(~F.col("is_corrupt"), F.col("datanode_id")))
            ).alias("live_list"),
        )
    )
    return agg.select(
        "block_id",
        "file_id",
        "total_replicas",
        "live",
        F.when(F.col("live") > 0, F.array_join("live_list", ",")).alias("machines"),
        ((F.col("total_replicas") > 0) & (F.col("live") == 0)).alias("is_corrupt_block"),
    )


@register(
    "j2_report_diff",
    oracle="""
SELECT COALESCE(d.block_id, m.block_id)       AS block_id,
       COALESCE(d.datanode_id, m.datanode_id) AS datanode_id,
       CASE WHEN m.block_id IS NULL THEN 'TO_ADD'
            WHEN d.block_id IS NULL THEN 'TO_REMOVE'
            WHEN d.is_corrupt        THEN 'TO_CORRUPT'
            ELSE 'MATCH' END                  AS action
FROM      (SELECT * FROM replicas WHERE on_disk)   d
FULL OUTER JOIN
          (SELECT * FROM replicas WHERE in_memory) m
  ON d.block_id = m.block_id AND d.datanode_id = m.datanode_id
""",
    doc="J2/U2 block-report diff (BlockManager.processReport/reportDiff:"
    "1078-1228): full-outer join of the datanode-reported replica set vs "
    "namenode state, classified into toAdd / toRemove / toCorrupt — the "
    "delimiter-trick set difference as a declarative join. Scale/shape "
    "(r12): (block_id, datanode_id) is the replica table's KEY (one row "
    "per replica on a node — the entity model derives exactly one row per "
    "(block, assigned node), the blocksMap's own invariant), so the "
    "oracle's full-outer self-join pairs every row with itself and the "
    "whole diff is a MAP over the replica scan: on_disk-only -> TO_ADD, "
    "in_memory-only -> TO_REMOVE, both + corrupt -> TO_CORRUPT. Zero "
    "exchanges (the prior shape shuffled the replica population twice "
    "into a SortMergeJoin FullOuter).",
)
def j2_report_diff(e) -> DataFrame:
    replicas = e["replicas"]
    return replicas.filter(F.col("on_disk") | F.col("in_memory")).select(
        "block_id",
        "datanode_id",
        F.when(~F.col("in_memory"), "TO_ADD")
        .when(~F.col("on_disk"), "TO_REMOVE")
        .when(F.col("is_corrupt"), "TO_CORRUPT")
        .otherwise("MATCH")
        .alias("action"),
    )


@register(
    "j3_scanner_stats",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS total,
       CAST(SUM(CASE WHEN in_memory AND NOT on_disk THEN 1 ELSE 0 END) AS BIGINT) AS missing_block_file,
       CAST(SUM(CASE WHEN on_disk AND NOT in_memory THEN 1 ELSE 0 END) AS BIGINT) AS missing_memory_block,
       CAST(SUM(CASE WHEN on_disk AND in_memory AND state <> 'FINALIZED'
                THEN 1 ELSE 0 END) AS BIGINT)                                      AS mismatched
FROM replicas
""",
    doc="J3/A12 DirectoryScanner disk<->memory reconcile "
    "(DirectoryScanner.java:332-405, Stats :80-96): sort-merge diff "
    "expressed as conditional sums; missing-on-disk / missing-in-memory / "
    "mismatched-state counts.",
)
def j3_scanner_stats(e) -> DataFrame:
    r = e["replicas"]
    return r.agg(
        F.count("*").alias("total"),
        F.sum(F.when(F.col("in_memory") & ~F.col("on_disk"), 1).otherwise(0)).alias(
            "missing_block_file"
        ),
        F.sum(F.when(F.col("on_disk") & ~F.col("in_memory"), 1).otherwise(0)).alias(
            "missing_memory_block"
        ),
        F.sum(
            F.when(
                F.col("on_disk") & F.col("in_memory") & (F.col("state") != "FINALIZED"), 1
            ).otherwise(0)
        ).alias("mismatched"),
    )


@register(
    "f5_corrupt_files",
    oracle=f"""
SELECT c.block_id, i.path
FROM ({_BLOCK_REPL}) c
JOIN inodes i ON i.id = c.file_id
WHERE c.total_replicas > 0 AND c.live = 0
  AND i.path LIKE '/r0/%' AND c.block_id > 0
ORDER BY c.block_id
LIMIT 100
""",
    doc="F5 listCorruptFileBlocks (FSNamesystem.java:5211-5249): corrupt "
    "blocks (zero live replicas), path-prefix filter, blockId cursor, "
    "LIMIT 100 page (FSNamesystem.java:175).",
)
def f5_corrupt_files(e) -> DataFrame:
    counts = _block_replica_counts(e)
    inodes = e["inodes"]
    return (
        counts.filter((F.col("total_replicas") > 0) & (F.col("live") == 0))
        .join(inodes.select(F.col("id").alias("file_id"), "path"), "file_id")
        .filter(F.col("path").startswith("/r0/") & (F.col("block_id") > 0))
        .orderBy("block_id")
        .limit(100)
        .select("block_id", "path")
    )


@register(
    "j5_fsck_blocks",
    oracle=f"""
SELECT c.block_id, i.path, i.replication AS expected,
       c.live, c.total_replicas,
       CAST(COUNT(DISTINCT CASE WHEN NOT r.is_corrupt THEN d.rack END) AS BIGINT) AS racks,
       CASE WHEN c.total_replicas = 0                  THEN 'MISSING'
            WHEN c.live = 0                            THEN 'CORRUPT'
            WHEN c.live < i.replication                THEN 'UNDER_REPLICATED'
            WHEN c.live > i.replication                THEN 'OVER_REPLICATED'
            WHEN i.replication > 1 AND
                 COUNT(DISTINCT CASE WHEN NOT r.is_corrupt THEN d.rack END) < 2
                                                       THEN 'MIS_REPLICATED'
            ELSE 'HEALTHY' END                         AS status
FROM ({_BLOCK_REPL}) c
JOIN inodes i ON i.id = c.file_id
LEFT JOIN replicas r ON r.block_id = c.block_id
LEFT JOIN datanodes d ON d.datanode_id = r.datanode_id
GROUP BY c.block_id, i.path, i.replication, c.live, c.total_replicas
""",
    doc="J5 fsck per-block verification (NamenodeFsck.check:238-399): "
    "inodes x blocks x replicas x datanodes join classifying every block "
    "as missing / corrupt / under / over / mis-replicated (rack-deficit "
    "per BlockPlacementPolicy.verifyBlockPlacement).",
)
def j5_fsck_blocks(e) -> DataFrame:
    counts = _block_replica_counts(e)
    inodes = e["inodes"]
    # racks ride on the blocksMap pin (n_live_racks, 0-filled at build) —
    # the second block_id join this query paid per pass is gone (r11)
    j = counts.withColumnRenamed("n_live_racks", "racks").join(
        inodes.select(F.col("id").alias("file_id"), "path", "replication"),
        "file_id",
    )
    status = (
        F.when(F.col("total_replicas") == 0, "MISSING")
        .when(F.col("live") == 0, "CORRUPT")
        .when(F.col("live") < F.col("replication"), "UNDER_REPLICATED")
        .when(F.col("live") > F.col("replication"), "OVER_REPLICATED")
        .when((F.col("replication") > 1) & (F.col("racks") < 2), "MIS_REPLICATED")
        .otherwise("HEALTHY")
    )
    return j.select(
        "block_id",
        "path",
        F.col("replication").alias("expected"),
        "live",
        "total_replicas",
        "racks",
        status.alias("status"),
    )


@register(
    "a3_fsck_result",
    oracle=f"""
WITH fsck AS (
  SELECT c.*, i.replication AS expected, i.length, i.under_construction,
         CASE WHEN c.total_replicas = 0 THEN 1 ELSE 0 END AS is_missing,
         CASE WHEN c.total_replicas > 0 AND c.live = 0 THEN 1 ELSE 0 END AS is_corrupt,
         CASE WHEN c.live > 0 AND c.live < i.replication THEN 1 ELSE 0 END AS is_under,
         CASE WHEN c.live > i.replication THEN 1 ELSE 0 END AS is_over
  FROM ({_BLOCK_REPL}) c JOIN inodes i ON i.id = c.file_id
)
SELECT CAST(SUM(num_bytes) AS BIGINT)               AS total_size,
       CAST(COUNT(DISTINCT file_id) AS BIGINT)      AS total_files_with_blocks,
       CAST(COUNT(*) AS BIGINT)                     AS total_blocks,
       CAST(SUM(live) AS BIGINT)                    AS total_live_replicas,
       SUM(live) * 1.0 / COUNT(*)                   AS avg_replication,
       CAST(SUM(is_missing) AS BIGINT)              AS missing_blocks,
       CAST(SUM(is_missing * num_bytes) AS BIGINT)  AS missing_size,
       CAST(SUM(is_corrupt) AS BIGINT)              AS corrupt_blocks,
       CAST(SUM(is_under) AS BIGINT)                AS under_replicated,
       CAST(SUM(is_over) AS BIGINT)                 AS over_replicated,
       CAST(SUM(CASE WHEN under_construction THEN 1 ELSE 0 END) AS BIGINT) AS open_blocks
FROM fsck
""",
    doc="A3 fsck Result multi-aggregate (NamenodeFsck.Result:599-637): the "
    "18-field single-pass health report as one conditional-sum agg over the "
    "J5 join — whole-stage codegen fuses it exactly like the reference's "
    "hand-fused walk.",
)
def a3_fsck_result(e) -> DataFrame:
    counts = _block_replica_counts(e)
    inodes = e["inodes"]
    j = counts.join(
        inodes.select(
            F.col("id").alias("file_id"), "replication", "under_construction"
        ),
        "file_id",
    )
    missing = F.when(F.col("total_replicas") == 0, 1).otherwise(0)
    corrupt = F.when((F.col("total_replicas") > 0) & (F.col("live") == 0), 1).otherwise(0)
    under = F.when((F.col("live") > 0) & (F.col("live") < F.col("replication")), 1).otherwise(0)
    over = F.when(F.col("live") > F.col("replication"), 1).otherwise(0)
    return j.agg(
        F.sum("num_bytes").alias("total_size"),
        F.count_distinct("file_id").alias("total_files_with_blocks"),
        F.count("*").alias("total_blocks"),
        F.sum("live").alias("total_live_replicas"),
        (F.sum("live") * 1.0 / F.count("*")).alias("avg_replication"),
        F.sum(missing).alias("missing_blocks"),
        F.sum(missing * F.col("num_bytes")).alias("missing_size"),
        F.sum(corrupt).alias("corrupt_blocks"),
        F.sum(under).alias("under_replicated"),
        F.sum(over).alias("over_replicated"),
        F.sum(F.when(F.col("under_construction"), 1).otherwise(0)).alias("open_blocks"),
    )


# The W2 queue as standalone SQL — reused by m1_metasave's oracle
# (BlockManager.metaSave iterates the same neededReplications structure).
_W2_SQL = """
SELECT c.block_id, c.live, i.replication AS expected,
       CAST(CASE WHEN c.live = 0 AND c.decom_live > 0 THEN 0
            WHEN c.live = 0                           THEN 4
            WHEN c.live >= i.replication              THEN 3
            WHEN c.live = 1                           THEN 0
            WHEN c.live * 3 < i.replication           THEN 1
            ELSE 2 END AS INT)                        AS priority
FROM (
  SELECT b.block_id, b.file_id,
         CAST(SUM(CASE WHEN NOT r.is_corrupt AND d.admin_state = 'NORMAL'
                  THEN 1 ELSE 0 END) AS BIGINT)                            AS live,
         CAST(SUM(CASE WHEN NOT r.is_corrupt AND d.admin_state <> 'NORMAL'
                  THEN 1 ELSE 0 END) AS BIGINT)                            AS decom_live,
         MIN(CASE WHEN NOT r.is_corrupt AND d.admin_state = 'NORMAL'
             THEN d.rack END)                                              AS rack_lo,
         MAX(CASE WHEN NOT r.is_corrupt AND d.admin_state = 'NORMAL'
             THEN d.rack END)                                              AS rack_hi
  FROM blocks b
  LEFT JOIN replicas r ON r.block_id = b.block_id
  LEFT JOIN datanodes d ON d.datanode_id = r.datanode_id
  GROUP BY b.block_id, b.file_id
) c
JOIN inodes i ON i.id = c.file_id
WHERE c.live < i.replication
   OR (c.live >= i.replication AND i.replication > 1 AND c.rack_lo = c.rack_hi)
"""


@register(
    "w2_replication_priority",
    oracle=_W2_SQL,
    doc="W2 UnderReplicatedBlocks 5-level priority "
    "(UnderReplicatedBlocks.getPriority:85-107): CASE priority column over "
    "blocks needing replication work; queue drain = ORDER BY priority. "
    "live follows countNodes (BlockManager.countNodes:1726-1750): a "
    "non-corrupt replica on a DECOMMISSION* node is counted separately, "
    "NOT as live — so a block whose only copies sit on draining nodes "
    "has curReplicas=0/decom>0 and lands in priority 0 (the reference's "
    "highest-urgency queue), exactly the branch getPriority:92-97 "
    "reserves for it. "
    "Priority 3 is the rack-deficit queue (UnderReplicatedBlocks.java:90-92: "
    "enough replicas but all on one rack, replication > 1) — reachable only "
    "via the widened filter, since those blocks are NOT under-replicated "
    "by count. 'All on one rack' is min(rack)==max(rack), a plain min/max "
    "aggregate — a COUNT(DISTINCT rack) would add a distinct-expand shuffle "
    "on the hottest join for a predicate that only needs 'fewer than 2'.",
)
def w2_replication_priority(e) -> DataFrame:
    # thunk form (r11): on a memo hit the queue must not pay the full
    # three-way-join construction (hundreds of py4j calls) just to throw
    # the frame away — see registry.eager_cache_thunk
    return eager_cache_thunk(e, "w2_queue", lambda: _build_w2_queue(e))


def _build_w2_queue(e) -> DataFrame:
    # every fold the queue needs is a column of the blocksMap pin: live is
    # countNodes' live (NORMAL nodes only), decom_live its decommissioning
    # count, rack_lo/rack_hi the NORMAL-replica rack range
    counts = _block_replica_counts(e).select(
        "block_id",
        "file_id",
        F.col("live_normal").alias("live"),
        F.col("decom_replicas").alias("decom_live"),
        "rack_lo",
        "rack_hi",
    )
    j = counts.join(
        e["inodes"].select(F.col("id").alias("file_id"), "replication"), "file_id"
    ).filter(
        (F.col("live") < F.col("replication"))
        | (
            (F.col("live") >= F.col("replication"))
            & (F.col("replication") > 1)
            & (F.col("rack_lo") == F.col("rack_hi"))
        )
    )
    priority = (
        F.when((F.col("live") == 0) & (F.col("decom_live") > 0), 0)
        .when(F.col("live") == 0, 4)
        .when(F.col("live") >= F.col("replication"), 3)
        .when(F.col("live") == 1, 0)
        .when(F.col("live") * 3 < F.col("replication"), 1)
        .otherwise(2)
    )
    # The reference keeps this queue as a maintained in-memory structure
    # (UnderReplicatedBlocks inside BlockManager), not a per-call scan;
    # caching the (block-count-bounded, metadata-scale) queue is the
    # faithful analog and lets T6's scheduler drain it without re-running
    # the inodes join.
    return j.select(
        "block_id",
        "live",
        F.col("replication").alias("expected"),
        priority.cast("int").alias("priority"),
    )


# U3's excess picks as standalone SQL — reused by m2_invalidate_sets'
# oracle (excess replicas feed addToInvalidates, BlockManager.java:1572).
_U3_SQL = f"""
SELECT t.block_id, t.datanode_id
FROM (
  SELECT r.block_id, r.datanode_id,
         ROW_NUMBER() OVER (PARTITION BY r.block_id
                            ORDER BY d.dfs_used DESC, r.datanode_id) AS rk,
         c.live, i.replication
  FROM replicas r
  JOIN datanodes d ON d.datanode_id = r.datanode_id
  JOIN ({_BLOCK_REPL}) c ON c.block_id = r.block_id
  JOIN inodes i ON i.id = c.file_id
  WHERE NOT r.is_corrupt
) t
WHERE t.live > t.replication AND t.rk <= t.live - t.replication
"""


@register(
    "u3_excess_replicas",
    oracle=_U3_SQL,
    doc="U3 excess-replica selection (BlockManager."
    "processOverReplicatedBlock:1572): for over-replicated blocks pick the "
    "excess replicas on the most-used nodes — rank window, delete rank <= "
    "live-expected.",
)
def u3_excess_replicas(e) -> DataFrame:
    return eager_cache_thunk(e, "u3_excess", lambda: _build_u3_excess(e))


def _build_u3_excess(e) -> DataFrame:
    replicas, datanodes, inodes = e["replicas"], e["datanodes"], e["inodes"]
    counts = _block_replica_counts(e)
    live_reps = (
        replicas.filter(~F.col("is_corrupt"))
        .join(F.broadcast(datanodes.select("datanode_id", "dfs_used")), "datanode_id")
        .join(counts.select("block_id", "file_id", "live"), "block_id")
        .join(inodes.select(F.col("id").alias("file_id"), "replication"), "file_id")
        # pre-window filter: live/replication are per-block constants, so
        # dropping non-over-replicated blocks BEFORE row_number leaves every
        # surviving partition's ranks unchanged — the window then sorts only
        # the excess blocks' replicas, not the whole replica table (Catalyst
        # won't infer this push-down itself: the predicate isn't on the
        # partition key)
        .filter(F.col("live") > F.col("replication"))
    )
    w = Window.partitionBy("block_id").orderBy(
        F.col("dfs_used").desc(), F.col("datanode_id")
    )
    # Cached like the W2 queue: the reference maintains excessReplicateMap
    # as an in-memory structure (BlockManager.java:1572 fills it; metaSave
    # dumps it) — and m2_invalidate_sets drains this exact frame, so the
    # window never runs twice in a session.
    return (
        live_reps.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.col("live") - F.col("replication"))
        .select("block_id", "datanode_id")
    )


@register(
    "a9_file_checksum",
    oracle="""
SELECT file_id,
       md5(string_agg(block_md5, '' ORDER BY seq)) AS file_md5
FROM (
  SELECT file_id, seq,
         md5(CAST(block_id AS STRING) || ':' || CAST(gen_stamp AS STRING)
             || ':' || CAST(num_bytes AS STRING)) AS block_md5
  FROM blocks
) b
GROUP BY file_id
""",
    doc="A9 MD5-of-MD5 file checksum (DFSClient.getFileChecksum:1054-1151, "
    "DataXceiver.opBlockChecksum:440): per-block MD5 then MD5 over the "
    "seq-ordered concatenation — deterministic ordered aggregation via "
    "sort_array(collect_list(struct(seq, md5))).",
)
def a9_file_checksum(e) -> DataFrame:
    blocks = e["blocks"]
    block_md5 = F.md5(
        F.concat_ws(
            ":",
            F.col("block_id").cast("string"),
            F.col("gen_stamp").cast("string"),
            F.col("num_bytes").cast("string"),
        )
    )
    per_block = blocks.select("file_id", "seq", block_md5.alias("block_md5"))
    return (
        per_block.groupBy("file_id")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("seq", "block_md5"))),
                        lambda s: s["block_md5"],
                    ),
                    "",
                )
            ).alias("file_md5")
        )
    )


# The content-checksum corpus. Pinned at import because the DuckDB oracle
# must name the identical files in STATIC SQL text (read_blob takes a
# literal glob); defaults to the DEDICATED deterministic blob fixture at
# the driver's correctness scale factor (fixed byte volume per SF — see
# fixtures.py; the old sf-dir-parquet default made the fixture grow
# with engine artifacts). tests/conftest.py points SPARK_GRAFT_BLOB_DIR at
# the test-SF fixture; bench.py at the bench-SF fixture.
from ..fixtures import resolve_corpus

_BLOB_DIR, _BLOB_GLOB, _ = resolve_corpus("BLOB")


@register(
    "a9b_content_checksum",
    oracle=f"""
WITH f AS (
  SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
         hex(content) AS h, octet_length(content) AS n
  FROM read_blob('{_BLOB_DIR}/{_BLOB_GLOB}')
),
chunks AS (
  SELECT file_name, n,
         unnest(range(0, CAST(ceil(n / 512.0) AS BIGINT))) AS chunk_idx,
         h
  FROM f
),
cmd5 AS (
  SELECT file_name, n, chunk_idx,
         md5(substring(h, CAST(chunk_idx * 1024 + 1 AS BIGINT), 1024)) AS chunk_md5
  FROM chunks
),
blk AS (
  SELECT file_name, MAX(n) AS n, chunk_idx // 128 AS block_idx,
         md5(string_agg(chunk_md5, '' ORDER BY chunk_idx)) AS block_md5
  FROM cmd5 GROUP BY file_name, chunk_idx // 128
)
SELECT file_name,
       CAST(MAX(n) AS BIGINT) AS byte_len,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       md5(string_agg(block_md5, '' ORDER BY block_idx)) AS file_md5
FROM blk GROUP BY file_name
""",
    doc="A9 MD5-of-MD5 file checksum over REAL BYTES "
    "(DFSClient.getFileChecksum:1054-1151 chains per-512B-chunk checksums "
    "-> per-block MD5 -> ordered MD5-of-MD5s; DataXceiver.opBlockChecksum"
    ":440 computes the block leg): the binaryFile scan's content column is "
    "chunked at the reference's 512-byte bytes-per-checksum, digested per "
    "chunk, rolled into per-'block' MD5s (128 chunks = 64 KiB spans — the "
    "reference's 64 MB block scaled to fixture-sized files), then the "
    "seq-ordered MD5-of-MD5s per file. Deviations, documented: the "
    "per-chunk digest is md5-over-uppercase-hex rather than CRC32-over-raw "
    "(DuckDB has neither crc32 nor blob slicing, so both engines hash the "
    "hex rendering — same information content, independently computed); "
    "s1_binary_block_scan keeps a real crc32 leg Spark-side. Scale shape: "
    "a RANGE-SHARDED positional read (HDFS pread semantics) — the plan is "
    "(path, offset, length) rows at 16 MiB block-aligned shards, each "
    "task reads ONLY its range and emits finished (file, block_idx, "
    "block_md5) rows, so executor memory is bounded by the shard size "
    "regardless of file or corpus size and the shuffle moves only block "
    "rows (the prior binaryFile whole-file scan held entire files as "
    "single rows — OOM at 300 MB files, impossible at 100 TB). "
    "a9_file_checksum (block-metadata digest) stays registered for the "
    "metadata-only plan shape.",
)
def a9b_content_checksum(e) -> DataFrame:
    spark = e["region"].sparkSession
    import glob as _glob
    import os as _os

    # Range-sharded positional read — the binaryFile whole-file scan it
    # replaces materialized each file as ONE row (a 300 MB blob at sf1 x
    # concurrent tasks OOMed an 8 GB driver, and a 100 TB corpus makes
    # whole-file rows impossible at any heap size). The plan is (path,
    # offset, length) rows — HDFS pread semantics (DFSClient.read:1054's
    # positional leg) — each shard 16 MiB, a multiple of the 64 KiB
    # 'block' span, so every block's 128 chunks live in exactly one shard
    # and the kernel emits finished (file, block_idx, block_md5) rows.
    # Executor memory is bounded by the shard size regardless of file or
    # corpus size; the shuffle moves only block rows. On a cluster the
    # open/seek/read becomes the store's ranged GET; local[*] shares the
    # filesystem, same as binaryFile's listing did.
    # 4 MiB shards (a multiple of the 64 KiB span): the sf0.1 corpus is
    # ten 16 MiB files, so 16 MiB shards gave exactly 10 tasks on a
    # 32-core box — shrinking the shard quadruples scan parallelism at
    # identical results (block spans still never straddle a shard). At
    # cluster scale the shard size only sets per-task read granularity.
    shard = 4 * 1024 * 1024
    span = 128 * 512  # one 'block': 128 chunks x 512 B

    # Only the FILE list touches the driver (one row per file, as any
    # listing does); the per-shard rows are derived distributedly, so a
    # million-shard corpus never materializes its plan driver-side.
    # The shard PLAN (file/offset/length metadata, NOT checksums — the
    # kernel below re-reads and re-digests every byte on every
    # invocation) is pinned per session: createDataFrame from a Python
    # list executes as pickled-Python-RDD tasks, and the plan frame's
    # 32-way fan-out paid ~0.7 s of Python-worker round-trips per warm
    # invocation for 40 constant rows (r11 phase-split; guide §4 — keep
    # the Python boundary out of the per-pass path).
    def _build_shard_plan() -> DataFrame:
        files = [
            (_os.path.basename(p), p, _os.path.getsize(p))
            for p in sorted(_glob.glob(_os.path.join(_BLOB_DIR, _BLOB_GLOB)))
        ]
        return fan_out(
            spark.createDataFrame(files, "file_name string, path string, n long")
            .filter(F.col("n") > 0)
            .select(
                "file_name",
                "path",
                "n",
                F.explode(
                    F.sequence(
                        F.lit(0), F.ceil(F.col("n") / F.lit(shard)).cast("long") - 1
                    )
                ).alias("shard_idx"),
            )
            .select(
                "file_name",
                "path",
                (F.col("shard_idx") * shard).alias("offset"),
                F.least(
                    F.lit(shard), F.col("n") - F.col("shard_idx") * shard
                ).alias("length"),
                "n",
            )
        )

    # The pin tag carries the LIVE corpus location: the shard plan is a
    # function of the blob dir/glob (tests repoint _BLOB_DIR per case), so
    # a dir-agnostic tag would serve one corpus's plan to another.
    plan_df = eager_cache_thunk(
        e, f"a9b_shard_plan:{_BLOB_DIR}/{_BLOB_GLOB}", _build_shard_plan
    )

    # Per shard: read ONLY the byte range, digest each 512-byte chunk as
    # md5 over its UPPERCASE hex (byte-identical to the oracle's
    # md5(substring(hex(content))) — DuckDB has neither crc32 nor blob
    # slicing; s1_binary_block_scan keeps a real crc32 leg Spark-side),
    # then roll each 64 KiB span into its block MD5 before anything
    # leaves the task. Nested def => pickled by value.
    def shard_block_md5s(batches):
        import hashlib

        for pdf in batches:
            out = {"file_name": [], "n": [], "block_idx": [], "block_md5": []}
            for fn, path, off, ln, n in zip(
                pdf["file_name"], pdf["path"], pdf["offset"],
                pdf["length"], pdf["n"],
            ):
                with open(path, "rb") as fh:
                    fh.seek(int(off))
                    data = fh.read(int(ln))
                base = int(off) // span
                for b in range(0, len(data), span):
                    # hex the whole span ONCE and slice per chunk (1024 hex
                    # chars = 512 bytes) — byte-identical to per-chunk
                    # hex() and half the kernel CPU (r11 measured 0.15 ->
                    # 0.08 s per 9 MB single-core)
                    hx = data[b : b + span].hex().upper()
                    cat = "".join(
                        hashlib.md5(hx[i : i + 1024].encode()).hexdigest()
                        for i in range(0, len(hx), 1024)
                    )
                    out["file_name"].append(fn)
                    out["n"].append(int(n))
                    out["block_idx"].append(base + b // span)
                    out["block_md5"].append(
                        hashlib.md5(cat.encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    blk = plan_df.mapInPandas(
        shard_block_md5s,
        "file_name string, n long, block_idx long, block_md5 string",
    )
    return blk.groupBy("file_name").agg(
        F.max("n").cast("long").alias("byte_len"),
        F.count("*").cast("long").alias("n_blocks"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("block_idx", "block_md5"))),
                    lambda s: s["block_md5"],
                ),
                "",
            )
        ).alias("file_md5"),
    )


@register(
    "a10_safemode",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT)                                   AS total_blocks,
       CAST(SUM(CASE WHEN live >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS safe_blocks,
       CAST(CEIL(COUNT(*) * 0.999) AS BIGINT)                     AS threshold_blocks,
       SUM(CASE WHEN live >= 1 THEN 1 ELSE 0 END)
           < CEIL(COUNT(*) * 0.999)                               AS in_safemode
FROM ({_BLOCK_REPL}) c
""",
    doc="A10 safemode threshold (FSNamesystem.java:3986-4049, threshold "
    "0.999 DFSConfigKeys.java:64): blockSafe >= threshold x blockTotal gate "
    "with minReplication 1.",
)
def a10_safemode(e) -> DataFrame:
    # folded onto the shared blocksMap pin (r12): the r11 rotation budget
    # that kept this on a private un-pinned rollup has slack this round
    counts = _block_replica_counts(e)
    return counts.agg(
        F.count("*").alias("total_blocks"),
        F.sum(F.when(F.col("live") >= 1, 1).otherwise(0)).alias("safe_blocks"),
        F.ceil(F.count("*") * 0.999).cast("long").alias("threshold_blocks"),
        (
            F.sum(F.when(F.col("live") >= 1, 1).otherwise(0))
            < F.ceil(F.count("*") * 0.999)
        ).alias("in_safemode"),
    )


@register(
    "w5_balancer_block_cursor",
    oracle="""
SELECT datanode_id, block_id, cum_bytes
FROM (
  SELECT r.datanode_id, r.block_id,
         CAST(SUM(b.num_bytes) OVER (
           PARTITION BY r.datanode_id ORDER BY r.block_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_bytes
  FROM replicas r JOIN blocks b ON b.block_id = r.block_id
  WHERE NOT r.is_corrupt
) t
WHERE cum_bytes <= 104857600
""",
    doc="W5 balancer block cursor (Balancer.java:601-645, "
    "FSNamesystem.getBlocks:705-717): fetch each source datanode's blocks "
    "up to a running-size cap (scaled 100 MiB) — running sum window + "
    "cumulative cutoff.",
)
def w5_balancer_block_cursor(e) -> DataFrame:
    r = e["replicas"].filter(~F.col("is_corrupt"))
    j = r.join(e["blocks"].select("block_id", "num_bytes"), "block_id")
    w = (
        Window.partitionBy("datanode_id")
        .orderBy("block_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        j.withColumn("cum_bytes", F.sum("num_bytes").over(w).cast("long"))
        .filter(F.col("cum_bytes") <= 104857600)
        .select("datanode_id", "block_id", "cum_bytes")
    )


@register(
    "w6_salvage_runs",
    oracle=f"""
SELECT file_id, CAST(MAX(run_len) AS BIGINT) AS longest_valid_run
FROM (
  SELECT file_id, run_id, CAST(COUNT(*) AS BIGINT) AS run_len
  FROM (
    SELECT c.file_id, c.seq,
           SUM(CASE WHEN c.live = 0 THEN 1 ELSE 0 END) OVER (
             PARTITION BY c.file_id ORDER BY c.seq
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id,
           c.live
    FROM ({_BLOCK_REPL}) c
  ) flagged
  WHERE live > 0
  GROUP BY file_id, run_id
) runs
GROUP BY file_id
""",
    doc="W6 fsck -move longest-valid-prefix salvage "
    "(NamenodeFsck.lostFoundMove:401): flag missing blocks, running-sum "
    "window groups consecutive valid runs, keep each file's longest chain.",
)
def w6_salvage_runs(e) -> DataFrame:
    counts = _block_replica_counts(e)
    w = (
        Window.partitionBy("file_id")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = counts.withColumn(
        "run_id", F.sum(F.when(F.col("live") == 0, 1).otherwise(0)).over(w)
    )
    runs = (
        flagged.filter(F.col("live") > 0)
        .groupBy("file_id", "run_id")
        .agg(F.count("*").alias("run_len"))
    )
    return runs.groupBy("file_id").agg(F.max("run_len").alias("longest_valid_run"))


@register(
    "w6b_lost_found_move",
    oracle=f"""
WITH lfc AS ({_BLOCK_REPL}),
lff AS (
  SELECT file_id, block_id, seq, live,
         SUM(CASE WHEN live = 0 THEN 1 ELSE 0 END) OVER (
           PARTITION BY file_id ORDER BY seq
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM lfc
),
lfcorrupt AS (SELECT DISTINCT file_id FROM lff WHERE live = 0),
lfsalv AS (
  SELECT f.file_id, f.block_id, f.seq, f.run_id
  FROM lff f JOIN lfcorrupt USING (file_id)
  WHERE f.live > 0
),
lfranked AS (
  SELECT s.file_id, i.path, s.block_id, s.seq,
         CAST(DENSE_RANK() OVER (PARTITION BY s.file_id ORDER BY s.run_id)
              - 1 AS INT) AS chain,
         CAST(ROW_NUMBER() OVER (PARTITION BY s.file_id, s.run_id
                                 ORDER BY s.seq) - 1 AS INT) AS new_seq
  FROM lfsalv s JOIN inodes i ON i.id = s.file_id
)
SELECT file_id,
       '/lost+found' || path                                 AS lf_dir,
       chain,
       '/lost+found' || path || '/' || CAST(chain AS STRING) AS chain_path,
       block_id,
       new_seq
FROM lfranked
""",
    doc="W6b fsck -move TRANSFORM half (NamenodeFsck.lostFoundMove:401-430, "
    "lostFoundInit:570-583) — the action w6_salvage_runs only reports: for "
    "every corrupt file (>= 1 block with no live replica), emit the "
    "/lost+found inode layout the move creates — a directory "
    "'/lost+found'||path per file, one CHAIN file per maximal run of "
    "accessible blocks (the reference closes the chain stream at each "
    "missing block and opens '<target>/<chain++>' at the next accessible "
    "one), and the salvaged blocks renumbered 0..len-1 within their chain "
    "(the moved file's new block sequence). Files whose every block is "
    "missing yield the mkdirs but no chains — hence no block rows here. "
    "Scale: one blocks|><|replicas rollup (the shared _BLOCK_REPL shape), "
    "a semi-join to corrupt files, and per-file windows whose partitions "
    "are bounded by a file's block count; the inode join brings the path "
    "in by file id. No namespace-wide window, nothing driver-side.",
)
def w6b_lost_found_move(e) -> DataFrame:
    counts = _block_replica_counts(e)
    w_run = (
        Window.partitionBy("file_id")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = counts.withColumn(
        "run_id", F.sum(F.when(F.col("live") == 0, 1).otherwise(0)).over(w_run)
    )
    # "file is corrupt" (>= 1 block with zero live replicas) as a second
    # window over the SAME file_id partitioning instead of the old
    # distinct + left-semi self-join: Catalyst does not share the
    # blocks|><|replicas rollup between a frame and its own semi-join
    # restriction, so the join shape paid the rollup + run window TWICE
    # plus two extra exchanges (distinct + join). One partitioning, zero
    # self-joins — identical rows (guide §2.4: remove shuffles outright).
    has_missing = F.max((F.col("live") == 0).cast("int")).over(
        Window.partitionBy("file_id")
    )
    salv = (
        flagged.withColumn("has_missing", has_missing)
        .filter((F.col("has_missing") == 1) & (F.col("live") > 0))
        .drop("has_missing")
    )
    ranked = (
        salv.join(
            e["inodes"].select(F.col("id").alias("file_id"), "path"), "file_id"
        )
        .withColumn(
            "chain",
            (
                F.dense_rank().over(
                    Window.partitionBy("file_id").orderBy("run_id")
                )
                - 1
            ).cast("int"),
        )
        .withColumn(
            "new_seq",
            (
                F.row_number().over(
                    Window.partitionBy("file_id", "run_id").orderBy("seq")
                )
                - 1
            ).cast("int"),
        )
    )
    lf_dir = F.concat(F.lit("/lost+found"), F.col("path"))
    return ranked.select(
        "file_id",
        lf_dir.alias("lf_dir"),
        "chain",
        F.concat(lf_dir, F.lit("/"), F.col("chain").cast("string")).alias(
            "chain_path"
        ),
        "block_id",
        "new_seq",
    )


@register(
    "a11_verification_staleness",
    oracle="""
SELECT datanode_id,
       CAST(COUNT(*) AS BIGINT) AS total_replicas,
       CAST(SUM(CASE WHEN last_verified_ms < 1704089200000 THEN 1 ELSE 0 END) AS BIGINT) AS stale_replicas
FROM replicas
GROUP BY datanode_id
""",
    doc="A11 block-scanner verification staleness "
    "(BlockPoolSliceScanner.java:65-406): replicas whose last verification "
    "predates the scan-period watermark, per datanode — the rolling "
    "verification-log rollup.",
)
def a11_verification_staleness(e) -> DataFrame:
    r = e["replicas"]
    return r.groupBy("datanode_id").agg(
        F.count("*").alias("total_replicas"),
        F.sum(F.when(F.col("last_verified_ms") < 1704089200000, 1).otherwise(0)).alias(
            "stale_replicas"
        ),
    )


@register(
    "j11_read_locality",
    oracle=f"""
WITH n AS (SELECT COUNT(*) AS n_nodes FROM datanodes),
client AS (
  SELECT b.block_id,
         'dn' || CAST(1 + b.block_id % n.n_nodes AS STRING) AS client_dn
  FROM blocks b, n
),
cand AS (
  SELECT c.block_id,
         cd.host AS client_host,
         d.datanode_id,
         CASE WHEN d.host = cd.host THEN 0
              WHEN d.rack = cd.rack THEN 2
              ELSE 4 END AS distance
  FROM client c
  JOIN datanodes cd ON cd.datanode_id = c.client_dn
  JOIN replicas r   ON r.block_id = c.block_id AND NOT r.is_corrupt
  JOIN datanodes d  ON d.datanode_id = r.datanode_id
   AND {NOW_MS} - d.last_heartbeat_ms <= {HEARTBEAT_EXPIRY_MS}
   AND d.admin_state <> 'DECOMMISSIONED'
)
SELECT block_id,
       ANY_VALUE(client_host)                                    AS client_host,
       CAST(COUNT(*) AS BIGINT)                                  AS n_candidates,
       FIRST(datanode_id ORDER BY distance, datanode_id)         AS chosen_datanode,
       CAST(MIN(distance) AS INT)                                AS chosen_distance,
       string_agg(datanode_id, ',' ORDER BY distance, datanode_id) AS ordered_replicas
FROM cand
GROUP BY block_id
""",
    doc="J11 replica ordering by network distance for a reading client "
    "(DatanodeManager.sortLocatedBlocks -> "
    "NetworkTopology.pseudoSortByDistance, DFSClient.bestNode): each "
    "block's reader is the client co-located with datanode "
    "dn(1 + block_id % n_nodes); live (non-corrupt, heartbeat-fresh, "
    "non-DECOMMISSIONED) replicas sort same-host (0) < same-rack (2) < "
    "off-rack (4). Deterministic documented deviation: equal-distance ties "
    "break by datanode_id instead of the reference's random shuffle. "
    "Scale: datanodes is node-count-sized so every location join "
    "broadcasts; the reading client is a pure function of block_id, so "
    "the candidate set derives from the replica table ALONE (every "
    "replica row is built FROM a blocks row in the entity model — the "
    "blocksMap invariant the reference maintains by construction: no "
    "orphan replicas), map-side; the only exchange is the per-block "
    "groupBy, whose ordering is a sort_array over a replication-factor-"
    "sized struct array - no window, no join shuffle at all (r12; the "
    "prior shape shuffled blocks AND replicas by block_id just to "
    "re-attach a client column derivable from the key).",
)
def j11_read_locality(e) -> DataFrame:
    replicas, dn = e["replicas"], e["datanodes"]
    n_nodes = dn.agg(F.count("*").alias("n_nodes"))
    live_dn = dn.filter(
        (F.lit(NOW_MS) - F.col("last_heartbeat_ms") <= HEARTBEAT_EXPIRY_MS)
        & (F.col("admin_state") != "DECOMMISSIONED")
    ).select("datanode_id", F.col("host").alias("r_host"), F.col("rack").alias("r_rack"))
    cand = (
        replicas.filter(~F.col("is_corrupt"))
        .select("block_id", "datanode_id")
        .crossJoin(F.broadcast(n_nodes))
        .select(
            "block_id",
            "datanode_id",
            F.concat(
                F.lit("dn"),
                (1 + F.col("block_id") % F.col("n_nodes")).cast("string"),
            ).alias("client_dn"),
        )
        .join(
            F.broadcast(dn.select(F.col("datanode_id").alias("client_dn"),
                                  F.col("host").alias("client_host"),
                                  F.col("rack").alias("client_rack"))),
            "client_dn",
        )
        .join(F.broadcast(live_dn), "datanode_id")
        .select(
            "block_id",
            "client_host",
            "datanode_id",
            F.when(F.col("r_host") == F.col("client_host"), 0)
            .when(F.col("r_rack") == F.col("client_rack"), 2)
            .otherwise(4)
            .alias("distance"),
        )
    )
    agg = cand.groupBy("block_id").agg(
        F.any_value("client_host").alias("client_host"),
        F.count("*").alias("n_candidates"),
        F.sort_array(F.collect_list(F.struct("distance", "datanode_id"))).alias("ordered"),
    )
    return agg.select(
        "block_id",
        "client_host",
        "n_candidates",
        F.element_at("ordered", 1)["datanode_id"].alias("chosen_datanode"),
        F.element_at("ordered", 1)["distance"].cast("int").alias("chosen_distance"),
        F.array_join(F.transform("ordered", lambda s: s["datanode_id"]), ",").alias("ordered_replicas"),
    )


@register(
    "j12_placement_verify",
    oracle="""
WITH nr AS (
  SELECT CAST(COUNT(DISTINCT rack) AS BIGINT) AS num_racks FROM datanodes
),
blk AS (
  SELECT b.block_id, b.file_id,
         CAST(COUNT(DISTINCT CASE WHEN NOT r.is_corrupt THEN d.rack END)
              AS BIGINT) AS n_racks
  FROM blocks b
  LEFT JOIN replicas r ON r.block_id = b.block_id
  LEFT JOIN datanodes d ON d.datanode_id = r.datanode_id
  GROUP BY b.block_id, b.file_id
)
SELECT i.path, blk.block_id, blk.n_racks,
       CAST(LEAST(2, i.replication, nr.num_racks) AS BIGINT) AS min_racks,
       CAST(LEAST(2, i.replication, nr.num_racks) - blk.n_racks AS BIGINT)
                                                             AS rack_deficit
FROM blk
JOIN inodes i ON i.id = blk.file_id
CROSS JOIN nr
WHERE nr.num_racks > 1
  AND LEAST(2, i.replication, nr.num_racks) - blk.n_racks > 0
""",
    doc="Block placement verification (BlockPlacementPolicyDefault."
    "verifyBlockPlacement:537-553, called per block by fsck with "
    "minRacks=min(2, replication), NamenodeFsck.java:332-336): the rack "
    "deficit of every mis-replicated block — required racks "
    "min(2, replication, cluster racks) minus the distinct racks its live "
    "replicas occupy; single-rack clusters verify trivially (numRacks<=1 "
    "-> 0), matching the reference's early return. Distinct from W2's "
    "priority-3 queue: this is the fsck-side REPORT (path + deficit per "
    "block), the queue is the scheduler's work list. Scale: one "
    "count-distinct groupBy on block_id (replica-fanout-bounded input per "
    "key), scalar rack count broadcast; no window, no self-join.",
)
def j12_placement_verify(e) -> DataFrame:
    blocks, replicas, datanodes, inodes = (
        e["blocks"],
        e["replicas"],
        e["datanodes"],
        e["inodes"],
    )
    nr = datanodes.agg(F.countDistinct("rack").alias("num_racks"))
    # (block_id, file_id) is unique per block, so the old
    # blocks|><|replicas|><|datanodes fanout + groupBy collapses to a
    # projection of the shared blocksMap pin (n_live_racks merged into
    # _block_replica_counts in r11 — no per-pass block_id join at all);
    # blocks with no replicas carry n_racks 0 from the pin's build, as
    # the oracle's COUNT(DISTINCT ...) over an all-NULL group yields 0
    blk = _block_replica_counts(e).select(
        "block_id", "file_id", F.col("n_live_racks").alias("n_racks")
    )
    min_racks = F.least(F.lit(2), F.col("replication"), F.col("num_racks")).cast("long")
    # min_racks = least(2, ...) <= 2, so a block already live on >= 2
    # racks can never have rack_deficit > 0 — drop the ~all of the block
    # population that satisfies placement BEFORE the file_id exchange
    # (guide §2.3: filter before the shuffle); the final deficit filter
    # below is unchanged, this is a pure superset restriction
    return (
        blk.filter(F.col("n_racks") < 2)
        .join(inodes.select(F.col("id").alias("file_id"), "path", "replication"), "file_id")
        .crossJoin(F.broadcast(nr))
        .filter(F.col("num_racks") > 1)
        .select(
            "path",
            "block_id",
            "n_racks",
            min_racks.alias("min_racks"),
            (min_racks - F.col("n_racks")).cast("long").alias("rack_deficit"),
        )
        .filter(F.col("rack_deficit") > 0)
    )
