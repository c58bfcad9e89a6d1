"""The HDFS entity model, derived deterministically from the fixture tables.

The reference engine's data model (SURVEY.md §1) is five tables:

- ``inodes``     — the namespace tree (INode.java:35-51, HdfsFileStatus.java:49-60)
- ``blocks``     — per-file block lists (protocol/Block.java:84-86)
- ``replicas``   — block x datanode placement (BlocksMap.java:54-78,
                   server/datanode/ReplicaInfo.java)
- ``datanodes``  — cluster membership (protocol/DatanodeInfo.java:49-81)
- ``edits``      — the edit-log changelog (FSEditLogOpCodes.java:31-60)

plus an auxiliary ``leases`` map (LeaseManager.java:63-83).

The driver's correctness oracle only knows the TPC-H-ish fixture tables
(region nation customer supplier part orders lineitem events documents
embeddings), so each entity is defined ONCE as a SQL SELECT over those tables,
written in the common dialect of Spark SQL and DuckDB (arithmetic, CASE,
``||`` concat, CAST ... AS STRING/BIGINT, ROW_NUMBER). Spark materializes the
entities as temp views; the oracle embeds the identical text as CTEs. One
source of truth — the two engines cannot drift.

Mapping (all arithmetic-deterministic, no randomness):

- supplier  -> datanodes  (one node per supplier; rack from nationkey)
- region/nation/customer -> directory tree levels; orders -> files
- lineitem  -> blocks (one block per line item; size = quantity MiB)
- blocks x small-int series -> replicas (replica count, corruption, disk/
  memory presence all keyed off block_id arithmetic so every fsck/report-diff
  edge case exists: missing blocks, all-corrupt, under-/over-replicated)
- events    -> edits (event_type -> opcode)

Timestamps are modeled as epoch-millisecond BIGINTs (``*_ms`` columns): the
reference itself stores epoch-millis longs (HdfsFileStatus.java:144-156), and
integer columns hash identically across engines.

The entity image. A NameNode does not rebuild its namespace at every
start: it loads the fsimage and saves a new one at each checkpoint
(FSImageFormat.java:130,584-608). Spark does the same here. The first
:func:`load_entities` for a fixture's content derives the entities with
``spark.sql`` and writes them to a parquet image (:func:`entity_image`):
one sub-directory per entity plus ``_SCHEMAS.json``, the Spark schema of
every entity and every base table. Every load, the first included, then
reads the image and the fixture files with those stored schemas, so it
starts no Spark job (no schema inference, no derivation). The image is
keyed on the fixture content (listed at any URI Spark reads), on every
``ENTITY_SQL`` statement, on the source of the Python that shapes its
rows and on the pyspark version; it is checked once, at build, for the data
invariants the queries' fast paths rely on (:func:`check_invariants`).
The DuckDB oracle still derives from :func:`oracle_prelude`, so the
image-backed entities are checked against an independent engine.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os

import pyspark
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .fixtures import build_once, entities_sql_version, listed_fingerprint

# "now" for liveness checks: 2024-01-02T00:00:00Z.
NOW_MS = 1_704_153_600_000
# Dead-node threshold: 10.5 min (FSNamesystem heartbeatCheck; DFSConfigKeys.java:192).
HEARTBEAT_EXPIRY_MS = 630_000
# Lease limits (FSConstants.java:41-42): soft 60 s (another client may
# preempt), hard 3600 s (the LeaseManager Monitor force-releases).
LEASE_SOFT_MS = 60_000
LEASE_HARD_MS = 3_600_000
MIB = 1_048_576

BASE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# One node per supplier. Utilization percent = (s_suppkey*37)%100 spreads the
# fleet across all four balancer classes (Balancer.java:800-861). s_suppkey%7==0
# nodes are dead (stale heartbeat), s_suppkey%9 in {0,1} are decommissioning/ed.
# upgrade_status is the node's distributed-upgrade completion percent
# (UpgradeObjectDatanode.getUpgradeStatus, reported back to the NN's
# UpgradeManagerNamenode via UpgradeCommand): dead nodes are stalled at an
# arbitrary mid-upgrade percent (they cannot ack), every 5th-ish live node
# lags 25-99, the rest have completed (100).
_DATANODES_SQL = """
SELECT
  'dn' || CAST(s_suppkey AS STRING)                            AS datanode_id,
  'host' || CAST(s_suppkey AS STRING)                          AS host,
  'rack' || CAST(s_nationkey % 3 AS STRING)                    AS rack,
  CAST(1000000000 AS BIGINT) * (1 + (s_suppkey % 4))           AS capacity,
  CAST(10000000 AS BIGINT) * (1 + (s_suppkey % 4))
      * ((s_suppkey * 37) % 100)                               AS dfs_used,
  CAST(1000000000 AS BIGINT) * (1 + (s_suppkey % 4))
      - CAST(10000000 AS BIGINT) * (1 + (s_suppkey % 4))
      * ((s_suppkey * 37) % 100)                               AS remaining,
  CAST(5000000 AS BIGINT) * (1 + (s_suppkey % 4))
      * ((s_suppkey * 37) % 100)                               AS block_pool_used,
  CAST(1704153600000 AS BIGINT)
      - CASE WHEN s_suppkey % 7 = 0 THEN 700000
             ELSE (s_suppkey * 1000) % 60000 END               AS last_heartbeat_ms,
  CAST((s_suppkey * 3) % 40 AS INT)                            AS xceiver_count,
  CASE WHEN s_suppkey % 9 = 0 THEN 'DECOMMISSION_INPROGRESS'
       WHEN s_suppkey % 9 = 1 THEN 'DECOMMISSIONED'
       ELSE 'NORMAL' END                                       AS admin_state,
  CASE WHEN s_suppkey % 7 = 0 THEN CAST((s_suppkey * 13) % 100 AS INT)
       WHEN s_suppkey % 5 = 4 THEN CAST(25 + (s_suppkey * 11) % 75 AS INT)
       ELSE CAST(100 AS INT) END                               AS upgrade_status
FROM supplier
"""

# One block per lineitem row; (l_orderkey, l_linenumber) is NOT unique in the
# fixtures, so seq comes from a ROW_NUMBER over a total ordering of the line
# columns. Block size = quantity MiB.
_BLOCKS_SQL = """
SELECT
  CAST(l_orderkey * 100 + seq AS BIGINT)                       AS block_id,
  CAST(10000000 + l_orderkey AS BIGINT)                        AS file_id,
  CAST(seq - 1 AS INT)                                         AS seq,
  CAST(l_quantity AS BIGINT) * 1048576                         AS num_bytes,
  CAST(1000 + ((l_orderkey * 7 + seq) % 100) AS BIGINT)        AS gen_stamp,
  'BP-1'                                                       AS block_pool_id
FROM (
  SELECT l_orderkey, l_quantity,
         ROW_NUMBER() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
                    l_extendedprice) AS seq
  FROM lineitem
) t
"""

# Replica fan-out: each block gets (block_id % 6) replicas (0..5 — so missing,
# under- and over-replicated blocks all exist vs expected replication 1..4).
# Datanode assignment stride 17 guarantees distinct nodes per block; the
# plain (expr % N) form lands on dn0..dn(N-1) exactly — the datanode ids
# that exist (s_suppkey is 0-BASED in the fixtures; the earlier 1 + form
# parked ~0.3% of replicas on a phantom dnN and left dn0 empty, invisible
# to the hash gates because both engines share this SQL).
# on_disk/in_memory model the DirectoryScanner disk<->memory diff
# (DirectoryScanner.java:332-396); is_corrupt models CorruptReplicasMap.
_REPLICAS_SQL = """
SELECT
  b.block_id                                                   AS block_id,
  'dn' || CAST((b.block_id * 31 + r.r * 17)
               % (SELECT COUNT(*) FROM supplier) AS STRING)    AS datanode_id,
  CASE WHEN (b.block_id + r.r) % 20 = 0 THEN 'RBW'
       WHEN (b.block_id + r.r) % 20 = 1 THEN 'RWR'
       ELSE 'FINALIZED' END                                    AS state,
  (b.block_id * 7 + r.r) % 13 = 0                              AS is_corrupt,
  (b.block_id * 3 + r.r) % 17 <> 0                             AS on_disk,
  (b.block_id * 5 + r.r) % 19 <> 0                             AS in_memory,
  CAST(1704100000000 AS BIGINT)
      - ((b.block_id * 977 + r.r) % 21600) * 1000              AS last_verified_ms
FROM blocks b
JOIN (SELECT 1 AS r UNION ALL SELECT 2 UNION ALL SELECT 3
      UNION ALL SELECT 4 UNION ALL SELECT 5) r
  ON r.r <= b.block_id % 6
"""

# Namespace tree: / -> region dirs -> nation dirs -> customer dirs -> order
# files. File length = sum of its blocks' bytes (0 for the 27 orders with no
# lineitems -> empty files). File `name` draws from a 97-value pool so the
# NameDistribution rollup (A5) is non-trivial; `path` stays unique.
_INODES_SQL = """
SELECT CAST(1 AS BIGINT) AS id, CAST(0 AS BIGINT) AS parent_id,
       '/' AS path, '' AS name, true AS is_dir,
       CAST(0 AS INT) AS replication, CAST(0 AS BIGINT) AS preferred_block_size,
       CAST(0 AS BIGINT) AS length,
       CAST(1700000000000 AS BIGINT) AS mtime_ms, CAST(1700000000000 AS BIGINT) AS atime_ms,
       'rwxr-xr-x' AS perm, 'hdfs' AS owner, 'hdfs' AS grp,
       CAST(NULL AS STRING) AS symlink,
       CAST(-1 AS BIGINT) AS ns_quota, CAST(-1 AS BIGINT) AS ds_quota,
       false AS under_construction
UNION ALL
SELECT CAST(10 + r_regionkey AS BIGINT), CAST(1 AS BIGINT),
       '/r' || CAST(r_regionkey AS STRING), 'r' || CAST(r_regionkey AS STRING), true,
       CAST(0 AS INT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(1700000000000 + r_regionkey * 1000 AS BIGINT),
       CAST(1700000000000 + r_regionkey * 1000 AS BIGINT),
       'rwxr-xr-x', 'hdfs', 'hdfs', CAST(NULL AS STRING),
       CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), false
FROM region
UNION ALL
SELECT CAST(100 + n_nationkey AS BIGINT), CAST(10 + n_regionkey AS BIGINT),
       '/r' || CAST(n_regionkey AS STRING) || '/n' || CAST(n_nationkey AS STRING),
       'n' || CAST(n_nationkey AS STRING), true,
       CAST(0 AS INT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(1700000000000 + n_nationkey * 1000 AS BIGINT),
       CAST(1700000000000 + n_nationkey * 1000 AS BIGINT),
       'rwxr-xr-x', 'hdfs', 'hdfs', CAST(NULL AS STRING),
       CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), false
FROM nation
UNION ALL
SELECT CAST(1000 + c_custkey AS BIGINT), CAST(100 + c_nationkey AS BIGINT),
       '/r' || CAST(n_regionkey AS STRING) || '/n' || CAST(c_nationkey AS STRING)
            || '/c' || CAST(c_custkey AS STRING),
       'c' || CAST(c_custkey AS STRING), true,
       CAST(0 AS INT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(1700000000000 + c_custkey * 1000 AS BIGINT),
       CAST(1700000000000 + c_custkey * 1000 AS BIGINT),
       CASE WHEN c_custkey % 4 = 0 THEN 'rwx------' ELSE 'rwxr-xr-x' END,
       'user' || CAST(c_custkey % 5 AS STRING),
       'grp' || CAST(c_custkey % 3 AS STRING),
       CAST(NULL AS STRING),
       CASE WHEN c_custkey % 10 = 0 THEN CAST(5 AS BIGINT) ELSE CAST(-1 AS BIGINT) END,
       CASE WHEN c_custkey % 7 = 0 THEN CAST(209715200 AS BIGINT) ELSE CAST(-1 AS BIGINT) END,
       false
FROM customer
JOIN nation ON n_nationkey = c_nationkey
UNION ALL
SELECT CAST(10000000 + o_orderkey AS BIGINT), CAST(1000 + o_custkey AS BIGINT),
       '/r' || CAST(n_regionkey AS STRING) || '/n' || CAST(c_nationkey AS STRING)
            || '/c' || CAST(o_custkey AS STRING) || '/o' || CAST(o_orderkey AS STRING),
       'f' || CAST(o_orderkey % 97 AS STRING), false,
       CAST(1 + (o_orderkey % 4) AS INT),
       CAST(67108864 AS BIGINT),
       CAST(COALESCE(bl.len, 0) AS BIGINT), -- outer CAST: DuckDB SUM(BIGINT) is HUGEINT, which would render as float64
       CAST(1700000000000 + o_orderkey * 1000 AS BIGINT),
       CAST(1700000000000 + o_orderkey * 500 AS BIGINT),
       CASE WHEN o_orderkey % 3 = 0 THEN 'rw-r--r--'
            WHEN o_orderkey % 3 = 1 THEN 'rw-rw-r--'
            ELSE 'rwxr-x---' END,
       'user' || CAST(o_custkey % 5 AS STRING),
       'grp' || CAST(o_custkey % 3 AS STRING),
       CASE WHEN o_orderkey % 53 = 0 THEN '/r0' ELSE CAST(NULL AS STRING) END,
       CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       (o_orderstatus = 'O' AND o_orderkey % 11 = 0)
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
LEFT JOIN (
  SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) * 1048576 AS len
  FROM lineitem GROUP BY l_orderkey
) bl ON bl.l_orderkey = o_orderkey
"""

# Edit-log changelog from the events stream. FULL opcode vocabulary per
# FSEditLogOpCodes.java:31-60 (all 18 non-deprecated/non-transport ops —
# OP_RENAME_OLD, OP_DATANODE_ADD/REMOVE, OP_SET_NS_QUOTA/CLEAR_NS_QUOTA,
# OP_JSPOOL_START/CHECKPOINT_TIME are deprecated/obsolete/journal-transport
# markers the loader skips): each event_type family subdivides by event_id
# arithmetic so every op occurs. Payload columns carry what the reference
# op carries (FSEditLogLoader.java op switch :181-479): replication for
# add/setReplication, perm for setPermissions, owner for setOwner AND the
# new holder for reassignLease (:393-400), gen_stamp for setGenstamp
# (:181: fsNamesys.setGenerationStamp); times payloads ride ts_ms. The
# delegation-token ops and OP_UPDATE_MASTER_KEY touch only the token
# secret manager (:404-430) — they appear in the log (and so in A6/T12
# counts) but are no-ops on the namespace projection.
_EDITS_SQL = """
SELECT
  CAST(event_id AS BIGINT)                                     AS txid,
  CASE WHEN event_type = 'click'    AND event_id % 5 = 0 THEN 'OP_SET_REPLICATION'
       WHEN event_type = 'click'    AND event_id % 5 = 1 THEN 'OP_SET_GENSTAMP'
       WHEN event_type = 'click'                         THEN 'OP_ADD'
       WHEN event_type = 'view'     AND event_id % 7 = 0 THEN 'OP_SET_PERMISSIONS'
       WHEN event_type = 'view'     AND event_id % 7 = 1 THEN 'OP_SET_OWNER'
       WHEN event_type = 'view'     AND event_id % 7 = 2 THEN 'OP_REASSIGN_LEASE'
       WHEN event_type = 'view'                          THEN 'OP_MKDIR'
       WHEN event_type = 'purchase' AND event_id % 5 = 0 THEN 'OP_TIMES'
       WHEN event_type = 'purchase' AND event_id % 5 = 1 THEN 'OP_SET_QUOTA'
       WHEN event_type = 'purchase' AND event_id % 5 = 2 THEN 'OP_GET_DELEGATION_TOKEN'
       WHEN event_type = 'purchase' AND event_id % 5 = 3 THEN 'OP_RENEW_DELEGATION_TOKEN'
       WHEN event_type = 'purchase'                      THEN 'OP_CLOSE'
       WHEN event_type = 'signup'   AND event_id % 9 = 0 THEN 'OP_SYMLINK'
       WHEN event_type = 'signup'   AND event_id % 9 = 1 THEN 'OP_CANCEL_DELEGATION_TOKEN'
       WHEN event_type = 'signup'   AND event_id % 9 = 2 THEN 'OP_UPDATE_MASTER_KEY'
       WHEN event_type = 'signup'                        THEN 'OP_RENAME'
       WHEN event_type NOT IN ('click', 'view', 'purchase', 'signup')
            AND event_id % 6 = 0                         THEN 'OP_CONCAT_DELETE'
       ELSE 'OP_DELETE' END                                    AS op,
  CAST(1704067200000 + event_id * 60000 AS BIGINT)             AS ts_ms,
  '/ev/u' || CAST(user_id AS STRING) || '/f'
           || CAST(event_id % 100 AS STRING)                   AS path,
  CASE WHEN event_type = 'signup' AND event_id % 9 = 0
       THEN '/ev/u' || CAST(user_id AS STRING) || '/t'
            || CAST(event_id % 100 AS STRING)
       WHEN event_type = 'signup' AND event_id % 9 NOT IN (1, 2)
       THEN '/ev/u' || CAST(user_id AS STRING) || '/g'
            || CAST(event_id % 100 AS STRING)
       WHEN event_type NOT IN ('click', 'view', 'purchase', 'signup')
            AND event_id % 6 = 0
       THEN '/ev/u' || CAST(user_id AS STRING) || '/f'
            || CAST((event_id + 1) % 100 AS STRING)
       ELSE CAST(NULL AS STRING) END                           AS dst,
  CASE WHEN event_type = 'click'
       THEN CAST(1 + (event_id % 4) AS INT)
       ELSE CAST(NULL AS INT) END                              AS replication,
  CASE WHEN event_type = 'view' AND event_id % 7 = 0
       THEN CASE WHEN event_id % 3 = 0 THEN 'rwxr-xr-x'
                 WHEN event_id % 3 = 1 THEN 'rw-r--r--'
                 ELSE 'rwx------' END
       ELSE CAST(NULL AS STRING) END                           AS perm,
  CASE WHEN event_type = 'view' AND event_id % 7 = 1
       THEN 'user' || CAST(event_id % 5 AS STRING)
       WHEN event_type = 'view' AND event_id % 7 = 2
       THEN 'client' || CAST(user_id % 7 AS STRING)
       ELSE CAST(NULL AS STRING) END                           AS owner,
  CASE WHEN event_type = 'click' AND event_id % 5 = 1
       THEN CAST(1000 + (event_id % 120) AS BIGINT)
       ELSE CAST(NULL AS BIGINT) END                           AS gen_stamp
FROM events
"""

# The block list an OP_ADD/OP_CLOSE edit carries (FSEditLogLoader.java
# op switch :181-479: both ops read a Block[] payload — addNode/
# unprotectedAddFile charge the bytes to every quota'd ancestor via
# FSDirectory.updateCount). Relationally that variable-length payload is a
# side table keyed by txid: 1..3 blocks per op, sizes 1..50 MiB, all pure
# txid arithmetic so both engines derive identical rows.
_EDIT_BLOCKS_SQL = """
SELECT
  e.txid                                                       AS txid,
  r.r                                                          AS block_seq,
  CAST(1 + ((e.txid * 131 + r.r * 37) % 50) AS BIGINT)
      * 1048576                                                AS num_bytes
FROM edits e
JOIN (SELECT 0 AS r UNION ALL SELECT 1 UNION ALL SELECT 2) r
  ON r.r <= e.txid % 3
WHERE e.op IN ('OP_ADD', 'OP_CLOSE')
"""

# In-flight replication work awaiting datanode confirmation
# (PendingReplicationBlocks.java:38-55: block -> {timeStamp,
# numReplicasInProgress}; entries are added when the NN hands work to a
# source node and removed when the new replica's blockReceived arrives).
# Every 11th block has work in flight; dispatch age spreads 0..899 s so
# both sides of the 5-min timeout occur; in-flight count 1..3.
_PENDING_REPLICATION_SQL = """
SELECT
  b.block_id                                                   AS block_id,
  CAST(1 + (b.block_id % 3) AS INT)                            AS replicas_in_flight,
  CAST(1704153600000 AS BIGINT)
      - ((b.block_id * 131) % 900) * 1000                      AS dispatched_ms
FROM blocks b
WHERE b.block_id % 11 = 0
"""

# Namenode audit log (FSNamesystem.java:131-175: tab-separated
# ugi/ip/cmd/src/dst/perm records emitted on every successful namespace
# operation). Unlike `edits`, the audit stream also carries READ traffic
# (open/listStatus/fsck never hit the edit log), so it is the entity access
# analytics run against. All 14 cmd literals audited by the reference
# (FSNamesystem.java:774-5510 call sites) occur via event arithmetic; dst
# only for the two-path verbs (rename/concat, :2068,:2117); perm mirrors
# the `ugi:group:mode` rendering for the stat-returning verbs (:150-154).
_AUDIT_SQL = """
SELECT
  CAST(event_id AS BIGINT)                                     AS audit_id,
  'user' || CAST(user_id % 5 AS STRING)                        AS ugi,
  '10.0.' || CAST(user_id % 16 AS STRING) || '.'
          || CAST(event_id % 256 AS STRING)                    AS ip,
  CASE WHEN event_type = 'click'    AND event_id % 31 = 0 THEN 'fsck'
       WHEN event_type = 'click'    AND event_id % 5 = 0  THEN 'listStatus'
       WHEN event_type = 'click'                          THEN 'open'
       WHEN event_type = 'view'     AND event_id % 7 = 0  THEN 'setPermission'
       WHEN event_type = 'view'     AND event_id % 7 = 1  THEN 'setOwner'
       WHEN event_type = 'view'     AND event_id % 7 = 2  THEN 'setTimes'
       WHEN event_type = 'view'                           THEN 'mkdirs'
       WHEN event_type = 'purchase' AND event_id % 5 = 0  THEN 'append'
       WHEN event_type = 'purchase' AND event_id % 5 = 1  THEN 'setReplication'
       WHEN event_type = 'purchase'                       THEN 'create'
       WHEN event_type = 'signup'   AND event_id % 9 = 0  THEN 'createSymlink'
       WHEN event_type = 'signup'   AND event_id % 9 = 1  THEN 'concat'
       WHEN event_type = 'signup'                         THEN 'rename'
       ELSE 'delete' END                                       AS cmd,
  '/ev/u' || CAST(user_id AS STRING) || '/f'
           || CAST(event_id % 100 AS STRING)                   AS src,
  CASE WHEN event_type = 'signup' AND event_id % 9 <> 0
       THEN '/ev/u' || CAST(user_id AS STRING) || '/g'
            || CAST(event_id % 100 AS STRING)
       ELSE CAST(NULL AS STRING) END                           AS dst,
  CASE WHEN event_type IN ('view', 'purchase')
       THEN 'user' || CAST(user_id % 5 AS STRING) || ':grp'
            || CAST(user_id % 3 AS STRING) || ':rwxr-xr-x'
       ELSE CAST(NULL AS STRING) END                           AS perm,
  CAST(1704067200000 + event_id * 60000 AS BIGINT)             AS ts_ms
FROM events
"""

# Open-file leases (LeaseManager.java:63-83): one lease per file under
# construction; holder keyed off the file id.
_LEASES_SQL = """
SELECT
  'client' || CAST(id % 7 AS STRING)                           AS holder,
  path                                                         AS path,
  CAST(1704153600000 AS BIGINT) - (id % 7200) * 1000           AS last_renewed_ms
FROM inodes
WHERE under_construction
"""

# Replication-work event CHANGELOG (the streaming twin of the
# `pending_replication` point-in-time snapshot): every OP_ADD edit
# dispatches 1..3 in-flight replicas for its block (keyed by the edit's
# txid — PendingReplicationBlocks.increment, :73-86), and for txid % 7 <= 3
# the new replica's blockReceived confirmation arrives (1 + txid % 7) lag
# steps later (PendingReplicationBlocks.decrement, :87-98). The lag step is
# 1/32 of the dispatch time range so confirm lags are commensurate with
# any window partition of the stream; /32.0 is a power-of-two division —
# IEEE-exact, so FLOOR agrees with integer floor-division in both engines.
# Confirms beyond the 4-step timeout horizon are not generated: the t21
# gate's scope is the deterministic dispatch/confirm/timeout segment (the
# late-confirm no-op leg stays a lib-tested monitor behavior).
_REPL_EVENTS_SQL = """
SELECT
  d.txid                                                       AS block_id,
  'dispatch'                                                   AS event,
  d.ts_ms                                                      AS event_ms,
  CAST(1 + d.txid % 3 AS BIGINT)                               AS n_replicas
FROM edits d WHERE d.op = 'OP_ADD'
UNION ALL
SELECT
  d.txid                                                       AS block_id,
  'confirm'                                                    AS event,
  d.ts_ms + (1 + d.txid % 7) *
    (SELECT CAST(FLOOR((MAX(ts_ms) - MIN(ts_ms)) / 32.0) AS BIGINT) + 1
     FROM edits WHERE op = 'OP_ADD')                           AS event_ms,
  CAST(1 AS BIGINT)                                            AS n_replicas
FROM edits d WHERE d.op = 'OP_ADD' AND d.txid % 7 <= 3
"""

# t22's heartbeat-ping changelog (DatanodeProtocol.sendHeartbeat as a
# stream): every datanode pings at HEARTBEAT_EXPIRY_MS/4 intervals, the
# last ping landing exactly on its snapshot last_heartbeat_ms — so the
# stream's folded per-node state reproduces the datanodes column, and the
# liveness verdict (watermark driven to NOW_MS by the gate's sentinel)
# reduces to the same closed form f4 checks in batch. The ping gap being
# strictly below the expiry guarantees no node with a later ping still
# in flight can spuriously time out mid-stream (liveness.py proof).
_HB_EVENTS_SQL = f"""
SELECT d.datanode_id,
       d.last_heartbeat_ms - k.k * {HEARTBEAT_EXPIRY_MS // 4} AS ping_ms
FROM datanodes d
CROSS JOIN (SELECT 0 AS k UNION ALL SELECT 1
            UNION ALL SELECT 2 UNION ALL SELECT 3) k
"""

# t23's lease-renewal changelog (ClientProtocol.renewLease as a stream):
# every open-file lease renews at LEASE_SOFT_MS/2 intervals, the last
# renewal landing exactly on its snapshot last_renewed_ms — so the folded
# per-(holder,path) state reproduces the leases column and the expiry
# verdict (watermark driven to NOW_MS by the gate's sentinel) reduces to
# t4's closed form. The renewal gap being strictly below the SOFT limit
# guarantees no lease with a later renewal still in flight can spuriously
# cross the soft threshold mid-stream (streaming/leases.py proof — the
# t22 ping-gap argument applied to the tighter of the two limits).
_LEASE_EVENTS_SQL = f"""
SELECT l.holder,
       l.path,
       l.last_renewed_ms - k.k * {LEASE_SOFT_MS // 2} AS renewed_ms
FROM leases l
CROSS JOIN (SELECT 0 AS k UNION ALL SELECT 1
            UNION ALL SELECT 2 UNION ALL SELECT 3) k
"""

# Delegation-token op payloads (DelegationTokenSecretManager's persisted
# state: security/token/delegation/DelegationTokenSecretManager.java,
# logGetDelegationToken/logRenewDelegationToken/logCancelDelegationToken in
# FSEditLog; loader switch FSEditLogLoader.java:404-430). The edits entity
# carries the three token opcodes but — like the reference's opaque
# Writable token identifier — no relational payload; this side entity
# derives one deterministically, the _EDIT_BLOCKS_SQL pattern:
#
# - every OP_GET_DELEGATION_TOKEN issues a fresh token, token_seq = txid
#   (the identifier's unique sequenceNumber);
# - RENEW/CANCEL ops reference the MOST RECENT token issued in their hash
#   shard (txid % 31) — a per-shard running MAX window, so renewals and
#   cancels land on real lifecycles and a renew/cancel that precedes any
#   issue in its shard gets token_seq NULL (the secret manager's
#   "token not found" InvalidToken branch); GET txids are congruent
#   2 mod 5 by the edits opcode arithmetic, so identifier moduli are
#   chosen coprime to 5 (owner % 7, renewer % 3, key % 11) to spread;
# - the identifier fields (owner, renewer, masterKeyId) derive from
#   token_seq so every op on a token agrees on them; issue/expiry/maxDate
#   are span-scaled (renew interval = token-op time range / 8) so active,
#   expired and cancelled tokens all occur at every SF — the reference's
#   expiryTime = now + renewInterval, maxDate = issueDate + k intervals.
_TOKEN_OPS_SQL = """
SELECT
  txid, op, ts_ms, token_seq,
  CASE WHEN token_seq IS NOT NULL
       THEN 'user' || CAST(token_seq % 7 AS STRING) END         AS owner,
  CASE WHEN token_seq IS NOT NULL
       THEN 'renewer' || CAST(token_seq % 3 AS STRING) END      AS renewer,
  CASE WHEN op = 'OP_GET_DELEGATION_TOKEN' THEN ts_ms END       AS issue_ms,
  CASE WHEN op = 'OP_GET_DELEGATION_TOKEN'
       THEN ts_ms + (1 + token_seq % 4) * renew_interval_ms END AS max_ms,
  CASE WHEN op IN ('OP_GET_DELEGATION_TOKEN', 'OP_RENEW_DELEGATION_TOKEN')
       THEN ts_ms + renew_interval_ms END                       AS expiry_ms,
  CASE WHEN op = 'OP_GET_DELEGATION_TOKEN'
       THEN CAST(txid % 11 AS INT) END                          AS master_key_id
FROM (
  SELECT txid, op, ts_ms,
         MAX(CASE WHEN op = 'OP_GET_DELEGATION_TOKEN' THEN txid END)
           OVER (PARTITION BY txid % 31 ORDER BY txid
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                                                                AS token_seq,
         (SELECT CAST(FLOOR((MAX(ts_ms) - MIN(ts_ms)) / 8.0) AS BIGINT) + 1
          FROM edits
          WHERE op IN ('OP_GET_DELEGATION_TOKEN',
                       'OP_RENEW_DELEGATION_TOKEN',
                       'OP_CANCEL_DELEGATION_TOKEN'))           AS renew_interval_ms
  FROM edits
  WHERE op IN ('OP_GET_DELEGATION_TOKEN', 'OP_RENEW_DELEGATION_TOKEN',
               'OP_CANCEL_DELEGATION_TOKEN')
) t
"""

# Definition order matters: replicas reads blocks, leases reads inodes.
ENTITY_SQL: dict[str, str] = {
    "datanodes": _DATANODES_SQL,
    "blocks": _BLOCKS_SQL,
    "replicas": _REPLICAS_SQL,
    "inodes": _INODES_SQL,
    "edits": _EDITS_SQL,
    "edit_blocks": _EDIT_BLOCKS_SQL,
    "token_ops": _TOKEN_OPS_SQL,
    "leases": _LEASES_SQL,
    "pending_replication": _PENDING_REPLICATION_SQL,
    "audit": _AUDIT_SQL,
    "repl_events": _REPL_EVENTS_SQL,
    "hb_events": _HB_EVENTS_SQL,
    "lease_events": _LEASE_EVENTS_SQL,
}


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Surface ``events.ts`` as BIGINT nanoseconds since the epoch, whatever
    the physical parquet type of the fixture generation in use.

    Fixture generations have stored ``ts`` as TIMESTAMP(NANOS) (read as
    BIGINT under ``nanosAsLong``) and as timestamp[us] (read as
    TIMESTAMP_NTZ).  All downstream bucketing is integer nanosecond math
    (``ts div 60e9``) and the DuckDB oracles use ``epoch_ns(ts)``, which
    treats a naive timestamp as UTC wall-clock — so the NTZ value is cast
    under a UTC session timezone (set in :func:`set_session_confs`) to
    make the two engines agree on the instant.  Works on both batch and
    streaming frames (pure column expressions, no actions).
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype in (None, "bigint"):
        return df
    col = F.col("ts")
    if dtype == "timestamp_ntz":
        # identity on the instant under a UTC session timezone
        col = col.cast("timestamp")
    return df.withColumn("ts", (F.unix_micros(col) * F.lit(1000)).cast("long"))


def set_session_confs(spark: SparkSession) -> None:
    """The runtime confs every query relies on, set on ``spark``."""
    # Older fixture generations store events.ts as TIMESTAMP(NANOS), which
    # Spark 4 only reads under this (runtime-settable) flag.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NTZ timestamps are interpreted as UTC wall-clock (what DuckDB's
    # epoch_ns does) when normalize_event_ts casts them to an instant.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The driver may hand us a default-config session (200 shuffle
    # partitions — 6x task overhead for metadata-scale frames on a 32-core
    # box). Size them to the session's own parallelism (local[N] or the
    # cluster's executor cores), not the driver host's core count.
    parallelism = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(min(parallelism, 64)))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # Join-strategy defaults (guide §3.1), runtime-settable so a
    # driver-provided default-config session gets them too; the static
    # codegen-cache sizing (session.py) cannot be applied here.
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.conf.set(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
    )


def register_base_tables(
    spark: SparkSession, sf_dir: str, schemas: dict[str, StructType] | None = None
) -> dict[str, DataFrame]:
    """Set :func:`set_session_confs`, register the fixture parquet tables
    as temp views and return them.

    ``schemas`` maps each table to its parquet schema as Spark reads it
    (the entity image stores them); a table read with its schema skips
    Spark's per-file schema-inference job."""
    set_session_confs(spark)
    out = {}
    for name in BASE_TABLES:
        reader = spark.read
        if schemas is not None:
            reader = reader.schema(schemas[name])
        df = reader.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            df = normalize_event_ts(df)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


class EntityInvariantError(ValueError):
    """A derived entity breaks a data invariant a query's fast path needs."""


def check_invariants(e: dict[str, DataFrame]) -> None:
    """Raise :class:`EntityInvariantError` unless the replica invariants
    hold: ``(block_id, datanode_id)`` is unique in ``replicas``
    (``j2_report_diff``'s zero-exchange map) and every replica's block is
    in ``blocks`` (``j11_read_locality`` reads only the replica scan)."""
    replicas = e["replicas"]
    dup = (
        replicas.groupBy("block_id", "datanode_id")
        .count()
        .filter("count > 1")
        .first()
    )
    if dup is not None:
        raise EntityInvariantError(
            f"replicas: (block_id, datanode_id) is not unique: {dup}"
        )
    orphan = replicas.join(e["blocks"], "block_id", "left_anti").first()
    if orphan is not None:
        raise EntityInvariantError(f"replicas: block_id not in blocks: {orphan}")


_SCHEMAS = "_SCHEMAS.json"


def derive_entities(
    spark: SparkSession, sf_dir: str, schemas: dict[str, StructType] | None = None
) -> dict[str, DataFrame]:
    """Derive the entity model from the fixture tables: every
    ``ENTITY_SQL`` statement through Spark's own parser, in order, each
    ``.cache()``d and registered as a temp view, so the Spark plan and the
    DuckDB oracle are built from identical text. Returns the base tables,
    the entities and ``__sf_dir__``. The image build writes these frames;
    the query manifest fingerprints plans over them, so a fingerprint
    covers each entity's derivation, not only a scan of the image."""
    out = dict(register_base_tables(spark, sf_dir, schemas))
    out["__sf_dir__"] = sf_dir
    for name, sql in ENTITY_SQL.items():
        df = spark.sql(sql).cache()
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def entity_image(spark: SparkSession, sf_dir: str) -> str:
    """Return the entity image directory of ``sf_dir``, building it on the
    first call for this fixture content, ``ENTITY_SQL`` and pyspark.

    The build runs :func:`derive_entities`, writes each entity with
    ``df.write.parquet`` into ``<image>/<entity>``, checks
    :func:`check_invariants` and writes ``_SCHEMAS.json`` (table or
    entity name -> Spark schema); it publishes through
    ``fixtures.build_once``, so a build that raises leaves no image. It
    leaves the derived frames registered as temp views.

    The key is the fixture path and content, listed through Spark's
    Hadoop FileSystem (``fixtures.listed_fingerprint``), so any URI Spark
    reads works; :func:`_image_code_version`; and the pyspark version."""

    def write(path: str) -> None:
        set_session_confs(spark)  # events.ts is read under nanosAsLong
        base = {
            name: spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
            for name in BASE_TABLES
        }
        e = derive_entities(spark, sf_dir, base)
        try:
            for name in ENTITY_SQL:
                e[name].write.parquet(os.path.join(path, name))
            check_invariants(e)
        finally:
            for name in ENTITY_SQL:
                e[name].unpersist()
        schemas = {**base, **{name: e[name].schema for name in ENTITY_SQL}}
        with open(os.path.join(path, _SCHEMAS), "w") as f:
            json.dump({n: s.jsonValue() for n, s in schemas.items()}, f)

    key = hashlib.md5(
        f"{sf_dir}|{listed_fingerprint(spark, sf_dir)}|{_image_code_version()}"
        f"|{pyspark.__version__}".encode()
    ).hexdigest()[:12]
    return build_once(f"/tmp/spark_graft_entities_{key}", write)


def _image_code_version() -> str:
    """Digest of what shapes an image's rows and layout: every
    ``ENTITY_SQL`` statement, the base tables, and the source of the
    functions that read, derive, check and write them. An edit to any of
    them builds a new image instead of serving the old entities."""
    h = hashlib.md5(f"{entities_sql_version()}|{BASE_TABLES}".encode())
    for fn in (
        normalize_event_ts,
        set_session_confs,
        register_base_tables,
        derive_entities,
        check_invariants,
        entity_image,
    ):
        h.update(inspect.getsource(fn).encode())
    return h.hexdigest()[:8]


def load_entities(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register the HDFS entity model as temp views + DataFrames, read from
    the entity image (:func:`entity_image`, built on first use).

    The base tables and the entities are read with the image's stored
    schemas, so on a built image this starts no Spark job. The image is
    read in place, the way the OfflineImageViewer streams an fsimage
    (ImageLoaderCurrent.java:147-178) instead of loading it into RAM:
    each query scans only the entity columns it reads, and only the
    operator pins (``registry.eager_cache_thunk``) are held in memory. A
    session therefore reads the image for its whole lifetime. The
    returned dict also carries the base fixture tables (documents,
    embeddings, ...) so pipeline operators can reach them, and
    ``__sf_dir__``.
    """
    image = entity_image(spark, sf_dir)
    with open(os.path.join(image, _SCHEMAS)) as f:
        schemas = {n: StructType.fromJson(s) for n, s in json.load(f).items()}
    out = dict(register_base_tables(spark, sf_dir, schemas))
    out["__sf_dir__"] = sf_dir
    for name in ENTITY_SQL:
        df = spark.read.schema(schemas[name]).parquet(os.path.join(image, name))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def oracle_prelude() -> str:
    """WITH-clause prefix deriving all entities, for DuckDB oracle queries."""
    parts = [f"{name} AS ({sql})" for name, sql in ENTITY_SQL.items()]
    return "WITH " + ",\n".join(parts) + "\n"
