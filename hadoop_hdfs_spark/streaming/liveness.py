"""t22: the heartbeat-liveness GroupState monitor under the driver gate.

t21 put the pending-replication timeout shape under the hash oracle; this
gate does the same for the OTHER monitor the round-6 verdict named —
``FSNamesystem.heartbeatCheck`` (FSNamesystem.java:3247-3296 — the scan/
remove loop; the HeartbeatMonitor thread that calls it on an interval is
:3042-3054), removing expired datanodes. The T3
stream (``timeouts.heartbeat_liveness_stream``) is its processing-time
production form; this gate runs the same fold with EVENT-time expiry so
every removal is a function of the data alone:

- the ``hb_events`` entity (entities.py) derives each node's ping series
  from the ``datanodes`` snapshot — pings every expiry/4 ending exactly
  on the node's ``last_heartbeat_ms`` column, so the folded per-node
  state reproduces the snapshot and the verdict has a closed form;
- pings are staged one parquet file per time window (8 windows over the
  ping range, the t21 discipline — enough watermark advances to fire
  mid-stream timeouts across several batches; per-batch state-store
  overhead, not data, dominates drain cost, so window count is the cold
  knob) and replayed with
  ``maxFilesPerTrigger=1``; a sentinel ping at NOW_MS drives the final
  watermark to "now", firing the timeout of every node whose
  ``last_heartbeat_ms + HEARTBEAT_EXPIRY_MS`` lies before it — exactly
  the f4 dead-node predicate (NOW - last > expiry);
- no spurious mid-stream death: a node with a later ping still in
  flight cannot time out first, because the watermark entering any batch
  is at most the previous window's end, and the stale ping's timeout pin
  (stale + expiry) exceeds that whenever the ping gap (expiry/4) is
  below the expiry — which it is by construction.

The reference monitor removes AT MOST ONE dead node per pass, rescanning
the registration-ordered heartbeats list after each removal (the lock-
fairness dance). The set-oriented restatement: the removal SEQUENCE is
the dead set ordered by registration order — emitted here as
``removal_pass`` (row_number over datanode_id, the deterministic proxy
for registration order), computed in batch over the drained sink.

Scale: state is one (last_ping) cell per monitored node — dimension-table
sized; each micro-batch shuffles one window of pings keyed by node;
removals evict their state. The production deployment keeps the
processing-time form; this event-time form is the certifiable
restatement, not a different operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..entities import HEARTBEAT_EXPIRY_MS, NOW_MS
from ..registry import eager_cache_thunk, register

_T22_WINDOWS = 8


def _stage_pings(e) -> str:
    """Stage ``hb_events`` as one parquet file per time window plus the
    NOW_MS sentinel, mtime-ordered (the t21/pending.py discipline); keyed
    on fixture content AND a code-version tag so entity or constant edits
    invalidate the stage."""
    import hashlib

    import pyarrow as pa

    from ..entities import ENTITY_SQL
    from .staging import (
        entities_sql_version,
        staged_dir,
        write_windowed_stage,
    )

    sf_dir = str(e["__sf_dir__"])
    pdf = (
        e["hb_events"]
        .select("datanode_id", "ping_ms")
        .toPandas()
        .sort_values(["ping_ms", "datanode_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    tmin, tmax = int(pdf["ping_ms"].min()), int(pdf["ping_ms"].max())
    span = (tmax - tmin) // _T22_WINDOWS + 1
    batch = (pdf["ping_ms"].astype("int64") - tmin) // span

    code_ver = hashlib.md5(
        (
            ENTITY_SQL["hb_events"]
            + f"|{_T22_WINDOWS}|{NOW_MS}|{HEARTBEAT_EXPIRY_MS}"
            + f"|{entities_sql_version()}"
        ).encode()
    ).hexdigest()[:6]

    schema = pa.schema([("datanode_id", pa.string()), ("ping_ms", pa.int64())])

    sentinel = {"datanode_id": "__sentinel__", "ping_ms": NOW_MS}
    return staged_dir(
        sf_dir,
        f"t22_liveness_{code_ver}",
        lambda stage: write_windowed_stage(stage, pdf, schema, batch, sentinel),
    )


@register(
    "t22_heartbeat_liveness_stream",
    oracle=f"""
SELECT datanode_id,
       last_heartbeat_ms,
       CAST(ROW_NUMBER() OVER (ORDER BY datanode_id) AS BIGINT)
         AS removal_pass
FROM datanodes
WHERE {NOW_MS} - last_heartbeat_ms > {HEARTBEAT_EXPIRY_MS}
""",
    doc="T3's heartbeat-liveness monitor under the driver's hash gate "
    "(the seventh driver-verified stateful-streaming shape, and the "
    "second GroupState-timeout one): FSNamesystem.heartbeatCheck:"
    "3247-3296 run as a REAL applyInPandasWithState drain with "
    "EventTimeTimeout — per-node ping series (hb_events) refresh the "
    "state and re-pin the timeout at last_ping + the 10.5-minute expiry "
    "(DFSConfigKeys heartbeat.recheck + 10 heartbeats); the sentinel-"
    "driven final watermark at NOW_MS fires exactly the f4 dead-node "
    "predicate. The monitor's one-dead-per-pass removal sequence "
    "(registration-list order) is restated as removal_pass = row_number "
    "over the dead set in registration order, computed in batch over the "
    "drained sink. Scale: one state cell per node (dimension-sized); "
    "per-batch shuffle is one ping window; death evicts the cell.",
)
def t22_heartbeat_liveness_stream(e) -> DataFrame:
    spark = e["datanodes"].sparkSession

    def build() -> DataFrame:
        from .drain import drain
        from .timeouts import heartbeat_event_stream

        stage = _stage_pings(e)
        src = (
            spark.readStream.schema("datanode_id string, ping_ms long")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        pings = src.withColumn(
            "ts", F.timestamp_millis(F.col("ping_ms"))
        ).withWatermark("ts", "0 seconds")
        out = heartbeat_event_stream(pings, HEARTBEAT_EXPIRY_MS)
        sink, _ = drain(out, "append", "t22_liveness")
        return sink.filter(F.col("datanode_id") != "__sentinel__").select(
            "datanode_id",
            F.col("last_heartbeat_ms").cast("long").alias("last_heartbeat_ms"),
            F.row_number()
            .over(Window.orderBy("datanode_id"))
            .cast("long")
            .alias("removal_pass"),
        )

    return eager_cache_thunk(e, "t22_liveness", build)
