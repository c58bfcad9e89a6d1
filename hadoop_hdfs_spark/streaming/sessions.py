"""Event-time sessionization of the edit stream with Structured Streaming.

The batch form (`t10_edit_sessions`, operators/admin.py) computes gap-based
client sessions with lag + running-sum windows. This is the streaming
restatement: ``session_window`` merges events whose gaps stay under the
lease hard limit (3600 s, FSConstants.java:41-42), a watermark bounds state
for late edits, and the aggregation runs incrementally per micro-batch.

Boundary semantics match the batch query exactly: ``session_window`` merges
an event landing exactly on the window end (inclusive), so a new session
opens only when the inter-event gap strictly exceeds the gap duration —
the batch query's ``ts_ms - lag(ts_ms) > GAP`` condition.
"""

from __future__ import annotations

import os
import shutil
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register

SESSION_GAP_MS = 3_600_000  # lease hard limit (FSConstants.java:41-42)


def edit_sessions_stream(
    spark: SparkSession,
    edits_parquet_dir: str,
    gap_ms: int = SESSION_GAP_MS,
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream (client, session_window, ops) from an edits parquet directory.

    Returns the unstarted streaming frame; drain it in append mode
    (``drain(edit_sessions_stream(...), "append", name)``). Session-window
    aggregation supports append output only: a session row is emitted
    exactly once, when the watermark passes its end (last event + gap) —
    sessions still open within the watermark delay of the stream tail stay
    in state. Late rows beyond ``watermark`` are dropped — the
    lost-heartbeat analog.
    """
    schema = spark.read.parquet(edits_parquet_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(edits_parquet_dir)
    ev = src.select(
        F.element_at(F.split("path", "/"), 3).alias("client"),
        F.timestamp_millis(F.col("ts_ms")).alias("ts"),
    )
    return (
        ev.withWatermark("ts", watermark)
        .groupBy("client", F.session_window("ts", f"{gap_ms} milliseconds"))
        .agg(F.count("*").alias("ops"))
    )


# ---------------------------------------------------------------------------
# t17: event sessionization as a REAL streaming query under the driver's
# hash gate (companion to t14_stream_rates, which gates tumbling windows).
#
# session_window aggregation supports append output only: a session row is
# emitted when the watermark passes its end (last event + gap). To make the
# drained result COMPLETE (hence deterministic and batch-equivalent), the
# fixture is staged into /tmp alongside one sentinel event 24 h past the
# stream tail: the sentinel advances the global watermark beyond every real
# session's end, so the availableNow no-data flush batch emits them all.
# The sentinel row itself is filtered out AFTER the watermark node (it
# advances the event-time clock but never enters session state).

SESSION_GAP_EVENTS_MS = 600_000  # 10-min inactivity gap


def _stage_with_sentinel(sf_dir: str) -> str:
    """Copy events.parquet to a /tmp dir plus a one-row sentinel file.

    The sentinel preserves the source file's EXACT arrow schema (fixture
    generations vary between timestamp[ns] and timestamp[us] physical
    types) so the declared readStream schema reads both files. Keyed on
    fixture content, built atomically (fixtures.staged_dir).
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..fixtures import entities_sql_version, staged_dir

    src = f"{sf_dir.rstrip('/')}/events.parquet"

    def build(stage: str) -> None:
        os.makedirs(stage, exist_ok=True)
        shutil.copy(src, os.path.join(stage, "events.parquet"))
        t = pq.read_table(src)
        tmax = pc.max(t["ts"]).as_py()
        # fixture generations store ts as timestamp[us/ns] (as_py ->
        # datetime) OR as raw INT64 epoch nanoseconds (as_py -> int);
        # advance 24 h in whichever representation the file uses
        day = (
            24 * 3600 * 10**9
            if isinstance(tmax, int)
            else timedelta(hours=24)
        )
        row = {name: None for name in t.schema.names}
        row.update(
            event_id=-1,
            ts=tmax + day,
            user_id=-1,
            event_type="__sentinel__",
            value=0.0,
            props="{}",
        )
        pq.write_table(
            pa.Table.from_pylist([row], schema=t.schema),
            os.path.join(stage, "zz_sentinel.parquet"),
        )

    return staged_dir(
        str(sf_dir), f"t17_sessions_{entities_sql_version()}", build
    )


@register(
    "t17_stream_sessions",
    oracle=f"""
WITH t AS (
  SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms,
         CAST(FLOOR(value * 100) AS BIGINT) AS cents
  FROM events
),
-- collapse to one row per DISTINCT (user, ts) BEFORE the lag walk: the
-- classic lag/running-sum sessionization is peer-order-DEPENDENT on
-- duplicate timestamps (a duplicate of a session-opening event lands
-- before or after the opener within its tie group arbitrarily, moving
-- it between adjacent sessions — observed as a run-to-run row-count
-- flap on the 10x fact-scaled set, whose key-offset copies overlay
-- identical (user, ts) multisets). Spark's session_window assigns
-- duplicates deterministically; grouping first makes the SQL
-- restatement well-defined under ties and is identity on the unique-ts
-- fixtures.
g AS (
  SELECT user_id, ts_ms,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS c
  FROM t GROUP BY user_id, ts_ms
),
marked AS (
  SELECT user_id, ts_ms, n, c,
         CASE WHEN LAG(ts_ms) OVER w IS NULL
              OR ts_ms - LAG(ts_ms) OVER w > {SESSION_GAP_EVENTS_MS}
              THEN 1 ELSE 0 END AS new_s
  FROM g
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
),
sess AS (
  SELECT user_id, ts_ms, n, c,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       CAST(MIN(ts_ms) AS BIGINT) AS session_start_ms,
       CAST(MAX(ts_ms) AS BIGINT) AS session_end_ms,
       CAST(SUM(n) AS BIGINT)     AS n_events,
       CAST(SUM(c) AS BIGINT)     AS value_cents
FROM sess
GROUP BY user_id, sid
""",
    doc="Streaming sessionization under the driver's hash gate (SURVEY "
    "§2.8; the user-session twin of t10's client sessions): a REAL "
    "session_window + watermark streaming query — readStream over the "
    "staged events parquet, 10-min gap sessions per user, append-mode "
    "memory sink, availableNow drain — hash-matched against the batch "
    "lag/running-sum sessionization SQL. A sentinel event 24 h past the "
    "stream tail advances the watermark so every real session flushes "
    "(filtered after the watermark node; it never enters state). "
    "Boundary parity: session_window merges a gap == GAP event "
    "(inclusive), the oracle opens a session only on gap > GAP. Scale: "
    "state is one open session per active user within the watermark "
    "horizon; each micro-batch shuffles per-partition partial session "
    "fragments keyed by user — event volume streams through, never "
    "accumulates. value summed as floor(x*100) BIGINT cents: "
    "order-independent.",
)
def t17_stream_sessions(e) -> DataFrame:
    from ..registry import eager_cache_thunk

    def build() -> DataFrame:
        ev_batch = e["events"]
        spark = ev_batch.sparkSession
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        stage = _stage_with_sentinel(e["__sf_dir__"])
        from ..entities import normalize_event_ts

        src = normalize_event_ts(
            spark.readStream.schema(
                spark.read.parquet(f"{stage}/events.parquet").schema
            ).parquet(stage)
        )
        ev = src.select(
            F.timestamp_millis(F.expr("ts div 1000000")).alias("ts"),
            "user_id",
            "value",
        )
        # The sentinel flows INTO the aggregation (a pre-agg filter would be
        # pushed below the EventTimeWatermark node and drop it before it
        # advances the clock). Its own one-event session sits exactly at the
        # watermark frontier (end = sentinel_ts + gap > watermark = sentinel_ts)
        # so it can never flush; the sink-side filter below is defensive.
        agg = (
            ev.withWatermark("ts", "0 seconds")
            .groupBy("user_id", F.session_window("ts", f"{SESSION_GAP_EVENTS_MS} milliseconds"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
            )
        )
        from .drain import drain

        sink, _ = drain(agg, "append", "t17_stream_sessions")
        return sink.filter(F.col("user_id") >= 0).select(
            "user_id",
            F.unix_millis(F.col("session_window.start")).alias("session_start_ms"),
            (F.unix_millis(F.col("session_window.end")) - SESSION_GAP_EVENTS_MS)
            .cast("long")
            .alias("session_end_ms"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("value_cents").cast("long").alias("value_cents"),
        )

    return eager_cache_thunk(e, "t17_sessions_result", build)


