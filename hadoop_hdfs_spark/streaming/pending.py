"""t21: the GroupState timeout machinery under the driver's hash gate.

Five stateful-streaming shapes are already driver-gated (t14 tumbling
windows, t17 session windows, t18 stream-stream interval join, t19
streaming dedup, t20 stream-static enrichment); the sixth — and the one
the reference's monitor threads actually correspond to — is
``applyInPandasWithState`` with a STATE TIMEOUT. The T3/T4/T7 monitors
(streaming/timeouts.py) use processing-time timeouts, whose firing depends
on wall-clock scheduling and therefore can never hash-match an oracle.
This gate runs the SAME pending-replication monitor fold
(PendingReplicationBlocks.java:38-55 dispatch/confirm map +
PendingReplicationMonitor:178-195 re-queue) with an EVENT-time timeout
pinned at dispatched_ms + timeout, so every transition is a function of
the data alone:

- the ``repl_events`` entity (entities.py) derives a dispatch/confirm
  changelog from the edit log by pure txid arithmetic; confirms arrive
  only within the timeout horizon (the t1b scoping trick — the segment is
  chosen so dispatch/confirm/timeout outcomes have a closed form);
- the stream is staged as one parquet FILE PER TIME WINDOW (span = 8 lag
  steps), read back with ``maxFilesPerTrigger=1`` so micro-batch
  boundaries are deterministic window boundaries, plus a sentinel event
  one span past the tail that drives the final watermark over every
  pending timeout;
- with a 0-second watermark delay, the watermark entering any batch is
  strictly below that window's start, so (a) a confirm is always
  processed before its block's timeout can fire and (b) every
  setTimeoutTimestamp call is strictly above the current watermark.

The closed form the oracle states, per dispatched block (r_d replicas in
flight, optional in-horizon confirm at t_c):

- a dispatch-batch row (r_d in flight, not timed out) — unless the
  confirm lands in the SAME window, in which case the fold nets inside
  one batch and only the confirm row appears;
- a confirm-batch row with r_d - 1 in flight (0 evicts the entry);
- a timed-out row for whatever is still in flight once the watermark
  passes dispatched_ms + timeout: all of r_d unconfirmed, or the r_d - 1
  survivors of a single confirm — the reference's timedOutItems hand-off
  into neededReplications (T6).

Scale: state is bounded by the in-flight work set (confirms and timeouts
both evict — exactly the reference map's lifecycle); each micro-batch
shuffles only its window's events, keyed by block. A production run would
use the processing-time form (timeouts.py) with real arrival times; the
event-time form here is the certifiable restatement, not a different
operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..registry import eager_cache_thunk, register

# Timeout = 4 lag steps: in-horizon confirms (1..4 steps) beat it, the
# rest of the in-flight work times out. Expressed in lag-step units so the
# segment keeps the same shape at every scale factor.
_T21_TIMEOUT_STEPS = 4
_T21_SPAN_STEPS = 8  # window span: confirms routinely cross a boundary

_LAG_STEP_SQL = """
SELECT CAST(FLOOR((MAX(ts_ms) - MIN(ts_ms)) / 32.0) AS BIGINT) + 1 AS step,
       MIN(ts_ms) AS tmin
FROM edits WHERE op = 'OP_ADD'
"""


def _stage_windows(e) -> tuple[str, int]:
    """Stage ``repl_events`` as one parquet file per time window (plus the
    watermark sentinel), returning (stage_dir, timeout_ms).

    Files are written in window order with strictly increasing mtimes so
    the file stream source (which orders by modification time) replays
    them as deterministic micro-batches. Keyed on fixture content AND a
    code-version tag (the hftp lesson, ADVICE r6): an edit to the entity
    SQL or this module's constants must invalidate the stage.
    """
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
        e["repl_events"]
        .select("block_id", "event", "event_ms", "n_replicas")
        .toPandas()
        .sort_values(["event_ms", "block_id", "event"], kind="mergesort")
        .reset_index(drop=True)
    )
    disp = pdf[pdf["event"] == "dispatch"]["event_ms"]
    tmin, tmax_d = int(disp.min()), int(disp.max())
    step = (tmax_d - tmin) // 32 + 1
    span = _T21_SPAN_STEPS * step
    timeout_ms = _T21_TIMEOUT_STEPS * step
    batch = (pdf["event_ms"].astype("int64") - tmin) // span
    sentinel_ms = int(pdf["event_ms"].max()) + span

    code_ver = hashlib.md5(
        (
            ENTITY_SQL["repl_events"]
            + f"|{_T21_TIMEOUT_STEPS}|{_T21_SPAN_STEPS}"
            + f"|{entities_sql_version()}"
        ).encode()
    ).hexdigest()[:6]

    schema = pa.schema(
        [
            ("block_id", pa.int64()),
            ("event", pa.string()),
            ("event_ms", pa.int64()),
            ("n_replicas", pa.int64()),
        ]
    )

    sentinel = {
        "block_id": -1,
        "event": "dispatch",
        "event_ms": sentinel_ms,
        "n_replicas": 0,
    }
    return (
        staged_dir(
            sf_dir,
            f"t21_pending_{code_ver}",
            lambda stage: write_windowed_stage(stage, pdf, schema, batch, sentinel),
        ),
        timeout_ms,
    )


@register(
    "t21_pending_timeout_stream",
    oracle=f"""
WITH lagstep AS ({_LAG_STEP_SQL}),
d AS (
  SELECT block_id, event_ms AS t_d, n_replicas AS r_d
  FROM repl_events WHERE event = 'dispatch'
),
c AS (
  SELECT block_id, event_ms AS t_c
  FROM repl_events WHERE event = 'confirm'
),
j AS (
  SELECT d.block_id, d.t_d, d.r_d, c.t_c,
         CAST(FLOOR((d.t_d - l.tmin) / ({_T21_SPAN_STEPS}.0 * l.step))
              AS BIGINT) AS b_d,
         CAST(FLOOR((c.t_c - l.tmin) / ({_T21_SPAN_STEPS}.0 * l.step))
              AS BIGINT) AS b_c
  FROM d LEFT JOIN c ON d.block_id = c.block_id CROSS JOIN lagstep l
)
SELECT block_id, t_d AS dispatched_ms,
       r_d AS replicas_in_flight, FALSE AS timed_out
FROM j WHERE t_c IS NULL OR b_d <> b_c
UNION ALL
SELECT block_id, t_d, r_d - 1, FALSE FROM j WHERE t_c IS NOT NULL
UNION ALL
SELECT block_id, t_d,
       CASE WHEN t_c IS NULL THEN r_d ELSE r_d - 1 END, TRUE
FROM j WHERE t_c IS NULL OR r_d > 1
""",
    doc="T3/T4/T7's GroupState TIMEOUT machinery under the driver's hash "
    "gate (the sixth driver-verified stateful-streaming shape): the "
    "pending-replication monitor (PendingReplicationBlocks.java:38-55, "
    "PendingReplicationMonitor:178-195) run as a REAL "
    "applyInPandasWithState drain with EventTimeTimeout — dispatch events "
    "add in-flight replicas and pin a timeout at dispatched_ms + 4 lag "
    "steps, confirms decrement (0 evicts), and the advancing watermark "
    "fires the re-queue emission for whatever never confirmed. Input is "
    "the repl_events changelog staged one-file-per-window so micro-batch "
    "boundaries are deterministic; a sentinel one span past the tail "
    "drives the final watermark over every pending timeout. The oracle "
    "states the closed-form emission relation (dispatch rows, confirm "
    "rows, timed-out rows) the scoped segment collapses to. Scale: state "
    "= the in-flight work set only (confirms and timeouts both evict); "
    "per-batch shuffle is one window of the changelog keyed by block.",
)
def t21_pending_timeout_stream(e) -> DataFrame:
    spark = e["repl_events"].sparkSession

    def build() -> DataFrame:
        from .drain import drain
        from .timeouts import pending_replication_event_stream

        stage, timeout_ms = _stage_windows(e)
        src = (
            spark.readStream.schema(
                "block_id long, event string, event_ms long, n_replicas long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        ev = src.withColumn(
            "ts", F.timestamp_millis(F.col("event_ms"))
        ).withWatermark("ts", "0 seconds")
        out = pending_replication_event_stream(ev, timeout_ms)
        sink, _ = drain(out, "append", "t21_pending")
        return sink.filter(F.col("block_id") >= 0).select(
            "block_id",
            F.col("dispatched_ms").cast("long").alias("dispatched_ms"),
            F.col("replicas_in_flight").cast("long").alias("replicas_in_flight"),
            "timed_out",
        )

    return eager_cache_thunk(e, "t21_pending", build)
