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


def _layout(pdf, t):
    """Windows of _T21_SPAN_STEPS lag steps from the first dispatch, the
    lag step taken from the dispatch rows as the oracle's ``lagstep``
    takes it from the edits; the sentinel lands one span past the tail.
    The stage keeps the timeout (_T21_TIMEOUT_STEPS lag steps)."""
    disp = t[pdf["event"] == "dispatch"]
    tmin = int(disp.min())
    step = (int(disp.max()) - tmin) // 32 + 1
    span = _T21_SPAN_STEPS * step
    meta = {"timeout_ms": _T21_TIMEOUT_STEPS * step}
    return tmin, span, int(t.max()) + span, meta


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
    def build() -> DataFrame:
        from .drain import drain
        from .staging import windowed_stream
        from .timeouts import pending_replication_event_stream

        ev, meta = windowed_stream(
            e,
            "t21_pending",
            e["repl_events"],
            "block_id long, event string, event_ms long, n_replicas long",
            order=["event_ms", "block_id", "event"],
            layout=_layout,
            sentinel={"block_id": -1, "event": "dispatch", "n_replicas": 0},
            version=f"{_T21_TIMEOUT_STEPS}|{_T21_SPAN_STEPS}",
        )
        out = pending_replication_event_stream(ev, meta["timeout_ms"])
        sink, _ = drain(out, "append", "t21_pending")
        return sink.filter(F.col("block_id") >= 0).select(
            "block_id",
            F.col("dispatched_ms").cast("long").alias("dispatched_ms"),
            F.col("replicas_in_flight").cast("long").alias("replicas_in_flight"),
            "timed_out",
        )

    return eager_cache_thunk(e, "t21_pending", build)
