"""Stream-stream interval join: pair OP_CLOSE edits with the OP_ADD edits
that opened them, as both streams arrive — the continuous form of the batch
as-of pairing (``j8_asof_open_close``, operators/relational.py), bounded to
the lease hard-limit window.

Scale shape: both sides carry a watermark and the join condition carries an
explicit event-time bound, so each side's buffered state is only the
watermark+bound horizon — without the time bound a stream-stream join must
buffer one side forever. State is keyed by path (the equi key); matching is
a hash lookup per arriving row, exactly the shuffled-hash-join layout, held
incrementally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import eager_cache_thunk, register

# Pairing horizon: one day — the abandoned-file sweep window (an OP_ADD
# with no OP_CLOSE inside it is a lease-recovery candidate, the
# LeaseManager.Monitor sweep generalized to event time). The lease hard
# limit itself (3600 s, FSConstants.java:41-42) is shorter than the edit
# stream's minimum same-path revisit interval in the fixture model.
_PAIR_HORIZON_S = 86400


def open_close_pairs_stream(
    spark: SparkSession,
    edits_parquet_dir: str,
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream (path, open_txid, close_txid, open_age_ms) pairs.

    Inner join: a pair is emitted when both sides have arrived; the
    event-time bound (close within the sweep horizon of its open) plus
    the watermarks let Spark evict adds older than the horizon. Returns
    the unstarted streaming frame; drain it in append mode
    (``drain(open_close_pairs_stream(...), "append", name)``).
    """
    schema = spark.read.parquet(edits_parquet_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(edits_parquet_dir)
    ev = src.select(
        "txid", "op", "path", F.timestamp_millis(F.col("ts_ms")).alias("ts")
    )
    adds = (
        ev.filter(F.col("op") == "OP_ADD")
        .select(
            F.col("path").alias("a_path"),
            F.col("txid").alias("open_txid"),
            F.col("ts").alias("a_ts"),
        )
        .withWatermark("a_ts", watermark)
    )
    closes = (
        ev.filter(F.col("op") == "OP_CLOSE")
        .select(
            F.col("path").alias("c_path"),
            F.col("txid").alias("close_txid"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    return closes.join(
        adds,
        F.expr(
            f"""
            c_path = a_path AND
            a_ts <= c_ts AND
            a_ts >= c_ts - INTERVAL {_PAIR_HORIZON_S} SECONDS
            """
        ),
    ).select(
        F.col("c_path").alias("path"),
        "open_txid",
        "close_txid",
        (
            F.unix_millis(F.col("c_ts")) - F.unix_millis(F.col("a_ts"))
        ).alias("open_age_ms"),
    )


# ---------------------------------------------------------------------------
# t18: the stream-stream interval join as a REAL streaming query under the
# driver's hash gate (companion to t14 tumbling windows / t17 session
# windows — this gates the third stateful-streaming shape, the join).
#
# Inner stream-stream joins emit a pair the moment both sides are present
# in state, so no sentinel/flush trick is needed — but state EVICTION is
# watermark-driven, and availableNow may split a directory into several
# micro-batches. The fixture is staged as ONE parquet file (single
# micro-batch: every add is in state when its close arrives) and the
# watermark is set far past the fixture horizon, so no pair can be lost to
# eviction; the join's event-time bound still declares the state-cleanup
# contract a production run relies on.

_T18_HORIZON_MS = _PAIR_HORIZON_S * 1000


def _stage_edits(e) -> str:
    """Write the edits entity once to /tmp as a single parquet file.

    Only OP_ADD/OP_CLOSE rows are staged — the join filters to exactly
    these, so staging the other 16 opcodes would make the streaming source
    read and discard ~85% of its input every drain (the production
    equivalent: partition the changelog by opcode and subscribe to the two
    partitions the join consumes). Keyed on fixture content, built
    atomically (fixtures.staged_dir)."""
    from ..fixtures import entities_sql_version, staged_dir

    return staged_dir(
        str(e["__sf_dir__"]),
        f"t18_pairs_{entities_sql_version()}",
        lambda p: e["edits"]
        .select("txid", "op", "ts_ms", "path")
        .filter(F.col("op").isin("OP_ADD", "OP_CLOSE"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(p),
    )


@register(
    "t18_stream_open_close",
    oracle=f"""
WITH adds AS (
  SELECT path, txid AS open_txid, ts_ms AS a_ms
  FROM edits WHERE op = 'OP_ADD'
),
closes AS (
  SELECT path, txid AS close_txid, ts_ms AS c_ms
  FROM edits WHERE op = 'OP_CLOSE'
)
SELECT c.path, a.open_txid, c.close_txid,
       CAST(c.c_ms - a.a_ms AS BIGINT) AS open_age_ms
FROM closes c
JOIN adds a ON a.path = c.path
           AND a.a_ms <= c.c_ms
           AND a.a_ms >= c.c_ms - {_T18_HORIZON_MS}
""",
    doc="Stream-stream interval join under the driver's hash gate (SURVEY "
    "§2.8 T13 made driver-verifiable): a REAL readStream->join->writeStream "
    "run pairing every OP_CLOSE with the OP_ADDs that opened its path "
    "within the one-day sweep horizon — watermarked on both sides with an "
    "explicit event-time bound (the only plan shape whose join state is "
    "horizon-bounded instead of unbounded), append-mode memory sink, "
    "availableNow drain, hash-matched against the equivalent batch "
    "interval-join SQL. Scale: state is keyed by path and bounded to the "
    "watermark+horizon window per side; each arriving row is one hash "
    "probe — the shuffled-hash-join layout held incrementally. The staged "
    "single-file fixture pins the drain to one micro-batch so the gate is "
    "deterministic; production would let eviction run continuously.",
)
def t18_stream_open_close(e) -> DataFrame:
    def build() -> DataFrame:
        from .drain import drain

        pairs = open_close_pairs_stream(
            e["edits"].sparkSession, _stage_edits(e), watermark="30 days"
        )
        return drain(pairs, "append", "t18_stream_open_close")[0]

    return eager_cache_thunk(e, "t18_pairs_result", build)
