"""Streaming twin of the batch rate metrics (``t11_event_rates``): tumbling
one-minute windows per event type, maintained incrementally — the actual
NameNodeMetrics shape (server/namenode/metrics/NameNodeMetrics.java:63-104:
counters roll over fixed intervals as ops arrive, they are not recomputed).

Scale shape: state is one partial aggregate per open (window, type) pair —
bounded by watermark horizon x type cardinality, independent of event
volume. The shuffle each micro-batch moves per-partition partial counts.

``events.ts`` is normalized to BIGINT nanoseconds by
``entities.normalize_event_ts`` (fixture generations vary between
TIMESTAMP(NANOS) and timestamp[us] physical types);
``timestamp_millis(ts div 1e6)`` truncates to the same minute bucket the
batch query derives with ``ts div 60e9`` — integer math throughout (double
division loses precision above 2^53 ns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..entities import normalize_event_ts
from ..registry import register


def event_rates_stream(
    spark: SparkSession,
    events_parquet_dir: str,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
):
    """Stream per-minute (event_type, n_events, value_cents) aggregates.

    Returns ``(query, table)``: ``query`` drains the directory under an
    availableNow trigger; ``table()`` reads the append-mode memory sink.
    Append emits a window exactly once, when the watermark passes its end —
    windows still open within the watermark delay of the stream tail stay
    in state (same contract as ``edit_sessions_stream``).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(events_parquet_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = normalize_event_ts(reader.parquet(events_parquet_dir))
    ev = src.select(
        F.timestamp_millis(F.expr("ts div 1000000")).alias("ts"),
        "event_type",
        "value",
    )
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )
    name = "event_rates_sink"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )

    def table() -> DataFrame:
        return spark.table(name)

    return q, table


@register(
    "t14_stream_rates",
    oracle=f"""
SELECT CAST((epoch_ns(ts) // {60_000_000_000}) * 60000 AS BIGINT) AS bucket_start_ms,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1, 2
""",
    doc="Streaming execution under the driver's hash gate (SURVEY §2.8): "
    "the per-minute rate aggregation runs as a REAL Structured Streaming "
    "query — readStream over the events parquet, tumbling one-minute "
    "windows, complete-mode memory sink, availableNow drain — and the "
    "drained sink must hash-match the batch SQL oracle exactly. This is "
    "the incremental NameNodeMetrics shape executed by the streaming "
    "engine itself, not a batch stand-in: state is one partial aggregate "
    "per (window, type), the micro-batch shuffle moves partial counts, "
    "and bounded-input equivalence to the batch plan is certified "
    "cross-engine. (The production variant adds a watermark + append "
    "mode — event_rates_stream above — which trades the tail windows "
    "for bounded state; complete mode over the drained bounded input "
    "makes the result deterministic for the gate.)",
)
def t14_stream_rates(e) -> DataFrame:
    # memoized like every other certification gate: each invocation would
    # otherwise re-drain AND pin a fresh never-released localCheckpoint
    # (one leaked pin per warm pass in a long-lived session)
    from ..registry import eager_cache_thunk

    return eager_cache_thunk(e, "t14_rates_result", lambda: _t14_run(e))


def _t14_run(e) -> DataFrame:
    ev_batch = e["events"]
    spark = ev_batch.sparkSession
    sf_dir = e["__sf_dir__"]
    # the file-stream source requires a directory: stream the fixture dir
    # with a glob pinned to the events file
    src = normalize_event_ts(
        spark.readStream.schema(
            spark.read.parquet(f"{sf_dir}/events.parquet").schema
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = (
        src.select(
            F.timestamp_millis(F.expr("ts div 1000000")).alias("ts"),
            "event_type",
            "value",
        )
        .groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )
    from .drain import drain

    # The result is (minutes x types)-bounded, so the pin is metadata-sized.
    sink, _ = drain(agg, "complete", "t14_stream_rates")
    return sink.select(
        F.unix_millis(F.col("window.start")).alias("bucket_start_ms"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("value_cents").cast("long").alias("value_cents"),
    )
