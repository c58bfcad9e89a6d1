"""t20: stream-STATIC enrichment join under the driver's hash gate — the
fifth stateful-streaming shape (t14 tumbling agg, t17 session agg, t18
stream-stream interval join, t19 streaming dedup), and in production the
most common one: a fact stream joins a broadcast dimension table before
aggregation (the audit-stream analog: every NameNode op record is enriched
with its caller's group/quota context before metrics roll up;
FSNamesystem.java:131-175 resolves the UGI on every audited op the same
way).

Scale shape: the dimension side is a STATIC batch frame broadcast to the
stream — no state grows with it, and the join adds zero streaming state
(only the downstream windowed aggregation keeps partials). The micro-batch
shuffle moves (window, segment) partial counts, bounded by horizon x
segment cardinality, independent of event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..entities import normalize_event_ts
from ..registry import register


@register(
    "t20_stream_enrich",
    oracle=f"""
SELECT CAST((epoch_ns(e.ts) // {60_000_000_000}) * 60000 AS BIGINT) AS bucket_start_ms,
       c.c_mktsegment AS mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(e.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
""",
    doc="Stream-static enrichment join under the driver's hash gate: a "
    "REAL Structured Streaming run — readStream over the events parquet, "
    "broadcast join against the STATIC customer dimension (the UGI-"
    "resolution shape of FSNamesystem's audit path: every streamed op "
    "enriched with caller context before metrics aggregate), tumbling "
    "one-minute windows per market segment, complete-mode memory sink, "
    "availableNow drain — hash-matched against the batch join+agg SQL. "
    "Scale: the dimension broadcasts (no streaming state for the join); "
    "aggregation state is one partial per (window, segment); the "
    "micro-batch shuffle moves partial counts only.",
)
def t20_stream_enrich(e) -> DataFrame:
    from ..registry import eager_cache_thunk

    def build() -> DataFrame:
        spark = e["events"].sparkSession
        sf_dir = e["__sf_dir__"]
        src = normalize_event_ts(
            spark.readStream.schema(
                spark.read.parquet(f"{sf_dir}/events.parquet").schema
            )
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        dim = e["customer"].select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
        enriched = src.select(
            F.timestamp_millis(F.expr("ts div 1000000")).alias("ts"),
            "user_id",
            "value",
        ).join(F.broadcast(dim), "user_id")
        agg = enriched.groupBy(
            F.window("ts", "1 minute"),
            F.col("c_mktsegment").alias("mktsegment"),
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        from .drain import drain

        sink, _ = drain(agg, "complete", "t20_stream_enrich")
        return sink.select(
            F.unix_millis(F.col("window.start")).alias("bucket_start_ms"),
            "mktsegment",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("value_cents").cast("long").alias("value_cents"),
        )

    return eager_cache_thunk(e, "t20_enrich_result", build)


