"""Streaming exact deduplication — the continuous form of ``d_exact_dedup``
(pipeline/dedup.py): as documents arrive, keep the first occurrence of each
content digest and drop the rest.

State discipline is the whole point at scale: a naive ``dropDuplicates``
keeps every digest ever seen (state grows with the corpus);
``dropDuplicatesWithinWatermark`` bounds state to the watermark horizon —
the right contract for an ingest pipeline where a duplicate, if it comes,
comes within a bounded window of its original (crawl retries, double
uploads). Cross-horizon dedup belongs to the batch compaction pass
(``d_exact_dedup``) that closes the loop offline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register


def dedup_documents_stream(
    spark: SparkSession,
    documents_parquet_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream (doc_id, text_md5) of first-seen documents from a parquet dir.

    Event time is the ingest timestamp carried by the fixture's ``doc_id``
    (one doc per second from the epoch — deterministic and monotone, the
    arrival-order analog). Returns the unstarted streaming frame; drain it
    in append mode (``drain(dedup_documents_stream(...), "append", name)``).
    """
    schema = spark.read.parquet(documents_parquet_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(documents_parquet_dir)
    keyed = src.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        # +1 day: a row landing exactly ON the initial watermark (epoch 0,
        # i.e. doc_id=0) would be discarded as late before its digest ever
        # reaches state — keep the synthetic clock strictly above it
        F.timestamp_seconds(F.col("doc_id") + 86400).alias("ingest_ts"),
    )
    deduped = keyed.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["text_md5"]
    )
    return deduped.select("doc_id", "text_md5")


# ---------------------------------------------------------------------------
# t19: streaming dedup as a REAL streaming query under the driver's hash
# gate (companion to t14 tumbling windows / t17 session windows / t18
# stream-stream join — this gates the fourth stateful-streaming shape,
# dedup state).
#
# Determinism note: dropDuplicatesWithinWatermark keeps the first row
# ENCOUNTERED per key, and encounter order across partitions is a race —
# so the gated projection is the DIGEST SET alone (one row per distinct
# digest, whoever won), which is deterministic. Winner identity belongs
# to the batch pass (d_exact_dedup pins keeper = min doc_id); the stream's
# contract is "at most one survivor per digest within the horizon", and
# that is exactly what gets hash-checked.


def _stage_documents(e) -> str:
    """Stage the documents fixture as ONE parquet file in /tmp so the
    availableNow drain is a single micro-batch (every duplicate meets its
    original in state; nothing is split across batch boundaries). Keyed on
    fixture content, built atomically (staging.staged_dir)."""
    from .staging import entities_sql_version, staged_dir

    return staged_dir(
        str(e["__sf_dir__"]),
        f"t19_docs_{entities_sql_version()}",
        lambda p: e["documents"]
        .select("doc_id", "text")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(p),
    )


@register(
    "t19_stream_dedup",
    oracle="""
SELECT DISTINCT md5(text) AS text_md5 FROM documents
""",
    doc="Streaming exact dedup under the driver's hash gate (SURVEY §2.8, "
    "the continuous d_exact_dedup): a REAL readStream -> "
    "dropDuplicatesWithinWatermark -> writeStream run over the staged "
    "document stream, emitting the surviving digest set — hash-matched "
    "against DISTINCT md5(text). State discipline is the point: "
    "dropDuplicatesWithinWatermark evicts digests past the watermark "
    "horizon, so state is bounded by the horizon's arrival volume instead "
    "of growing with the corpus forever (the naive dropDuplicates "
    "failure). The gated projection is the digest set, not the winner id "
    "— first-encounter winners are a cross-partition race by design; "
    "winner pinning (min doc_id) is the batch compaction pass's job. "
    "Scale: state is keyed by the 16-byte digest, the shuffle moves "
    "(digest, ts) pairs, and the drain narrows state-store partitioning "
    "like the other certification drains.",
)
def t19_stream_dedup(e):
    # memoized like every other certification gate: each invocation would
    # otherwise re-drain AND pin a fresh never-released localCheckpoint
    from ..registry import eager_cache_thunk

    return eager_cache_thunk(e, "t19_dedup_result", lambda: _t19_run(e))


def _t19_run(e):
    from .drain import drain

    stage = _stage_documents(e)
    deduped = dedup_documents_stream(
        e["documents"].sparkSession, stage, watermark="30 days"
    )
    return drain(deduped.select("text_md5"), "append", "t19_stream_dedup")[0]
