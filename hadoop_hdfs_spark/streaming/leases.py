"""t23: the lease-expiry GroupState monitor under the driver gate.

t21 gated the pending-replication timeout and t22 the heartbeat monitor;
this gate closes the set — ``LeaseManager``'s Monitor (the last reference
monitor thread without an event-time hash gate) run as a REAL
``applyInPandasWithState`` drain with EventTimeTimeout, and the first
TWO-PHASE timeout ladder: soft preemption then hard release.

Reference semantics pinned (LeaseManager.java):

- ``checkLeases`` (:365-411) releases expired leases OLDEST-FIRST: it
  repeatedly takes ``sortedLeases.first()`` — a TreeSet ordered by
  (lastUpdate, holder) (``Lease.compareTo`` :255-266) — and stops at the
  first lease whose HARD limit (3600 s, FSConstants.java:42) has not
  expired. Within a lease, paths are released iterating the holder's
  path set (a sorted set — lexicographic).
- The SOFT limit (60 s, FSConstants.java:41) never triggers the Monitor;
  it makes the lease preemptable — another client's startFile recovers it
  (``Lease.expiredSoftLimit`` :221-223 via
  ``FSNamesystem.recoverLeaseInternal``:1569-1576).

The set-oriented restatement, per the entity model's per-file lease
granularity (one lease row per (holder, path) under construction):

- the ``lease_events`` entity (entities.py) derives each lease's renewal
  series — renewals every LEASE_SOFT_MS/2 ending exactly on the lease's
  ``last_renewed_ms``, so the folded state reproduces the snapshot and
  the verdict has t4's closed form;
- renewals are staged one parquet file per time window (8 windows, the
  t21/t22 discipline — several watermark advances so both rungs fire
  mid-stream for some leases; per-batch state-store overhead dominates
  drain cost, so window count is the cold knob) and replayed with
  ``maxFilesPerTrigger=1``; a
  sentinel renewal at NOW_MS drives the final watermark to "now";
- the monitor (timeouts.make_lease_event_monitor) emits
  phase='soft_preemptable' when the watermark passes last + soft and
  phase='hard_released' when it passes last + hard, re-pinning the
  timeout between rungs; a single firing emits every rung already
  crossed, so the drained sink is a pure function of the data however
  the micro-batches sliced the stream;
- no spurious mid-stream firing: a lease with a later renewal still in
  flight cannot cross the soft threshold first, because the watermark
  entering any batch is at most the previous window's end and the stale
  pin (stale_renewal + soft) exceeds the in-flight renewal's time
  whenever the renewal gap (soft/2) is below the soft limit — the t22
  ping-gap proof applied to the tighter rung. Hence every emission
  carries the lease's FINAL last_renewed_ms.

The ordered release sequence is restated as ``release_pass`` =
row_number over the hard-released set ordered by (last_renewed_ms,
holder, path) — exactly checkLeases' flattened release order: leases by
(lastUpdate, holder) per the TreeSet comparator, paths within a lease
lexicographically per the sorted path set. Soft-only leases carry
release_pass 0 (the Monitor never touches them).

Scale: state is one (last_renewed, rung) cell per open lease —
open-file-table sized, evicted on hard release; each micro-batch
shuffles one window of renewals keyed by lease. The production
deployment keeps the processing-time form (timeouts.lease_expiry_stream);
this event-time form is the certifiable restatement, not a different
operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..entities import LEASE_HARD_MS, LEASE_SOFT_MS, NOW_MS
from ..registry import eager_cache_thunk, register

_T23_WINDOWS = 8


def _stage_renewals(e) -> str:
    """Stage ``lease_events`` as one parquet file per time window plus the
    NOW_MS sentinel, mtime-ordered (the t21/t22 discipline); keyed on
    fixture content AND a code-version tag so entity or constant edits
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
        e["lease_events"]
        .select("holder", "path", "renewed_ms")
        .toPandas()
        .sort_values(["renewed_ms", "holder", "path"], kind="mergesort")
        .reset_index(drop=True)
    )
    tmin, tmax = int(pdf["renewed_ms"].min()), int(pdf["renewed_ms"].max())
    span = (tmax - tmin) // _T23_WINDOWS + 1
    batch = (pdf["renewed_ms"].astype("int64") - tmin) // span

    code_ver = hashlib.md5(
        (
            ENTITY_SQL["lease_events"]
            + f"|{_T23_WINDOWS}|{NOW_MS}|{LEASE_SOFT_MS}|{LEASE_HARD_MS}"
            + f"|{entities_sql_version()}"
        ).encode()
    ).hexdigest()[:6]

    schema = pa.schema(
        [
            ("holder", pa.string()),
            ("path", pa.string()),
            ("renewed_ms", pa.int64()),
        ]
    )

    sentinel = {"holder": "__sentinel__", "path": "", "renewed_ms": NOW_MS}
    return staged_dir(
        sf_dir,
        f"t23_leases_{code_ver}",
        lambda stage: write_windowed_stage(stage, pdf, schema, batch, sentinel),
    )


@register(
    "t23_lease_expiry_stream",
    oracle=f"""
SELECT holder, path, last_renewed_ms, soft_expired, hard_released,
       CAST(CASE WHEN hard_released THEN ROW_NUMBER() OVER (
              PARTITION BY hard_released
              ORDER BY last_renewed_ms, holder, path)
            ELSE 0 END AS BIGINT) AS release_pass
FROM (
  SELECT holder, path, last_renewed_ms,
         TRUE AS soft_expired,
         ({NOW_MS} - last_renewed_ms > {LEASE_HARD_MS}) AS hard_released
  FROM leases
  WHERE {NOW_MS} - last_renewed_ms > {LEASE_SOFT_MS}
) t
""",
    doc="T4's lease-expiry monitor under the driver's hash gate (the "
    "eighth driver-verified stateful-streaming shape, and the first "
    "TWO-PHASE timeout ladder): LeaseManager.checkLeases:365-411 run as "
    "a REAL applyInPandasWithState drain with EventTimeTimeout — "
    "per-lease renewal series (lease_events) refresh the state and "
    "re-pin the timeout at last + 60 s; the soft crossing emits the "
    "preemptable declaration (recoverLeaseInternal:1569-1576) and "
    "re-pins at last + 3600 s; the hard crossing emits the release and "
    "evicts. The Monitor's oldest-first release sequence (sortedLeases "
    "TreeSet by (lastUpdate, holder), paths lexicographic) is restated "
    "as release_pass = row_number over the hard-released set ordered by "
    "(last_renewed_ms, holder, path), computed in batch over the "
    "drained sink. Scale: one state cell per open lease "
    "(open-file-table sized); per-batch shuffle is one renewal window; "
    "hard release evicts the cell.",
)
def t23_lease_expiry_stream(e) -> DataFrame:
    spark = e["leases"].sparkSession

    def build() -> DataFrame:
        from .drain import drain
        from .timeouts import lease_event_stream

        stage = _stage_renewals(e)
        src = (
            spark.readStream.schema(
                "holder string, path string, renewed_ms long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        renewals = src.withColumn(
            "ts", F.timestamp_millis(F.col("renewed_ms"))
        ).withWatermark("ts", "0 seconds")
        out = lease_event_stream(renewals, LEASE_SOFT_MS, LEASE_HARD_MS)
        sink, _ = drain(out, "append", "t23_leases")
        per_lease = (
            sink.filter(F.col("holder") != "__sentinel__")
            .groupBy("holder", "path", "last_renewed_ms")
            .agg(F.max(F.col("phase") == "hard_released").alias("hard_released"))
        )
        return per_lease.select(
            "holder",
            "path",
            F.col("last_renewed_ms").cast("long").alias("last_renewed_ms"),
            F.lit(True).alias("soft_expired"),
            "hard_released",
            F.when(
                F.col("hard_released"),
                F.row_number().over(
                    Window.partitionBy("hard_released").orderBy(
                        "last_renewed_ms", "holder", "path"
                    )
                ),
            )
            .otherwise(0)
            .cast("long")
            .alias("release_pass"),
        )

    return eager_cache_thunk(e, "t23_leases", build)
