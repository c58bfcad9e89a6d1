"""t26: delegation-token expiry as a GroupState monitor under the driver
gate — the NINTH driver-verified stateful-streaming shape, and the first
with a DATA-DEPENDENT timeout pin (t21/t22/t23 pin at last + constant;
here every renewal re-pins at min(maxDate, its own logged expiryTime)).

Reference semantics pinned (AbstractDelegationTokenSecretManager, run by
the NN as DelegationTokenSecretManager —
security/token/delegation/DelegationTokenSecretManager.java):

- ``ExpiredTokenRemover`` scans currentTokens and removes every token
  whose renew date has passed — restated as the EVENT-time timeout firing
  when the watermark passes the token's current effective expiry;
- ``renewToken`` extends a LIVE token to min(now + renewInterval,
  maxDate) and throws InvalidToken on a removed one — restated as a
  renewal being valid only at ts <= the current pin (the SEQUENTIAL
  authority the t25 batch fold deliberately relaxes: t25 reads the whole
  log and takes min(maxDate, last renewal), so a renewal logged after an
  intermediate expiry still counts there; here it is the InvalidToken
  no-op, exactly the secret manager's timeline);
- ``cancelToken`` removes a live token immediately (status='cancelled').

The output is the remover's removal log: one row per DEAD token (expired
or cancelled) with its death time and valid-renewal count; tokens still
live at the log horizon emit nothing. The oracle restates the sequential
fold in SQL: per token, an op is within-authority iff its ts <=
min(maxDate, the previous op's logged expiry) — a LAG + running-MIN
prefix over the (issue, renew, cancel) sequence — and the death verdict
is the first valid cancel, else the expiry preceding the first
out-of-authority op, else the final effective expiry if it precedes the
horizon.

No spurious mid-stream expiry: events are staged one parquet file per
time window (mtime-ordered, ``maxFilesPerTrigger=1`` — the t21/t22/t23
discipline) so the watermark entering any batch is bounded by EARLIER
windows' event times; an op at ts <= the current pin therefore always
arrives before the watermark can cross that pin (its batch's entering
watermark is < ts <= pin). Late ops need no such guarantee — whichever
of {watermark crossing, op arrival} happens first emits the same
('expired', pinned expiry) row, and the tombstone makes emission
exactly-once.

Scale: one state cell per issued token (the secret manager's own
currentTokens map, master-key bounded metadata); each micro-batch
shuffles one window of token ops keyed by token_seq; tombstones are
token-universe bounded, exactly the map the reference holds in RAM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..registry import eager_cache_thunk, register

_T26_WINDOWS = 8


def _stage_token_events(e) -> str:
    """Stage the non-orphan token ops as one parquet file per time window
    plus a horizon sentinel (ts = max op ts + 1, the same 'now' the t25
    batch fold uses), keyed on fixture content AND a code-version tag."""
    import hashlib

    import pyarrow as pa

    from ..entities import ENTITY_SQL
    from .staging import entities_sql_version, staged_dir, write_windowed_stage

    sf_dir = str(e["__sf_dir__"])
    pdf = (
        e["token_ops"]
        .filter(F.col("token_seq").isNotNull())
        .select("token_seq", "op", "ts_ms", "expiry_ms", "max_ms", "owner")
        .toPandas()
        .sort_values(["ts_ms", "token_seq", "op"], kind="mergesort")
        .reset_index(drop=True)
    )
    tmin, tmax = int(pdf["ts_ms"].min()), int(pdf["ts_ms"].max())
    span = (tmax - tmin) // _T26_WINDOWS + 1
    batch = (pdf["ts_ms"].astype("int64") - tmin) // span

    code_ver = hashlib.md5(
        (
            ENTITY_SQL["token_ops"]
            + f"|{_T26_WINDOWS}|{entities_sql_version()}"
        ).encode()
    ).hexdigest()[:6]

    schema = pa.schema(
        [
            ("token_seq", pa.int64()),
            ("op", pa.string()),
            ("ts_ms", pa.int64()),
            ("expiry_ms", pa.int64()),
            ("max_ms", pa.int64()),
            ("owner", pa.string()),
        ]
    )
    sentinel = {
        "token_seq": -1,
        "op": "__sentinel__",
        "ts_ms": tmax + 1,
        "expiry_ms": None,
        "max_ms": None,
        "owner": None,
    }
    return staged_dir(
        sf_dir,
        f"t26_tokens_{code_ver}",
        lambda stage: write_windowed_stage(stage, pdf, schema, batch, sentinel),
    )


@register(
    "t26_token_expiry_stream",
    oracle="""
WITH tbase AS (
  SELECT token_seq, op, ts_ms, expiry_ms FROM token_ops
  WHERE token_seq IS NOT NULL
),
tmeta AS (
  SELECT token_seq, owner, max_ms FROM token_ops
  WHERE op = 'OP_GET_DELEGATION_TOKEN'
),
tev AS (
  SELECT b.token_seq, b.op, b.ts_ms, b.expiry_ms, m.owner, m.max_ms,
         ROW_NUMBER() OVER (PARTITION BY b.token_seq ORDER BY b.ts_ms) AS rn,
         LAG(b.expiry_ms) OVER (PARTITION BY b.token_seq ORDER BY b.ts_ms)
                                                          AS prev_expiry
  FROM tbase b JOIN tmeta m ON m.token_seq = b.token_seq
),
tflag AS (
  -- prev_expiry IS NULL <=> the previous op was a cancel (only cancels
  -- carry no expiry payload): everything after it is out of authority.
  -- The explicit branch matters because DuckDB's LEAST IGNORES NULLs
  -- (returns the non-null minimum) rather than propagating them.
  SELECT *, CASE WHEN rn = 1 THEN 1
                 WHEN prev_expiry IS NULL THEN 0
                 WHEN ts_ms <= LEAST(max_ms, prev_expiry) THEN 1
                 ELSE 0 END AS within
  FROM tev
),
tpfx AS (
  SELECT *, MIN(within) OVER (PARTITION BY token_seq ORDER BY rn
                              ROWS UNBOUNDED PRECEDING) AS alive_through
  FROM tflag
),
tcan AS (
  SELECT token_seq, MIN(ts_ms) AS cancel_ms FROM tpfx
  WHERE op = 'OP_CANCEL_DELEGATION_TOKEN' AND alive_through = 1
  GROUP BY token_seq
),
tbad AS (
  SELECT p.token_seq, LEAST(p.max_ms, p.prev_expiry) AS death_ms
  FROM tpfx p
  JOIN (SELECT token_seq, MIN(rn) AS bad_rn FROM tpfx WHERE within = 0
        GROUP BY token_seq) b
    ON b.token_seq = p.token_seq AND b.bad_rn = p.rn
),
tlast AS (
  SELECT token_seq, LEAST(max_ms, expiry_ms) AS eff FROM tpfx
  WHERE alive_through = 1 AND op <> 'OP_CANCEL_DELEGATION_TOKEN'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY token_seq ORDER BY rn DESC) = 1
),
tren AS (
  SELECT token_seq,
         CAST(COUNT(CASE WHEN op = 'OP_RENEW_DELEGATION_TOKEN'
                         AND alive_through = 1 THEN 1 END) AS BIGINT)
                                                          AS n_valid_renewals
  FROM tpfx GROUP BY token_seq
)
SELECT m.token_seq, m.owner,
       CASE WHEN tcan.token_seq IS NOT NULL THEN 'cancelled'
            ELSE 'expired' END                            AS status,
       CASE WHEN tcan.token_seq IS NOT NULL THEN tcan.cancel_ms
            WHEN tbad.token_seq IS NOT NULL THEN tbad.death_ms
            ELSE tlast.eff END                            AS death_ms,
       tren.n_valid_renewals
FROM tmeta m
LEFT JOIN tcan ON tcan.token_seq = m.token_seq
LEFT JOIN tbad ON tbad.token_seq = m.token_seq
LEFT JOIN tlast ON tlast.token_seq = m.token_seq
JOIN tren ON tren.token_seq = m.token_seq
WHERE tcan.token_seq IS NOT NULL OR tbad.token_seq IS NOT NULL
   OR tlast.eff < (SELECT MAX(ts_ms) + 1 FROM token_ops)
""",
    doc="T25's monitor form under the driver's hash gate — the ninth "
    "stateful-streaming shape, and the first with a DATA-DEPENDENT "
    "timeout pin: the ExpiredTokenRemover of "
    "AbstractDelegationTokenSecretManager run as a REAL "
    "applyInPandasWithState drain with EventTimeTimeout, keyed per "
    "token. Issues pin min(maxDate, expiryTime); in-authority renewals "
    "re-pin (renewToken's cap); valid cancels emit and tombstone; the "
    "watermark passing the pin — or any op arriving already past it — "
    "emits the expiry exactly once. SEQUENTIAL authority is the "
    "deliberate semantic difference from the t25 batch fold: a renewal "
    "logged after an intermediate expiry is the InvalidToken no-op "
    "here, not a resurrection. Output = the remover's removal log (one "
    "row per dead token; live tokens emit nothing), hash-matched "
    "against a SQL restatement of the sequential fold (LAG + "
    "running-MIN prefix authority). Scale: one state cell per issued "
    "token — the secret manager's own currentTokens map; each "
    "micro-batch shuffles one time window of token ops.",
)
def t26_token_expiry_stream(e) -> DataFrame:
    spark = e["token_ops"].sparkSession

    def build() -> DataFrame:
        from .drain import drain
        from .timeouts import token_expiry_event_stream

        stage = _stage_token_events(e)
        src = (
            spark.readStream.schema(
                "token_seq long, op string, ts_ms long, expiry_ms long, "
                "max_ms long, owner string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        events = src.withColumn(
            "ts", F.timestamp_millis(F.col("ts_ms"))
        ).withWatermark("ts", "0 seconds")
        out = token_expiry_event_stream(events)
        sink, _ = drain(out, "append", "t26_tokens")
        return sink.filter(F.col("token_seq") >= 0).select(
            F.col("token_seq").cast("long").alias("token_seq"),
            "owner",
            "status",
            F.col("death_ms").cast("long").alias("death_ms"),
            F.col("n_valid_renewals").cast("long").alias("n_valid_renewals"),
        )

    return eager_cache_thunk(e, "t26_tokens", build)
