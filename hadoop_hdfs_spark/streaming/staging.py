"""Shared /tmp staging for the streaming certification drains.

t17/t18/t19 stage their fixture as a single parquet file so availableNow
runs one micro-batch; the GroupState timeout gates (t21/t22/t23/t26) stage
theirs as one file per event-time window through :func:`windowed_stream`.
Two hazards with a naive path-keyed cache (ADVICE r3):

1. *Staleness*: keying only on the sf_dir path means a regenerated fixture
   at the same path silently replays the OLD staged bytes while the DuckDB
   oracle reads the fresh ones — a spurious hash mismatch that is miserable
   to diagnose. Fix: fold a content fingerprint (name+size+mtime_ns of
   every fixture parquet) into the stage key, so regeneration gets a fresh
   stage directory automatically.
2. *Torn stages*: marker-after-write is not atomic under concurrent runs.
   Fix: ``fixtures.staged_dir`` builds through ``fixtures.build_once``,
   the one build-once primitive of every /tmp artifact: a pid-suffixed
   temp dir gets the ``_STAGED`` marker INSIDE it and is renamed into
   place, so a visible stage always carries a complete marker, a failed
   build leaves nothing behind, and the loser of a rename race discards
   its build.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..fixtures import entities_sql_version, staged_dir

_LAYOUT = "_LAYOUT.json"  # a windowed stage's layout values, beside the marker


def write_windowed_stage(stage, pdf, schema, batch, sentinel_row) -> None:
    """Write ``pdf`` as one parquet file per window bucket plus a trailing
    sentinel file — the shared staging discipline of the GroupState
    timeout gates (t21/t22/t23/t26). ``batch`` is a pandas Series of window
    indices aligned with ``pdf``; files are written in window order with
    STRICTLY INCREASING mtimes because the file stream source orders its
    micro-batches by modification time (the r7 equal-mtime lesson in
    sources.save_edits: ties replay in arbitrary order), and the sentinel
    lands last so the final micro-batch advances the watermark past every
    real event. One definition on purpose: this ordering discipline has
    already needed one subtle fix, and a fix applied to one hand-rolled
    copy but not the others would silently skew the un-fixed gates."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(stage, exist_ok=True)
    mtime = 1_700_000_000
    for i in sorted(batch.unique()):
        part = pdf[batch == i]
        path = os.path.join(stage, f"win_{int(i):04d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(part, schema=schema, preserve_index=False),
            path,
        )
        os.utime(path, (mtime, mtime))
        mtime += 10
    sent = os.path.join(stage, "zz_sentinel.parquet")
    pq.write_table(pa.Table.from_pylist([sentinel_row], schema=schema), sent)
    os.utime(sent, (mtime, mtime))


def even_windows(n: int, sentinel_ms: int | None = None) -> Callable:
    """The :func:`windowed_stream` layout of ``n`` equal windows over the
    event-time range, with the sentinel at ``sentinel_ms`` or, by default,
    one past the last event."""

    def layout(_pdf, t):
        tmin, tmax = int(t.min()), int(t.max())
        end = tmax + 1 if sentinel_ms is None else sentinel_ms
        return tmin, (tmax - tmin) // n + 1, end, {}

    return layout


def windowed_stream(
    e,
    tag: str,
    frame: DataFrame,
    schema: str,
    *,
    order: list[str],
    layout: Callable,
    sentinel: dict,
    version: str,
) -> tuple[DataFrame, dict]:
    """Stage ``frame`` one parquet file per event-time window plus a
    sentinel (:func:`write_windowed_stage`) and open the stage as the
    watermarked stream the GroupState timeout gates (t21/t22/t23/t26)
    drain: ``maxFilesPerTrigger=1`` makes every window one micro-batch,
    ``ts = timestamp_millis(<time column>)`` carries a 0-second watermark.

    - ``schema``: DDL of the staged columns, the one declaration (the
      files' arrow schema derives from it);
    - ``order``: the sort key, the event-time column (epoch ms) first;
    - ``layout(pdf, t)`` -> ``(tmin, span, sentinel_ms, meta)`` over the
      sorted rows and their event times: window ``k`` holds
      ``[tmin + k*span, tmin + (k+1)*span)``, the ``sentinel`` row lands
      at ``sentinel_ms``, and ``meta`` is stored beside the stage marker;
    - ``version``: the gate's constants, hashed with every entity SQL
      statement into the stage tag ``<tag>_<hash>``.

    The entity is collected only when the stage is built; a cached stage
    costs no Spark job. Returns ``(stream, meta)``."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    fields = StructType.fromDDL(schema)
    time_col = order[0]

    def build(stage: str) -> None:
        pdf = (
            frame.select(*fields.names)
            .toPandas()
            .sort_values(order, kind="mergesort")
            .reset_index(drop=True)
        )
        t = pdf[time_col].astype("int64")
        tmin, span, sentinel_ms, meta = layout(pdf, t)
        write_windowed_stage(
            stage,
            pdf,
            to_arrow_schema(fields),
            (t - tmin) // span,
            {**sentinel, time_col: sentinel_ms},
        )
        with open(os.path.join(stage, _LAYOUT), "w") as f:
            json.dump(meta, f)

    code_ver = hashlib.md5(
        f"{version}|{entities_sql_version()}".encode()
    ).hexdigest()[:6]
    stage = staged_dir(str(e["__sf_dir__"]), f"{tag}_{code_ver}", build)
    with open(os.path.join(stage, _LAYOUT)) as f:
        meta = json.load(f)
    stream = (
        frame.sparkSession.readStream.schema(fields)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    ts = F.timestamp_millis(F.col(time_col))
    return stream.withColumn("ts", ts).withWatermark("ts", "0 seconds"), meta
