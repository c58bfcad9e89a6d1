"""Random-hyperplane LSH for cosine similarity — the bucketed ANN scale path
that needs no precomputed partitioner (unlike the label-IVF variant).

8 hyperplanes in 64-d space give a 256-bucket signature; cosine-similar
vectors agree on most sign bits, so same-bucket candidates concentrate true
neighbors. At 100 TB the signature is the shuffle key: each query probes one
bucket instead of the corpus, and bucket skew is bounded by signature
entropy.

Determinism across engines: hyperplane components derive from md5 digests —
``w[j][i] = (int(md5(f"{j}|{i}")[:8], 16) % 1000) - 499.5`` — computed once
in Python (hashlib.md5 == SQL md5) and baked as numeric literals into BOTH
the Spark plan and the DuckDB oracle text. No engine evaluates randomness.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..registry import register, eager_cache_thunk
from ..session import fan_out

N_PLANES = 8
DIM = 64


def _hyperplanes(n: int = N_PLANES) -> list[list[float]]:
    out = []
    for j in range(n):
        row = []
        for i in range(DIM):
            h = hashlib.md5(f"{j}|{i}".encode()).hexdigest()
            row.append((int(h[:8], 16) % 1000) - 499.5)
        out.append(row)
    return out


_W = _hyperplanes()


def _duck_sig_expr(vec: str) -> str:
    """DuckDB: signature bits from sign of dot(v, w_j), packed to an int."""
    bits = []
    for j, w in enumerate(_W):
        dot = " + ".join(f"{vec}[{i + 1}] * ({w[i]})" for i in range(DIM))
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _spark_sig(vcol) -> F.Column:
    sig = F.lit(0)
    for j, w in enumerate(_W):
        dot = _dot(vcol, F.array(*[F.lit(x) for x in w]))
        sig = sig + F.when(dot > 0, 1 << j).otherwise(0)
    return sig.cast("int")


# shared with the brute/IVF paths — the fold order must stay bit-identical
from .similarity import (  # noqa: E402
    _DUCK_DOT,
    _DUCK_NORM,
    _DUCK_VECS,
    _dot,
    _query_sample,
)
from .similarity import QUERY_K as _QK  # noqa: E402


# DuckDB form of _quantized_vecs below — the ONE quantization definition
# the IVF/semdedup/PQ oracles interpolate, so an e6 or floor change cannot
# drift between the oracles and the shared Spark frame they all restate.
# (ivftrain.py carries a structural variant — MATERIALIZED, no label — for
# its unrolled iteration CTEs; its formula line must match this one.)
DUCK_XE = """
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xe
  FROM embeddings
"""


def _quantized_vecs(e) -> DataFrame:
    """e6-quantized embedding vectors (vec_id, label, xe), eager-cached
    under the shared 'ivf_xe' tag — the common input of the Lloyd
    assignment (s_ivf_build) and semantic dedup (d_semdedup). Components
    quantize BEFORE any averaging so no float summation order can leak
    into an argmin."""
    xe = e["embeddings"].select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 1000000).cast("long")
        ).alias("xe"),
    )
    return eager_cache_thunk(e, "ivf_xe", lambda: xe)


def _label_centroids(e: dict, xe: DataFrame) -> DataFrame:
    """Per-label integer centroid table (cell, ce): dimension-wise floored
    means assembled in pos order. Cell-count-sized — broadcast at any
    corpus scale. ONE definition shared by s_ivf_build and d_semdedup so
    a tiebreak or quantization change cannot drift between them.

    Pinned per session (r11): this IS the IVF coarse codebook — trained
    model state, like the LM count tables — and its build is the one
    corpus-sized pass either consumer pays (posexplode x 64 dims +
    two groupBys); assignment/dedup scoring still runs in full per pass.
    """

    def _build() -> DataFrame:
        dims = (
            xe.select("label", F.posexplode("xe").alias("pos", "x"))
            .groupBy("label", "pos")
            .agg(F.floor(F.avg("x")).cast("long").alias("c"))
        )
        return dims.groupBy(F.col("label").alias("cell")).agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("ce")
        )

    return eager_cache_thunk(e, "ivf_label_centroids", _build)


def _sq_dist(xe_col, ce_col):
    """Integer squared L2 distance between two quantized vectors — exact
    in any fold order."""
    return F.aggregate(
        F.zip_with(xe_col, ce_col, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )



@register(
    "s_ivf_build",
    oracle=f"""
WITH e AS ({DUCK_XE}),
dims AS (
  SELECT label, i, CAST(FLOOR(AVG(xe[i])) AS BIGINT) AS c
  FROM e, range(1, 65) t(i)
  GROUP BY label, i
),
cent AS (
  SELECT label AS cell,
         list(c ORDER BY i) AS ce
  FROM dims GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.label, cent.cell,
         CAST(list_reduce(list_transform(range(1, 65),
              i -> (e.xe[i] - cent.ce[i]) * (e.xe[i] - cent.ce[i])),
              (acc, x) -> acc + x) AS BIGINT) AS sq_dist
  FROM e CROSS JOIN cent
)
SELECT vec_id, label, cell AS assigned_cell, sq_dist,
       cell <> label AS moved
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY sq_dist, cell) AS rk
  FROM scored
) t
WHERE rk = 1
""",
    doc="IVF index build — one Lloyd's (k-means) iteration, fully "
    "declarative: per-cell centroids from the current partition (label), "
    "then nearest-centroid reassignment. Everything is integer arithmetic "
    "(components quantized to e6 BEFORE averaging, so no float summation "
    "order can leak into the argmin) and the centroid table is "
    "cell-count-sized — broadcast at any corpus scale; the only shuffle "
    "is the dimension-wise centroid aggregation.",
)
def s_ivf_build(e) -> DataFrame:
    xe = _quantized_vecs(e)  # eager: feeds centroid agg + assignment join
    cent = _label_centroids(e, xe)
    sq_dist = _sq_dist("xe", "ce")
    scored = xe.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "cell", sq_dist.alias("sq_dist")
    )
    w = Window.partitionBy("vec_id").orderBy("sq_dist", "cell")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "vec_id",
            "label",
            F.col("cell").alias("assigned_cell"),
            "sq_dist",
            (F.col("cell") != F.col("label")).alias("moved"),
        )
    )


@register(
    "s_knn_hyperplane_lsh",
    oracle=f"""
WITH e AS ({_DUCK_VECS}),
sig AS (SELECT vec_id, label, v, {_duck_sig_expr('v')} AS bucket FROM e),
q AS (SELECT * FROM sig ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_QK}),
scored AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id, a.bucket,
         CAST(FLOOR({_DUCK_DOT} / ({_DUCK_NORM.format(t='a')} * {_DUCK_NORM.format(t='q')})
              * 1000000) AS BIGINT) AS cos_e6
  FROM q JOIN sig a ON a.bucket = q.bucket AND a.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, bucket, cos_e6, CAST(rk AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_e6 DESC, neighbor_id) AS rk
  FROM scored
) t
WHERE rk <= 3
""",
    doc="Random-hyperplane cosine LSH top-3: 8 md5-seeded hyperplanes give "
    "a 256-bucket signature; each query probes only its bucket (equi-join "
    "on the signature), exact cosine re-ranks within. The ANN scale path "
    "when no coarse partitioner exists.",
)
def s_knn_hyperplane_lsh(e) -> DataFrame:
    vecs = e["embeddings"].select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    sig = eager_cache_thunk(  # eager: both join sides read it; thunk —
        # the 8 hyperplane-dot expressions are construction-heavy (r11)
        e, "hyperplane_sig", lambda: vecs.withColumn("bucket", _spark_sig(F.col("v")))
    )
    q = _query_sample(sig).select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket").alias("qbucket"),
        F.col("v").alias("qv"),
    )
    dot = _dot(F.col("v"), F.col("qv"))
    norm = lambda c: F.sqrt(_dot(c, c))  # noqa: E731
    scored = (
        sig.join(F.broadcast(q), (F.col("bucket") == F.col("qbucket")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "bucket",
            F.floor(dot / (norm(F.col("v")) * norm(F.col("qv"))) * 1000000)
            .cast("long")
            .alias("cos_e6"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_e6").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "bucket", "cos_e6", "rank")
    )


# Integer dot product over the e6-quantized vectors: BIGINT all the way
# (64 dims x (1e6)^2 = 6.4e13 << 2^63), so the value is EXACT in any fold
# order — the only float ops in the cosine are two correctly-rounded
# sqrts, one division and one multiply, identical in both engines.
_DUCK_IDOT = (
    "list_reduce(list_transform(range(1, 65), i -> {a}[i] * {b}[i]),"
    " (acc, x) -> acc + x)"
)


def _idot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _icos_e6(a, b):
    return F.floor(
        _idot(a, b).cast("double")
        / (F.sqrt(_idot(a, a).cast("double")) * F.sqrt(_idot(b, b).cast("double")))
        * 1000000
    ).cast("long")


_SEM_THRESH_E6 = 300_000  # fixture tail, matches d_embedding_cosine


@register(
    "d_semdedup",
    oracle=f"""
WITH e AS ({DUCK_XE}),
dims AS (
  SELECT label, i, CAST(FLOOR(AVG(xe[i])) AS BIGINT) AS c
  FROM e, range(1, 65) t(i)
  GROUP BY label, i
),
cent AS (
  SELECT label AS cell, list(c ORDER BY i) AS ce
  FROM dims GROUP BY label
),
asg AS (
  SELECT vec_id, xe, cell FROM (
    SELECT e.vec_id, e.xe, cent.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             CAST(list_reduce(list_transform(range(1, 65),
                  i -> (e.xe[i] - cent.ce[i]) * (e.xe[i] - cent.ce[i])),
                  (acc, x) -> acc + x) AS BIGINT), cent.cell) AS rk
    FROM e CROSS JOIN cent
  ) t WHERE rk = 1
),
base AS (
  SELECT a.vec_id, a.cell, a.xe,
         CAST(FLOOR(CAST({_DUCK_IDOT.format(a='a.xe', b='c.ce')} AS DOUBLE)
              / (sqrt(CAST({_DUCK_IDOT.format(a='a.xe', b='a.xe')} AS DOUBLE))
                 * sqrt(CAST({_DUCK_IDOT.format(a='c.ce', b='c.ce')} AS DOUBLE)))
              * 1000000) AS BIGINT) AS cent_cos_e6
  FROM asg a JOIN cent c ON c.cell = a.cell
),
pairs0 AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         a.cent_cos_e6 AS a_cc, b.cent_cos_e6 AS b_cc,
         CAST(FLOOR(CAST({_DUCK_IDOT.format(a='a.xe', b='b.xe')} AS DOUBLE)
              / (sqrt(CAST({_DUCK_IDOT.format(a='a.xe', b='a.xe')} AS DOUBLE))
                 * sqrt(CAST({_DUCK_IDOT.format(a='b.xe', b='b.xe')} AS DOUBLE)))
              * 1000000) AS BIGINT) AS cos_e6
  FROM base a JOIN base b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
sym AS (
  SELECT a_id AS me, b_id AS other, a_cc AS me_cc, b_cc AS other_cc
  FROM pairs0 WHERE cos_e6 >= {_SEM_THRESH_E6}
  UNION ALL
  SELECT b_id, a_id, b_cc, a_cc
  FROM pairs0 WHERE cos_e6 >= {_SEM_THRESH_E6}
)
SELECT v.vec_id, v.cell, v.cent_cos_e6,
       CAST(COUNT(s.other) AS BIGINT) AS n_dup_partners,
       COALESCE(MAX(CASE WHEN s.other_cc < s.me_cc
                          OR (s.other_cc = s.me_cc AND s.other < s.me)
                    THEN 1 ELSE 0 END), 0) = 1 AS is_dropped
FROM base v LEFT JOIN sym s ON s.me = v.vec_id
GROUP BY v.vec_id, v.cell, v.cent_cos_e6
""",
    doc="SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup "
    "over LEARNED clusters — one Lloyd's assignment places every vector "
    "in its nearest k-means cell (the s_ivf_build iteration), pairwise "
    "cosine runs ONLY within a cell, and of each above-threshold pair "
    "the member FARTHER from its centroid is kept (the paper keeps "
    "low-centroid-similarity examples to preserve diversity; one "
    "greedy hop like d_embedding_cosine's keeper rule). Emits per-vector "
    "cell, centroid-cosine, duplicate-partner count and the drop verdict. "
    "Scale: the quadratic term is cell-bounded (corpus/k per cell), "
    "centroids broadcast, and the integer-quantized dot products are "
    "EXACT in any fold order — only sqrt/divide touch floats, so the "
    "verdict is bit-stable across engines and partitionings.",
)
def d_semdedup(e) -> DataFrame:
    xe = _quantized_vecs(e)  # shared with s_ivf_build
    cent = _label_centroids(e, xe)
    sq_dist = _sq_dist("xe", "ce")
    w = Window.partitionBy("vec_id").orderBy(sq_dist, "cell")
    asg = (
        xe.crossJoin(F.broadcast(cent))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "xe", "cell")
    )
    base = asg.join(F.broadcast(cent), "cell").select(
        "vec_id",
        "cell",
        "xe",
        _icos_e6(F.col("xe"), F.col("ce")).alias("cent_cos_e6"),
    )
    raw_base = base
    base = eager_cache_thunk(  # self-join reads both sides
        e, "semdedup_base", lambda: raw_base
    )
    a = fan_out(
        base.select(
            F.col("vec_id").alias("a_id"),
            F.col("cell").alias("cell_a"),
            F.col("xe").alias("xa"),
            F.col("cent_cos_e6").alias("a_cc"),
        )
    )
    b = base.select(
        F.col("vec_id").alias("b_id"),
        F.col("cell").alias("cell_b"),
        F.col("xe").alias("xb"),
        F.col("cent_cos_e6").alias("b_cc"),
    )
    pairs = (
        a.join(
            b,
            (F.col("cell_a") == F.col("cell_b")) & (F.col("a_id") < F.col("b_id")),
        )
        .select(
            "a_id",
            "b_id",
            "a_cc",
            "b_cc",
            _icos_e6(F.col("xa"), F.col("xb")).alias("cos_e6"),
        )
        .filter(F.col("cos_e6") >= _SEM_THRESH_E6)
    )
    sym = pairs.select(
        F.col("a_id").alias("me"),
        F.col("b_id").alias("other"),
        F.col("a_cc").alias("me_cc"),
        F.col("b_cc").alias("other_cc"),
    ).unionAll(
        pairs.select(
            F.col("b_id").alias("me"),
            F.col("a_id").alias("other"),
            F.col("b_cc").alias("me_cc"),
            F.col("a_cc").alias("other_cc"),
        )
    )
    beats_me = F.when(
        (F.col("other_cc") < F.col("me_cc"))
        | ((F.col("other_cc") == F.col("me_cc")) & (F.col("other") < F.col("me"))),
        1,
    ).otherwise(0)
    return (
        base.select("vec_id", "cell", "cent_cos_e6")
        .join(sym, sym["me"] == F.col("vec_id"), "left")
        .groupBy("vec_id", "cell", "cent_cos_e6")
        .agg(
            F.count("other").alias("n_dup_partners"),
            (F.coalesce(F.max(beats_me), F.lit(0)) == 1).alias("is_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation gate: the fourth rung of the embedding-compression
# ladder (truncate -> int8 -> IVF -> PQ). MRL-trained embeddings (Kusupati
# et al. 2022) front-load information so a PREFIX of the vector ranks
# almost as well as the whole — the cheapest compression there is (drop
# the tail bytes, no codebook, no index). This gate measures what the
# fixture's embeddings actually support: exact top-5 recall when ranking
# by the first 16 and first 32 of the 64 dims.
# ---------------------------------------------------------------------------

_MRL_PREFIXES = (16, 32)


def _duck_prefix_sqdist(a: str, b: str, p: int) -> str:
    return (
        f"CAST(list_reduce(list_transform(range(1, {p + 1}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])),"
        " (acc, x) -> acc + x) AS BIGINT)"
    )


def _mrl_oracle() -> str:
    pair_cols = ",\n         ".join(
        f"{_duck_prefix_sqdist('q.xe', 'a.xe', p)} AS d{p}"
        for p in (64, *_MRL_PREFIXES)
    )
    tops = ",\n".join(
        f"""t{p} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY d{p}, neighbor_id) AS rk
    FROM pairs) z WHERE rk <= 5
)"""
        for p in (64, *_MRL_PREFIXES)
    )
    found = ",\n       ".join(
        f"""CAST(SUM(CASE WHEN p{p}.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_found_p{p},
       CAST((SUM(CASE WHEN p{p}.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000)
            // COUNT(*) AS BIGINT) AS recall_p{p}_permille"""
        for p in _MRL_PREFIXES
    )
    joins = "\n".join(
        f"LEFT JOIN t{p} p{p} ON p{p}.query_id = x.query_id"
        f" AND p{p}.neighbor_id = x.neighbor_id"
        for p in _MRL_PREFIXES
    )
    return f"""
WITH e AS ({DUCK_XE}),
q AS (
  SELECT vec_id, xe FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_QK}
),
pairs AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         {pair_cols}
  FROM q JOIN e a ON a.vec_id <> q.vec_id
),
{tops}
SELECT x.query_id,
       CAST(COUNT(*) AS BIGINT) AS k_exact,
       {found}
FROM t64 x
{joins}
GROUP BY x.query_id
"""


@register(
    "s_mrl_truncation",
    oracle=_mrl_oracle(),
    doc="Matryoshka-truncation recall gate — the fourth rung of the "
    "compression ladder (prefix-truncate / int8 / IVF / PQ): per "
    "fixed-sample query, how much of the exact 64-dim top-5 survives "
    "when ranking by only the first 16 and first 32 dims. Truncation is "
    "the cheapest embedding compression (drop the tail bytes — no "
    "codebook, no index, 4x/2x smaller), and whether it is SAFE is a "
    "property of the embedding model, not the engine — this gate is the "
    "measurement a storage owner runs before switching the corpus to "
    "prefix storage (Kusupati et al. 2022, MRL). One K x N scan computes "
    "all three integer distances (full + both prefixes); three "
    "WindowGroupLimit top-5s and two indicator joins later the verdict "
    "is per-query permille, bit-stable across engines (integer "
    "distances, id tiebreaks). Linear in corpus size at fixed K. Honest "
    "pair in tests/test_ann_recall.py: LOW on the structureless fixture "
    "(truncation is genuinely unsafe for an untrained model — the gate "
    "must say so), >= 800 at p32 on front-loaded (1/(1+i)-decay, the "
    "profile MRL training produces) geometry.",
)
def s_mrl_truncation(e) -> DataFrame:
    return _mrl_recall(_quantized_vecs(e), e)


def _mrl_recall(xe: DataFrame, e=None) -> DataFrame:
    """The truncation measurement over an arbitrary quantized corpus —
    factored so the honest-pair test can run it on label-clustered
    geometry (tests/test_ann_recall.py)."""
    vecs = xe.select("vec_id", "xe")
    q = _query_sample(xe).select(
        F.col("vec_id").alias("query_id"), F.col("xe").alias("qxe")
    )

    def seg_dist(lo: int, n: int):
        """Integer squared-distance contribution of dimensions [lo, lo+n)."""
        return F.aggregate(
            F.zip_with(
                F.slice("qxe", lo, n),
                F.slice("xe", lo, n),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # Per-pair distance work cut ~2x (r12, guide §1.2 per-task work): the
    # prior shape evaluated three overlapping interpreted higher-order
    # chains (64 + 32 + 16 element lambdas per pair). Disjoint SEGMENT
    # sums are staged once each (aliased select — CollapseProject keeps a
    # multiply-referenced non-cheap expression un-inlined) and the prefix
    # distances are their exact integer partial sums: d16 = s16,
    # d32 = s16 + s17_32, d64 = d32 + s33_64 — 64 element lambdas total,
    # bit-identical results (long addition is associative). The corpus
    # side is fanned out first: a one-split vector fixture would
    # otherwise build the whole K x N grid in a single task (§2.5).
    assert _MRL_PREFIXES == (16, 32), "segment sums assume prefixes (16, 32)"
    segs = (
        fan_out(vecs)
        .withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            seg_dist(1, 16).alias("s16"),
            seg_dist(17, 16).alias("s17_32"),
            seg_dist(33, 32).alias("s33_64"),
        )
    )
    pairs = segs.select(
        "query_id",
        "neighbor_id",
        (F.col("s16") + F.col("s17_32") + F.col("s33_64")).alias("d64"),
        F.col("s16").alias("d16"),
        (F.col("s16") + F.col("s17_32")).alias("d32"),
    )
    if e is not None:  # test path passes a bare clustered frame, uncached
        from ..registry import corpus_pin

        raw_pairs = pairs
        # three windows read it; the K x N pair grid is CORPUS-scale
        # (grows with the vector population), so the pin is bounded by
        # corpus_pin (r12) — past the source-size budget the windows
        # recompute the grid from the parquet inputs
        pairs = corpus_pin(
            e, "mrl_pairs", lambda: raw_pairs, source="embeddings"
        )

    def top5(dcol: str) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(dcol, "neighbor_id")
        return (
            pairs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select("query_id", "neighbor_id")
        )

    out = top5("d64").withColumnRenamed("neighbor_id", "nid")
    aggs = [F.count("*").cast("long").alias("k_exact")]
    for p in _MRL_PREFIXES:
        hits = top5(f"d{p}").select(
            F.col("query_id").alias("qh"),
            F.col("neighbor_id").alias("nh"),
            F.lit(1).alias(f"hit{p}"),
        )
        out = out.join(
            hits,
            (F.col("query_id") == F.col("qh")) & (F.col("nid") == F.col("nh")),
            "left",
        ).drop("qh", "nh")
        aggs.append(
            F.sum(F.coalesce(F.col(f"hit{p}"), F.lit(0)))
            .cast("long")
            .alias(f"n_found_p{p}")
        )
    res = out.groupBy("query_id").agg(*aggs)
    for p in _MRL_PREFIXES:
        res = res.withColumn(
            f"recall_p{p}_permille",
            F.expr(f"CAST((n_found_p{p} * 1000) DIV k_exact AS BIGINT)"),
        )
    return res.select(
        "query_id",
        "k_exact",
        *[
            c
            for p in _MRL_PREFIXES
            for c in (f"n_found_p{p}", f"recall_p{p}_permille")
        ],
    )
