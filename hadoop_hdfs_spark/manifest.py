"""Mechanized touched-query detection for the driver rotation (judge r4 #1).

Round 4 mechanized the 50-slot verification rotation from the
CORRECTNESS_r*.json artifacts, but left one manual input: the
``_TOUCHED_THIS_ROUND`` frozenset naming queries whose semantics changed
since their last green row. That hand-list missed two semantically-changed
queries in r4 — exactly the failure mode mechanization exists to remove.

This module replaces the hand-list with a committed manifest
(``QUERY_MANIFEST.json``) of per-query semantic fingerprints:

    fingerprint = sha256( operator oracle SQL
                        | normalized optimized logical plan (sf0.001)
                        | canonical result hash (sf0.001) )

- The OPTIMIZED plan (not analyzed) is used deliberately: Catalyst's
  column pruning makes the fingerprint insensitive to entity-schema
  additions a query never reads — adding a payload column to ``edits``
  must not flood every edits-reading query into the re-verify tier.
  Expression ids (``#123``) are normalized away; the fixture path is
  pinned to sf0.001 so scans stringify identically run to run.
- The RESULT hash (``testing._canon`` — the driver's own canonical form)
  catches semantic changes invisible to the plan, e.g. the driver-fold
  operators whose output is a LocalRelation of driver-computed rows.
- The operator's own oracle SQL (NOT the shared entity prelude) catches
  oracle-side semantic edits.

Lifecycle, fully mechanical:

1. ``python -m hadoop_hdfs_spark.manifest`` regenerates the manifest.
   It first PROMOTES green fingerprints: any query whose latest green
   CORRECTNESS row is newer than the manifest's recorded ``green_round``
   gets ``green_fingerprint := the committed fingerprint`` — i.e. the
   fingerprint of the exact code the driver verified (the manifest is
   committed before the driver runs, so the stored current fingerprint IS
   what the row vouches for). Then it recomputes current fingerprints
   from the working tree and stores a hash of every source file.
2. ``registry._driver_order`` reads the committed manifest: tier 1 =
   any query with a green row whose current fingerprint differs from its
   green fingerprint (or that the manifest doesn't know) — no hand-list.
3. ``tests/test_driver_contract.py`` enforces freshness: the stored
   source-file hashes must match the working tree, so any code change
   forces a regeneration before the suite goes green — a stale manifest
   cannot ship.

Bootstrap (first manifest): every query with a green row gets
``green_fingerprint := current`` — honest because every such query is
also queued by staleness within the same round's budget.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST_PATH = os.path.join(_REPO_ROOT, "QUERY_MANIFEST.json")
FINGERPRINT_SF_DIR = "/root/testdata/sf0.001"

# Source files whose content defines query semantics: the package itself
# plus the driver entrypoint. Changing ANY of them invalidates the
# manifest (freshness test) — over-approximate on purpose; regeneration
# then recomputes fingerprints, which only re-tier queries that actually
# changed.
_SOURCE_GLOBS = (
    os.path.join(_REPO_ROOT, "hadoop_hdfs_spark", "**", "*.py"),
    os.path.join(_REPO_ROOT, "__spark_entry__.py"),
)


def source_file_hashes() -> dict[str, str]:
    out: dict[str, str] = {}
    for g in _SOURCE_GLOBS:
        for p in sorted(glob.glob(g, recursive=True)):
            rel = os.path.relpath(p, _REPO_ROOT)
            with open(p, "rb") as f:
                out[rel] = hashlib.sha256(f.read()).hexdigest()
    return out


def load_manifest() -> dict:
    try:
        with open(MANIFEST_PATH) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {"queries": {}, "files": {}}


def _tree_indent(line: str) -> int:
    """Length of the tree-rendering prefix (spaces and :, +, -, | glyphs)."""
    return len(re.match(r"^[\s:+|-]*", line).group(0))


def _strip_cached_plan_bodies(plan: str) -> str:
    """Drop the physical plan bodies printed beneath InMemoryRelation nodes.

    An InMemoryRelation is a LEAF of the logical plan, but toString renders
    its cachedPlan (a physical AdaptiveSparkPlan) indented beneath it — and
    that body is NOT stable run to run: plan_id counters are session-global,
    and AQE re-plans in place, so the same cache captured before/after
    materialization prints raw Exchanges vs ShuffleQueryStage/ReusedExchange
    subtrees (observed drifting 14 queries into tier 1 with zero code
    change, r6). The InMemoryRelation line itself (output schema + storage
    level) is kept; semantic changes inside a cached frame's construction
    are still caught by the fingerprint's RESULT-hash component.
    """
    out = []
    lines = plan.splitlines()
    i = 0
    while i < len(lines):
        line = lines[i]
        out.append(line)
        i += 1
        if "InMemoryRelation" in line:
            base = _tree_indent(line)
            while i < len(lines) and _tree_indent(lines[i]) > base:
                i += 1
    return "\n".join(out)


def _normalize_plan(plan: str) -> str:
    plan = _strip_cached_plan_bodies(plan)
    plan = re.sub(r"#\d+", "#", plan)  # expression ids vary per session
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)  # session-global counter
    # lambda variable ids (`lambda x_148#`) draw from another session-global
    # counter: any edit that changes how many lambda expressions earlier
    # REGISTRATIONS build shifts every later query's ids (observed drifting
    # 10 untouched queries into tier 1 after a trainer rewrite, r6)
    plan = re.sub(r"lambda ([A-Za-z]+)_\d+", r"lambda \1_", plan)
    # parquet scans stringify a bounded file list with per-run ellipsis
    # counts; the location list is pinned by FINGERPRINT_SF_DIR anyway
    plan = re.sub(r"\.\.\. \d+ more fields", "...", plan)
    return plan


def _result_hash(pdf) -> str:
    from .testing import _canon

    canon = _canon(pdf)
    h = hashlib.sha256()
    h.update(("|".join(canon.columns) + "\n").encode())
    for row in canon.itertuples(index=False, name=None):
        h.update(("\x1f".join(row) + "\n").encode())
    return h.hexdigest()


def compute_fingerprints(spark) -> dict[str, str]:
    """One fingerprint per registered query, at the pinned sf0.001 fixture.

    Queries are built in REGISTRATION order (stable run to run) so the
    operator-level eager caches evolve identically and plan strings are
    reproducible.

    The fingerprint plan is rendered CACHE-FREE: the CacheManager is
    cleared after each query builds and before its plan stringifies, so
    cache substitution never injects an InMemoryRelation — whose rendered
    cachedPlan body is NOT deterministic (AQE re-plans it in place, so the
    same cache stringifies as raw Exchanges, ShuffleQueryStage subtrees or
    ResultQueryStage wrappers depending on which queries materialized
    before the render; the body also prints at a SHALLOWER indent than the
    InMemoryRelation line, which is why the indent-based body stripper
    below could not remove it — observed r9 as three replica-family
    queries flapping between two fingerprints with zero code change).
    The cleared caches also mean the fingerprint sees the FULL logical
    construction of shared intermediates, so a semantic edit inside a
    cached frame is now caught by the plan component, not only the result
    hash. Execution (the result-hash toPandas) simply rebuilds uncached —
    identical values, and cheap at the pinned sf0.001.

    Each query is built twice, once per component:

    - the PLAN over the derived entity model
      (``entities.derive_entities``): the cache-free rendering of the
      entity image, whose entities are the materialized results of exactly
      these derivations. Over the image itself every entity is a bare
      scan, so the plan would carry no entity derivation and an
      ``ENTITY_SQL`` edit that leaves the sf0.001 results unchanged would
      touch no query;
    - the RESULT over the entity model the runtime reads
      (``entities.load_entities``, the image), so a query the image path
      answers differently from its derivation is touched.
    """
    from . import registry
    from .entities import derive_entities, load_entities

    registry._import_operator_modules()
    app = spark.sparkContext.applicationId

    def each_query(e, render) -> dict[str, str]:
        out = {}
        for name, q in registry._REGISTRY.items():
            df = q.fn(e)
            spark.catalog.clearCache()  # render plans cache-free (see above)
            # clearCache unpersists but the eager-cache memo still holds
            # the frames; left in place, a memo HIT returns an unpersisted
            # frame without re-caching, silently degrading every later
            # query in a SHARED session (regenerate(spark=...)) to
            # recompute-per-use. Evicting this app's entries makes the next
            # use rebuild+re-cache.
            for key in [k for k in registry._CACHED if k[0] == app]:
                registry._CACHED.pop(key)
            out[name] = render(df)
        return out

    plans = each_query(
        derive_entities(spark, FINGERPRINT_SF_DIR),
        lambda df: _normalize_plan(
            df._jdf.queryExecution().optimizedPlan().toString()
        ),
    )
    # load_entities re-registers the image-backed views last, so a shared
    # session is left reading what the runtime reads
    results = each_query(
        load_entities(spark, FINGERPRINT_SF_DIR),
        lambda df: _result_hash(df.toPandas()),
    )
    out: dict[str, str] = {}
    for name, q in registry._REGISTRY.items():
        h = hashlib.sha256()
        h.update((q.oracle or "<no-oracle>").encode())
        h.update(b"\x00")
        h.update(plans[name].encode())
        h.update(b"\x00")
        h.update(results[name].encode())
        out[name] = h.hexdigest()
    return out


def regenerate(spark=None, rebase_green: bool = False) -> dict:
    """Promote green fingerprints from new CORRECTNESS rows, recompute
    current fingerprints from the working tree, write the manifest.

    ``rebase_green`` is the one-time migration path for a FINGERPRINT
    ALGORITHM change (e.g. a _normalize_plan hardening): old-algorithm
    green fingerprints can never equal new-algorithm current ones, which
    would flood every green query into tier 1. A query is rebased
    (``green_fingerprint := current``) ONLY if the old manifest showed it
    clean (fingerprint == green_fingerprint — the tree is semantically
    what its green row verified); already-touched queries keep their old
    green fingerprint and so stay in tier 1 to re-earn their row."""
    from . import registry

    old_manifest = load_manifest()
    old = old_manifest["queries"]
    if rebase_green:
        # Rebase blesses green_fingerprint := current, trusting the OLD
        # manifest's stored fingerprints to describe the working tree. That
        # only holds if no semantics-bearing source changed since the old
        # manifest was generated (ADVICE r6) — otherwise a semantically
        # edited query would be silently rebased to green without
        # re-verification. manifest.py itself is exempt: an algorithm
        # migration (the one legitimate rebase trigger) necessarily edits
        # it, and it carries no query semantics.
        current_files = source_file_hashes()
        old_files = old_manifest.get("files", {})
        changed = sorted(
            p
            for p in set(current_files) | set(old_files)
            if current_files.get(p) != old_files.get(p)
            and p != os.path.join("hadoop_hdfs_spark", "manifest.py")
        )
        if changed:
            raise ValueError(
                "--rebase-green refused: semantics-bearing sources changed "
                f"since the committed manifest ({changed}); regenerate "
                "normally (touched queries re-earn their rows) or commit/"
                "restore those files first"
            )
    latest = registry._latest_green_round()
    pre_clean = {
        n for n, e in old.items()
        if e.get("green_fingerprint")
        and e["fingerprint"] == e["green_fingerprint"]
    }

    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark("manifest", cpus=8, shuffle_partitions=8)
    try:
        current = compute_fingerprints(spark)
    finally:
        if own_session:
            spark.stop()

    queries: dict[str, dict] = {}
    for name, fp in current.items():
        prev = old.get(name, {})
        green_fp = prev.get("green_fingerprint")
        green_round = prev.get("green_round", 0)
        if name in latest and latest[name] > green_round:
            # A green row landed since the manifest last recorded one. The
            # fingerprint the driver verified is the one that was COMMITTED
            # when it ran (prev["fingerprint"]). A query the old manifest
            # never fingerprinted (deleted then re-registered under the
            # same name, or a pre-manifest row) gets green_fingerprint
            # None — "a green row exists that no known fingerprint can be
            # credited with" — which touched_queries() flags as tier 1, so
            # the row is re-earned instead of silently credited to code it
            # never verified (ADVICE r5).
            green_fp = prev.get("fingerprint")
            green_round = latest[name]
        if rebase_green and name in pre_clean:
            green_fp = fp  # algorithm migration: tree verified green as-is
        queries[name] = {
            "fingerprint": fp,
            "green_fingerprint": green_fp,
            "green_round": green_round,
        }
    manifest = {
        "sf_dir": FINGERPRINT_SF_DIR,
        "queries": queries,
        "files": source_file_hashes(),
    }
    with open(MANIFEST_PATH, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.write("\n")
    return manifest


def touched_queries(manifest: dict | None = None) -> set[str]:
    """Queries whose current fingerprint no longer matches the one their
    latest green driver row verified — the mechanized tier-1 set."""
    m = manifest if manifest is not None else load_manifest()
    qs = m.get("queries", {})
    out = set()
    for name, entry in qs.items():
        g = entry.get("green_fingerprint")
        if g is not None and entry.get("fingerprint") != g:
            out.add(name)
        elif g is None and entry.get("green_round", 0) > 0:
            # a green row the manifest cannot attribute to any committed
            # fingerprint (re-registered name / pre-manifest row): the
            # current code must re-earn it (ADVICE r5)
            out.add(name)
    return out


if __name__ == "__main__":
    m = regenerate(rebase_green="--rebase-green" in sys.argv)
    stale = sorted(touched_queries(m))
    print(
        json.dumps(
            {
                "queries": len(m["queries"]),
                "files": len(m["files"]),
                "touched": stale,
            }
        )
    )
    sys.exit(0)
