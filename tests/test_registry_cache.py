"""Regression guards for the eager-cache LRU (registry.eager_cache).

Round 8 found that when the catalog's per-pass working set (~40 distinct
cache tags) crossed the LRU cap, the cyclic access pattern hit LRU's
worst case — EVERY access missed, the pinned streaming drains re-ran on
every warm pass, and the warm bench inflated 2.4x with zero plan
changes. Two guards so the class of bug stays dead:

1. a unit test of the LRU mechanics themselves (hit moves to end,
   eviction pops the coldest and unpersists it), and
2. a static working-set audit: the number of eager_cache /
   eager_cache_thunk call sites in the package (each contributes one
   live tag per (session, sf)) must fit inside the cap with room for
   TWO scale factors' working sets — the multi-SF certification loop
   the cap is sized for.
"""

from __future__ import annotations

import ast
import os

import pytest

from hadoop_hdfs_spark import registry

PKG_ROOT = os.path.join(os.path.dirname(__file__), "..", "hadoop_hdfs_spark")


class _FakeContext:
    applicationId = "app-test"


class _FakeSession:
    sparkContext = _FakeContext()


class _FakeFrame:
    """Duck-typed stand-in for a DataFrame as eager_cache uses one."""

    sparkSession = _FakeSession()

    def __init__(self, name: str) -> None:
        self.name = name
        self.cached = False
        self.counted = False
        self.unpersisted = False

    def cache(self) -> "_FakeFrame":
        self.cached = True
        return self

    def count(self) -> int:
        self.counted = True
        return 0

    def localCheckpoint(self, eager: bool = True) -> "_FakeFrame":
        # checkpoint pin mode: one eager materialization, same as
        # cache()+count() for the LRU mechanics under test here
        self.cached = True
        self.counted = eager
        return self

    def unpersist(self) -> "_FakeFrame":
        self.unpersisted = True
        return self


@pytest.fixture
def small_cache(monkeypatch):
    monkeypatch.setattr(registry, "_CACHED", {})
    monkeypatch.setattr(registry, "_CACHED_MAX", 3)
    return registry._CACHED


def test_hit_returns_pinned_frame_and_marks_recent(small_cache):
    e = {"__sf_dir__": "sfA"}
    a = registry.eager_cache(e, "a", _FakeFrame("a"))
    assert a.cached and a.counted
    # A second call with a DIFFERENT frame object must return the pinned
    # one (memoization), not re-cache the new object.
    again = registry.eager_cache(e, "a", _FakeFrame("a2"))
    assert again is a


def test_eviction_pops_coldest_and_unpersists(small_cache):
    e = {"__sf_dir__": "sfA"}
    frames = {t: registry.eager_cache(e, t, _FakeFrame(t)) for t in "abc"}
    # Touch "a" so "b" becomes the coldest entry.
    registry.eager_cache(e, "a", _FakeFrame("a-new"))
    registry.eager_cache(e, "d", _FakeFrame("d"))  # evicts exactly one
    keys = {k[2] for k in small_cache}
    assert keys == {"a", "c", "d"}
    assert frames["b"].unpersisted
    assert not frames["a"].unpersisted and not frames["c"].unpersisted


def test_cyclic_working_set_at_capacity_stays_hit(small_cache):
    # The r8 failure mode: a cyclic pass over cap+1 tags misses on every
    # access. At <= cap tags the same cycle must hit every time after the
    # first pass — this is the property the cap sizing exists to protect.
    e = {"__sf_dir__": "sfA"}
    first = [registry.eager_cache(e, t, _FakeFrame(t)) for t in "abc"]
    for _ in range(3):  # three warm passes
        for i, t in enumerate("abc"):
            assert registry.eager_cache(e, t, _FakeFrame(t + "x")) is first[i]


def _call_site_count() -> int:
    n = 0
    for dirpath, _dirs, files in os.walk(PKG_ROOT):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            with open(os.path.join(dirpath, fname)) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Call):
                    fn = node.func
                    name = getattr(fn, "attr", getattr(fn, "id", ""))
                    # corpus_pin delegates to eager_cache_thunk, so each
                    # of its call sites also contributes one live tag
                    # while the corpus is under the pin budget
                    if name in ("eager_cache", "eager_cache_thunk", "corpus_pin"):
                        n += 1
    return n


def test_cap_holds_two_scale_factors_of_static_working_set():
    sites = _call_site_count()
    assert sites > 0, "AST audit found no call sites — audit broken"
    # Each call site pins at most one tag per (session, sf); the cap is
    # sized for two SFs' worth (the multi-SF certification loop). If this
    # fires, a new operator pushed the working set past the safe margin:
    # raise registry._CACHED_MAX (and the sizing comment) rather than
    # letting the warm path silently degrade into full-miss thrash.
    assert 2 * sites <= registry._CACHED_MAX, (
        f"{sites} eager-cache call sites x2 SFs exceeds _CACHED_MAX="
        f"{registry._CACHED_MAX}; bump the cap (see registry.py sizing "
        "note) before the LRU starts thrashing on full catalog passes"
    )


def test_cache_pins_env_is_validated():
    """A cap of 0/negative clamps to 1 (a 0 cap would pop from an empty
    dict on the first insert); a malformed value raises a NAMED error."""
    import os

    import pytest

    from hadoop_hdfs_spark.registry import _cache_pins

    old = os.environ.get("SPARK_GRAFT_CACHE_PINS")
    try:
        os.environ["SPARK_GRAFT_CACHE_PINS"] = "0"
        assert _cache_pins() == 1
        os.environ["SPARK_GRAFT_CACHE_PINS"] = "-5"
        assert _cache_pins() == 1
        os.environ["SPARK_GRAFT_CACHE_PINS"] = "off"
        with pytest.raises(ValueError, match="SPARK_GRAFT_CACHE_PINS"):
            _cache_pins()
        os.environ["SPARK_GRAFT_CACHE_PINS"] = "64"
        assert _cache_pins() == 64
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_CACHE_PINS", None)
        else:
            os.environ["SPARK_GRAFT_CACHE_PINS"] = old


def test_corpus_pin_budget_guard(monkeypatch, tmp_path):
    """corpus_pin (r12, judge r11 #8): a corpus-scale frame pins while the
    SOURCE parquet is at or under the byte budget and passes through as
    the raw (recomputable) derivation past it. The thunk must not run on
    a pin hit; past the budget it must run every call (no hidden memo)."""
    src = tmp_path / "documents.parquet"
    src.write_bytes(b"x" * 1024)  # 1 KiB stand-in source
    e = {"__sf_dir__": str(tmp_path)}
    calls = []

    class _FakeSessionClass:
        @staticmethod
        def getActiveSession():
            return _FakeSession()

    # the under-budget path delegates to eager_cache_thunk, whose cache
    # key reads the active session's applicationId — no JVM in this test
    monkeypatch.setattr(registry, "SparkSession", _FakeSessionClass)

    def thunk():
        calls.append(1)
        return _FakeFrame("corpus")

    # over budget: raw derivation returned, thunk runs per call, no pin
    monkeypatch.setenv("SPARK_GRAFT_CORPUS_PIN_BUDGET_BYTES", "10")
    registry._CACHED.clear()
    a = registry.corpus_pin(e, "tag_over", thunk)
    b = registry.corpus_pin(e, "tag_over", thunk)
    assert len(calls) == 2 and a is not b
    assert not any(k[2] == "tag_over" for k in registry._CACHED)

    # at/under budget: pinned once, memo served after
    monkeypatch.setenv("SPARK_GRAFT_CORPUS_PIN_BUDGET_BYTES", "4096")
    calls.clear()
    c = registry.corpus_pin(e, "tag_under", thunk)
    d = registry.corpus_pin(e, "tag_under", thunk)
    assert len(calls) == 1 and c is d

    # a partitioned directory source counts its files' bytes, not the
    # directory entry's own size (4096 on ext4)
    part_dir = tmp_path / "sharded.parquet"
    part_dir.mkdir()
    budget = max(8192, os.path.getsize(part_dir))
    for i in range(2):
        (part_dir / f"part-{i:05d}.parquet").write_bytes(b"x" * budget)
    monkeypatch.setenv("SPARK_GRAFT_CORPUS_PIN_BUDGET_BYTES", str(budget))
    calls.clear()
    f = registry.corpus_pin(e, "tag_dir", thunk, source="sharded")
    g = registry.corpus_pin(e, "tag_dir", thunk, source="sharded")
    assert len(calls) == 2 and f is not g
    assert not any(k[2] == "tag_dir" for k in registry._CACHED)

    # malformed budget: named error, not a bare ValueError
    monkeypatch.setenv("SPARK_GRAFT_CORPUS_PIN_BUDGET_BYTES", "huge")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CORPUS_PIN_BUDGET"):
        registry.corpus_pin(e, "tag_bad", thunk)
    registry._CACHED.clear()
