"""The bench harness's 10x-fixture lifecycle: superseded scale-up dirs are
pruned on a SUPERSESSION-keyed grace window (ADVICE r9), not the directory's
own mtime — an mtime-keyed grace only protected dirs superseded soon after
creation, so a probe reading a long-lived dir at the moment it was
superseded still raced the next builder's rmtree."""

from __future__ import annotations

import os
import shutil
import time

SF_SRC = "/root/testdata/sf0.001"


def _copy_src(tmp_path) -> str:
    src = str(tmp_path / "src_sf")
    os.makedirs(src)
    for name in os.listdir(SF_SRC):
        if name.endswith(".parquet"):
            shutil.copy2(os.path.join(SF_SRC, name), os.path.join(src, name))
    return src


def _retouch(src: str) -> None:
    """Bump one parquet's mtime: fixture_fingerprint keys on mtime_ns, so
    this simulates a fixture regeneration (new content suffix)."""
    p = os.path.join(src, "region.parquet")
    t = os.stat(p).st_mtime_ns + 1_000_000
    os.utime(p, ns=(t, t))


def test_superseded_sf1_dirs_get_tombstone_then_grace_pruned(tmp_path):
    import bench

    v1 = bench._materialize_sf1(_copy_src(tmp_path), factor=2)
    assert os.path.exists(os.path.join(v1, "_STAGED"))
    # rebuild the SAME source at new content: the old dir must survive the
    # prune pass with a tombstone, not be deleted outright
    src_dir = tmp_path / "src_sf"
    _retouch(str(src_dir))
    v2 = bench._materialize_sf1(str(src_dir), factor=2)
    assert v2 != v1 and os.path.exists(os.path.join(v2, "_STAGED"))
    tomb = os.path.join(v1, "_SUPERSEDED")
    assert os.path.exists(v1) and os.path.exists(tomb), (
        "superseded dir was pruned (or not tombstoned) on the pass that "
        "discovered it — the grace window must start at supersession"
    )
    # a second rebuild inside the grace window still leaves it alone
    _retouch(str(src_dir))
    v3 = bench._materialize_sf1(str(src_dir), factor=2)
    assert os.path.exists(v1) and os.path.exists(tomb)
    # backdate the TOMBSTONE (not the dir) past the 6 h grace: the next
    # prune pass may now delete it
    old = time.time() - 7 * 3600
    os.utime(tomb, (old, old))
    _retouch(str(src_dir))
    v4 = bench._materialize_sf1(str(src_dir), factor=2)
    assert not os.path.exists(v1), "grace-expired superseded dir not pruned"
    # the fresher superseded dirs (v2, v3) are tombstoned but kept
    for v in (v2, v3):
        assert os.path.exists(v)
        assert os.path.exists(os.path.join(v, "_SUPERSEDED"))
    for v in (v2, v3, v4):
        shutil.rmtree(v, ignore_errors=True)
