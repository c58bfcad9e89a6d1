"""Staging-cache behavior of the /tmp artifacts (ADVICE r3): the stage key
must track fixture CONTENT, so a regenerated fixture at the same path
restages instead of silently replaying stale bytes; and a visible
directory must always be complete. Every artifact builds through the one
primitive, fixtures.build_once (marker inside before the rename into
place); the failure-injection test drives it through each caller, and an
AST audit keeps the protocol from being copied again."""

from __future__ import annotations

import ast
import glob
import os
import pathlib
import shutil
import sys

import pytest

from hadoop_hdfs_spark import fixtures
from hadoop_hdfs_spark.fixtures import fixture_fingerprint, staged_dir

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _mk_fixture(tmp_path, payload: bytes):
    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    (d / "documents.parquet").write_bytes(payload)
    return str(d)


def test_fingerprint_tracks_content(tmp_path):
    d = _mk_fixture(tmp_path, b"v1")
    fp1 = fixture_fingerprint(d)
    os.utime(os.path.join(d, "documents.parquet"), (1, 1))
    fp2 = fixture_fingerprint(d)
    assert fp1 != fp2  # mtime change alone restages (regeneration signal)
    (tmp_path / "sf" / "documents.parquet").write_bytes(b"v2-longer")
    assert fixture_fingerprint(d) not in (fp1, fp2)


def test_staged_dir_builds_once_then_restages_on_regen(tmp_path):
    d = _mk_fixture(tmp_path, b"v1")
    builds = []

    def build(p):
        os.makedirs(p)
        builds.append(p)
        with open(os.path.join(p, "data"), "w") as f:
            f.write("built")

    s1 = staged_dir(d, "test_stage", build)
    s2 = staged_dir(d, "test_stage", build)
    assert s1 == s2 and len(builds) == 1
    assert os.path.exists(os.path.join(s1, "_STAGED"))

    # regenerate the fixture -> new fingerprint -> fresh stage dir
    (tmp_path / "sf" / "documents.parquet").write_bytes(b"v2-regenerated")
    s3 = staged_dir(d, "test_stage", build)
    assert s3 != s1 and len(builds) == 2
    for s in (s1, s3):
        shutil.rmtree(s, ignore_errors=True)


class _Boom(Exception):
    pass


def _boom(*_args, **_kwargs):
    raise _Boom


def _stage_payload() -> str:
    return "built"


def _caller(name, tmp_path, request):
    """(call, arm) for one caller of build_once: ``call()`` builds and
    returns the directory, ``arm(monkeypatch)`` makes its write raise
    part-way. The fixture corpora build at a scale factor of their own;
    the entity image builds from a fresh copy of the test fixture."""
    if name == "entities":
        from pyspark.sql import DataFrameWriter

        from hadoop_hdfs_spark import entities

        spark, sf_dir = (request.getfixturevalue(f) for f in ("spark", "sf_dir"))
        d = request.getfixturevalue("fixture_copy")()
        # each build leaves its views on the copy
        request.addfinalizer(lambda: entities.load_entities(spark, sf_dir))
        return (
            lambda: entities.entity_image(spark, d),
            # the entity writes raise; check_invariants is part of the key
            lambda m: m.setattr(DataFrameWriter, "parquet", _boom),
        )
    if name == "staged_dir":
        d = _mk_fixture(tmp_path, b"v1")

        def build(p):
            os.makedirs(p)
            with open(os.path.join(p, "data"), "w") as f:
                f.write(_stage_payload())

        return (
            lambda: staged_dir(d, "test_torn", build),
            lambda m: m.setattr(sys.modules[__name__], "_stage_payload", _boom),
        )
    if name == "sf1":
        import bench
        import duckdb

        from test_bench_fixture import _copy_src

        src = _copy_src(tmp_path)
        return (
            lambda: bench._materialize_sf1(src, factor=2),
            lambda m: m.setattr(duckdb, "connect", _boom),
        )
    from hadoop_hdfs_spark.pipeline import gifcodec, mediafixture

    sf = 1e-6
    if name == "blob":
        import numpy as np

        return (
            lambda: fixtures.blob_fixture_dir(sf),
            lambda m: m.setattr(np.random, "default_rng", _boom),
        )
    module, builder, encoder = {
        "png": (mediafixture, "png_fixture_dir", "png_fixture_bytes"),
        "wav": (mediafixture, "wav_fixture_dir", "wav_fixture_bytes"),
        "gif": (gifcodec, "gif_fixture_dir", "fixture_gif_bytes"),
    }[name]
    return (
        lambda: getattr(module, builder)(sf),
        lambda m: m.setattr(module, encoder, _boom),
    )


@pytest.mark.parametrize(
    "caller", ["staged_dir", "blob", "png", "wav", "gif", "sf1", "entities"]
)
def test_torn_or_failed_build_is_never_visible(
    caller, tmp_path, monkeypatch, request
):
    """Inject each failure build_once guards against, through every
    caller: a write that raises part-way, a rename that fails with no
    complete build in sight, and a torn target left by a crashed build."""
    call, arm = _caller(caller, tmp_path, request)
    target = call()
    shutil.rmtree(target)

    def leftovers():
        return glob.glob(f"{glob.escape(target)}.build-*")

    try:
        with monkeypatch.context() as m:
            arm(m)
            with pytest.raises(_Boom):
                call()
        assert leftovers() == [] and not os.path.exists(target)

        def no_rename(*_args):
            raise OSError("rename refused")

        with monkeypatch.context() as m:
            m.setattr(os, "rename", no_rename)
            m.setattr(fixtures.time, "sleep", lambda _s: None)
            with pytest.raises(OSError, match="rename refused"):
                call()
        assert leftovers() == [] and not os.path.exists(target)

        os.makedirs(target)  # torn: no marker
        open(os.path.join(target, "partial"), "w").close()
        assert call() == target
        names = os.listdir(target)
        assert fixtures.MARKER in names and "partial" not in names
        assert len(names) > 1
        assert leftovers() == []
    finally:
        shutil.rmtree(target, ignore_errors=True)


def test_only_build_once_renames_a_build_dir():
    """The build-and-rename protocol has one copy: no function in the
    package, bench.py or tools/ other than fixtures.build_once moves a
    ``.build-`` path into place."""
    paths = [
        *sorted((ROOT / "hadoop_hdfs_spark").rglob("*.py")),
        ROOT / "bench.py",
        *sorted((ROOT / "tools").glob("*.py")),
    ]
    found = set()
    for path in paths:
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            nodes = list(ast.walk(fn))
            builds = any(
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and ".build-" in n.value
                for n in nodes
            )
            moves = any(
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("rename", "replace", "move")
                and getattr(n.func.value, "id", None) in ("os", "shutil")
                for n in nodes
            )
            if builds and moves:
                found.add((path.relative_to(ROOT).as_posix(), fn.name))
    assert found == {("hadoop_hdfs_spark/fixtures.py", "build_once")}
