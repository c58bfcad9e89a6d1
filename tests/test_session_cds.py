"""The driver JVM's class-data-sharing archive (session.get_spark).

Failure injection for the archive's life cycle: a recording is promoted
only after its JVM is gone and a trial JVM maps it; a truncated one is
deleted and never reaches ``-XX:SharedArchiveFile``; a live recording is
left alone; a conf directory holding a real file turns the archive off
and leaves the launch untouched; a changed key records anew; concurrent
promoters leave one archive. Most cases run against a fake JDK and Spark
home; the trial JVM and one session start are real.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

from hadoop_hdfs_spark import session
from hadoop_hdfs_spark.fixtures import MARKER

ROOT = Path(__file__).resolve().parents[1]


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _finish(rec: str, payload: bytes | None, class_path: str = "cp") -> None:
    """What a recording JVM leaves behind once it has exited (``payload``
    None: the JVM wrote the archive itself)."""
    if payload is not None:
        Path(rec + ".jsa").write_bytes(payload)
    Path(rec + ".json").write_text(json.dumps(
        {"owner_pid": _dead_pid(), "jvm_pid": _dead_pid(), "class_path": class_path}))


@pytest.fixture
def box(tmp_path, monkeypatch):
    """A fake JDK and Spark home (conf holds only a template) and a
    private archive root."""
    jdk = tmp_path / "jdk"
    jdk.mkdir()
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    jar = home / "jars" / "spark-core.jar"
    jar.write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    root = tmp_path / "root"
    root.mkdir()
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("SPARK_HOME", str(home))
    for v in ("SPARK_CONF_DIR", *session._CLASS_PATH_ENV):
        monkeypatch.delenv(v, raising=False)
    monkeypatch.setattr(session, "_CDS_ROOT", str(root))
    return SimpleNamespace(root=root, home=home, jar=jar)


def _stem(memory: str) -> str:
    return os.path.join(session._CDS_ROOT, f"spark_graft_cds_{session._cds_key(memory)}")


def test_finished_recording_is_promoted_and_mapped(box, monkeypatch):
    monkeypatch.setattr(session, "_trial", lambda *a: True)
    options, rec = session._cds_options("1g")
    assert options.startswith(f"-XX:ArchiveClassesAtExit={rec}.jsa ")
    assert rec.startswith(_stem("1g") + f".rec-{os.getpid()}-")
    assert os.environ["SPARK_CONF_DIR"] == str(box.root / "spark_graft_cds_conf")
    _finish(rec, b"archive")
    options, rec2 = session._cds_options("1g")
    archive = os.path.join(_stem("1g"), session._CDS_ARCHIVE)
    assert rec2 is None
    assert options == f"-XX:SharedArchiveFile={archive} {session._CDS_QUIET}"
    assert Path(archive).read_bytes() == b"archive"
    assert not glob.glob(_stem("1g") + ".rec-*")


def test_live_recording_is_left_alone(box, monkeypatch):
    """A recording whose writer runs is neither validated nor deleted,
    and no second recording starts for the key meanwhile."""
    def trial(*a):
        raise AssertionError("a live recording must not be validated")

    monkeypatch.setattr(session, "_trial", trial)
    rec = _stem("1g") + ".rec-live"
    Path(rec + ".jsa").write_bytes(b"half written")
    Path(rec + ".json").write_text(json.dumps({"owner_pid": os.getpid()}))
    assert session._cds_options("1g") is None
    assert "SPARK_CONF_DIR" not in os.environ
    Path(rec + ".json").write_text(json.dumps({"owner_pid": _dead_pid(), "jvm_pid": os.getpid(),
                                               "class_path": "cp"}))
    assert session._cds_options("1g") is None
    assert sorted(glob.glob(_stem("1g") + ".rec-*")) == [rec + ".jsa", rec + ".json"]
    assert not os.path.exists(_stem("1g"))


def test_failed_recording_is_deleted_and_recorded_anew(box, monkeypatch):
    monkeypatch.setattr(session, "_trial", lambda *a: False)
    _, rec = session._cds_options("1g")
    _finish(rec, b"\0" * 64)
    options, rec2 = session._cds_options("1g")
    assert options.startswith(f"-XX:ArchiveClassesAtExit={rec2}.jsa ")
    assert not os.path.exists(rec + ".jsa") and not os.path.exists(rec + ".json")
    assert not os.path.exists(_stem("1g"))


def test_changed_key_records_a_new_archive(box, monkeypatch):
    """The key covers what the JVM validates: a jar's mtime, the heap."""
    monkeypatch.setattr(session, "_trial", lambda *a: True)
    _, rec = session._cds_options("1g")
    _finish(rec, b"archive")
    old = _stem("1g")
    assert session._cds_options("1g")[1] is None
    st = box.jar.stat()
    os.utime(box.jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    options, rec = session._cds_options("1g")
    assert _stem("1g") != old and rec.startswith(_stem("1g") + ".rec-")
    assert options.startswith("-XX:ArchiveClassesAtExit=")
    assert session._cds_key("2g") != session._cds_key("1g")
    assert os.path.exists(os.path.join(old, session._CDS_ARCHIVE))


class _Builder:
    """Records the options get_spark would launch the JVM with."""

    def __init__(self):
        self.options = {}

    def appName(self, name):
        return self.config("spark.app.name", name)

    def master(self, master):
        return self.config("spark.master", master)

    def config(self, key, value):
        self.options[key] = value
        return self

    def getOrCreate(self):
        return self


def _launch_options(monkeypatch) -> dict:
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setattr(session, "_launches_jvm", lambda: True)
    session.get_spark("cds", cpus=2)
    return builder.options


def test_conf_dir_with_a_real_file_launches_as_without_archives(box, monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    stem = _stem("8g")
    os.makedirs(stem)
    Path(stem, session._CDS_ARCHIVE).write_bytes(b"archive")
    Path(stem, MARKER).touch()
    with_archive = _launch_options(monkeypatch)
    assert with_archive.pop("spark.driver.defaultJavaOptions").startswith(
        f"-XX:SharedArchiveFile={stem}/")
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "log4j2.properties.template").write_text("")
    (conf / "spark-defaults.conf").write_text("spark.eventLog.enabled false\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    without = _launch_options(monkeypatch)
    assert list(without.items()) == list(with_archive.items())
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert session._cds_options("8g") is None
    # another directory Spark's launcher puts on the class path
    monkeypatch.setenv("SPARK_CONF_DIR", str(box.home / "conf"))
    monkeypatch.setenv("HADOOP_CONF_DIR", str(conf))
    assert session._cds_options("8g") is None
    assert os.environ["SPARK_CONF_DIR"] == str(box.home / "conf")


_PROMOTER = """
import sys, time
sys.path.insert(0, {root!r})
from hadoop_hdfs_spark import session
session._trial = lambda *a: time.sleep(0.2) or True
while time.time() < {start}:
    time.sleep(0.001)
session._promote({stem!r}, "1g")
"""


def test_concurrent_promoters_leave_one_archive(box):
    stem = _stem("1g")
    payloads = {f"{stem}.rec-{i}": f"archive {i}".encode() for i in (1, 2)}
    for rec, payload in payloads.items():
        _finish(rec, payload)
    code = _PROMOTER.format(root=str(ROOT), start=time.time() + 2.0, stem=stem)
    procs = [subprocess.Popen([sys.executable, "-c", code]) for _ in range(2)]
    assert [p.wait(timeout=60) for p in procs] == [0, 0]
    assert sorted(os.listdir(stem)) == sorted([MARKER, session._CDS_ARCHIVE])
    assert Path(stem, session._CDS_ARCHIVE).read_bytes() in payloads.values()
    assert os.listdir(box.root) == [os.path.basename(stem)]


def test_trial_jvm_rejects_a_truncated_recording(tmp_path, monkeypatch):
    """Real JVMs: record a small archive, then promote with the real trial.
    The truncated copy aborts the trial JVM and is deleted; the full one
    is promoted."""
    monkeypatch.setattr(session, "_CDS_ROOT", str(tmp_path))
    cp = sorted(glob.glob(os.path.join(session._spark_home(), "jars", "spark-launcher*.jar")))[0]
    stem = str(tmp_path / "spark_graft_cds_k")
    java = os.path.join(session._java_home(), "bin", "java")
    good, cut = f"{stem}.rec-2", f"{stem}.rec-1"
    subprocess.run([java, f"-XX:ArchiveClassesAtExit={good}.jsa", "-Xmx1g", "-Xlog:cds=off",
                    "-Xlog:cds+dynamic=off", "-cp", cp, "-version"],
                   check=True, capture_output=True)
    data = Path(good + ".jsa").read_bytes()
    _finish(good, None, cp)
    _finish(cut, data[: len(data) // 2], cp)
    assert not session._trial(cut + ".jsa", cp, "1g")
    assert session._promote(stem, "1g") is False
    assert Path(stem, session._CDS_ARCHIVE).read_bytes() == data
    assert sorted(os.listdir(tmp_path)) == [os.path.basename(stem)]


_START = """
import json, sys
sys.path.insert(0, {root!r})
from hadoop_hdfs_spark import session
session._CDS_ROOT = {tmp!r}
spark = session.get_spark("cds-truncated", cpus=1)
args = list(spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getRuntimeMXBean().getInputArguments())
print(json.dumps({{"rows": spark.range(3).count(), "args": args}}))
spark.stop()
"""


def test_session_starts_past_a_truncated_recording(tmp_path):
    """Real session start: a finished recording cut short is deleted and
    the JVM starts without it. A live recording of the same key keeps
    this start from recording (and from writing 170 MB at its exit)."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_DRIVER_MEMORY", "PYSPARK_GATEWAY_PORT")}
    stem = os.path.join(str(tmp_path), f"spark_graft_cds_{session._cds_key('8g')}")
    base = Path(session._java_home(), "lib", "server", "classes.jsa").read_bytes()
    _finish(f"{stem}.rec-1", base[: len(base) // 2], "cp")
    Path(f"{stem}.rec-live.json").write_text(json.dumps({"owner_pid": os.getpid()}))
    out = subprocess.run(
        [sys.executable, "-c", _START.format(root=str(ROOT), tmp=str(tmp_path))],
        env=env, capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["rows"] == 3
    assert not [a for a in got["args"] if "Archive" in a]
    assert sorted(p.name for p in tmp_path.iterdir() if "spark_graft_cds_" in p.name) == sorted(
        [os.path.basename(stem) + ".rec-live.json", "spark_graft_cds_conf"])


def _session_sites(tree: ast.AST) -> set[str]:
    """Functions (or ``<module>``) that build a SparkSession or SparkContext."""
    found = set()

    def builds(node) -> bool:
        if isinstance(node, ast.Attribute) and node.attr == "builder":
            return getattr(node.value, "id", getattr(node.value, "attr", None)) == "SparkSession"
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            return name in ("getOrCreate", "SparkSession", "SparkContext")
        return False

    def visit(node, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            if builds(child):
                found.add(fn)
            is_fn = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if is_fn else fn)

    visit(tree, "<module>")
    return found


def test_only_get_spark_builds_a_session():
    """Every entry point starts the engine through session.get_spark, so
    every one gets the archive (the driver contract's deliberately bare
    session in tests/ is outside this audit)."""
    paths = [
        *sorted((ROOT / "hadoop_hdfs_spark").rglob("*.py")),
        ROOT / "bench.py",
        ROOT / "nn_throughput.py",
        *sorted((ROOT / "tools").glob("*.py")),
    ]
    found = {
        (p.relative_to(ROOT).as_posix(), fn)
        for p in paths
        for fn in _session_sites(ast.parse(p.read_text()))
    }
    assert found == {("hadoop_hdfs_spark/session.py", "get_spark")}
    # the audit sees a session built anywhere else
    probe = "def f():\n    return SparkSession.builder.master('local').getOrCreate()\n"
    assert _session_sites(ast.parse(probe)) == {"f"}
    assert _session_sites(ast.parse("sc = SparkContext()")) == {"<module>"}
