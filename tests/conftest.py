from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_hdfs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# The corpus gates (a9b/s1/s5c blobs, GIF/PNG/WAV certify) pin their
# corpora at import (the DuckDB oracles bake them into static SQL); point
# them at the test SF's deterministic fixtures before registry import.
from hadoop_hdfs_spark.fixtures import fixture_env  # noqa: E402

_sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.001
for _k, _v in fixture_env(_sf).items():
    os.environ.setdefault(_k, _v)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hadoop-hdfs-spark-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
