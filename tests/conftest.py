from __future__ import annotations

import itertools
import os
import shutil
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


@pytest.fixture
def fixture_copy(sf_dir, tmp_path):
    """Factory: ``fixture_copy(supplier_rows=None)`` copies the test
    fixture's tables into a new directory under ``tmp_path`` (fresh
    mtimes, so a fresh entity-image key) and returns its path;
    ``supplier_rows`` grows the supplier table to that many rows, cycling
    the real ones under new keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = itertools.count()

    def copy(supplier_rows: int | None = None) -> str:
        dst = tmp_path / f"sf_copy{next(n)}"
        os.makedirs(dst)
        for name in os.listdir(sf_dir):
            if name.endswith(".parquet"):
                shutil.copy(os.path.join(sf_dir, name), dst)
        if supplier_rows is not None:
            path = os.path.join(dst, "supplier.parquet")
            table = pq.read_table(path)
            rows = table.to_pylist()
            grown = [
                {**rows[k % len(rows)], "s_suppkey": k}
                for k in range(supplier_rows)
            ]
            pq.write_table(
                pa.Table.from_pylist(grown, schema=table.schema), path
            )
        return str(dst)

    return copy
