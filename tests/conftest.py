from __future__ import annotations

import os

import pytest

# Keep local test parallelism modest; the driver uses local[32].
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from iceberg_rest_server_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(autouse=True)
def query_scope():
    """Each test is one caller of the package: every cache, checkpoint and
    temp view it creates is released when the test ends."""
    from iceberg_rest_server_spark import materialize

    with materialize.scope():
        yield


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_CORRECTNESS)


@pytest.fixture(scope="session")
def duck(sf_dir):
    from iceberg_rest_server_spark.oracle import duck_connect

    con = duck_connect(sf_dir)
    yield con
    con.close()
