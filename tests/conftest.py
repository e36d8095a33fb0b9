from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from mindseye_dataframes_spark.session import get_session

    session = get_session(
        app_name="mindseye-dataframes-spark-tests",
        cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")),
        shuffle_partitions=8,
    )
    yield session


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(params=["true", "false"], ids=["ansi_on", "ansi_off"])
def ansi(spark, request):
    """Run the test under both ``spark.sql.ansi.enabled`` settings."""
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", before)
