from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # fast test startup

from es_ch_sync_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("es_ch_sync_spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="module", autouse=True)
def _clear_cache_after_module():
    """A module's cached frames must not leak into later modules' plans:
    CacheManager substitutes a cached full-schema relation for any later
    plan over the same source, changing its scans.  Only clears when a
    session exists, so Spark-free modules never start one."""
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
