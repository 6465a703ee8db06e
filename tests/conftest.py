from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from perfbench.host import heap_mb


@pytest.fixture(scope="session")
def spark():
    # sized from the host: cores from SPARK_GRAFT_CPUS when set, else
    # every CPU; heap by the benchmark's rule min(4g, MemTotal/8).
    # Shuffle partitions stay fixed so test plans do not depend on the
    # host.
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("otelcol-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", f"{heap_mb()}m")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
