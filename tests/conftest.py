from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fitness_data_ingest_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="fdis-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
        # Some plans embed sparkContext.defaultParallelism (range splits,
        # repartition counts); PLANHASH.json is recorded at 8, so pin it
        # independently of the local[N] core count.
        extra_conf={"spark.default.parallelism": "8"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
