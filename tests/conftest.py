import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from sassy_spark import build_spark

    # cores: SPARK_GRAFT_CPUS, else the CPUs this process may run on
    s = build_spark(app_name="sassy_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages(spark):
    from sassy_spark.sources.pages import generate_pages

    df = generate_pages(spark, 600, seed=11).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
