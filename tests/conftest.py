import os

import pytest


@pytest.fixture(scope="session")
def spark():
    # The test data needs a fraction of the library's default driver heap
    # (half of physical memory); a heap that large lets the test JVM grow
    # to gigabytes before it collects, alongside the Python workers.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    from rdfa_streaming_parser_js_spark.session import get_spark
    spark = get_spark("tests", parallelism=4, shuffle_partitions=8)
    yield spark
    spark.stop()


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
