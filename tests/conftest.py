import os

import pytest


@pytest.fixture(scope="session")
def spark():
    # The library's 16g driver-heap default lets the JVM grow past the
    # physical memory of a 16 GB host before it collects, and the kernel
    # OOM-kills it mid-suite; the test data needs a fraction of that.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    from rdfa_streaming_parser_js_spark.session import get_spark
    spark = get_spark("tests", parallelism=4, shuffle_partitions=8)
    yield spark
    spark.stop()


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
