import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from gencore_spark.session import _jvm_sizing, get_spark

    # the width-sized heap, capped at half the host's physical memory: the
    # sized 16g would let the test JVM grow to a small host's whole memory
    sized_mb = int(_jvm_sizing(8)[0].rstrip("g")) << 10
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 >> 20
    s = get_spark(
        app_name="gencore-tests", master="local[8]", shuffle_partitions=8,
        extra={"spark.driver.memory": f"{min(sized_mb, half_mb)}m"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
