import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdk_datalake_ingest_upeu_spark import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The session default heap (24g) lets G1 grow the one long-lived test JVM
# past 12 GB resident on a 15 GB, 4-vCPU host by the end of the suite,
# starving the page cache the file-heavy versioned-table tests lean on.
# The heaviest test (test_incremental_minhash_dedup) runs in the same
# time under a 4g cap; 6g leaves headroom. Set SPARK_GRAFT_DRIVER_MEM to
# override.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    session = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield session


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
