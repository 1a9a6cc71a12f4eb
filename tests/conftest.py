import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from uwheel_datafusion_spark import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="uwheel_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness():
    return SF_CORRECTNESS


def _uncommit_last_batch(checkpoint_dir: str) -> int:
    """Make a stopped query look as if it crashed after its sink ran but
    before Spark committed the last micro-batch: delete the newest
    ``commits/N`` file and its checksum, so the next start replays
    batch N. Returns N."""
    commits = os.path.join(checkpoint_dir, "commits")
    n = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for name in (str(n), f".{n}.crc"):
        path = os.path.join(commits, name)
        if os.path.exists(path):
            os.remove(path)
    return n


@pytest.fixture
def uncommit_last_batch():
    return _uncommit_last_batch
