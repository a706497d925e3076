import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_standalone_scripts_spark.operators import common
from data_pipeline_standalone_scripts_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    """One session for the whole run (~12 s cold start, SURVEY §5.2)."""
    s = get_spark("pytest")
    yield s


@pytest.fixture(autouse=True)
def _release_builds():
    """Release what a test's direct ``REGISTRY[name].fn`` builds left
    (persists, sink directories) when the test ends, instead of at the
    next registry.run of the same thread."""
    yield
    common.release_persists()


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_med():
    return SF_MED
