import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


def _missing_root(path: str) -> str:
    """The outermost directory on ``path`` that does not exist."""
    missing, parent = path, os.path.dirname(path)
    while parent != missing and not os.path.exists(parent):
        missing, parent = parent, os.path.dirname(parent)
    return missing


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "reference(*paths): reads fixture files checked in by the reference "
        "implementation; skipped, naming the missing tree, when one is absent",
    )


@pytest.hookimpl(tryfirst=True)
def pytest_runtest_setup(item):
    """The one guard for tests that read the reference checkout's fixtures:
    runs before any fixture is set up, so a module fixture that loads them
    never sees a missing file."""
    for mark in item.iter_markers("reference"):
        for path in mark.args:
            if not os.path.exists(path):
                pytest.skip(f"reference tree not mounted: {_missing_root(path)} "
                            f"is missing (needed for {path})")


@pytest.fixture(scope="session")
def spark():
    from pprl_scaling_framework_spark.sources.session import build_session

    s = build_session("pprl-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
