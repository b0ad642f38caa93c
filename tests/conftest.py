import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qvarn_mr_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark(app_name="qvarn-mr-spark-tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def frame_key_sets(monkeypatch):
    """Make every incremental apply keep its key sets as broadcast frames,
    the form of a batch too large to collect: no batch fits a bound of
    0 changed ids."""
    from qvarn_mr_spark.operators import incremental

    monkeypatch.setattr(incremental, "MAX_LITERALS", 0)


@pytest.fixture(params=["literal", "frame"])
def key_sets(request):
    """Run a test under both key-set forms of an incremental apply: the
    literal filters a small batch takes (every test batch is small), and
    the broadcast frames of a large one."""
    if request.param == "frame":
        request.getfixturevalue("frame_key_sets")
    return request.param


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "sweep: multi-minute randomized/CDC sweep — skipped unless "
        "SPARK_GRAFT_SLOW_TESTS=1 so the default gate fits the driver's "
        "pytest budget (VERDICT r13 #1). Every sweep has a fast "
        "deterministic sibling in the default gate; the full set runs "
        "via SPARK_GRAFT_SLOW_TESTS=1 (recorded in OPTIMIZATION_r14.md).")


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="sweep: set SPARK_GRAFT_SLOW_TESTS=1 to run")
    for item in items:
        if "sweep" in item.keywords:
            item.add_marker(skip)


def pytest_terminal_summary(terminalreporter):
    """Make the sweep gate loud: report how many sweeps it skipped."""
    # collection-level skips (CollectReport) carry no keywords
    n = sum("sweep" in getattr(rep, "keywords", ())
            for rep in terminalreporter.stats.get("skipped", []))
    if n:
        terminalreporter.write_line(
            f"{n} sweep tests skipped; set SPARK_GRAFT_SLOW_TESTS=1 "
            f"to run them")
