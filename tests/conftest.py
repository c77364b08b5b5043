import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_pipeline_demo_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: soak/fuzz/battery tests, skipped by default so the "
        "plain `pytest tests/` run finishes inside the driver's budget "
        "(r13 judge directive #2); run them with --runslow or "
        "SPARK_GRAFT_RUN_SLOW=1",
    )


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked slow (soak/fuzz/battery tier)",
    )


def _slow_manifest() -> set[str]:
    """Measured slow tier: one nodeid (without parametrization) per
    line in tests/slow_tests.txt — see that file's header for the
    selection rule and how to regenerate it."""
    path = Path(__file__).with_name("slow_tests.txt")
    out: set[str] = set()
    if path.exists():
        for line in path.read_text().splitlines():
            line = line.split("#", 1)[0].strip()
            if line:
                out.add(line.removeprefix("tests/"))
    return out


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow") or os.environ.get(
        "SPARK_GRAFT_RUN_SLOW"
    ):
        return
    slow_ids = _slow_manifest()
    skip = pytest.mark.skip(
        reason="slow tier (soak/fuzz/battery/integration tail): "
        "--runslow or SPARK_GRAFT_RUN_SLOW=1 to run"
    )
    for item in items:
        base_id = item.nodeid.split("[")[0].removeprefix("tests/")
        if "slow" in item.keywords or base_id in slow_ids:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001


@pytest.fixture
def jobs_during(spark):
    """``jobs_during(fn)``: the number of Spark jobs ``fn()`` starts."""
    from tools.plan_audit import count_jobs

    return lambda fn: count_jobs(spark, fn)
