import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_plumber_util_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# The reference implementation's own golden fixtures are not vendored in
# this repo; tests marked requires_reference run wherever the directory
# exists and are skipped, with this reason, where it does not.
REFERENCE_FIXTURES = "/root/reference/tests/fixtures"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "requires_reference: needs the reference's golden fixtures")


def pytest_collection_modifyitems(config, items):
    if os.path.isdir(REFERENCE_FIXTURES):
        return
    skip = pytest.mark.skip(reason=f"missing golden fixtures: {REFERENCE_FIXTURES}")
    for item in items:
        if "requires_reference" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests")
    yield s
    from pdf_plumber_util_spark.contract import clear_shared_lines

    clear_shared_lines()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
