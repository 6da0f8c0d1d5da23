import os

import pytest

from crawler_tjce_spark.session import get_spark

SF_TEST = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# One session for the whole suite: no test shares Spark state across
# modules (module fixtures rebuild their DataFrames).
_sess: dict = {"spark": None}


@pytest.fixture(scope="module")
def spark():
    if _sess["spark"] is None:
        _sess["spark"] = get_spark(app_name="tests", cores=8)
    s = _sess["spark"]
    yield s
    # inter-module hygiene: drop anything a module left cached so the
    # next module starts from a clean executor-memory baseline
    try:
        s.catalog.clearCache()
    except Exception:
        pass


@pytest.fixture(scope="session", autouse=True)
def _stop_spark_at_exit():
    yield
    if _sess["spark"] is not None:
        _sess["spark"].stop()
        _sess["spark"] = None


@pytest.fixture(scope="session")
def sf_dir():
    return SF_TEST
