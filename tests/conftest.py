import contextlib

import pytest

from etl_geo_dem_spark.plans import lake_table
from etl_geo_dem_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="etl_geo_dem_spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")


@contextlib.contextmanager
def forced_spark_plans():
    """Within the block, merge-on-read applies and bucket compactions run
    the Spark plans whatever their size (``lake_table.fits_driver``)."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(lake_table, "DRIVER_FOLD_BYTES", -1)
        yield


@pytest.fixture()
def spark_plans():
    """Force the Spark MOR apply and compaction plans for one test: tests that
    pin those plans' shape or task counts would otherwise run the pyarrow
    path on their small inputs."""
    with forced_spark_plans():
        yield


@pytest.fixture(params=["arrow", "spark"])
def apply_path(request, spark):
    """Run a test once on each MOR apply path: the session default (small
    inputs take the pyarrow path) and the Spark plans."""
    if request.param == "spark":
        request.getfixturevalue("spark_plans")
    return request.param
