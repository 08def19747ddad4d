import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small & fast for unit tests

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from maup_spark.session import get_spark

    s = get_spark("maup-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def cache_entries(spark):
    """Callable returning the number of relations in the session's
    CacheManager (``cachedData`` has no public size accessor)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return lambda: int(field.get(cm).size())


def sq_wkb(x0, y0, x1, y1):
    from maup_spark.geom.base import Geometry

    return Geometry.polygon([(x0, y0), (x1, y0), (x1, y1), (x0, y1)]).wkb


@pytest.fixture(scope="session")
def four_square_grid_df(spark):
    """Reference four_square_grid (/root/reference/tests/conftest.py:14-30):
    b d / a c unit squares."""
    rows = [
        ("a", sq_wkb(0, 0, 1, 1)),
        ("b", sq_wkb(0, 1, 1, 2)),
        ("c", sq_wkb(1, 0, 2, 1)),
        ("d", sq_wkb(1, 1, 2, 2)),
    ]
    return spark.createDataFrame(rows, "ID string, geometry binary")


@pytest.fixture(scope="session")
def inner_squares_df(spark):
    """squares_within_four_square_grid + squares_df attrs
    (/root/reference/tests/conftest.py:53-83)."""
    rows = [
        (0, "01", 1, sq_wkb(0, 0, 0.5, 0.5)),
        (1, "02", 1, sq_wkb(0.5, 0.5, 1, 1)),
        (2, "03", 1, sq_wkb(0, 1, 1, 2)),  # exactly b
        (3, "04", 1, sq_wkb(1.25, 1.25, 1.75, 1.75)),
    ]
    return spark.createDataFrame(rows, "id bigint, tag string, data bigint, geometry binary")
