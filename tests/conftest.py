import numpy as np
import pytest

from geetiles_spark.geo import geom

from . import AOI_FIXTURE_WKT


@pytest.fixture(scope="session")
def spark():
    from geetiles_spark.session import get_spark

    s = get_spark(app_name="geetiles-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def aoi_box():
    """FIXTURES.md §2 aoi_box: ~2km x 3km box around (6.10E, 49.70N)."""
    return geom.box_ring(6.10 - 0.014, 49.70 - 0.0135, 6.10 + 0.014, 49.70 + 0.0135)


@pytest.fixture(scope="session")
def aoi_lux():
    from geetiles_spark.geo import wkt

    return wkt.load_ring("/root/reference/data/luxembourg.wkt")


@pytest.fixture(scope="session")
def aoi_fixture():
    """FIXTURES.md §2 aoi_fixture: the committed 128-vertex concave AOI."""
    from geetiles_spark.geo import wkt

    return wkt.load_ring(AOI_FIXTURE_WKT)


@pytest.fixture(scope="session")
def tiles_box(spark, aoi_box):
    from geetiles_spark.operators import grid

    return grid.make_grid(spark, aoi_box, 500, num_partitions=8).cache()


@pytest.fixture(scope="session")
def foreign_box(spark, aoi_box):
    """Katana foreign partitions with props (communes analog, FIXTURES.md §5)."""
    from geetiles_spark.operators import random_parts, zonal
    from geetiles_spark.sources import chips as chipsrc

    foreign = random_parts.make_random_partitions(spark, aoi_box, 1500, seed=7)
    fch = chipsrc.generate_chips(foreign, "esaworldcover-2020")
    fprops = zonal.compute_proportions(foreign, fch, "esaworldcover-2020")
    return foreign.join(fprops, "tile_id", "left").cache()
