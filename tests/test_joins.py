"""The cell index of the tile-vs-footprint joins (``operators/joins.py``):
the codegen cover and point cell ids equal the numpy kernels of
:mod:`geetiles_spark.geo.cells`, and a null or NaN bbox bound matches
nothing instead of failing the join."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geetiles_spark.geo import cells, geom
from geetiles_spark.operators import joins

_BOUNDS = joins._BOUNDS


# ---------------------------------------------------------------------------
# _explode_cells == cells.cover_bbox
# ---------------------------------------------------------------------------


def _cover_boxes(decimals: int | None) -> pd.DataFrame:
    """Seeded random boxes plus the edge cases: boxes touching or past
    +-180 / +-90, zero-width boxes and edges exactly on cell borders."""
    rng = np.random.default_rng(11)
    n = 2000
    x0 = rng.uniform(-180, 180, n)
    y0 = rng.uniform(-90, 90, n)
    x1 = x0 + rng.exponential(0.4, n)
    y1 = y0 + rng.exponential(0.4, n)
    edge = [
        (179.0, 89.0, 180.0, 90.0),
        (-180.0, -90.0, -179.5, -89.5),
        (178.0, -90.0, 185.0, -88.0),  # past the antimeridian: clamped
        (-185.0, 88.0, -178.0, 95.0),  # past both poles' edges: clamped
        (180.0, 90.0, 180.0, 90.0),
        (-180.0, -90.0, -180.0, -90.0),
        (12.5, 40.0, 12.5, 41.0),  # zero width
        (12.0, 40.25, 13.0, 40.25),  # zero height
        (7.0, 7.0, 7.0, 7.0),  # a point
    ]
    # cell borders at every level >= 3: multiples of 45 degrees from -180
    borders = [-135.0, -90.0, -45.0, 0.0, 45.0, 90.0, 135.0]
    edge += [(b, -45.0, b + 1.0, 0.0) for b in borders]
    edge += [(b - 1.0, 0.0, b, 45.0) for b in borders]
    edge += [(b, b / 2, b, b / 2) for b in borders]
    ex = np.array(edge, dtype=np.float64)
    cols = [np.concatenate([a, ex[:, i]]) for i, a in enumerate((x0, y0, x1, y1))]
    if decimals is not None:
        cols = [np.array([float(f"{v:.{decimals}f}") for v in c]) for c in cols]
    return pd.DataFrame({"id": np.arange(len(cols[0])), **dict(zip(_BOUNDS, cols))})


@pytest.mark.parametrize("bound_type", ["double", "decimal(12,2)"])
def test_explode_cells_matches_cover_bbox(spark, bound_type):
    pdf = _cover_boxes(None if bound_type == "double" else 2)
    df = spark.createDataFrame(pdf).select(
        "id", *[F.col(c).cast(bound_type).alias(c) for c in _BOUNDS]
    )
    for level in (0, 3, 6, 9, 11):
        rows, cids = cells.cover_bbox(*(pdf[c].to_numpy() for c in _BOUNDS), level)
        want = pd.DataFrame({"id": pdf["id"].to_numpy()[rows], "cell": cids})
        got = joins._explode_cells(df, level, ["id"]).toPandas()[["id", "cell"]]
        pd.testing.assert_frame_equal(
            got.sort_values(["id", "cell"], ignore_index=True),
            want.sort_values(["id", "cell"], ignore_index=True),
            check_dtype=False, obj=f"level {level}",
        )


def test_explode_cells_null_or_nan_bound_has_no_cells(spark):
    nan = float("nan")
    pdf = pd.DataFrame(
        {
            "id": [0, 1, 2, 3, 4],
            "minx": [1.0, None, nan, 1.0, 1.0],
            "miny": [1.0, 1.0, 1.0, nan, 1.0],
            "maxx": [2.0, 2.0, 2.0, 2.0, 2.0],
            "maxy": [2.0, 2.0, 2.0, 2.0, None],
        }
    )
    df = spark.createDataFrame(pdf, "id long, minx double, miny double, maxx double, maxy double")
    got = joins._explode_cells(df, 12, ["id"]).toPandas()
    _, want = cells.cover_bbox(*(pdf.loc[[0], c].to_numpy() for c in _BOUNDS), 12)
    assert set(got["id"]) == {0}
    assert sorted(got["cell"]) == sorted(want)


# ---------------------------------------------------------------------------
# point cells: point_cell_expr / _cell == cells.cell_id
# ---------------------------------------------------------------------------


def test_point_cell_expr_matches_numpy_kernel(spark):
    rng = np.random.default_rng(7)
    lon = np.concatenate(
        [rng.uniform(-180, 180, 500), [-180.0, 180.0, 0.0, -179.999, 179.999]]
    )
    lat = np.concatenate(
        [rng.uniform(-90, 90, 500), [-90.0, 90.0, 0.0, -89.999, 89.999]]
    )

    for level in (3, 9, 14, 28):
        want = cells.cell_id(lon, lat, level)
        df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
        got = (
            df.select(joins.point_cell_expr("lon", "lat", level).alias("c"))
            .toPandas()["c"]
            .to_numpy()
        )
        np.testing.assert_array_equal(got, want)


def test_cell_clamped_at_antimeridian_and_pole(spark):
    # the report-once reference cell of _cell_pairs: a corner at +180 lon
    # or +90 lat must stay inside both sides' covers
    level = 4
    nmax = (1 << level) - 1
    df = spark.createDataFrame(
        pd.DataFrame({"x": [180.0, -180.0, 0.0], "y": [90.0, -90.0, 0.0]})
    )
    got = df.select(
        joins._cell(F.col("x"), F.col("y"), level).alias("c")
    ).toPandas()["c"]
    for c, (x, y) in zip(got, [(180.0, 90.0), (-180.0, -90.0), (0.0, 0.0)]):
        ix = (int(c) >> 29) & ((1 << 29) - 1)
        iy = int(c) & ((1 << 29) - 1)
        assert 0 <= ix <= nmax and 0 <= iy <= nmax
        want = cells.cell_id(np.array([x]), np.array([y]), level)[0]
        assert int(c) == int(want)


# ---------------------------------------------------------------------------
# a null or NaN bbox bound matches nothing (J1 and J5)
# ---------------------------------------------------------------------------


def _tiles(with_bad: bool) -> pd.DataFrame:
    rows = [
        {"tile_id": f"t{i}{j}", "minx": float(i), "miny": float(j),
         "maxx": i + 1.0, "maxy": j + 1.0}
        for i in range(4) for j in range(3)
    ]
    if with_bad:
        rows.append({"tile_id": "tnull", "minx": None, "miny": 1.1,
                     "maxx": 2.0, "maxy": 1.3})
    return pd.DataFrame(rows)


def _footprints(with_bad: bool) -> pd.DataFrame:
    boxes = [(0.2, 0.3, 1.7, 1.4), (1.5, 0.5, 3.5, 2.6), (2.8, 1.9, 3.9, 2.9)]
    if with_bad:
        # its ring overlaps tiles: only the NaN bound keeps it out
        boxes.append((float("nan"), 0.2, 2.5, 1.3))
    rows = []
    for k, (x0, y0, x1, y1) in enumerate(boxes):
        ring = geom.box_ring(0.1 if np.isnan(x0) else x0, y0, x1, y1)
        rows.append({
            "row_idx": k, "tile_id": f"f{k}", "event_id": k,
            "minx": x0, "miny": y0, "maxx": x1, "maxy": y1,
            "start": "2020-01-01", "end": "2020-02-01",
            "geometry_wkb": bytes(geom.polygon_to_wkb(ring)),
        })
    return pd.DataFrame(rows)


def _frames(spark, with_bad: bool):
    tiles = spark.createDataFrame(
        _tiles(with_bad), "tile_id string, minx double, miny double, maxx double, maxy double"
    )
    fp = spark.createDataFrame(_footprints(with_bad))
    return tiles, fp


def test_null_or_nan_bound_matches_nothing(spark):
    # at level 8 each bad row's y range lies in one cell row: a cover
    # that treated the bad bound as a number would emit cells for it
    level = 8
    tiles, fp = _frames(spark, with_bad=True)
    clean_tiles, clean_fp = _frames(spark, with_bad=False)

    def j1(t, f):
        foreign = f.select("row_idx", "tile_id", "geometry_wkb", *_BOUNDS)
        return {
            (r["tile_id"], r["foreign_id"])
            for r in joins.intersect_join_cells(t, foreign, level).collect()
        }

    def j5(t, f):
        ev = f.select("event_id", *_BOUNDS, "start", "end", "geometry_wkb")
        return {
            (r["tile_id"], r["event_id"])
            for r in joins.interval_spatial_join(
                t, ev, "2019-01-01", "2021-01-01", level
            ).collect()
        }

    want_j1 = j1(clean_tiles, clean_fp)
    assert any(fid != "-1" for _, fid in want_j1)
    assert j1(tiles, fp) == want_j1 | {("tnull", "-1")}

    want_j5 = j5(clean_tiles, clean_fp)
    assert want_j5
    assert j5(tiles, fp) == want_j5
