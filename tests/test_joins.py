"""The cell index of the tile-vs-footprint joins (``operators/joins.py``):
the codegen cover and point cell ids equal the numpy kernels of
:mod:`geetiles_spark.geo.cells`, a null or NaN bbox bound or point matches
nothing instead of failing the join or landing in the corner cell, J1's
one-pass refine keeps the argmax rule, and ``make_grid`` returns its
persisted tile set."""

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
    got = df.selectExpr(f"{joins._cell('x', 'y', level)} AS c").toPandas()["c"]
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


# ---------------------------------------------------------------------------
# a null or NaN point has no cell (point_cell_expr, pip, kNN)
# ---------------------------------------------------------------------------


def test_point_cell_expr_null_or_nan_point_has_no_cell(spark):
    nan = float("nan")
    df = spark.createDataFrame(
        pd.DataFrame({"lon": [None, nan, 1.0, nan, -180.0],
                      "lat": [1.0, 1.0, None, nan, -90.0]}),
        "lon double, lat double",
    )
    got = df.select(joins.point_cell_expr("lon", "lat", 12).alias("c")).toPandas()["c"]
    assert got[:4].isna().all()
    assert int(got[4]) == int(cells.cell_id(np.array([-180.0]), np.array([-90.0]), 12)[0])


def _corner_points(spark, with_bad: bool):
    """Points near the (-180, -90) corner, whose cell the clamp gave a null
    or NaN point; ``with_bad`` adds such points."""
    rng = np.random.default_rng(5)
    lon = list(-180.0 + rng.uniform(0.001, 0.3, 12))
    lat = list(-90.0 + rng.uniform(0.001, 0.3, 12))
    if with_bad:
        lon += [None, float("nan"), -179.95]
        lat += [None, float("nan"), None]
    pdf = pd.DataFrame({"point_id": np.arange(len(lon)), "lon": lon, "lat": lat})
    return spark.createDataFrame(pdf, "point_id long, lon double, lat double")


def _corner_polys(spark, rect_only: bool):
    rings = [geom.box_ring(-180.0, -90.0, -179.85, -89.85),
             geom.box_ring(-179.9, -89.9, -179.7, -89.7)]
    if not rect_only:
        rings.append(np.array([[-180.0, -90.0], [-179.75, -90.0], [-180.0, -89.75],
                               [-180.0, -90.0]]))
    rows = []
    for k, ring in enumerate(rings):
        r = np.asarray(ring)
        rows.append({"tile_id": f"p{k}", "geometry_wkb": bytes(geom.polygon_to_wkb(r)),
                     "minx": float(r[:, 0].min()), "miny": float(r[:, 1].min()),
                     "maxx": float(r[:, 0].max()), "maxy": float(r[:, 1].max())})
    return spark.createDataFrame(pd.DataFrame(rows))


@pytest.mark.parametrize("rect_only", [True, False])
@pytest.mark.parametrize("broadcast_polys", [True, False])
def test_pip_ignores_null_or_nan_points(spark, rect_only, broadcast_polys):
    polys = _corner_polys(spark, rect_only)

    def run(with_bad):
        out = joins.point_in_polygon_join(
            _corner_points(spark, with_bad), polys, level=12,
            broadcast_polys=broadcast_polys,
        )
        return sorted((r["point_id"], r["tile_id"]) for r in out.collect())

    want = run(False)
    assert want
    assert run(True) == want


def test_knn_cells_ignores_null_or_nan_points(spark):
    # k exceeds the point count: every candidate is returned, so a null
    # point counted in the corner cell would show up with a NaN distance
    qs = [("q", -179.9, -89.9)]

    def run(with_bad):
        out = joins.knn_join_cells(
            _corner_points(spark, with_bad), qs, k=20, level=12, id_col="point_id"
        )
        return sorted((r["point_id"], round(r["dist_m"], 6)) for r in out.collect())

    want = run(False)
    assert len(want) == 12
    assert run(True) == want


# ---------------------------------------------------------------------------
# J1 in one pass: left-outer cell join + streaming argmax refine
# ---------------------------------------------------------------------------


def _box_wkb(x0, y0, x1, y1) -> bytes:
    return bytes(geom.polygon_to_wkb(geom.box_ring(x0, y0, x1, y1)))


def _j1_tiles() -> pd.DataFrame:
    nan = float("nan")
    rows = [
        ("tie", 0.0, 0.0, 2.0, 2.0),  # two equal overlaps: f3 (idx 3) beats fz (idx 5)
        ("none", 10.0, 0.0, 11.0, 1.0),  # overlaps nothing
        ("touch", 10.0, 10.0, 11.0, 11.0),  # an edge touch only: zero area
        ("big", 4.0, 4.0, 9.0, 9.0),  # many candidates, split across batches
        ("dup", 5.0, 0.0, 6.0, 1.0),
        ("dup", 5.0, 0.0, 6.0, 1.0),  # a duplicate row keeps its own row
        ("tnull", None, 0.0, 1.0, 1.0),
        ("tnan", 0.0, nan, 1.0, 1.0),
    ]
    return pd.DataFrame(rows, columns=["tile_id", *_BOUNDS])


def _j1_foreign() -> pd.DataFrame:
    boxes = [
        (0, "fx", 4.5, 4.5, 5.5, 5.5),
        (3, "f3", -1.0, 0.0, 1.0, 2.0),
        (5, "fz", 1.0, 0.0, 3.0, 2.0),
        (6, "ft", 11.0, 10.0, 12.0, 11.0),
        (7, "fd", 5.5, -1.0, 7.0, 0.5),
        (8, "fb1", 5.0, 5.0, 7.0, 7.5),
        (9, "fb2", 6.0, 4.0, 8.5, 8.5),
        (10, "fb3", 3.0, 8.0, 9.5, 9.5),
    ]
    return pd.DataFrame(
        [{"row_idx": i, "tile_id": f, "geometry_wkb": _box_wkb(*b),
          **dict(zip(_BOUNDS, b))} for i, f, *b in boxes]
    )


def _j1_oracle(tiles: pd.DataFrame, foreign: pd.DataFrame) -> list:
    """Per tile row: the max positive exact area, then the lowest foreign
    row_idx, then the largest id; '-1' when no area is positive."""
    out = []
    for t in tiles.itertuples():
        box = [np.array([getattr(t, c)], dtype=np.float64) for c in _BOUNDS]
        best = None
        if all(np.isfinite(b[0]) for b in box):
            for f in foreign.itertuples():
                a = geom.clip_areas_ring_boxes_exact(
                    geom.wkb_to_polygon(f.geometry_wkb), *box
                )[0]
                if a > 0 and (best is None or (a, -f.row_idx, f.tile_id) > best):
                    best = (a, -f.row_idx, f.tile_id)
        out.append((t.tile_id, best[2] if best else "-1"))
    return sorted(out)


_J1_TILE_SCHEMA = "tile_id string, minx double, miny double, maxx double, maxy double"
_J1_FOREIGN_SCHEMA = (
    "row_idx long, tile_id string, geometry_wkb binary, "
    "minx double, miny double, maxx double, maxy double"
)


@pytest.mark.parametrize("level", [3, 8])
@pytest.mark.parametrize("batch_rows", [None, 2])
def test_intersect_join_cells_one_pass(spark, level, batch_rows):
    tiles_pdf, foreign_pdf = _j1_tiles(), _j1_foreign()
    want = _j1_oracle(tiles_pdf, foreign_pdf)
    assert dict(want)["tie"] == "f3" and dict(want)["big"] == "fb2"
    assert {t: f for t, f in want if t in ("none", "touch", "tnull", "tnan")} == {
        "none": "-1", "touch": "-1", "tnull": "-1", "tnan": "-1"}
    tiles = spark.createDataFrame(tiles_pdf, _J1_TILE_SCHEMA).repartition(2)
    foreign = spark.createDataFrame(foreign_pdf, _J1_FOREIGN_SCHEMA)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if batch_rows is not None:
        spark.conf.set(key, str(batch_rows))
    try:
        got = joins.intersect_join_cells(tiles, foreign, level).collect()
    finally:
        spark.conf.set(key, old)
    assert sorted((r["tile_id"], r["foreign_id"]) for r in got) == want


def test_intersect_join_cells_empty_foreign(spark):
    tiles = spark.createDataFrame(_j1_tiles(), _J1_TILE_SCHEMA)
    foreign = spark.createDataFrame([], _J1_FOREIGN_SCHEMA)
    got = joins.intersect_join_cells(tiles, foreign, 6).collect()
    assert sorted(r["tile_id"] for r in got) == sorted(_j1_tiles()["tile_id"])
    assert {r["foreign_id"] for r in got} == {"-1"}


def test_intersect_join_cells_plan_is_one_shuffle_free_pass(spark):
    import re

    tiles = spark.createDataFrame(_j1_tiles(), _J1_TILE_SCHEMA)
    foreign = spark.createDataFrame(_j1_foreign(), _J1_FOREIGN_SCHEMA)
    plan = (
        joins.intersect_join_cells(tiles, foreign, 6)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"\bMapInPandas\b", plan)) == 1, plan
    assert "hashpartitioning" not in plan, plan
    assert "InMemory" not in plan, plan
    assert len(re.findall(r"BroadcastHashJoin \[cell", plan)) == 1, plan


# ---------------------------------------------------------------------------
# the finished tile set is persisted once, after its area pass
# ---------------------------------------------------------------------------


def test_make_grid_returns_the_persisted_tile_set(spark, aoi_box):
    from geetiles_spark import cache
    from geetiles_spark.operators import grid
    from geetiles_spark.operators import select as selectop

    geoms = spark.createDataFrame(
        pd.DataFrame({"geom_wkb": [_box_wkb(6.095, 49.695, 6.105, 49.705)]})
    )
    with cache.persist_scope():
        for tiles in (
            grid.make_grid(spark, aoi_box, 500, num_partitions=2),
            selectop.select_partitions(geoms, aoi_box),
        ):
            assert "area_km2" in tiles.columns
            root = tiles._jdf.queryExecution().executedPlan()
            assert root.nodeName() == "InMemoryTableScan", root.toString()
            assert "area_km2" in root.toString()
