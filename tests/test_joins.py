"""The cell index of the tile-vs-footprint joins (``operators/joins.py``):
the codegen cover and point cell ids equal the numpy kernels of
:mod:`geetiles_spark.geo.cells`, a null or NaN bbox bound or point matches
nothing instead of failing the join or landing in the corner cell, J1 and
J2's one-pass refine keeps the argmax, touch and weighted-props rules, the
reference J1 agrees and refuses past its collect bound, ``make_grid``
returns its persisted tile set, and the point-in-polygon and interval
joins' strategies agree."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geetiles_spark.geo import cells, geom
from geetiles_spark.operators import joins

from . import oracle

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
# J1 and J2 in one pass: left-outer cell join + streaming per-tile refine
# ---------------------------------------------------------------------------


def _box_wkb(x0, y0, x1, y1) -> bytes:
    return bytes(geom.polygon_to_wkb(geom.box_ring(x0, y0, x1, y1)))


def _j1_tiles() -> pd.DataFrame:
    nan = float("nan")
    rows = [
        ("tie", 0.0, 0.0, 2.0, 2.0),  # two equal overlaps: f3 (idx 3) beats fz (idx 5)
        ("none", 10.0, 0.0, 11.0, 1.0),  # overlaps nothing
        ("touch", 10.0, 10.0, 11.0, 11.0),  # edge touches only: the first toucher, ft
        ("big", 4.0, 4.0, 9.0, 9.0),  # many candidates, split across batches
        ("dup", 5.0, 0.0, 6.0, 1.0),  # overlaps fd, touches fe
        ("dup", 5.0, 0.0, 6.0, 1.0),  # a duplicate row keeps its own row
        ("tnull", None, 0.0, 1.0, 1.0),
        ("tnan", 0.0, nan, 1.0, 1.0),
        ("notch", 22.0, 2.0, 23.0, 3.0),  # in fl's notch: meets nothing
        ("ab", 30.0, 0.0, 31.0, 1.0),  # overlapped by fA, edge-touched by fB
        ("bonly", 32.0, 0.0, 33.0, 1.0),  # edge-touched by fB alone
    ]
    return pd.DataFrame(rows, columns=["tile_id", *_BOUNDS])


def _j1_foreign() -> pd.DataFrame:
    boxes = [
        (0, "fx", {"a": 1.0}, 4.5, 4.5, 5.5, 5.5),
        (1, "fe", {"z": 1.0}, 6.0, 0.0, 6.5, 1.0),  # a toucher's keys weigh 0
        (3, "f3", {"c": 1.0}, -1.0, 0.0, 1.0, 2.0),
        (5, "fz", {"c": 0.25, "d": 0.75}, 1.0, 0.0, 3.0, 2.0),
        (6, "ft", {"t": 1.0}, 11.0, 10.0, 12.0, 11.0),
        (7, "fd", {"e": 1.0}, 5.5, -1.0, 7.0, 0.5),
        (8, "fb1", {"a": 0.5, "b": 0.5}, 5.0, 5.0, 7.0, 7.5),
        (9, "fb2", {"b": 1.0}, 6.0, 4.0, 8.5, 8.5),
        (10, "fb3", None, 3.0, 8.0, 9.5, 9.5),  # a null props map
        (11, "fa", {"t": 1.0}, 10.0, 11.0, 10.5, 11.5),  # a later toucher
        (13, "fA", {"a": 1.0}, 30.0, 0.0, 30.5, 1.0),
        (14, "fB", {"b": 1.0}, 31.0, 0.0, 32.0, 1.0),
    ]
    # a concave L ring whose bbox holds the "notch" tile it does not touch
    ell = np.array([(20, 0), (24, 0), (24, 1), (21, 1), (21, 4), (20, 4)], dtype=np.float64)
    return pd.DataFrame(
        [{"row_idx": i, "tile_id": f, "geometry_wkb": _box_wkb(*b),
          **dict(zip(_BOUNDS, b)), "props": p} for i, f, p, *b in boxes]
        + [{"row_idx": 12, "tile_id": "fl", "geometry_wkb": bytes(geom.polygon_to_wkb(ell)),
            **dict(zip(_BOUNDS, geom.ring_bounds(ell))), "props": {"l": 1.0}}]
    )


def _j1_oracle(tiles: pd.DataFrame, foreign: pd.DataFrame) -> list:
    """Per tile row: (tile_id, foreign_id, props) over the foreigns the box
    meets (a positive exact area, or a touch).  The foreign id is that of
    the max area, then the lowest foreign row_idx, then the largest id
    (with no positive area: the lowest-row_idx toucher); else '-1'.  The
    props are the area-weighted sum over the met foreigns, a missing key
    counting 0, a toucher weighing 0 (every weight 0 when no area is
    positive)."""
    out = []
    for t in tiles.itertuples():
        box = [np.array([getattr(t, c)], dtype=np.float64) for c in _BOUNDS]
        best, hits = None, []
        if all(np.isfinite(b[0]) for b in box):
            for f in foreign.sort_values("row_idx").itertuples():
                if f.geometry_wkb is None:  # a null ring meets nothing
                    continue
                ring = geom.wkb_to_polygon(f.geometry_wkb)
                a = geom.clip_areas_ring_boxes_exact(ring, *box)[0]
                if a > 0 or geom.boxes_intersect_polygon(*box, ring)[0]:
                    hits.append((a, f.props or {}))
                    best = max(best or (a, -f.row_idx, f.tile_id), (a, -f.row_idx, f.tile_id))
        total = sum(a for a, _ in hits)
        props = {}
        for a, p in hits:
            for k, v in p.items():
                props[k] = props.get(k, 0.0) + (a / total if total > 0 else 0.0) * v
        out.append((t.tile_id, best[2] if best else "-1", props))
    return sorted(out, key=lambda r: (r[0], r[1]))


_J1_TILE_SCHEMA = "tile_id string, minx double, miny double, maxx double, maxy double"
_J1_FOREIGN_SCHEMA = (
    "row_idx long, tile_id string, geometry_wkb binary, "
    "minx double, miny double, maxx double, maxy double, props map<string,double>"
)
_ONE_PASS = [joins.intersect_join_cells, joins.foreign_proportions_cells]


def _assert_matches_oracle(df, want) -> None:
    """J1 rows against the oracle's ids; J2 rows also against its props,
    the map's keys in sorted order."""
    if "props_at_foreign" not in df.columns:
        assert sorted((r["tile_id"], r["foreign_id"]) for r in df.collect()) == [
            w[:2] for w in want]
        return
    got = sorted(
        ((r["tile_id"], r["foreign_id"], r["props_at_foreign"], r["keys"])
         for r in df.withColumn("keys", F.map_keys("props_at_foreign")).collect()),
        key=lambda r: r[:2],
    )
    assert [g[:2] for g in got] == [w[:2] for w in want]
    for (tid, _, props, keys), (_, _, wprops) in zip(got, want):
        assert keys == sorted(wprops), tid
        assert props == pytest.approx(wprops, abs=1e-12), tid


@pytest.mark.parametrize("level", [3, 8])
@pytest.mark.parametrize("batch_rows", [None, 2])
def test_intersect_join_cells_one_pass(spark, level, batch_rows):
    """J1 and J2 share the pass: each against the per-row oracle."""
    tiles_pdf = _j1_tiles()
    # a null ring over the "none" tile's box: it reaches the refine, meets nothing
    null_ring = {"row_idx": 2, "tile_id": "fn", "geometry_wkb": None, "props": {"n": 1.0},
                 **dict(zip(_BOUNDS, (10.2, 0.2, 10.8, 0.8)))}
    foreign_pdf = pd.concat([_j1_foreign(), pd.DataFrame([null_ring])], ignore_index=True)
    want = _j1_oracle(tiles_pdf, foreign_pdf)
    wid = {t: f for t, f, _ in want}
    assert wid["tie"] == "f3" and wid["big"] == "fb2" and wid["dup"] == "fd"
    assert {t: wid[t] for t in ("none", "touch", "tnull", "tnan", "notch")} == {
        "none": "-1", "touch": "ft", "tnull": "-1", "tnan": "-1", "notch": "-1"}
    wprops = {t: p for t, _, p in want}
    assert wprops["touch"] == {"t": 0.0} and wprops["dup"] == {"e": 1.0, "z": 0.0}
    assert sorted(wprops["big"]) == ["a", "b"]
    # zero-area touchers as the literal reference J2 keeps them
    assert (wid["ab"], wprops["ab"]) == ("fA", {"a": 1.0, "b": 0.0})
    assert (wid["bonly"], wprops["bonly"]) == ("fB", {"b": 0.0})
    ref = [{"id": f.tile_id, "ring": geom.wkb_to_polygon(f.geometry_wkb), "props": f.props}
           for f in _j1_foreign().itertuples()]
    for t in tiles_pdf[tiles_pdf["tile_id"].isin(["ab", "bonly", "touch", "dup"])].itertuples():
        with np.errstate(invalid="ignore"):  # the reference's 0/0 weights
            props, fid = oracle.oracle_foreign_props(
                geom.box_ring(t.minx, t.miny, t.maxx, t.maxy), ref)
        assert (fid, props) == (wid[t.tile_id], wprops[t.tile_id]), t.tile_id
    tiles = spark.createDataFrame(tiles_pdf, _J1_TILE_SCHEMA).repartition(2)
    foreign = spark.createDataFrame(foreign_pdf, _J1_FOREIGN_SCHEMA)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if batch_rows is not None:
        spark.conf.set(key, str(batch_rows))
    try:
        for op in _ONE_PASS:
            _assert_matches_oracle(op(tiles, foreign, level), want)
    finally:
        spark.conf.set(key, old)


def test_reference_j1_matches_oracle(spark):
    """The reference J1 takes the same touch rule as the cell pass."""
    tiles_pdf = _j1_tiles().dropna()
    want = [w[:2] for w in _j1_oracle(tiles_pdf, _j1_foreign())]
    assert ("touch", "ft") in want and ("notch", "-1") in want
    tiles = spark.createDataFrame(tiles_pdf, _J1_TILE_SCHEMA)
    foreign = spark.createDataFrame(_j1_foreign(), _J1_FOREIGN_SCHEMA)
    got = joins.intersect_join_broadcast(tiles, foreign).collect()
    assert sorted((r["tile_id"], r["foreign_id"]) for r in got) == want


def test_reference_j1_refuses_past_cap(spark, monkeypatch):
    """The reference J1's driver collect fails loudly past
    MAX_BROADCAST_POLYS instead of pulling an unbounded relation."""
    tiles = spark.createDataFrame(_j1_tiles(), _J1_TILE_SCHEMA)
    foreign = spark.createDataFrame(_j1_foreign(), _J1_FOREIGN_SCHEMA)
    monkeypatch.setattr(joins, "MAX_BROADCAST_POLYS", 3)
    with pytest.raises(ValueError, match="intersect_join_cells"):
        joins.intersect_join_broadcast(tiles, foreign)
    assert joins.intersect_join_cells(tiles, foreign, 6).count() == len(_j1_tiles())


def test_intersect_join_cells_empty_foreign(spark):
    tiles = spark.createDataFrame(_j1_tiles(), _J1_TILE_SCHEMA)
    foreign = spark.createDataFrame([], _J1_FOREIGN_SCHEMA)
    for op in _ONE_PASS:
        got = op(tiles, foreign, 6).collect()
        assert sorted(r["tile_id"] for r in got) == sorted(_j1_tiles()["tile_id"])
        assert {r["foreign_id"] for r in got} == {"-1"}
    got = joins.foreign_proportions_cells(tiles, foreign, 6).collect()
    assert all(r["props_at_foreign"] == {} for r in got)


def test_intersect_join_cells_plan_is_one_shuffle_free_pass(spark):
    """J1 and J2: one refine, no hash exchange, no persist."""
    import re

    tiles = spark.createDataFrame(_j1_tiles(), _J1_TILE_SCHEMA)
    foreign = spark.createDataFrame(_j1_foreign(), _J1_FOREIGN_SCHEMA)
    for op in _ONE_PASS:
        plan = op(tiles, foreign, 6)._jdf.queryExecution().executedPlan().toString()
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


# ---------------------------------------------------------------------------
# strategy twins: point-in-polygon and interval-spatial joins
# ---------------------------------------------------------------------------


class TestPipJoinStrategies:
    def _inputs(self, spark):
        rng = np.random.default_rng(11)
        pts = pd.DataFrame(
            {
                "point_id": np.arange(300, dtype=np.int64),
                "lon": rng.uniform(-0.5, 5.0, 300),
                "lat": rng.uniform(-0.5, 5.0, 300),
            }
        )
        # concave L-shape + boxes: the refine must be a real PIP test, not
        # just the bbox prefilter
        lshape = np.array(
            [[0.0, 0.0], [4.0, 0.0], [4.0, 0.9], [1.0, 0.9], [1.0, 4.0], [0.0, 4.0]]
        )
        rows = [
            {
                "tile_id": "L",
                "geometry_wkb": geom.polygon_to_wkb(geom.ring_close(lshape)),
                "minx": 0.0, "miny": 0.0, "maxx": 4.0, "maxy": 4.0,
            }
        ]
        for i, (x0, y0) in enumerate([(2.0, 2.0), (3.5, 3.5), (-0.4, -0.4)]):
            rows.append(
                {
                    "tile_id": f"B{i}",
                    "geometry_wkb": geom.polygon_to_wkb(
                        geom.box_ring(x0, y0, x0 + 1.2, y0 + 1.2)
                    ),
                    "minx": x0, "miny": y0, "maxx": x0 + 1.2, "maxy": y0 + 1.2,
                }
            )
        return spark.createDataFrame(pts), spark.createDataFrame(pd.DataFrame(rows)), pts, rows

    def test_shuffle_twin_matches_broadcast(self, spark):
        """VERDICT r3 #1: broadcast and cell-shuffle strategies must be
        result-identical, and both must match the direct numpy PIP oracle."""
        points, polys, pts_pdf, poly_rows = self._inputs(spark)
        a = {
            (r["point_id"], r["tile_id"])
            for r in joins.point_in_polygon_join(points, polys).collect()
        }
        b = {
            (r["point_id"], r["tile_id"])
            for r in joins.point_in_polygon_join(
                points, polys, broadcast_polys=False
            ).collect()
        }
        xy = np.stack([pts_pdf["lon"].to_numpy(), pts_pdf["lat"].to_numpy()], axis=1)
        expect = set()
        for row in poly_rows:
            ring = geom.wkb_to_polygon(row["geometry_wkb"])
            inside = geom.points_in_polygon(xy, ring)
            for pid in pts_pdf["point_id"].to_numpy()[inside]:
                expect.add((int(pid), row["tile_id"]))
        assert a == expect and b == expect and len(expect) > 20

    def test_shuffle_path_never_collects_polys(self, spark, monkeypatch):
        """The scale path must not run any driver-side collect of the
        polygon relation while BUILDING the plan, and the cell join must be
        a shuffle join (rings travel with the exploded cells), not a
        broadcast."""
        import pyspark.sql.classic.dataframe as cdf

        points, polys, _, _ = self._inputs(spark)

        def boom(self, *a, **k):  # noqa: ANN001
            raise AssertionError("driver collect during plan construction")

        monkeypatch.setattr(cdf.DataFrame, "collect", boom)
        df = joins.point_in_polygon_join(
            points, polys, level=6, broadcast_polys=False
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan
        import re

        assert not re.search(r"BroadcastHashJoin \[cell", plan)


    def test_broadcast_path_refuses_past_cap(self, spark, monkeypatch):
        """The broadcast path's driver collect fails loudly past
        MAX_BROADCAST_POLYS instead of pulling an unbounded relation."""
        points, polys, _, _ = self._inputs(spark)
        monkeypatch.setattr(joins, "MAX_BROADCAST_POLYS", 3)
        with pytest.raises(ValueError, match="broadcast_polys=False"):
            joins.point_in_polygon_join(points, polys)
        assert joins.point_in_polygon_join(
            points, polys, broadcast_polys=False
        ).count() > 0


class TestIntervalSpatialStrategies:
    """interval_spatial_join must match a brute-force numpy reference on
    the triangle fixtures (non-rectangular footprints + a null-footprint
    event + out-of-window events), and building its plan must not collect
    the event relation to the driver."""

    def _rows(self):
        from geetiles_spark.functions.oracle_sql import event_triangles

        rows = []
        for e in event_triangles():
            ring = np.array(e["verts"] + [e["verts"][0]], dtype=np.float64)
            xs, ys = ring[:, 0], ring[:, 1]
            rows.append(
                {
                    "event_id": e["event_id"],
                    "minx": float(xs.min()), "miny": float(ys.min()),
                    "maxx": float(xs.max()), "maxy": float(ys.max()),
                    "start": e["start"], "end": e["end"],
                    "geometry_wkb": bytes(geom.polygon_to_wkb(ring)),
                }
            )
        # null footprint in-window (bbox-exact refine) straddling boxes
        rows.append(
            {
                "event_id": 100, "minx": 1.5, "miny": 1.5,
                "maxx": 4.5, "maxy": 2.5,
                "start": "2020-02-01", "end": "2020-03-01",
                "geometry_wkb": None,
            }
        )
        return rows

    def _inputs(self, spark):
        from __spark_entry__ import _boxes_pdf

        polys = spark.createDataFrame(_boxes_pdf())
        ev = spark.createDataFrame(pd.DataFrame(self._rows()))
        return polys, ev

    @staticmethod
    def _reference(boxes, rows, start, end):
        """Every tile x in-window event: the exact box-vs-ring test, or the
        bbox test for a null footprint."""
        bx = [boxes[c].to_numpy() for c in ("minx", "miny", "maxx", "maxy")]
        out = set()
        for e in rows:
            if not (e["start"] >= start and e["end"] <= end):
                continue
            if e["geometry_wkb"] is None:
                hit = (
                    (bx[0] <= e["maxx"]) & (bx[2] >= e["minx"])
                    & (bx[1] <= e["maxy"]) & (bx[3] >= e["miny"])
                )
            else:
                hit = geom.boxes_intersect_polygon(
                    *bx, geom.wkb_to_polygon(e["geometry_wkb"])
                )
            out |= {(t, e["event_id"]) for t in boxes["tile_id"][hit]}
        return out

    def test_matches_bruteforce_reference(self, spark):
        from __spark_entry__ import _boxes_pdf

        polys, ev = self._inputs(spark)
        got = {
            (r["tile_id"], r["event_id"])
            for r in joins.interval_spatial_join(
                polys, ev, "2020-01-01", "2020-12-31"
            ).collect()
        }
        expect = self._reference(
            _boxes_pdf(), self._rows(), "2020-01-01", "2020-12-31"
        )
        assert got == expect and len(got) > 25
        # the null-footprint event matched via its bbox
        assert any(eid == 100 for _, eid in got)
        # out-of-window triangles (start 2019) excluded
        from geetiles_spark.functions.oracle_sql import event_triangles

        out_ids = {e["event_id"] for e in event_triangles() if e["start"] < "2020"}
        assert not any(eid in out_ids for _, eid in got)

    def test_never_collects_events(self, spark, monkeypatch):
        import pyspark.sql.classic.dataframe as cdf

        polys, ev = self._inputs(spark)

        def boom(self, *a, **k):  # noqa: ANN001
            raise AssertionError("driver collect during plan construction")

        monkeypatch.setattr(cdf.DataFrame, "collect", boom)
        df = joins.interval_spatial_join(
            polys, ev, "2020-01-01", "2020-12-31", level=6,
        )
        df._jdf.queryExecution().executedPlan()
