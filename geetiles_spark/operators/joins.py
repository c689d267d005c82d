"""Spatial joins: argmax-overlap intersect (J1), area-weighted foreign
proportions (J2), AOI semi-join (J3), point-in-polygon join, and kNN.

Reference semantics (``geetiles/partitions.py:470-507``): for each tile,
scan ALL foreign geometries with ``intersects`` (an O(N×M) Python nested
loop — the reference's scalability cliff), then

* J1 (``geet intersect``): foreign id of the max intersection area; ties
  resolve to the first max in foreign row order (``np.argmax``).  A tile
  whose intersections all have zero area (it only touches foreigns) gets
  the first toucher; a tile that meets nothing gets ``-1``;
* J2 (``geet lp.from_foreign``): weights ``w_i = area_i / Σ area`` over the
  intersecting set, output ``Σ w_i · props_i`` per class key (missing keys
  contribute 0 — pandas NaN-skip semantics at ``partitions.py:500``), plus
  the argmax foreign id as in J1.  A foreign that only touches the tile
  is in the set with weight 0, so its keys appear with value 0.0; with
  ``Σ area = 0`` every weight is 0.

J1 and J2 have one strategy, the **cell join** — the engine's one
tile-vs-footprint join (J1/J2 and the J5 flood join): tiles explode to
covering cell ids (the grid of :mod:`..geo.cells`) in a codegen ``explode``
over the clamped cell-index ranges, no Python stage; the (small) footprint
side explodes the same way and is broadcast, Spark broadcast-hash-joins on
the cell — the tile side never shuffles.  Duplicate pairs from multi-cell
overlap are eliminated by the classic *report-once* rule (keep the pair
only in the cell containing the lower-left corner of the bbox
intersection) — part of the join condition, no ``distinct`` shuffle.  The
cell expressions are SQL text, so building a join's plan costs a few dozen
Py4J calls.

J1 and J2 are the same shuffle-free pass: a left-outer cell join, a local
sort on a tile-row key and one refine that decodes each footprint's WKB
ring (carried through the join) once per task, computes the exact areas
and, as each tile's rows stream by, takes its argmax and, for J2, its
area-weighted props (the footprint props ride the broadcast side).  The
join's bbox test is inclusive, so a touching footprint reaches the refine,
which applies the reference's touch rule (:func:`_touches`).

:func:`intersect_join_broadcast` is kept only as the reference J1 that
checks the cell path; no engine path calls it.  It collects the foreign
set (at most :data:`MAX_BROADCAST_POLYS` rows), broadcasts it and, per
Arrow batch, computes the foreign×tiles intersection-area matrix with the
vectorized masked Sutherland–Hodgman
(:func:`..geo.geom.clip_areas_ring_boxes_exact`).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import cells, geom, s2

_BOUNDS = ["minx", "miny", "maxx", "maxy"]

# the driver collects of the pip broadcast path and the reference J1 hold
# at most this many polygons: past it they refuse (the pip shuffle path,
# broadcast_polys=False, and the cell J1/J2 collect nothing)
MAX_BROADCAST_POLYS = 100_000


def _touches(ring, x0, y0, x1, y1) -> np.ndarray:
    """The reference's ``intersects`` of one foreign ring and N tile boxes
    (arrays of bounds), touching counted, exact for a concave ring too: a
    box in the notch of an L-shaped ring does not touch it.  The one touch
    rule of the cell refine and the reference J1's :func:`_touch_fallback`."""
    return geom.boxes_intersect_polygon(x0, y0, x1, y1, ring)


# --------------------------------------------------------------------------
# the reference J1: broadcast-refine
# --------------------------------------------------------------------------


def collect_foreign(foreign: DataFrame) -> list[dict]:
    """Driver-side foreign set of :func:`intersect_join_broadcast`, in row
    order (argmax tie parity requires the order).  More than
    :data:`MAX_BROADCAST_POLYS` rows raise ``ValueError``."""
    rows = foreign.select(
        "row_idx", "tile_id", "geometry_wkb", *_BOUNDS
    ).orderBy("row_idx").limit(MAX_BROADCAST_POLYS + 1).collect()
    if len(rows) > MAX_BROADCAST_POLYS:
        raise ValueError(
            f"collect_foreign: more than {MAX_BROADCAST_POLYS} foreign polygons "
            "to collect for the reference join; use intersect_join_cells"
        )
    return [
        {
            "id": r["tile_id"],
            "ring": geom.wkb_to_polygon(bytes(r["geometry_wkb"])),
            "bounds": (r["minx"], r["miny"], r["maxx"], r["maxy"]),
        }
        for r in rows
    ]


def _area_matrix(fset: list[dict], bx0, by0, bx1, by1) -> np.ndarray:
    """(F, N) intersection areas of each foreign ring vs N tile boxes,
    vectorized per foreign geometry with a bbox prefilter."""
    n = len(bx0)
    areas = np.zeros((len(fset), n), dtype=np.float64)
    for fi, f in enumerate(fset):
        fx0, fy0, fx1, fy1 = f["bounds"]
        cand = ~((bx1 < fx0) | (bx0 > fx1) | (by1 < fy0) | (by0 > fy1))
        if cand.any():
            idx = np.nonzero(cand)[0]
            # _exact: concave foreign shapes get the disconnection-guarded
            # kernel (GEOS-parity areas; convex rings take the pure fast path)
            areas[fi, idx] = geom.clip_areas_ring_boxes_exact(
                f["ring"], bx0[idx], by0[idx], bx1[idx], by1[idx]
            )
    return areas


def _touch_fallback(fset, x0, y0, x1, y1) -> str | None:
    """Reference parity for the all-zero-area case: the first foreign, in
    row order, that :func:`_touches` the tile box."""
    for f in fset:
        fx0, fy0, fx1, fy1 = f["bounds"]
        if fx1 < x0 or fx0 > x1 or fy1 < y0 or fy0 > y1:
            continue
        if _touches(f["ring"], [x0], [y0], [x1], [y1])[0]:
            return f["id"]
    return None


_J1_SCHEMA = T.StructType(
    [
        T.StructField("tile_id", T.StringType()),
        T.StructField("foreign_id", T.StringType()),
    ]
)


def intersect_join_broadcast(tiles: DataFrame, foreign: DataFrame) -> DataFrame:
    """The reference J1, by broadcast-refine: (tile_id, foreign_id) with
    '-1' sentinel.  No engine path calls it: it is what the engine's
    :func:`intersect_join_cells` is checked against.

    Tiles are treated as their bounding boxes — exact for grid tiles, whose
    geometry is an axis-aligned lon/lat box (``cmds.py:344-357``).
    """
    fset = collect_foreign(foreign)
    b = tiles.sparkSession.sparkContext.broadcast(fset)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fs = b.value
        for pdf in batches:
            bx0 = pdf["minx"].to_numpy()
            by0 = pdf["miny"].to_numpy()
            bx1 = pdf["maxx"].to_numpy()
            by1 = pdf["maxy"].to_numpy()
            areas = _area_matrix(fs, bx0, by0, bx1, by1)
            best = np.argmax(areas, axis=0)  # first max in foreign order
            has = areas.max(axis=0) > 0
            fids = np.array([f["id"] for f in fs], dtype=object)
            out = np.where(has, fids[best], "-1")
            # touch-only parity (rare): tiles with zero max area but a
            # touching foreign get the first toucher, like the reference
            for i in np.nonzero(~has)[0]:
                t = _touch_fallback(fs, bx0[i], by0[i], bx1[i], by1[i])
                if t is not None:
                    out[i] = t
            yield pd.DataFrame({"tile_id": pdf["tile_id"], "foreign_id": out})

    return tiles.select(
        "tile_id", "minx", "miny", "maxx", "maxy"
    ).mapInPandas(run, _J1_SCHEMA)


# --------------------------------------------------------------------------
# cell join: the engine's tile-vs-footprint join
# --------------------------------------------------------------------------


def _cell_ix(c: str, level: int, offset: float) -> str:
    """SQL cell index of a lon (``offset`` 180) or lat (``offset`` 90)
    expression ``c``, clamped to [0, 2^level - 1] exactly as
    :func:`..geo.cells.cell_id` clamps it: a corner at +180 lon or +90 lat
    stays in the last cell.  A null or NaN ``c`` has no index (null): the
    clamp alone would map it to 0 (``greatest`` skips nulls, ``floor(NaN)``
    is 0).  Double literals carry the ``D`` suffix: a bare ``0.35`` is a
    DECIMAL in Spark SQL."""
    size = cells.cell_size_deg(level)
    return (
        f"CASE WHEN ({c}) IS NULL OR isnan({c}) THEN NULL ELSE CAST(least("
        f"greatest(floor(({c} + {offset!r}D) / {size!r}D), 0), {(1 << level) - 1})"
        " AS BIGINT) END"
    )


def _cell_id(ix: str, iy: str, level: int) -> str:
    return f"({level << 58}L | shiftleft({ix}, 29) | {iy})"


def _cell(x: str, y: str, level: int) -> str:
    """SQL cell id ``(level << 58) | (ix << 29) | iy`` of a point; null
    when either coordinate is null or NaN."""
    return _cell_id(_cell_ix(x, level, 180.0), _cell_ix(y, level, 90.0), level)


def _q(c: str) -> str:
    return f"`{c}`"


def _double_bounds(prefix: str) -> list[str]:
    return [f"CAST({_q(c)} AS DOUBLE) AS {prefix}{c}" for c in _BOUNDS]


def _explode_cells(
    df: DataFrame, level: int, carry: list[str], outer: bool = False,
    cell: str = "cell",
) -> DataFrame:
    """(``cell``, *carry): one row per cell of each row's bbox cover, as one
    codegen generator over the clamped index ranges (the JVM twin of
    :func:`..geo.cells.cover_bbox`), in one ``selectExpr``.  ``carry`` holds
    select expressions over ``df`` (a column name, or ``expr AS name``).
    The cover reads the bounds cast to double, so DECIMAL bounds (SQL
    arithmetic on literals) cover like their float values.  A row with a
    null or NaN bound has no cells (``sequence`` over a null index is
    null), so it matches nothing; with ``outer`` it keeps one row with a
    null cell (``explode_outer``)."""
    b = {c: f"CAST({_q(c)} AS DOUBLE)" for c in _BOUNDS}
    xs = f"{_cell_ix(b['minx'], level, 180.0)}, {_cell_ix(b['maxx'], level, 180.0)}"
    ys = f"{_cell_ix(b['miny'], level, 90.0)}, {_cell_ix(b['maxy'], level, 90.0)}"
    cover = (
        f"flatten(transform(sequence({xs}), ix -> transform(sequence({ys}), "
        f"iy -> {_cell_id('ix', 'iy', level)})))"
    )
    gen = "explode_outer" if outer else "explode"
    return df.selectExpr(f"{gen}({cover}) AS {cell}", *carry)


def point_cell_expr(lon_col: str, lat_col: str, level: int):
    """JVM column-expression twin of :func:`..geo.cells.cell_id` — identical
    int64 ids for finite inputs, but whole-stage-codegen instead of an
    ``ArrowEvalPython`` round-trip per point (optimization guide §4.1:
    prefer built-ins; the pandas-UDF version serialized every point's
    lon/lat out to Python and a long back per row).  A null or NaN
    coordinate gives a null cell, which joins no cell."""
    return F.expr(_cell(_q(lon_col), _q(lat_col), level))


def _ring_is_declared_bbox(ring, minx, miny, maxx, maxy) -> bool:
    """True iff ``ring`` (closed or open) is exactly the axis-aligned
    rectangle with the given corners — the precondition for the codegen
    bbox fast path of :func:`point_in_polygon_join`."""
    r = geom.ring_close(np.asarray(ring, dtype=np.float64))
    if r.shape[0] != 5:
        return False
    corners = {(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy)}
    return {(float(x), float(y)) for x, y in r[:4]} == corners


def choose_level(foreign: DataFrame) -> int:
    """Cell level ~ median foreign bbox width: a foreign tile covers O(1)
    cells (small broadcast), a finer tile covers 1-2."""
    r = foreign.select(
        F.expr("percentile_approx(maxx - minx, 0.5)").alias("w")
    ).collect()[0]
    width = max(float(r["w"] or 0.01), 1e-6)
    return cells.level_for_size(width)


def _cell_pairs(
    tiles: DataFrame,
    other: DataFrame,
    key: str,
    carry: list[str],
    level: int,
    how: str = "inner",
    tile_carry: tuple[str, ...] = (),
) -> DataFrame:
    """Every (tile, other) pair of overlapping bboxes, once, via the cell
    equi-join: both sides explode to covering cells (:func:`_explode_cells`,
    in codegen) with their bounds carried, the ``other`` side (``key``,
    bounds, ``carry``: select expressions over ``other``) is broadcast —
    the tile side never shuffles — and a pair survives only in the cell
    holding the lower-left corner of its bbox intersection (report-once;
    the corner's cell is clamped by the same :func:`_cell_ix` as the
    covers, so a corner at +180 lon or +90 lat stays inside both).

    The bbox and report-once tests are the join condition, so
    ``how="left"`` keeps each tile cell that pairs with nothing, once, with
    a null ``key``, and a tile with a null or NaN bound keeps one such row;
    inner, that tile pairs with nothing.  The join is built from SQL text:
    a few dozen Py4J calls, not one per column expression.

    Output: (tile_id, *tile_carry, t_minx, t_miny, t_maxx, t_maxy, key,
    *carry), by output name.
    """
    tcells = _explode_cells(
        tiles, level, ["tile_id", *tile_carry, *_double_bounds("t_")],
        outer=how == "left",
    )
    # the other side's bounds travel as one struct: one select expression
    obox = ", ".join(f"'{c}', CAST({_q(c)} AS DOUBLE)" for c in _BOUNDS)
    ocells = _explode_cells(
        other, level, [key, f"named_struct({obox}) AS o_box", *carry], cell="o_cell"
    )
    ref_cell = _cell(
        "greatest(t_minx, o_box.minx)", "greatest(t_miny, o_box.miny)", level
    )
    cond = F.expr(
        "cell = o_cell AND t_minx <= o_box.maxx AND t_maxx >= o_box.minx"
        " AND t_miny <= o_box.maxy AND t_maxy >= o_box.miny"
        f" AND cell = {ref_cell}"
    )
    return tcells.join(F.broadcast(ocells), cond, how).drop("cell", "o_cell", "o_box")


def _ring_groups(
    batches: Iterator[pd.DataFrame], key: str, wkb: str
) -> Iterator[tuple[pd.DataFrame, list]]:
    """(batch, [(row indices, ring), ...]) per non-empty Arrow batch of
    rows carrying a WKB ring per ``key``: each key's ring is decoded once
    per task (a null WKB gives ``None``)."""
    ring_cache: dict = {}
    for pdf in batches:
        if len(pdf) == 0:
            continue
        groups = []
        for k, idx in pdf.groupby(key).indices.items():
            if k not in ring_cache:
                w = pdf[wkb].iloc[idx[0]]
                ring_cache[k] = None if w is None else geom.wkb_to_polygon(bytes(w))
            groups.append((idx, ring_cache[k]))
        yield pdf, groups


def _tile_boxes(pdf: pd.DataFrame) -> list[np.ndarray]:
    return [pdf["t_" + c].to_numpy() for c in _BOUNDS]


def _pair_areas(
    pdf: pd.DataFrame, groups: list, every_touch: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Exact intersection area of each row's tile box with its foreign
    ring, and whether the two meet: a positive area, or a zero area that
    :func:`_touches`.  The touch test runs one vectorized call per ring,
    on every zero-area row with ``every_touch`` (J2's props count each
    toucher), else only on the rows of tiles with no positive area in
    this batch (J1: a tile split across batches may test rows its other
    part outranks; the result is unused there).  A row with no foreign, or
    a null ring, has area 0 and meets nothing."""
    boxes = _tile_boxes(pdf)
    areas = np.zeros(len(pdf), dtype=np.float64)
    live = [(idx, ring) for idx, ring in groups if ring is not None]
    for idx, ring in live:
        areas[idx] = geom.clip_areas_ring_boxes_exact(ring, *(b[idx] for b in boxes))
    meets = areas > 0
    row = pdf["tile_row"].to_numpy()
    test = ~meets if every_touch else ~np.isin(row, row[meets])
    for idx, ring in live:
        t = idx[test[idx]]
        if len(t):
            meets[t] = _touches(ring, *(b[t] for b in boxes))
    return areas, meets


# the foreign side of J1/J2's cell join: key and carried columns, as
# :func:`_cell_pairs` takes them; J2 also carries ``props``
_FOREIGN_SIDE = (
    "tile_id AS foreign_id", ["row_idx AS foreign_idx", "geometry_wkb AS foreign_wkb"]
)


def _tile_pass(
    tiles: DataFrame, foreign: DataFrame, level: int | None, props: bool
) -> DataFrame:
    """J1, and with ``props`` J2, in one shuffle-free pass.

    Each tile row gets a row key, explodes with ``explode_outer`` and
    left-outer broadcast-joins the foreign cells (:func:`_cell_pairs`), so
    every tile row reaches the refine.  A local sort on the row key (no
    exchange: the tile side never moves) makes each tile's rows
    contiguous, and one ``mapInPandas`` computes the exact areas and each
    tile's result (:func:`_tile_results`) as the rows stream by.  Its
    state is at most one tile: the rows of the last tile of an Arrow
    batch, which the next batch may continue.  Duplicate tile rows each
    keep their own output row.
    """
    level = level or choose_level(foreign)
    key, carry = _FOREIGN_SIDE
    pairs = _cell_pairs(
        tiles.withColumn("tile_row", F.expr("monotonically_increasing_id()")),
        foreign, key, [*carry, "props AS foreign_props"] if props else carry,
        level, how="left", tile_carry=("tile_row",),
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        held = None  # the last tile's rows: the next batch may continue it
        for pdf, groups in _ring_groups(batches, "foreign_id", "foreign_wkb"):
            area, meets = _pair_areas(pdf, groups, every_touch=props)
            pdf = pdf.assign(area=area, meets=meets)
            if held is not None:
                pdf = pd.concat([held, pdf], ignore_index=True)
            last = pdf["tile_row"].to_numpy() == pdf["tile_row"].iloc[-1]
            held = pdf[last]
            if not last.all():
                yield _tile_results(pdf[~last], props)
        if held is not None:
            yield _tile_results(held, props)

    schema = (
        "tile_id string, foreign_id string, props_at_foreign map<string,double>"
        if props else _J1_SCHEMA
    )
    return pairs.sortWithinPartitions(pairs["tile_row"]).mapInPandas(refine, schema)


def _tile_results(pdf: pd.DataFrame, props: bool) -> pd.DataFrame:
    """(tile_id, foreign_id[, props_at_foreign]) per ``tile_row`` of
    complete tiles' candidate rows.

    The foreign id is that of the met row with the max ``area``, then the
    min ``foreign_idx``, then the max ``foreign_id``, else '-1': a tile met
    only by touch gets its first toucher.  The props are
    ``Σ w_i · props_i[k]`` over the met rows, ``w_i = area_i / Σ area``
    (0 when ``Σ area = 0``), a missing key counting 0, keys sorted: a
    toucher's keys appear with 0.0, and a tile met by nothing gets
    ``{}``."""
    met = pdf[pdf["meets"]].sort_values(
        ["tile_row", "area", "foreign_idx", "foreign_id"],
        ascending=[True, False, True, False],
    )
    best = met.drop_duplicates("tile_row").set_index("tile_row")["foreign_id"]
    rows = pdf.drop_duplicates("tile_row")
    out = pd.DataFrame(
        {
            "tile_id": rows["tile_id"].to_numpy(),
            "foreign_id": rows["tile_row"].map(best).fillna("-1").to_numpy(),
        }
    )
    if props:
        # summed in foreign row order; a null props map counts as {}
        met = met.sort_values(["tile_row", "foreign_idx"])
        total = met.groupby("tile_row")["area"].transform("sum").to_numpy()
        w = np.divide(met["area"].to_numpy(), total, out=np.zeros(len(met)), where=total > 0)
        mix: dict = {}
        for row, wi, p in zip(met["tile_row"], w, met["foreign_props"]):
            acc = mix.setdefault(row, {})
            for k, v in (p or {}).items():
                acc[k] = acc.get(k, 0.0) + wi * v
        out["props_at_foreign"] = [
            dict(sorted(mix.get(row, {}).items())) for row in rows["tile_row"]
        ]
    return out


def intersect_join_cells(
    tiles: DataFrame, foreign: DataFrame, level: int | None = None
) -> DataFrame:
    """J1 via cell join, in one shuffle-free pass (:func:`_tile_pass`):
    (tile_id, foreign_id) per tile row, the foreign id of the max
    intersection area (ties: first in foreign row order, then the larger
    id), the first toucher in foreign row order for a tile that only
    touches foreigns, '-1' for a tile that meets none (a null or NaN bound
    meets nothing)."""
    return _tile_pass(tiles, foreign, level, props=False)


def foreign_proportions_cells(
    tiles: DataFrame, foreign: DataFrame, level: int | None = None
) -> DataFrame:
    """J2 via cell join, in J1's one pass (:func:`_tile_pass`):
    (tile_id, foreign_id, props_at_foreign) per tile row.  ``foreign``
    carries ``props`` (``map<string,double>``), which ride the broadcast
    side of the join; ``props_at_foreign`` is the area-weighted mean of
    the props of the foreigns the tile meets, touchers weighing 0
    (:func:`_tile_results`), and ``foreign_id`` is J1's."""
    return _tile_pass(tiles, foreign, level, props=True)


# --------------------------------------------------------------------------
# J3: AOI semi-join
# --------------------------------------------------------------------------


def aoi_filter(tiles: DataFrame, aoi_ring: np.ndarray) -> DataFrame:
    """Spatial left-semi join against one broadcast AOI geometry
    (``partitions.py:399-403``) — a filter, since the right side is 1 row."""
    b = tiles.sparkSession.sparkContext.broadcast(
        geom.ring_close(np.asarray(aoi_ring, dtype=np.float64))
    )

    @F.pandas_udf(T.BooleanType())
    def hits(minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series) -> pd.Series:
        return pd.Series(
            geom.aoi_index(b.value).boxes_intersect(
                minx.to_numpy(), miny.to_numpy(), maxx.to_numpy(), maxy.to_numpy()
            )
        )

    return tiles.filter(hits("minx", "miny", "maxx", "maxy"))


# --------------------------------------------------------------------------
# point-in-polygon join
# --------------------------------------------------------------------------

def point_in_polygon_join(
    points: DataFrame,
    polys: DataFrame,
    level: int | None = None,
    id_col: str = "point_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    broadcast_polys: bool = True,
) -> DataFrame:
    """Assign points to containing polygons: point-cell equi-join against the
    polygons' covering cells, then an exact vectorized point-in-polygon
    refine per (partition, polygon) group.

    Output: (point_id, lon, lat, tile_id) — inner join (unmatched points
    drop).  Two physical strategies, result-identical (cross-tested):

    * ``broadcast_polys=True`` (admin-dim-sized polygon sets): rings are
      collected once and broadcast; the point side never shuffles.  More
      than :data:`MAX_BROADCAST_POLYS` polygons raise ``ValueError``.
    * ``broadcast_polys=False`` (the scale path, VERDICT r3 #1): polygon
      rings ship THROUGH the cell equi-join — the exploded polygon-cells
      side carries ``geometry_wkb``, the join is a ``shuffle_hash`` on the
      cell id, and the refine decodes rings per batch with a local cache.
      No driver collect of the polygon relation anywhere in the plan, so
      polygon cardinality is unbounded; the cost is one shuffle of the
      point side on its cell id.
    """
    level = level or choose_level(polys)
    spark = points.sparkSession

    pcells = points.select(
        F.col(id_col).alias("point_id"),
        F.col(lon_col).alias("lon"),
        F.col(lat_col).alias("lat"),
    ).withColumn("cell", point_cell_expr("lon", "lat", level))

    schema = T.StructType(
        [
            T.StructField("point_id", points.schema[id_col].dataType),
            T.StructField("lon", T.DoubleType()),
            T.StructField("lat", T.DoubleType()),
            T.StructField("tile_id", T.StringType()),
        ]
    )

    if not broadcast_polys:
        gcells = _explode_cells(polys, level, ["tile_id", "geometry_wkb"])
        cand = pcells.join(gcells.hint("shuffle_hash"), "cell").select(
            "point_id", "lon", "lat", "tile_id", "geometry_wkb"
        )

        def refine_carried(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf, groups in _ring_groups(batches, "tile_id", "geometry_wkb"):
                keep = np.zeros(len(pdf), dtype=bool)
                pts = np.stack(
                    [pdf["lon"].to_numpy(), pdf["lat"].to_numpy()], axis=1
                )
                for idx, ring in groups:
                    keep[idx] = geom.points_in_polygon(pts[idx], ring)
                yield pdf.loc[keep, ["point_id", "lon", "lat", "tile_id"]]

        return cand.mapInPandas(refine_carried, schema)

    gcells = _explode_cells(polys, level, ["tile_id", *_double_bounds("")])
    cand = pcells.join(F.broadcast(gcells), "cell")

    prows = polys.select(
        "tile_id", "geometry_wkb", *_BOUNDS
    ).limit(MAX_BROADCAST_POLYS + 1).collect()
    if len(prows) > MAX_BROADCAST_POLYS:
        raise ValueError(
            f"point_in_polygon_join: more than {MAX_BROADCAST_POLYS} polygons "
            "to collect for the broadcast path; use broadcast_polys=False"
        )
    rings = {
        r["tile_id"]: geom.wkb_to_polygon(bytes(r["geometry_wkb"])) for r in prows
    }

    # rectangle fast path: when every collected ring IS its declared bbox
    # (admin grids, tile sets, the box-catalog contract), even-odd
    # containment for non-boundary points reduces to the strict-open bbox
    # predicate — the whole join stays in whole-stage codegen with NO
    # Python refine at all (guide §4.1; boundary-degenerate points are
    # already documented as unspecified in geom.points_in_polygon).
    if all(
        _ring_is_declared_bbox(
            rings[r["tile_id"]], r["minx"], r["miny"], r["maxx"], r["maxy"]
        )
        for r in prows
    ):
        return cand.filter(
            (F.col("lon") > F.col("minx")) & (F.col("lon") < F.col("maxx"))
            & (F.col("lat") > F.col("miny")) & (F.col("lat") < F.col("maxy"))
        ).select("point_id", "lon", "lat", "tile_id")

    # generic rings: closed-bbox prefilter in codegen (a superset of the
    # even-odd interior, so it never drops a point the refine would keep)
    # cuts the rows that cross the Python boundary to near-final volume
    cand = cand.filter(
        (F.col("lon") >= F.col("minx")) & (F.col("lon") <= F.col("maxx"))
        & (F.col("lat") >= F.col("miny")) & (F.col("lat") <= F.col("maxy"))
    ).select("point_id", "lon", "lat", "tile_id")
    b = spark.sparkContext.broadcast(rings)

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rr = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            pts = np.stack([pdf["lon"].to_numpy(), pdf["lat"].to_numpy()], axis=1)
            for tid, idx in pdf.groupby("tile_id").indices.items():
                keep[idx] = geom.points_in_polygon(pts[idx], rr[tid])
            yield pdf[keep][["point_id", "lon", "lat", "tile_id"]]

    return cand.mapInPandas(refine, schema)


# --------------------------------------------------------------------------
# J5: interval + spatial theta join (flood-event style)
# --------------------------------------------------------------------------


def interval_spatial_join(
    tiles: DataFrame,
    events: DataFrame,
    start_lit: str,
    end_lit: str,
    level: int | None = None,
) -> DataFrame:
    """Per tile, events whose geometry intersects the tile AND whose
    [start, end] interval is contained in [start_lit, end_lit] — the flood
    catalog join (``defs/globalfloods.py:61-80``: ``geometry.intersects``
    ∧ string-date containment).

    ``events`` needs (event_id, minx, miny, maxx, maxy, start, end) with
    ISO-string dates (the reference compares dates as strings), plus an
    optional ``geometry_wkb`` footprint.  The interval predicate pushes into
    the event scan; the in-window events then take the J1/J2 cell join
    (:func:`_cell_pairs`) with their footprints carried through it, and
    the bbox candidates are refined with the exact (non-convex-safe)
    box-vs-ring test per event — reference parity for arbitrary flood
    footprints.  Events without a footprint (no column, or a null
    ``geometry_wkb``) keep their bbox match, exact for box footprints.

    The event cells are broadcast: flood/disaster catalogs are dim tables
    (the reference's is ~thousands of events) and the tiles never shuffle.
    No driver collect of the event relation happens (given ``level``; else
    :func:`choose_level` runs one aggregate).  At catalog scale the
    broadcast hint is what to revisit.  Output: (tile_id, event_id), with
    ``event_id`` of its input type.
    """
    e = events.filter(
        (F.col("start") >= F.lit(start_lit)) & (F.col("end") <= F.lit(end_lit))
    )
    has_geom = "geometry_wkb" in events.columns
    carry = ["geometry_wkb"] if has_geom else []
    pairs = _cell_pairs(tiles, e, "event_id", carry, level or choose_level(e))
    if not has_geom:
        return pairs.select("tile_id", "event_id")

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf, groups in _ring_groups(batches, "event_id", "geometry_wkb"):
            boxes = _tile_boxes(pdf)
            keep = np.ones(len(pdf), dtype=bool)  # null footprint: bbox match
            for idx, ring in groups:
                if ring is not None:
                    keep[idx] = geom.boxes_intersect_polygon(
                        *(b[idx] for b in boxes), ring
                    )
            yield pdf.loc[keep, ["tile_id", "event_id"]]

    schema = T.StructType(
        [
            T.StructField("tile_id", T.StringType()),
            T.StructField("event_id", events.schema["event_id"].dataType),
        ]
    )
    return pairs.mapInPandas(refine, schema)


def attach_event_props_json(
    matched: DataFrame, events: DataFrame, prop_cols: list[str]
) -> DataFrame:
    """F18 (``defs/globalfloods.py:132-146``): per tile, a map
    ``event_id -> json(properties)`` over its matched events — the Spark
    shape of the reference's per-chip ``update_tags(**sprops)`` where each
    tag value is ``json.dumps(properties - geometry)``.

    ``matched`` is (tile_id, event_id) from :func:`interval_spatial_join`;
    ``events`` carries the property columns.  Pure column expressions
    (``to_json(struct(...))`` + sorted ``map_from_entries``).
    """
    ev = events.select(
        "event_id",
        F.to_json(F.struct(*[F.col(c) for c in prop_cols])).alias("props_json"),
    )
    return (
        matched.join(F.broadcast(ev), "event_id")
        .groupBy("tile_id")
        .agg(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("event_id").cast("string").alias("k"),
                            F.col("props_json").alias("v"),
                        )
                    )
                )
            ).alias("event_props")
        )
    )


# --------------------------------------------------------------------------
# J6: group-membership filter
# --------------------------------------------------------------------------


def filter_groups(tiles: DataFrame, groups: list[str], group_col: str = "group") -> DataFrame:
    """Keep tiles whose comma-separated ``group`` tags overlap ``groups``
    (``partitions.py:405-413``) — pure column expression."""
    return tiles.filter(
        F.arrays_overlap(
            F.split(F.col(group_col), ","),
            F.array(*[F.lit(g) for g in groups]),
        )
    )


# --------------------------------------------------------------------------
# W3: seeded shuffle + limit (download-queue shape)
# --------------------------------------------------------------------------


def shuffle_limit(df: DataFrame, n: int | None, seed: int = 42) -> DataFrame:
    """``np.random.permutation(gtiles)[:max_downloads]`` (``gee.py:196-199``)
    as a deterministic Spark plan: order by seeded rand, take n."""
    out = df.orderBy(F.rand(seed))
    return out.limit(n) if n is not None else out


# --------------------------------------------------------------------------
# kNN: partial top-k tree-reduce (+ cell-ring pruning at scale)
# --------------------------------------------------------------------------

_EARTH_RADIUS_M = 6371008.8  # mean Earth radius (IUGG)


def knn_join(
    points: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "id",
) -> DataFrame:
    """k nearest ``points`` to each query (haversine meters).

    Physical plan: broadcast the (small) query set; each partition computes
    its local top-k per query with a vectorized argpartition (the map-side
    combine of a top-k tree-reduce); a final window takes the global top-k.
    For huge point sets a cell-ring prefilter bounds candidates — the
    partial top-k already avoids any full sort, so the refine stays cheap.
    """
    spark = points.sparkSession
    b = spark.sparkContext.broadcast(queries)

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qs = b.value
        for pdf in batches:
            lon = pdf[lon_col].to_numpy(dtype=np.float64)
            lat = pdf[lat_col].to_numpy(dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            for qid, qlon, qlat in qs:
                idx, d = _haversine_topk(lon, lat, qlon, qlat, k)
                yield pd.DataFrame(
                    {"query_id": qid, "point_id": ids[idx], "dist_m": d}
                )

    # NOT spread: measured at sf1.0 the single-split haversine task (0.9s)
    # beats paying a 36 MB repartition first (1.4s) — the kernel is cheap
    # enough per row that the shuffle never amortizes; callers with truly
    # huge point sets arrive multi-split and parallelize naturally
    local = points.select(id_col, lon_col, lat_col).mapInPandas(
        local_topk, _knn_schema(points, id_col)
    )
    return _global_topk(local, k)


def _haversine_topk(
    lon: np.ndarray, lat: np.ndarray, qlon: float, qlat: float, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """(indices, meters) of the <= k points (lon/lat degrees) nearest the
    query by haversine distance — an argpartition partial top-k, the
    map-side half of the top-k tree-reduce (:func:`_global_topk`)."""
    lon, lat = np.deg2rad(lon), np.deg2rad(lat)
    qlo, qla = np.deg2rad(qlon), np.deg2rad(qlat)
    h = (
        np.sin((lat - qla) / 2) ** 2
        + np.cos(lat) * np.cos(qla) * np.sin((lon - qlo) / 2) ** 2
    )
    d = 2 * _EARTH_RADIUS_M * np.arcsin(np.sqrt(h))
    idx = np.argpartition(d, k)[:k] if len(d) > k else np.arange(len(d))
    return idx, d[idx]


def _knn_schema(points: DataFrame, id_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField("query_id", T.StringType()),
            T.StructField("point_id", points.schema[id_col].dataType),
            T.StructField("dist_m", T.DoubleType()),
        ]
    )


def _global_topk(local: DataFrame, k: int) -> DataFrame:
    """Final top-k per query over the local candidates (query_id,
    point_id, dist_m): nearest first, ties by point id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_m").asc(), F.col("point_id").asc()
    )
    return (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _neighborhood_cell_counts(
    pts: DataFrame,
    queries: list[tuple[str, float, float]],
    level: int,
    max_rings: int,
) -> dict[int, int]:
    """Per-cell point counts, restricted to cells within ``max_rings``
    Chebyshev of any query's cell BEFORE the collect (VERDICT r2 #4: the
    unrestricted agg collected every occupied cell — millions of driver rows
    at level 12 over a planetary point set for a 3-query kNN).  The bound is
    a disjunction of per-query (ix, iy) ranges over the bit-decomposed cell
    id — a plain column predicate, evaluated map-side, so the shuffled agg
    and the driver dict are both O(queries * max_rings^2).
    """
    mask = (1 << 29) - 1
    ix = F.shiftrightunsigned(F.col("cell"), 29).bitwiseAND(F.lit(mask))
    iy = F.col("cell").bitwiseAND(F.lit(mask))
    nmax = (1 << level) - 1
    cond = F.lit(False)
    for _, qlon, qlat in queries:
        c0 = int(cells.cell_id(np.array([qlon]), np.array([qlat]), level)[0])
        qx, qy = (c0 >> 29) & mask, c0 & mask
        cond = cond | (
            ix.between(max(0, qx - max_rings), min(nmax, qx + max_rings))
            & iy.between(max(0, qy - max_rings), min(nmax, qy + max_rings))
        )
    return {
        r["cell"]: r["n"]
        for r in pts.filter(cond)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def knn_join_cells(
    points: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    level: int | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "id",
    max_rings: int = 64,
    index: str = "flat",
) -> DataFrame:
    """Cell-ring-expansion kNN (north-rule operator): candidates come only
    from grid cells within an expanding Chebyshev ring around each query.

    Protocol: count points per touched cell (one cheap agg), expand each
    query's ring on the driver until the enclosed count reaches k, then add
    one safety ring (a point in ring r can be farther than one in r+1 —
    cell-corner vs cell-edge distances), build the (query, cell) candidate
    list, semi-join the points once, and run the exact haversine top-k on
    candidates only.  The full point set is scanned exactly once for the
    cell-count agg and once filtered for the refine — no per-query scans,
    no broadcast of the corpus.

    Result-identical with :func:`knn_join` (cross-tested) provided the
    safety-ring invariant holds, which the +1 Chebyshev ring guarantees for
    any convex metric on a uniform grid away from the antimeridian.

    ``index='s2'`` assigns points to TRUE S2 cells (:mod:`..geo.s2`:
    quadratic projection + Hilbert curve) and expands rings by batched BFS
    over the cube-face adjacency.  The result is BIT-IDENTICAL to the flat
    index (the cell stage only generates candidates; the haversine refine
    is exact) — the index choice is performance-only.  S2 cells are
    near-uniform on the sphere, so the safety extension needs no 1/cos(lat)
    stretch; instead it uses the published quadratic-projection metrics
    (min-width / max-diag), and the 2r+1 factor accounts for a BFS layer
    spanning up to two cells per step (see :func:`..geo.s2.bfs_rings`).
    At 10^12 rows the S2 id doubles as the table's range-partitioning /
    clustering key: Hilbert locality keeps spatially-close rows in the same
    file, which the flat index's latitude-stretched cells cannot.
    """
    spark = points.sparkSession
    if index not in ("flat", "s2"):
        raise ValueError(f"index must be flat|s2, got {index!r}")
    if level is None:
        # aim for >= ~4k points per cell region at default level: pick from
        # bounding box of queries vs a coarse default
        level = 12
    enc = s2 if index == "s2" else cells

    if index == "s2":
        # Hilbert curve encoding is a numpy kernel — stays Arrow-batched
        @F.pandas_udf(T.LongType())
        def pt_cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
            return pd.Series(enc.cell_id(lon.to_numpy(), lat.to_numpy(), level))

        cell_col = pt_cell("lon", "lat")
    else:
        cell_col = point_cell_expr("lon", "lat", level)

    pts = points.select(
        F.col(id_col).alias("point_id"),
        F.col(lon_col).alias("lon"),
        F.col(lat_col).alias("lat"),
    ).withColumn("cell", cell_col)

    cand_rows = []
    if index == "s2":
        # batched BFS rings per query (driver-side, vectorized; ~33k cells
        # for 64 rings in ~0.2s) — the allowlist bounds the count agg the
        # way the flat index's ix/iy bit predicate does
        rings_by_q = {
            qid: s2.bfs_rings(
                int(s2.cell_id(np.array([qlon]), np.array([qlat]), level)[0]),
                max_rings,
            )
            for qid, qlon, qlat in queries
        }
        allowed = np.unique(
            np.concatenate([np.concatenate(r) for r in rings_by_q.values()])
        )
        adf = spark.createDataFrame(
            pd.DataFrame({"cell": allowed}), "cell long"
        )
        counts = {
            r["cell"]: r["n"]
            for r in pts.join(F.broadcast(adf), "cell")
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for qid, _qlon, _qlat in queries:
            layers = rings_by_q[qid]
            have = 0
            ring = 0
            while ring < len(layers):
                have += sum(counts.get(int(c), 0) for c in layers[ring])
                if have >= k:
                    break
                ring += 1
            # k candidates within `ring` BFS layers -> k-th distance <=
            # (2*ring+1) * max_diag (a BFS step spans <= 2 cells); cover
            # that ball: king-radius ceil(dist/min_width)+1 layers suffice
            # (layers 0..r contain the full king-disk of radius r).  The
            # metric ratio is level-free; no 1/cos(lat) term for S2.
            r_ext = (
                int(
                    np.ceil(
                        (2 * ring + 1)
                        * s2.MAX_DIAG_DERIV
                        / s2.MIN_WIDTH_DERIV
                    )
                )
                + 1
            )
            if r_ext > len(layers) - 1:
                # sparse data pushed the exactness bound past the
                # precomputed layers: extend the BFS on demand (ADVICE r6
                # — truncating here silently broke the bit-identical
                # guarantee vs knn_join)
                layers = s2.bfs_rings(
                    int(
                        s2.cell_id(
                            np.array([_qlon]), np.array([_qlat]), level
                        )[0]
                    ),
                    r_ext,
                )
            for rr in range(0, min(r_ext, len(layers) - 1) + 1):
                for c in layers[rr]:
                    cand_rows.append({"query_id": qid, "cell": int(c)})
    else:
        counts = _neighborhood_cell_counts(pts, queries, level, max_rings)
        for qid, qlon, qlat in queries:
            c0 = int(cells.cell_id(np.array([qlon]), np.array([qlat]), level)[0])
            have = 0
            ring = 0
            while ring <= max_rings:
                have += sum(
                    counts.get(int(c), 0) for c in cells.ring_cells(c0, ring)
                )
                if have >= k:
                    break
                ring += 1
            # exactness bound: k candidates exist within Chebyshev ring r, so
            # the k-th haversine distance <= (r+1)*cell*sqrt(2) in lat-degrees;
            # a meter-ball of that radius spans 1/cos(lat) more cells in lon —
            # extend rings to cover it (corner-vs-edge distances make a bare
            # +1 ring insufficient for r >= 2)
            coslat = max(abs(np.cos(np.deg2rad(qlat))), 0.1)
            r_ext = int(np.ceil((ring + 1) * np.sqrt(2.0) / coslat)) + 1
            # r_ext may exceed max_rings on sparse data; ring_cells
            # generates any radius, so cover the full exactness bound
            # instead of truncating (mirror of the s2-path ADVICE fix)
            for rr in range(0, r_ext + 1):
                for c in cells.ring_cells(c0, rr):
                    cand_rows.append({"query_id": qid, "cell": int(c)})

    cand = spark.createDataFrame(pd.DataFrame(cand_rows))
    filtered = pts.join(F.broadcast(cand), "cell").select(
        "query_id", "point_id", "lon", "lat"
    )

    qmap = {q: (lon, lat) for q, lon, lat in queries}
    bq = spark.sparkContext.broadcast(qmap)

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qs = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lon = pdf["lon"].to_numpy(dtype=np.float64)
            lat = pdf["lat"].to_numpy(dtype=np.float64)
            ids = pdf["point_id"].to_numpy()
            for qid, idx in pdf.groupby("query_id").indices.items():
                take, d = _haversine_topk(lon[idx], lat[idx], *qs[qid], k)
                yield pd.DataFrame(
                    {"query_id": qid, "point_id": ids[idx][take], "dist_m": d}
                )

    return _global_topk(
        filtered.mapInPandas(refine, _knn_schema(points, id_col)), k
    )
