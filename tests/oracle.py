"""Single-node pandas/numpy oracle — a *literal* reimplementation of the
reference algorithms (nested loops and all), used for differential testing of
the Spark operators (SURVEY §5.2).

Each function mirrors one reference routine:
- oracle_grid            -> cmds.build_grid            (cmds.py:305-369)
- oracle_proportions     -> Partition.compute_proportions_from_raster
                                                        (partitions.py:447-468)
- oracle_intersect       -> Partition.compute_foreign_partition
                                                        (partitions.py:470-483)
- oracle_foreign_props   -> Partition.compute_foreign_proportions
                                                        (partitions.py:485-507)
- oracle_split           -> PartitionSet.split          (partitions.py:307-368)
- oracle_split_mode      -> split_per_partitions        (partitions.py:371-384)

Geometry/projection primitives come from geetiles_spark.geo (externally
validated: the Luxembourg@1000m dataset hash reproduces the reference's
README golden 14c55eb7d417f) — the *algorithms* here are written as the
reference wrote them, so they exercise completely different orchestration
than the Spark operators.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd

from geetiles_spark.geo import geom, hashing, raster, utm


def oracle_grid(aoi_ring: np.ndarray, chip_size_meters: float) -> pd.DataFrame:
    """Literal translation of cmds.build_grid + PartitionSet ctor."""
    from geetiles_spark.operators.grid import polygon_centroid

    aoi_ring = geom.ring_close(aoi_ring)
    cx, cy = polygon_centroid(aoi_ring)
    zone = int(utm.utm_zone(np.float64(cx), np.float64(cy)))
    south = cy < 0
    ex, ny = utm.lonlat_to_utm(aoi_ring[:, 0], aoi_ring[:, 1], zone, south)
    minx, miny = ex.min(), ny.min()
    maxx, maxy = ex.max(), ny.max()
    m = chip_size_meters
    gridx = int((maxx - minx) // m)
    gridy = int((maxy - miny) // m)

    rows = []
    for gx, gy in itertools.product(range(gridx), range(gridy)):
        rlon, rlat = gx * m + minx, gy * m + miny
        clon, clat = (
            float(v[0]) for v in utm.utm_to_lonlat(np.r_[rlon], np.r_[rlat], zone, south)
        )
        lon0, lat0 = (
            float(v[0])
            for v in utm.lonlat_to_utm(np.r_[clon], np.r_[clat], zone, south)
        )
        lon1 = float(utm.lonlat_to_utm(np.r_[clon + 0.001], np.r_[clat], zone, south)[0][0])
        lat2 = float(utm.lonlat_to_utm(np.r_[clon], np.r_[clat + 0.001], zone, south)[1][0])
        mpd_lon = (lon1 - lon0) * 1000
        mpd_lat = (lat2 - lat0) * 1000
        dlon = ((m - 1) / 2) / mpd_lon
        dlat = ((m - 1) / 2) / mpd_lat
        ring = geom.box_ring(clon - dlon, clat - dlat, clon + dlon, clat + dlat)
        hit = geom.boxes_intersect_polygon(
            np.r_[clon - dlon], np.r_[clat - dlat], np.r_[clon + dlon], np.r_[clat + dlat],
            aoi_ring,
        )[0]
        if hit:
            rows.append(
                {
                    "row_idx": gx * gridy + gy,
                    "tile_id": hashing.region_hash_from_ring(ring),
                    "minx": clon - dlon,
                    "miny": clat - dlat,
                    "maxx": clon + dlon,
                    "maxy": clat + dlat,
                }
            )
    df = pd.DataFrame(rows)
    # PartitionSet ctor area computation (partitions.py:38-46)
    env = geom.box_ring(
        df["minx"].min(), df["miny"].min(), df["maxx"].max(), df["maxy"].max()
    )
    lon_c, lat_c = env[:, 0].mean(), env[:, 1].mean()
    zone_a = int(utm.utm_zone(np.float64(lon_c), np.float64(lat_c)))
    south_a = lat_c < 0
    areas = []
    for _, r in df.iterrows():
        ring = geom.box_ring(r["minx"], r["miny"], r["maxx"], r["maxy"])
        exa, nya = utm.lonlat_to_utm(ring[:, 0], ring[:, 1], zone_a, south_a)
        areas.append(geom.ring_area(np.stack([exa, nya], axis=1)) / 1e6)
    df["area_km2"] = areas
    return df


def oracle_proportions(arr: np.ndarray, ddef, ring: np.ndarray) -> dict[str, float]:
    """Literal translation of compute_proportions_from_raster."""
    img = ddef.map_values(arr)
    mask = raster.get_binary_mask(ring, img.shape)
    img = img[mask == 1]
    r = {k: v for k, v in zip(*np.unique(img, return_counts=True))}
    total = sum(r.values())
    return {str(k): v / total for k, v in r.items()}


def _relevant(tile_ring: np.ndarray, foreign: list[dict]) -> list[dict]:
    """The foreigns a box tile ``intersects`` (touching counts), exact for
    concave foreign rings."""
    box = [np.r_[v] for v in geom.ring_bounds(tile_ring)]
    return [f for f in foreign if geom.boxes_intersect_polygon(*box, f["ring"])[0]]


def oracle_intersect(tile_ring: np.ndarray, foreign: list[dict]):
    """Literal translation of compute_foreign_partition (nested loop +
    argmax; -1 sentinel)."""
    relevant = _relevant(tile_ring, foreign)
    w = np.r_[
        [geom.intersection_area_convex(f["ring"], tile_ring) for f in relevant]
    ] if relevant else np.array([])
    if len(relevant) > 0:
        return relevant[int(np.argmax(w))]["id"]
    return -1


def oracle_foreign_props(tile_ring: np.ndarray, foreign: list[dict]):
    """Literal translation of compute_foreign_proportions (pandas weighted
    dict sum with NaN-skip semantics)."""
    relevant = _relevant(tile_ring, foreign)
    w = np.r_[
        [geom.intersection_area_convex(f["ring"], tile_ring) for f in relevant]
    ] if relevant else np.array([])
    if len(w) == 0:
        return {}, -1
    w = w / w.sum()
    props = dict(
        (pd.DataFrame([f["props"] for f in relevant]) * w.reshape(-1, 1)).sum(axis=0)
    )
    return props, relevant[int(np.argmax(w))]["id"]


def oracle_split(
    bounds: np.ndarray,
    nbands: int,
    angle: float,
    train_pct: float,
    test_pct: float,
    val_pct: float,
) -> list[str]:
    """Literal translation of PartitionSet.split over tile bounds
    (minx,miny,maxx,maxy) rows."""
    coords = np.stack(
        [
            (3 * bounds[:, 0] + 2 * bounds[:, 2]) / 5,
            (3 * bounds[:, 1] + 2 * bounds[:, 3]) / 5,
        ],
        axis=1,
    )
    cmin = coords.min(axis=0)
    cmax = coords.max(axis=0)
    crng = cmax - cmin
    min_pct = np.min([i for i in [train_pct, test_pct, val_pct] if i != 0])
    bands_train = int(np.round(train_pct / min_pct, 0))
    bands_test = int(np.round(test_pct / min_pct, 0))
    bands_val = int(np.round(val_pct / min_pct, 0))
    if np.abs(angle) < np.pi / 4:
        plon, plat = np.abs(angle) / (np.pi / 4), 1
    else:
        plon, plat = np.sign(angle), (np.pi / 2 - np.abs(angle)) / (np.pi / 4)
    crng[crng == 0] = 1
    ncoords = (coords - cmin) / crng
    if angle < 0:
        ncoords = 1 - ncoords
    for k in np.linspace(0.1, 50, 10000):
        band_id = ((plon * ncoords[:, 0] + plat * ncoords[:, 1]) / (k / nbands)).astype(int)
        band_id = band_id - np.min(band_id)
        if len(np.unique(band_id)) == nbands:
            break
    bands_ids = np.sort(np.unique(band_id))
    splits = ["train"] * bands_train + ["test"] * bands_test + ["val"] * bands_val
    splits = (splits * (len(bands_ids) // len(splits) + 1))[: len(bands_ids)]
    band_split_map = {b: s for b, s in zip(bands_ids, splits)}
    return [band_split_map[i] for i in band_id]


def oracle_split_mode(df: pd.DataFrame, foreign_col: str) -> pd.Series:
    """Literal translation of split_per_partitions' pandas transform."""
    return df.groupby(foreign_col)[["split"]].transform(
        lambda x: pd.Series(x).value_counts().index[0]
    )["split"]
