"""Direct timings of the numpy geo kernels the Spark operators call.

Each kernel runs on a seeded batch in the driver process, three times; the
median is scaled to a fixed element count so the numbers read as seconds
per million (or hundred thousand) elements.
"""

from __future__ import annotations

import time

import numpy as np

import gen
from harness import median


def _time(fn, reps: int = 3) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return median(out)


def kernel_metrics(seed: int, scale: float = 1.0) -> dict:
    from geetiles_spark.geo import geom, hashing, s2, utm

    rng = np.random.default_rng([seed, 404])
    n = int(200_000 * min(scale, 1.0))
    aoi = gen.aoi_ring(seed)
    x0, y0 = aoi[:, 0].min(), aoi[:, 1].min()
    x1, y1 = aoi[:, 0].max(), aoi[:, 1].max()
    lon = rng.uniform(x0, x1, n)
    lat = rng.uniform(y0, y1, n)
    w = rng.uniform(0.005, 0.02, n)
    zone = int(utm.utm_zone(np.float64(lon.mean()), np.float64(lat.mean())))
    star = gen.star_ring(rng, float(lon.mean()), float(lat.mean()), (x1 - x0) / 4)
    pts = np.column_stack([lon, lat])
    chunk = 20_000

    def pip():
        for i in range(0, n, chunk):
            geom.points_in_polygon(pts[i : i + chunk], star)

    m = n / 10  # the box kernels are ~10x costlier per element
    boxes = (lon[: int(m)], lat[: int(m)], lon[: int(m)] + w[: int(m)], lat[: int(m)] + w[: int(m)])
    return {
        "geo.utm.lonlat_to_utm.s_per_1e6": _time(lambda: utm.lonlat_to_utm(lon, lat, zone)) * 1e6 / n,
        "geo.hashing.region_hash_batch.s_per_1e5": _time(lambda: hashing.region_hash_batch(*boxes)) * 1e5 / m,
        "geo.geom.clip_areas_ring_boxes_exact.s_per_1e5": _time(
            lambda: geom.clip_areas_ring_boxes_exact(aoi, *boxes)
        ) * 1e5 / m,
        "geo.s2.cell_id.s_per_1e6": _time(lambda: s2.cell_id(lon, lat, 20)) * 1e6 / n,
        "geo.geom.points_in_polygon.s_per_1e6": _time(pip) * 1e6 / n,
    }
