"""Rasterio-free polygon rasterizer + binary-mask kernel.

Reproduces ``get_binary_mask`` (``/root/reference/geetiles/utils.py:199-230``):
normalize the polygon's exterior coords to [0,1] over the polygon-set bounds,
flip y, scale to (width, height), rasterize with fill=0 / value=1.

The rasterize step mirrors GDAL/rasterio semantics for the default
``all_touched=False``: a pixel is burned when its *center* lies inside the
polygon (even-odd rule).  Implemented as a vectorized scanline at pixel-center
rows.  Fast path: when the geometry equals its own envelope (every grid tile,
``cmds.py:344-357``), the normalized polygon covers the whole raster and the
mask is all ones.
"""

from __future__ import annotations

import numpy as np

from .geom import ring_close


def rasterize_rings(rings: list[np.ndarray], out_shape: tuple[int, int]) -> np.ndarray:
    """Burn value 1 where the pixel center is inside any ring (even-odd)."""
    h, w = out_shape
    mask = np.zeros((h, w), dtype=np.uint8)
    xc = np.arange(w, dtype=np.float64) + 0.5
    for ring in rings:
        ring = ring_close(np.asarray(ring, dtype=np.float64))
        x1, y1 = ring[:-1, 0], ring[:-1, 1]
        x2, y2 = ring[1:, 0], ring[1:, 1]
        for row in range(h):
            yc = row + 0.5
            cond = (y1 <= yc) != (y2 <= yc)
            if not cond.any():
                continue
            xs = x1[cond] + (yc - y1[cond]) * (x2[cond] - x1[cond]) / (
                y2[cond] - y1[cond]
            )
            crossings = (xc[None, :] < xs[:, None]).sum(axis=0)
            mask[row] ^= (crossings % 2).astype(np.uint8)
    return mask


def get_binary_mask(ring: np.ndarray, raster_shape: tuple[int, ...]) -> np.ndarray:
    """Binary mask of a single-exterior-ring geometry over ``raster_shape``.

    Matches ``utils.get_binary_mask`` for simple polygons: coords normalized
    over their own bounds, y flipped, scaled to ``(w, h)``.
    """
    raster_shape = tuple(raster_shape[:2])
    h, w = raster_shape
    ring = ring_close(np.asarray(ring, dtype=np.float64))
    cmin = ring.min(axis=0)
    cmax = ring.max(axis=0)
    rng = cmax - cmin
    # fast path: box geometry == its envelope -> full mask (utils.py:229 burns
    # every pixel because the scaled ring covers the whole canvas)
    if ring_is_box(ring):
        return np.ones(raster_shape, dtype=np.uint8)
    rng = np.where(rng == 0, 1.0, rng)
    norm = (ring - cmin) / rng
    norm[:, 1] = 1.0 - norm[:, 1]
    scaled = norm * np.array([w, h], dtype=np.float64)
    return rasterize_rings([scaled], raster_shape)


def ring_is_box(ring: np.ndarray) -> bool:
    """Whether a ring's vertices (open or closed ring) are the corners of an
    axis-aligned box: 4 distinct points, 2 distinct x, 2 distinct y.

    Counted with Python sets (a few us a ring, against ~75 us for
    ``np.unique``), with ``np.unique``'s equality: ``-0.0 == 0.0``, a point
    with a NaN coordinate is distinct from every other point, and NaN x (or
    y) values count once."""
    pts = set(map(tuple, np.asarray(ring, dtype=np.float64).tolist()))
    if len(pts) != 4:
        return False
    xs = {x if x == x else None for x, _ in pts}
    ys = {y if y == y else None for _, y in pts}
    return len(xs) == 2 and len(ys) == 2
