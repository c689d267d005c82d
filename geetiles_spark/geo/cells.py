"""Hierarchical lon/lat cell index (H3/S2-style, pure numpy, vectorized).

The reference's spatial joins are O(N x M) Python nested loops with no index
(``/root/reference/geetiles/partitions.py:475,495``).  The engine replaces
them with a cell-indexed equi-join: both sides explode to covering cell ids
at a fixed resolution, Spark hash-joins on the cell id, and an exact geometry
refine runs afterwards.  A true H3/S2 library is not available in this
environment, so we use a flat equirectangular grid with a power-of-two
hierarchy — the same join-locality properties for planar lon/lat data, and
trivially vectorizable.

Cell id layout (int64): ``(level << 58) | (ix << 29) | iy`` with
``ix = floor((lon + 180) / cell_deg)``, ``iy = floor((lat + 90) / cell_deg)``
and ``cell_deg = 360 / 2**level``.  Level <= 28 keeps ix within 29 bits.

The Spark joins compute the same ids as JVM column expressions
(``operators/joins.py``: ``point_cell_expr`` and the codegen bbox cover);
:func:`cell_id` and :func:`cover_bbox` here are their numpy references,
which ``tests/test_joins.py`` compares them against.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 28


def cell_size_deg(level: int) -> float:
    return 360.0 / (1 << level)


def level_for_size(target_deg: float) -> int:
    """Smallest level whose cells are still >= target_deg wide."""
    level = int(np.floor(np.log2(360.0 / target_deg)))
    return max(0, min(MAX_LEVEL, level))


def cell_id(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    """Vectorized point -> cell id."""
    size = cell_size_deg(level)
    ix = np.clip(np.floor((np.asarray(lon) + 180.0) / size), 0, (1 << level) - 1)
    iy = np.clip(np.floor((np.asarray(lat) + 90.0) / size), 0, (1 << level) - 1)
    return (
        (np.int64(level) << 58)
        | (ix.astype(np.int64) << 29)
        | iy.astype(np.int64)
    )


def cell_ixiy(cid: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    cid = np.asarray(cid, dtype=np.int64)
    return (cid >> 29) & ((1 << 29) - 1), cid & ((1 << 29) - 1)


def cover_bbox(
    minx: np.ndarray,
    miny: np.ndarray,
    maxx: np.ndarray,
    maxy: np.ndarray,
    level: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Covering cell ids for N bboxes (finite bounds).

    Returns ``(row_index, cell_id)`` pairs.  Vectorized: computes per-box
    cell ranges, then enumerates with a single ragged expansion.  This is
    the numpy reference for the JVM cover the cell joins run
    (``operators.joins._explode_cells``); the engine itself does not call it.
    """
    size = cell_size_deg(level)
    nmax = (1 << level) - 1
    ix0 = np.clip(np.floor((np.asarray(minx) + 180.0) / size), 0, nmax).astype(np.int64)
    ix1 = np.clip(np.floor((np.asarray(maxx) + 180.0) / size), 0, nmax).astype(np.int64)
    iy0 = np.clip(np.floor((np.asarray(miny) + 90.0) / size), 0, nmax).astype(np.int64)
    iy1 = np.clip(np.floor((np.asarray(maxy) + 90.0) / size), 0, nmax).astype(np.int64)

    nx = ix1 - ix0 + 1
    ny = iy1 - iy0 + 1
    counts = nx * ny
    total = int(counts.sum())
    rows = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    # position within each box's cell block
    offs = np.arange(total, dtype=np.int64) - np.repeat(
        np.concatenate([[0], np.cumsum(counts)[:-1]]), counts
    )
    bx = np.repeat(ix0, counts) + offs // np.repeat(ny, counts)
    by = np.repeat(iy0, counts) + offs % np.repeat(ny, counts)
    cids = (np.int64(level) << 58) | (bx << 29) | by
    return rows, cids


def ring_cells(cid: int, ring: int) -> np.ndarray:
    """Cell ids forming the square ring at Chebyshev distance ``ring`` around
    ``cid`` (ring 0 = the cell itself).  Used for kNN ring expansion."""
    level = int(cid >> 58)
    nmax = (1 << level) - 1
    ix = (cid >> 29) & ((1 << 29) - 1)
    iy = cid & ((1 << 29) - 1)
    if ring == 0:
        return np.array([cid], dtype=np.int64)
    xs = []
    ys = []
    r = ring
    for dx in range(-r, r + 1):
        xs += [dx, dx]
        ys += [-r, r]
    for dy in range(-r + 1, r):
        xs += [-r, r]
        ys += [dy, dy]
    bx = np.asarray(xs, dtype=np.int64) + ix
    by = np.asarray(ys, dtype=np.int64) + iy
    ok = (bx >= 0) & (bx <= nmax) & (by >= 0) & (by <= nmax)
    return (np.int64(level) << 58) | (bx[ok] << 29) | by[ok]
