"""Zonal statistics / label-proportion histograms (``geet lp.compute`` / A1).

Reference semantics (``/root/reference/geetiles/partitions.py:447-468``):
per tile, read its label chip, remap pixel values with the dataset def's
``map_values``, mask pixels outside the tile geometry
(``utils.get_binary_mask``, ``utils.py:199-230``), histogram with
``np.unique(return_counts)`` and normalize to a fraction dict with **string
keys** — ``{'3': 0.41, ...}``.

Spark design: ``tiles ⋈ chips`` equi-join on ``tile_id`` (broadcast or
shuffle-hash — Catalyst picks; at scale both tables are bucketed by tile_id
so the join is co-located), then one ``mapInPandas`` running the vectorized
numpy kernel per Arrow batch.  Output column ``props: map<string,double>``
merged back into the tiles table, replacing the reference's per-command
GeoJSON rewrite (``partitions.py:270-272``).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import geom, raster
from ..sources.chips import decode_payload
from ..sources.datasets import get_dataset_definition

PROPS_SCHEMA = T.StructType(
    [
        T.StructField("tile_id", T.StringType()),
        T.StructField("props", T.MapType(T.StringType(), T.DoubleType())),
    ]
)


def proportions_kernel(
    arr: np.ndarray, ddef, geometry_ring: np.ndarray | None
) -> dict[str, float]:
    """Single-chip zonal-stats kernel (reference loop body, per pixel).

    The fallback of :func:`proportions_batch` for chips it has no value
    table for: dtypes other than uint8/uint16, or a ``map_values`` that does
    not return integers or changes the shape.  The histogram uses
    ``bincount`` instead of the sort-based ``unique`` for small non-negative
    integer dtypes (same values, same ascending key order).  Measured on a
    4-vCPU Xeon VM, 100x100 uint8 ESA chips on box tiles: ~250 us a chip,
    about 4x the batched path in the same run."""
    img = ddef.map_values(arr)
    if geometry_ring is not None:
        mask = raster.get_binary_mask(geometry_ring, img.shape)
        if not mask.all():
            img = img[mask == 1]
    flat = img.ravel()
    if flat.size and flat.dtype.kind in "iu":
        mn = int(flat.min())
        mx = int(flat.max())
        if mn >= 0 and mx < 65536:
            counts = np.bincount(flat, minlength=mx + 1)
            total = flat.size
            return {
                str(int(k)): float(counts[k]) / float(total)
                for k in np.nonzero(counts)[0]
            }
    vals, counts = np.unique(flat, return_counts=True)
    total = counts.sum()
    return {str(k): float(v) / float(total) for k, v in zip(vals.tolist(), counts.tolist())}


def _value_table(ddef, dtype: np.dtype):
    """``ddef.map_values`` over every value of one raw dtype, as the code of
    its mapped value for each raw value plus the string keys of the distinct
    mapped values (ascending).  Exact because ``map_values`` is elementwise
    (``datasets.register``); ``None`` (the per-pixel path) when the map does
    not return integers or changes the shape of its input."""
    raw = np.arange(1 << (8 * dtype.itemsize), dtype=dtype)
    mapped = np.asarray(ddef.map_values(raw))
    if mapped.shape != raw.shape or mapped.dtype.kind not in "iu":
        return None
    values, codes = np.unique(mapped, return_inverse=True)
    return codes, [str(int(v)) for v in values]


def _table_props(pixels: np.ndarray, codes: np.ndarray, keys: list[str]) -> dict[str, float]:
    raw = np.bincount(pixels.ravel())
    counts = np.bincount(codes[: len(raw)], weights=raw, minlength=len(keys))
    total = float(pixels.size)
    nz = np.flatnonzero(counts)
    return {keys[k]: c / total for k, c in zip(nz.tolist(), counts[nz].tolist())}


def proportions_batch(chips: Iterable, rings: list[np.ndarray], ddef) -> list:
    """Label proportions of one Arrow batch: ``chips[i]`` over ``rings[i]``,
    the same dicts as :func:`proportions_kernel`, bit for bit.

    ``chips`` may be a generator, so a batch never holds more than one chip;
    a ``None`` chip (no data) gives ``None``.  Box rings take the whole
    chip (their mask is all ones); other rings mask with
    ``raster.get_binary_mask``.  A uint8/uint16 chip is histogrammed raw
    with one ``bincount`` and the histogram is mapped through a value table
    built once per batch and dtype; ``count / total`` is the float division
    of the per-pixel path.  Other chips take :func:`proportions_kernel`.
    Measured on a 4-vCPU Xeon VM, 100x100 uint8 ESA chips on box tiles:
    ~60 us a chip, WKB ring decoding included (synthesizing one takes about
    as long)."""
    tables: dict = {}
    out = []
    for arr, ring in zip(chips, rings):
        if arr is None:
            out.append(None)
            continue
        if arr.dtype in (np.uint8, np.uint16) and arr.dtype not in tables:
            tables[arr.dtype] = _value_table(ddef, arr.dtype)
        table = tables.get(arr.dtype)
        if table is None:
            out.append(proportions_kernel(arr, ddef, ring))
            continue
        if raster.ring_is_box(ring):  # the mask is all ones
            pixels = arr
        else:
            pixels = arr[raster.get_binary_mask(ring, arr.shape) == 1]
        out.append(_table_props(pixels, *table))
    return out


def _resolve(dataset_name):
    return (
        get_dataset_definition(dataset_name)
        if isinstance(dataset_name, str) else dataset_name
    )


def _rings(wkbs) -> list[np.ndarray]:
    return [geom.wkb_to_polygon(bytes(w)) for w in wkbs]


def compute_proportions(
    tiles: DataFrame, chips: DataFrame, dataset_name: str
) -> DataFrame:
    """lp.compute: per-tile label-proportion map for one label dataset.

    Returns (tile_id, props).  'nodata' chips are skipped (no row), matching
    the reference's missing-file behaviour.

    Plan shape: when the chips table carries the denormalized tile geometry
    (the engine's own chips always do), the stage is **join-free** — one
    mapInPandas scan over chips.  A tiles join here would shuffle the (large)
    payload column: at 100 TB that shuffle is the plan's whole cost, and on
    slow disks it anti-scales (measured 3x regression going 4 -> 16 cores on
    a ~100 MB/s disk).  The legacy join path remains for external chips
    tables without geometry.
    """
    filtered = chips.filter(
        (F.col("dataset") == dataset_name) & (F.col("status") == "ok")
    )
    if "geometry_wkb" in chips.columns:
        joined = filtered.select(
            "tile_id", "geometry_wkb", "payload", "dtype", "height", "width", "bands"
        )
    else:
        joined = tiles.select("tile_id", "geometry_wkb").join(
            filtered.select("tile_id", "payload", "dtype", "height", "width", "bands"),
            on="tile_id",
            how="inner",
        )
    ddef = _resolve(dataset_name)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            chips_it = (
                decode_payload(payload, dtype, int(h), int(w), int(bands))
                for payload, dtype, h, w, bands in zip(
                    pdf["payload"], pdf["dtype"], pdf["height"], pdf["width"], pdf["bands"]
                )
            )
            props = proportions_batch(chips_it, _rings(pdf["geometry_wkb"]), ddef)
            yield pd.DataFrame({"tile_id": pdf["tile_id"], "props": props})

    return joined.mapInPandas(run, PROPS_SCHEMA)


def compute_proportions_fused(
    tiles: DataFrame,
    dataset_name,
    height: int = 100,
    width: int = 100,
) -> DataFrame:
    """lp.compute fused with chip acquisition: synthesize (or fetch) the chip
    and histogram it in the SAME Arrow batch — the payload never crosses the
    JVM<->Python boundary at all.

    Chaining ``generate_chips`` -> ``compute_proportions`` moves every chip
    through Arrow twice (Python->JVM->Python); at 224x224 chips that is
    ~100 KB/tile of pure serialization — measured 3x the kernel cost.  This
    is the plan shape for any produce-then-reduce pair whose intermediate
    isn't being persisted; when chips ARE persisted, write them from this
    same pass (fetch+stats+write in one stage) rather than re-reading.
    """
    ddef = _resolve(dataset_name)
    zero_sum_is_nodata = getattr(ddef, "zero_sum_is_nodata", False)

    def chip(tile_id):
        arr = ddef.synth_chip(tile_id, height, width)
        if arr is None:
            return None
        arr = ddef.post_process_chip(arr)
        if zero_sum_is_nodata and arr.sum() == 0:
            return None
        return arr

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["tile_id"]
            props = proportions_batch(map(chip, ids), _rings(pdf["geometry_wkb"]), ddef)
            keep = [i for i, p in enumerate(props) if p is not None]
            # an empty frame's props column would lose its map dtype and
            # break the Arrow conversion
            if keep:
                yield pd.DataFrame(
                    {"tile_id": ids.iloc[keep].to_numpy(), "props": [props[i] for i in keep]}
                )

    return tiles.select("tile_id", "geometry_wkb").mapInPandas(run, PROPS_SCHEMA)


def expand_props(df: DataFrame, col: str = "props", keys: list[str] | None = None) -> DataFrame:
    """K3 / F7: map column -> one double column per key, fillna(0)
    (``utils.expand_dict_column``, ``utils.py:186-196``).

    ``keys`` defaults to the global key set (one small agg — the Spark
    equivalent of the pandas union-of-dict-keys).
    """
    if keys is None:
        keys = [
            r["k"]
            for r in df.select(F.explode(F.map_keys(F.col(col))).alias("k"))
            .distinct()
            .orderBy("k")
            .collect()
        ]
    exprs = [
        F.coalesce(F.col(col)[k], F.lit(0.0)).alias(f"{col}__{k}") for k in keys
    ]
    return df.select("*", *exprs)
