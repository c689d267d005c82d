"""Zonal label proportions (operators/zonal.py): the fused and chained
operators against each other and against the literal oracle, exactly, on
every dataset def, on box tiles and on clipped (non-box) tiles; plus
digests of the synthetic chips and of the props frozen before the batched
kernel replaced the per-tile one."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from geetiles_spark.geo import geom
from geetiles_spark.operators import grid, zonal
from geetiles_spark.sources import chips as chipsrc
from geetiles_spark.sources import datasets as dsets

from . import oracle

DATASETS = sorted(dsets._REGISTRY)
TILE_SETS = ("box", "clipped")

# sha256 digests taken with the per-tile kernel and the np.kron / rng.choice
# chip synthesis, which the batched kernel must reproduce bit for bit
CHIPS_DIGEST = "e0a18a1eb46cf8d4cdeb5d99a5e39f0c553fdbdf2ba122a99c3aa396311d9781"
PROPS_DIGEST = {
    "box": "5b87da3b755709fde7e33d08ab09a95e7903940625a37fa3ed004695bc72557d",
    "clipped": "af6b44ac1fb22b6a600018cf1d371721da09c2e5c943ae5e0006ec7f104af5ee",
}


@pytest.fixture(scope="module")
def tile_sets(tiles_box, spark, aoi_box):
    return {
        "box": tiles_box,
        "clipped": grid.make_grid_clipped(spark, aoi_box, 500).cache(),
    }


def _collect(df) -> dict[str, dict[str, float]]:
    return {r["tile_id"]: dict(r["props"]) for r in df.collect()}


@pytest.fixture(scope="module")
def props_of(tile_sets):
    """(fused, chained) props of one tile set and dataset, computed once."""
    done = {}

    def get(which: str, name: str):
        if (which, name) not in done:
            tiles = tile_sets[which]
            chips = chipsrc.generate_chips(tiles, name)
            done[which, name] = (
                _collect(zonal.compute_proportions_fused(tiles, name)),
                _collect(zonal.compute_proportions(tiles, chips, name)),
            )
        return done[which, name]

    return get


def _digest(props: dict[str, dict[str, float]]) -> str:
    rows = sorted(
        (t, sorted((k, v.hex()) for k, v in p.items())) for t, p in props.items()
    )
    return hashlib.sha256(repr(rows).encode()).hexdigest()


@pytest.mark.parametrize("which", TILE_SETS)
@pytest.mark.parametrize("name", DATASETS)
def test_fused_equals_chained_and_oracle(tile_sets, props_of, which, name):
    fused, chained = props_of(which, name)
    assert fused == chained
    ddef = dsets.get_dataset_definition(name)
    expected = {}
    for r in tile_sets[which].select("tile_id", "geometry_wkb").collect():
        arr = ddef.synth_chip(r["tile_id"])
        if arr is None:
            continue
        arr = ddef.post_process_chip(arr)
        if getattr(ddef, "zero_sum_is_nodata", False) and arr.sum() == 0:
            continue
        ring = geom.wkb_to_polygon(bytes(r["geometry_wkb"]))
        expected[r["tile_id"]] = oracle.oracle_proportions(arr, ddef, ring)
    assert expected and fused == expected


@pytest.mark.parametrize("which", TILE_SETS)
def test_props_match_frozen_digest(props_of, which):
    got = "".join(_digest(props_of(which, n)[0]) for n in DATASETS)
    assert hashlib.sha256(got.encode()).hexdigest() == PROPS_DIGEST[which]


def test_tile_sets_cover_box_and_non_box(tile_sets):
    from geetiles_spark.geo import raster

    for which, want in (("box", True), ("clipped", False)):
        wkbs = [r["geometry_wkb"] for r in tile_sets[which].select("geometry_wkb").collect()]
        boxes = {raster.ring_is_box(geom.wkb_to_polygon(bytes(w))) for w in wkbs}
        assert boxes == {want}


def test_synth_chips_match_frozen_digest():
    h = hashlib.sha256()
    for name in DATASETS:
        ddef = dsets.get_dataset_definition(name)
        d = hashlib.sha256()
        for i in range(200):
            for hh, ww in ((100, 100), (37, 53)):
                a = ddef.synth_chip(f"t{i:05d}", hh, ww)
                if a is None:
                    d.update(b"none")
                else:
                    d.update(f"{a.dtype.str}{a.shape}".encode())
                    d.update(np.ascontiguousarray(a).tobytes())
        h.update(d.hexdigest().encode())
    assert h.hexdigest() == CHIPS_DIGEST


class _FloatChips(dsets.DatasetDef):
    """float32 chips: no value table, so the per-pixel path runs."""

    name = "floatchips-test"

    def synth_chip(self, tile_id, height=100, width=100):
        rng = np.random.default_rng(dsets.chip_seed(tile_id, self.name))
        return rng.integers(0, 5, size=(height, width)).astype(np.float32)


class _FloatMap(dsets.DatasetDef):
    """uint8 chips whose value map returns floats: per-pixel path too."""

    name = "floatmap-test"

    def map_values(self, array):
        return array.astype(np.float64) / 2

    def synth_chip(self, tile_id, height=100, width=100):
        rng = np.random.default_rng(dsets.chip_seed(tile_id, self.name))
        return rng.integers(0, 7, size=(height, width), dtype=np.uint8)


class _BandPick(dsets.DatasetDef):
    """3-band uint8 chips whose value map keeps band 0: not elementwise, so
    the value table is refused and the per-pixel path runs."""

    name = "bandpick-test"

    def map_values(self, array):
        return array[..., 0]

    def synth_chip(self, tile_id, height=100, width=100):
        rng = np.random.default_rng(dsets.chip_seed(tile_id, self.name))
        return rng.integers(0, 7, size=(height, width, 3), dtype=np.uint8)


@pytest.mark.parametrize(
    "ddef", [_FloatChips(), _FloatMap(), _BandPick(), dsets.HumanPopDef()]
)
def test_batch_kernel_matches_per_pixel_kernel(ddef):
    box = geom.box_ring(6.0, 49.0, 6.01, 49.01)
    tri = np.array([[6.0, 49.0], [6.01, 49.0], [6.0, 49.01], [6.0, 49.0]])
    flat = np.array([[0.0, 0.0], [1.0, 0.0], [0.5, 0.0], [0.0, 0.0]])
    rings = [box, tri, flat, box]
    chips = [ddef.synth_chip(f"t{i}", 40, 30) for i in range(len(rings))]
    got = zonal.proportions_batch(iter(chips), rings, ddef)
    assert got == [zonal.proportions_kernel(a, ddef, r) for a, r in zip(chips, rings)]
    assert got == [oracle.oracle_proportions(a, ddef, r) for a, r in zip(chips, rings)]
    assert got[2] == {}  # a zero-area ring covers no pixel centre


def test_none_chip_gives_none():
    ddef = dsets.get_dataset_definition("esaworldcover-2020")
    box = geom.box_ring(0.0, 0.0, 1.0, 1.0)
    chip = np.full((10, 10), 20, dtype=np.uint8)
    assert zonal.proportions_batch([None, chip], [box, box], ddef) == [None, {"2": 1.0}]
