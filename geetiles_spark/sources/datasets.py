"""Dataset-definition plugin protocol + built-in defs (reference §2.8 parity).

The reference resolves duck-typed plugin classes by name
(``/root/reference/geetiles/utils.py:94-125``) with optional hooks
(``get_dataset_name / get_gee_image / get_dtype / map_values / build /
must_get_gee_image / post_process_tilefile / on_error /
include_chip_in_dataset``).  GEE is not reachable here, so ``get_gee_image``
is replaced by :meth:`DatasetDef.synth_chip` — a deterministic synthetic chip
generator seeded by (tile_id, dataset) that emits the same shapes/dtypes the
real source would (SURVEY §2.1 S7).  In production the generator body is an
external fetch with retry inside the same ``mapInPandas`` stage.
"""

from __future__ import annotations

import hashlib

import numpy as np

from ..geo import maps

ESA_CODES = [0, 10, 20, 30, 40, 50, 60, 70, 80, 90, 95, 100]
ESA_VALUE_MAP = {0: 0, 10: 1, 20: 2, 30: 3, 40: 4, 50: 5, 60: 6, 70: 7, 80: 8, 90: 9, 95: 10, 100: 11}
_ESA_CODES_U8 = np.asarray(ESA_CODES, dtype=np.uint8)


def chip_seed(tile_id: str, dataset: str) -> int:
    return int(hashlib.sha256(f"{dataset}/{tile_id}".encode()).hexdigest()[:16], 16)


def _upsample(coarse: np.ndarray, block: int) -> np.ndarray:
    """Each coarse cell as a block x block patch (``np.kron`` with ones)."""
    return np.repeat(np.repeat(coarse, block, axis=0), block, axis=1)


class DatasetDef:
    """Base plugin. Subclasses override the hooks they need — same duck-typed
    contract as the reference's ``DatasetDefinition`` classes."""

    name = "base"
    dtype = "uint8"
    nodata_rate = 0.0

    def get_dataset_name(self) -> str:
        return self.name

    def get_dtype(self) -> str:
        return self.dtype

    def map_values(self, array: np.ndarray) -> np.ndarray:
        """Pixel value map; must be elementwise (each output pixel depends on
        that input pixel only): zonal stats map a per-dtype value table."""
        return array

    def build(self) -> None:
        """One-time bootstrap hook (``cmds.py:179-181``)."""

    def include_chip_in_dataset(self, chip_dict: dict) -> bool:
        """Final-assembly row filter hook (``cmds.py:527-529``)."""
        return True

    def post_process_chip(self, arr: np.ndarray) -> np.ndarray:
        """Post-download rewrite hook (``gee.py:362-364``)."""
        return arr

    # ---- synthetic source (replaces get_gee_image, SURVEY §2.1 S7) --------

    def synth_chip(self, tile_id: str, height: int = 100, width: int = 100):
        """Deterministic chip (ndarray or None for nodata) for a tile."""
        raise NotImplementedError


class EsaWorldCoverDef(DatasetDef):
    """Label chips — raw ESA codes so ``map_values``
    (``defs/esaworldcover.py:29-30``) is exercised."""

    name = "esaworldcover-2020"
    dtype = "uint8"
    nodata_rate = 0.05

    def map_values(self, array: np.ndarray) -> np.ndarray:
        return maps.apply_value_map(array, dict(ESA_VALUE_MAP))

    def synth_chip(self, tile_id: str, height: int = 100, width: int = 100):
        rng = np.random.default_rng(chip_seed(tile_id, self.name))
        if self.nodata_rate and rng.random() < self.nodata_rate:
            return None
        # spatially-correlated class patches: coarse grid upsampled
        block = 10
        # the draws of rng.choice(codes, size), without its per-call overhead
        coarse = _ESA_CODES_U8[
            rng.integers(0, len(ESA_CODES), size=(height // block + 1, width // block + 1))
        ]
        return _upsample(coarse, block)[:height, :width]


class Sentinel2RgbDef(DatasetDef):
    """Image chips — 3-band uint8, sentinel2-rgb-median analog
    (``defs/sentinel2rgbmedian2020.py``)."""

    name = "sentinel2-rgb-median-2020"
    dtype = "uint8"
    nodata_rate = 0.0

    def synth_chip(self, tile_id: str, height: int = 100, width: int = 100):
        rng = np.random.default_rng(chip_seed(tile_id, self.name))
        base = rng.integers(0, 256, size=(height, width, 3), dtype=np.uint8)
        return base


class TreeCoverDef(DatasetDef):
    """Range-map labels (``defs/treecover2020.py:22-24``)."""

    name = "treecover-2020"
    dtype = "uint8"

    def map_values(self, array: np.ndarray) -> np.ndarray:
        return maps.apply_range_map(array, [20, 40, 60, 80])

    def synth_chip(self, tile_id: str, height: int = 100, width: int = 100):
        rng = np.random.default_rng(chip_seed(tile_id, self.name))
        block = 20
        coarse = rng.integers(0, 101, size=(height // block + 1, width // block + 1))
        return _upsample(coarse, block)[:height, :width].astype(np.uint8)


class HumanPopDef(DatasetDef):
    """uint16 range-map labels with the include-hook
    (``defs/humanpop2015.py``)."""

    name = "humanpop-2015"
    dtype = "uint16"

    def map_values(self, array: np.ndarray) -> np.ndarray:
        return maps.apply_range_map(array, list(range(1, 300, 10)))

    def synth_chip(self, tile_id: str, height: int = 100, width: int = 100):
        rng = np.random.default_rng(chip_seed(tile_id, self.name))
        return rng.integers(0, 500, size=(height, width), dtype=np.uint16)


class S1GrdDef(DatasetDef):
    """SAR backscatter analog with the dB->uint8 post-process (F17,
    ``defs/s1grd.py:80-100``): clip dB to [-30, 0], scale to [0, 255]."""

    name = "s1grd-2020"
    dtype = "uint8"

    def synth_chip(self, tile_id: str, height: int = 100, width: int = 100):
        rng = np.random.default_rng(chip_seed(tile_id, self.name))
        # synthetic backscatter in dB, [-35, 5]
        return rng.uniform(-35.0, 5.0, size=(height, width)).astype(np.float32)

    def post_process_chip(self, arr: np.ndarray) -> np.ndarray:
        db = np.clip(arr, -30.0, 0.0)
        return ((db + 30.0) / 30.0 * 255.0).astype(np.uint8)


class FloodLikeDef(DatasetDef):
    """Flood-catalog analog exercising the zero-sum band drop (A5,
    ``defs/globalfloods.py:114-150``): chips whose pixels all sum to zero
    become 'nodata' rows (the engine's ``.nodata`` marker equivalent)."""

    name = "globalfloods-2020"
    dtype = "uint8"

    zero_sum_is_nodata = True  # A5: generate stage turns all-zero chips into 'nodata'

    def synth_chip(self, tile_id: str, height: int = 100, width: int = 100):
        rng = np.random.default_rng(chip_seed(tile_id, self.name))
        if rng.random() < 0.3:
            # dry tile: all-zero -> the zero-sum check marks it nodata
            return np.zeros((height, width), dtype=np.uint8)
        return (rng.random((height, width)) < 0.1).astype(np.uint8)


def parse_year_month(dataset_name: str) -> tuple[str, str]:
    """F15 (``defs/s1grdobs.py:21-40``): split 'name-YYYYMM', validate the
    month range, raise the reference's error message on any malformation."""
    msg = "dataset must be year and month, for instance 's1grdobs-202201' for jan 2022"
    name_split = dataset_name.split("-")
    if len(name_split) != 2:
        raise ValueError(f"dataset must be year, month, for instance 's1grdobs-202201' for jan 2022")
    yearmonth = name_split[1]
    if len(yearmonth) != 6:
        raise ValueError(msg)
    year, month = yearmonth[:4], yearmonth[4:]
    try:
        _year = int(year)
        _month = int(month)
        if _month < 1 or _month > 12:
            raise ValueError(f"invalid month {_month}. {msg}")
    except Exception:
        raise ValueError(msg) from None
    return year, month


class S1GrdObsDef(DatasetDef):
    """Monthly SAR observation-count def (``defs/s1grdobs.py``): the dataset
    name encodes year+month ('s1grdobs-YYYYMM'), parsed and validated at
    resolution time (F15); chips are uint8 observation counts."""

    name = "s1grdobs-202001"
    dtype = "uint8"

    def __init__(self, dataset_name: str | None = None):
        if dataset_name is not None:
            self.name = dataset_name
        self.year, self.month = parse_year_month(self.name)

    def synth_chip(self, tile_id: str, height: int = 100, width: int = 100):
        rng = np.random.default_rng(chip_seed(tile_id, self.name))
        return rng.integers(0, 12, size=(height, width), dtype=np.uint8)


def pattern_seed(tile_id: str, dataset: str) -> int:
    """48-bit deterministic seed (hex-prefix of the same sha256 recipe as
    :func:`chip_seed`) — small enough for exact BIGINT arithmetic in a SQL
    oracle (functions/tm_sql.add_hex_prefix_int re-derives it in DuckDB)."""
    return int(hashlib.sha256(f"{dataset}/{tile_id}".encode()).hexdigest()[:12], 16)


class PatternLabelDef(DatasetDef):
    """SQL-expressible label chips: 10x10-px blocks whose ESA code index is
    ``(seed + bx + 31*by) % 12`` — same spatially-correlated shape as
    :class:`EsaWorldCoverDef` but with a closed-form pixel function, so the
    zonal-stats contract query gets a full DuckDB oracle
    (functions/oracle_sql.zonal_pattern_oracle_sql)."""

    name = "patternlabels-2020"
    dtype = "uint8"
    block = 10

    def map_values(self, array: np.ndarray) -> np.ndarray:
        return maps.apply_value_map(array, dict(ESA_VALUE_MAP))

    def synth_chip(self, tile_id: str, height: int = 100, width: int = 100):
        s = pattern_seed(tile_id, self.name)
        by = np.arange(height)[:, None] // self.block
        bx = np.arange(width)[None, :] // self.block
        idx = (s + bx + 31 * by) % 12
        return np.asarray(ESA_CODES, dtype=np.uint8)[idx]


class PatternImageDef(DatasetDef):
    """SQL-expressible 3-band image chips: ``(seed + 3*px + 7*py + 11*b) %
    256`` — gives image_stats a full DuckDB oracle."""

    name = "patternimage-2020"
    dtype = "uint8"

    def synth_chip(self, tile_id: str, height: int = 100, width: int = 100):
        s = pattern_seed(tile_id, self.name)
        py = np.arange(height)[:, None, None]
        px = np.arange(width)[None, :, None]
        b = np.arange(3)[None, None, :]
        return ((s + 3 * px + 7 * py + 11 * b) % 256).astype(np.uint8)


def s2_cloud_median_visualize(
    raw_stack: np.ndarray,
    qa_stack: np.ndarray,
    scale: float = 10000.0,
    vis_max: float = 0.3,
) -> np.ndarray:
    """F16 — the reference's GEE server-side compositing expression
    (``defs/sentinel2rgbmedian2020.py:17-38``) as a local numpy kernel:

    * QA60 bits 10 (cloud) and 11 (cirrus) must BOTH be zero for a clear
      observation (``qa.bitwiseAnd(mask).eq(0)``);
    * per pixel per band, the median over the clear observations of the
      stack (``ImageCollection.median()`` ignores masked pixels);
    * reflectance = value / ``scale`` (``divide(10000)``);
    * ``visualize(min=0, max=vis_max)`` -> uint8 via
      ``min(255, floor(v / vis_max * 255))`` (documented divergence: GEE's
      exact visualize rounding is unobservable without GEE; floor is the
      deterministic engine-neutral choice, reproduced by the SQL oracle);
    * pixels with NO clear observation stay masked in GEE — rendered 0.

    ``raw_stack``: (n_images, H, W, bands) integer reflectance*scale;
    ``qa_stack``: (n_images, H, W) QA60 words.  Returns (H, W, bands) uint8.
    """
    cloud_bit, cirrus_bit = 1 << 10, 1 << 11
    clear = ((qa_stack & cloud_bit) == 0) & ((qa_stack & cirrus_bit) == 0)
    vals = np.where(clear[..., None], raw_stack.astype(np.float64), np.nan)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN slices
        med = np.nanmedian(vals, axis=0)  # (H, W, bands)
    byte = np.minimum(255.0, np.floor(med / scale / vis_max * 255.0))
    return np.where(np.isnan(med), 0, byte).astype(np.uint8)


class S2CloudMedianDef(DatasetDef):
    """F16 end-to-end over a SQL-expressible synthetic stack: a 5-image
    time series with closed-form reflectance and QA60 cloud/cirrus bits,
    fused by :func:`s2_cloud_median_visualize` — the masking/median/
    visualize semantics the reference delegates to the GEE server, made
    observable (contract query ``s2_cloud_median_chips`` re-derives every
    byte in DuckDB).  The GEE FETCH itself remains environment-documented
    (no earthengine credentials here); this def replaces it with the same
    deterministic-source pattern as every other synthetic def (S7)."""

    name = "s2cloudmedian-2020"
    dtype = "uint8"
    n_images = 5
    bands = 3

    def synth_stack(self, tile_id: str, height: int, width: int):
        """(raw (n,H,W,3) int64, qa (n,H,W) uint16) — closed forms:
        raw = (seed + 3*px + 7*py + 11*b + 97*i) % 4001 (reflectance*1e4);
        cloud bit iff (seed + 13*px + 29*py + 53*i) % 7 == 0;
        cirrus bit iff (seed + 17*px + 31*py + 59*i) % 11 == 0."""
        s = pattern_seed(tile_id, self.name)
        i = np.arange(self.n_images)[:, None, None, None]
        py = np.arange(height)[None, :, None, None]
        px = np.arange(width)[None, None, :, None]
        b = np.arange(self.bands)[None, None, None, :]
        raw = (s + 3 * px + 7 * py + 11 * b + 97 * i) % 4001
        i2, py2, px2 = i[..., 0], py[..., 0], px[..., 0]
        qa = np.where(
            (s + 13 * px2 + 29 * py2 + 53 * i2) % 7 == 0, 1 << 10, 0
        ) | np.where((s + 17 * px2 + 31 * py2 + 59 * i2) % 11 == 0, 1 << 11, 0)
        return raw.astype(np.int64), qa.astype(np.uint16)

    def synth_chip(self, tile_id: str, height: int = 100, width: int = 100):
        raw, qa = self.synth_stack(tile_id, height, width)
        return s2_cloud_median_visualize(raw, qa)


_REGISTRY: dict[str, type[DatasetDef]] = {
    EsaWorldCoverDef.name: EsaWorldCoverDef,
    Sentinel2RgbDef.name: Sentinel2RgbDef,
    TreeCoverDef.name: TreeCoverDef,
    HumanPopDef.name: HumanPopDef,
    S1GrdDef.name: S1GrdDef,
    FloodLikeDef.name: FloodLikeDef,
    PatternLabelDef.name: PatternLabelDef,
    PatternImageDef.name: PatternImageDef,
    S1GrdObsDef.name: S1GrdObsDef,
    S2CloudMedianDef.name: S2CloudMedianDef,
}


def _instantiate(cls: type[DatasetDef], name: str) -> DatasetDef:
    """Defs whose ctor takes the dataset name (monthly/seasonal: F15) get
    it — reference duck-typing at ``utils.py:104-110``; plain defs fall back
    to the no-arg ctor + name assignment."""
    try:
        return cls(name)
    except TypeError:
        d = cls()
        d.name = name
        return d


def get_dataset_definition(name: str) -> DatasetDef:
    """Resolve a dataset def by name, with the reference's prefix fallback
    (``utils.py:98-102``); arbitrary user classes register via
    :func:`register`."""
    if name in _REGISTRY:
        return _instantiate(_REGISTRY[name], name)
    prefix = name.split("-")[0]
    for key, cls in _REGISTRY.items():
        if key.split("-")[0] == prefix:
            return _instantiate(cls, name)
    raise ValueError(f"dataset {name} not found")


def register(cls: type[DatasetDef]) -> type[DatasetDef]:
    """Register a dataset def by its ``name``.  Its ``map_values`` must be
    elementwise (each output pixel depends on that input pixel only): zonal
    stats apply it to a table of every raw uint8/uint16 value, not to the
    chip."""
    _REGISTRY[cls.name] = cls
    return cls
