"""High-level commands mirroring the reference CLI verbs (``geet ...``).

Each command is one reference entry point re-expressed over the catalog
(``/root/reference/geetiles/main.py`` dispatch -> ``cmds.py``):

| geet verb        | command here        | reference            |
|------------------|---------------------|----------------------|
| grid             | cmd_grid            | cmds.py:294-369      |
| random           | cmd_random          | cmds.py:207-219      |
| select           | cmd_select          | cmds.py:372-400      |
| download         | cmd_download        | cmds.py:87-205       |
| lp.compute       | cmd_lp_compute      | cmds.py:49-60        |
| intersect        | cmd_intersect       | partitions.py:296    |
| lp.from_foreign  | cmd_lp_from_foreign | cmds.py:62-74        |
| split            | cmd_split           | main.py:167-176      |
| zip.dataset      | cmd_dataset         | cmds.py:402-575      |
| mosaic           | cmd_mosaic          | cmds.py:629-702      |

Where the reference appends columns to one GeoJSON file and re-saves
(hash-guarded), these commands MERGE columns into the catalog's tiles table
— same information flow, transactional.  Column names keep the reference's
conventions: ``{dataset}_proportions``, ``{dataset}_proportions_at_{fname}``,
``foreignid_{fname}``, ``split``/``split_{fname}``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..catalog import Catalog
from ..operators import assemble, grid, joins, mosaic, random_parts
from ..operators import select as selectop
from ..operators import split as splitop
from ..operators import zonal
from ..sources import chips as chipsrc


def scoped(fn):
    """Run a command inside a cache.persist_scope: operator-level persists
    (grid tiles, join pairs, LSH band rows) release when the command ends,
    so a long CLI session never accumulates cached RDDs."""
    import functools

    @functools.wraps(fn)
    def wrapper(*a, **k):
        with cache.persist_scope():
            return fn(*a, **k)

    return wrapper


@scoped
def cmd_grid(
    spark: SparkSession, cat: Catalog, aoi_ring: np.ndarray,
    chip_size_meters: float, name: str = "aschips",
) -> str:
    tiles = grid.make_grid(spark, aoi_ring, chip_size_meters)
    snap = cat.save_partitionset(spark, tiles, f"tiles_{name}")
    cat.log_metrics(spark, job=f"grid:{name}", stage="tiles",
                    df_out=cat.read(spark, f"tiles_{name}"))
    return snap


@scoped
def cmd_random(
    spark: SparkSession, cat: Catalog, aoi_ring: np.ndarray,
    max_rectangle_size: float, name: str, seed: int = 42,
) -> str:
    tiles = random_parts.make_random_partitions(
        spark, aoi_ring, max_rectangle_size, seed=seed
    )
    return cat.save_partitionset(spark, tiles, f"tiles_{name}")


@scoped
def cmd_select(
    spark: SparkSession, cat: Catalog, geoms: DataFrame,
    aoi_ring: np.ndarray, name: str,
) -> str:
    tiles = selectop.select_partitions(geoms, aoi_ring)
    return cat.save_partitionset(spark, tiles, f"tiles_{name}")


@scoped
def cmd_download(
    spark: SparkSession, cat: Catalog, tiles_name: str, dataset: str,
    max_downloads: int | None = None, shuffle: bool = True, seed: int = 42,
    height: int = 100, width: int = 100,
) -> int:
    """Chip acquisition with the reference's queue semantics: optional
    seeded shuffle + limit (gee.py:196-199), resumable anti-join skip."""
    tiles = cat.read(spark, f"tiles_{tiles_name}")
    if shuffle or max_downloads is not None:
        tiles = joins.shuffle_limit(tiles, max_downloads, seed)
    return chipsrc.ingest_chips_resumable(
        spark, cat, tiles, dataset, table=f"chips_{tiles_name}",
        height=height, width=width,
    )


def _merge_column(
    spark: SparkSession, cat: Catalog, table: str, new_cols: DataFrame
) -> str:
    """Append/replace columns keyed by tile_id — the reference's column
    assignment + hash-guarded save (partitions.py:270-272, 220-228)."""
    cur = cat.read(spark, table)
    drop = [c for c in new_cols.columns if c != "tile_id" and c in cur.columns]
    merged = cur.drop(*drop).join(new_cols, "tile_id", "left")
    return cat.save_partitionset_guarded(spark, merged, table)


@scoped
def cmd_lp_compute(
    spark: SparkSession, cat: Catalog, tiles_name: str, labels_dataset: str
) -> str:
    tiles = cat.read(spark, f"tiles_{tiles_name}")
    chips = cat.read(spark, f"chips_{tiles_name}")
    props = zonal.compute_proportions(tiles, chips, labels_dataset)
    col = f"{labels_dataset}_proportions"
    return _merge_column(
        spark, cat, f"tiles_{tiles_name}",
        props.select("tile_id", F.col("props").alias(col)),
    )


@scoped
def cmd_intersect(
    spark: SparkSession, cat: Catalog, tiles_name: str, foreign_name: str
) -> str:
    tiles = cat.read(spark, f"tiles_{tiles_name}")
    foreign = cat.read(spark, f"tiles_{foreign_name}")
    j1 = joins.intersect_join_cells(tiles, foreign)
    return _merge_column(
        spark, cat, f"tiles_{tiles_name}",
        j1.select("tile_id", F.col("foreign_id").alias(f"foreignid_{foreign_name}")),
    )


@scoped
def cmd_lp_from_foreign(
    spark: SparkSession, cat: Catalog, tiles_name: str, foreign_name: str,
    labels_dataset: str,
) -> str:
    tiles = cat.read(spark, f"tiles_{tiles_name}")
    foreign = cat.read(spark, f"tiles_{foreign_name}").withColumnRenamed(
        f"{labels_dataset}_proportions", "props"
    )
    j2 = joins.foreign_proportions_cells(tiles, foreign)
    pcol = f"{labels_dataset}_proportions_at_{foreign_name}"
    return _merge_column(
        spark, cat, f"tiles_{tiles_name}",
        j2.select(
            "tile_id",
            F.col("props_at_foreign").alias(pcol),
            F.col("foreign_id").alias(f"foreignid_{foreign_name}"),
        ),
    )


@scoped
def cmd_split(
    spark: SparkSession, cat: Catalog, tiles_name: str, nbands: int,
    angle: float, train_pct: float, test_pct: float, val_pct: float,
    foreign_name: str | None = None,
) -> str:
    tiles = cat.read(spark, f"tiles_{tiles_name}")
    with_split = splitop.split(tiles, nbands, angle, train_pct, test_pct, val_pct)
    cols = with_split.select("tile_id", "split")
    snap = _merge_column(spark, cat, f"tiles_{tiles_name}", cols)
    if foreign_name is not None:
        cur = cat.read(spark, f"tiles_{tiles_name}")
        modded = splitop.split_per_partitions(
            cur, f"foreignid_{foreign_name}", "split", f"split_{foreign_name}"
        )
        snap = cat.save_partitionset_guarded(spark, modded, f"tiles_{tiles_name}")
    return snap


@scoped
def cmd_dataset(
    spark: SparkSession, cat: Catalog, tiles_name: str,
    images_dataset: str, labels_dataset: str | None, foreign_name: str | None = None,
) -> str:
    tiles = cat.read(spark, f"tiles_{tiles_name}")
    chips = cat.read(spark, f"chips_{tiles_name}")
    props = None
    foreign = None
    split_col = tiles.select("tile_id", "split") if "split" in tiles.columns else None
    if labels_dataset and f"{labels_dataset}_proportions" in tiles.columns:
        props = tiles.select(
            "tile_id", F.col(f"{labels_dataset}_proportions").alias("props")
        )
    if foreign_name is not None:
        pcol = f"{labels_dataset}_proportions_at_{foreign_name}"
        foreign = tiles.select(
            "tile_id",
            F.col(f"foreignid_{foreign_name}").alias("foreign_id"),
            (F.col(pcol) if pcol in tiles.columns else F.lit(None).cast("map<string,double>")).alias("props_at_foreign"),
        )
    ds = assemble.assemble_dataset(
        tiles, chips, images_dataset, labels_dataset,
        props=props, foreign=foreign, split_col=split_col,
    )
    return cat.write(ds, f"dataset_{tiles_name}_{images_dataset}")


@scoped
def cmd_mosaic(
    spark: SparkSession, cat: Catalog, tiles_name: str, dataset: str,
    meters_per_pixel: float,
) -> tuple[str, dict]:
    chips = cat.read(spark, f"chips_{tiles_name}").filter(
        F.col("dataset") == dataset
    )
    blocks, meta = mosaic.mosaic_blocks(chips, meters_per_pixel)
    snap = cat.write(blocks, f"mosaic_{tiles_name}_{dataset}", meta={"mosaic": meta})
    return snap, meta
