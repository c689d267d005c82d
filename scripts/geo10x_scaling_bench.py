"""Geo north-star pipeline at ~10x tiles, two parallelism levels
(VERDICT r5 #4 — the mirror of the r5 LLM-stack 10x work).

The r4/r5 scaling number (0.987 at 2->8, BENCH/BASELINE.md) ran the
Luxembourg pipeline at 100 m (~263k tiles).  This runs the SAME pipeline
— UTM grid -> fused synthetic chip + zonal proportions -> cell-indexed
argmax intersect join — at 32 m: **~2.57M tiles, 10x the grid rows, 10x
the cell-join shuffle rows**, with the zonal chip size reduced 320->96 px
so total pixel work stays ~constant.  That isolates the question r5 left
open: does the SHUFFLE side (grid rows, cell join, AQE behavior) hold at
10x row volume, separately from the numpy kernel already measured at
0.82-0.99?

Per config the script also runs an untimed diagnostic pass reporting the
cell join's final partition count and max per-partition output share —
whether AQE's coalescing/skew handling keeps the join balanced at 10x.

The AOI is Luxembourg when installed, else the committed stand-in
(``bench.bench_aoi``; each RESULT records which).

Protocol identical to scripts/scaling_bench.py (fresh subprocess + JVM
per run, warmed Python workers, interleaved reps, per-run /proc/stat
steal).  Run EXCLUSIVELY; results go to BENCH/BASELINE.md round-6
section.
"""

from __future__ import annotations

import json
import subprocess
import sys

CHIP_SIZE_M = 32
ZONAL_PX = 96

_RUN_SRC = r"""
import json, sys, time
sys.path.insert(0, "/root/repo")
from geetiles_spark.geo import wkt
from geetiles_spark.operators import grid as gridop, joins, random_parts, zonal
from geetiles_spark.session import get_spark

cpus = int(sys.argv[1]); chip = int(sys.argv[2]); px = int(sys.argv[3])
spark = get_spark(app_name=f"geo10x-{cpus}", master=f"local[{cpus}]",
                  shuffle_partitions=cpus * 4)
spark.sparkContext.setLogLevel("ERROR")
def ident(b):
    for pdf in b: yield pdf
spark.range(0, cpus * 4, 1, cpus * 4).mapInPandas(ident, "id long").count()

from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

import bench
aoi_name, aoi_path = bench.bench_aoi()
aoi = wkt.load_ring(aoi_path)
t0 = time.time()
tiles = gridop.make_grid(spark, aoi, chip, num_partitions=cpus * 8)
n_tiles = tiles.count()
props = zonal.compute_proportions_fused(tiles, "esaworldcover-2020",
                                        height=px, width=px)
foreign = random_parts.make_random_partitions(spark, aoi, 20000, seed=11)
j1 = joins.intersect_join_cells(tiles, foreign)
obs_p, obs_j = Observation(), Observation()
props_o = props.observe(obs_p, F.count(F.lit(1)).alias("n"))
j1_o = j1.observe(obs_j, F.count(F.lit(1)).alias("n"))
props_o.select(F.lit(1).alias("k")).unionByName(
    j1_o.select(F.lit(1).alias("k"))
).count()
n_props = int(obs_p.get["n"]); n_join = int(obs_j.get["n"])
wall = time.time() - t0
rows = n_tiles + n_props + n_join

# untimed diagnostic: cell-join balance under AQE at this parallelism
hist = (j1.groupBy(F.spark_partition_id().alias("p"))
          .agg(F.count(F.lit(1)).alias("n")).collect())
max_share = round(max(r["n"] for r in hist) / max(n_join, 1), 4)

print("RESULT " + json.dumps({
    "cpus": cpus, "aoi": aoi_name, "wall_sec": round(wall, 2), "n_tiles": n_tiles,
    "n_props": n_props, "n_join": n_join, "rows": rows,
    "throughput_rows_per_sec": round(rows / wall, 1),
    "join_final_partitions": len(hist),
    "join_max_partition_share": max_share,
}))
spark.stop()
"""


def _cpu_stat():
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:]))


def run_once(cpus: int) -> dict:
    s0 = _cpu_stat()
    out = subprocess.run(
        [sys.executable, "-c", _RUN_SRC, str(cpus), str(CHIP_SIZE_M),
         str(ZONAL_PX)],
        capture_output=True, text=True, timeout=1800,
    )
    s1 = _cpu_stat()
    d = [b - a for a, b in zip(s0, s1)]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    if not line:
        raise RuntimeError(out.stdout[-2000:] + out.stderr[-2000:])
    res = json.loads(line[-1][len("RESULT "):])
    res["steal_pct"] = round(100.0 * d[7] / max(sum(d), 1), 1)
    return res


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    runs: dict[int, list[dict]] = {2: [], 8: []}
    for rep in range(reps):
        for cpus in (2, 8):
            r = run_once(cpus)
            runs[cpus].append(r)
            print(f"rep{rep} local[{cpus}]: {r['wall_sec']}s "
                  f"steal={r['steal_pct']}% "
                  f"tput={r['throughput_rows_per_sec']}", flush=True)
    best = {c: min(rs, key=lambda r: r["wall_sec"]) for c, rs in runs.items()}
    eff = best[8]["throughput_rows_per_sec"] / (
        4 * best[2]["throughput_rows_per_sec"])
    print(json.dumps({
        "best": best,
        "scaling_efficiency_2_to_8_raw": round(eff, 3),
    }, indent=1))


if __name__ == "__main__":
    main()
