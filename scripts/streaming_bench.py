"""Streaming-path throughput at two parallelism levels (VERDICT r5 #7).

The batch suite has per-query numbers (bench.py) and scaling evidence
(scaling_bench.py, llm_scaling_bench.py); the streaming path never had a
number.  This times the two streaming flagships under the same protocol
(subprocess-isolated sessions, warmed Python workers, interleaved reps,
per-run /proc/stat steal):

* ``stream_sessionize`` — the stateful ``applyInPandasWithState``
  sessionizer over 10x the driver's sf0.1 events table (1,000,000
  events: 10 deterministic copies with disjoint user/event id ranges so
  state cardinality scales too) streamed as 24 files at
  maxFilesPerTrigger=8 (3 micro-batches).  Reports rows/s per trigger
  and the state store's row count and memory footprint from each
  trigger's ``stateOperators`` progress.
* ``stream_chip_zonal`` — the foreachBatch geo-ingest rollup (tile files
  -> synthetic chips -> zonal proportions -> catalog MERGE) over a
  Luxembourg 250 m grid (~43k tiles; else the committed stand-in AOI,
  per ``bench.bench_aoi``, recorded as ``aoi``) streamed as 8 files at
  maxFilesPerTrigger=2.

A first protocol attempt at 1x (100k events / 10k tiles) measured
~equal walls at local[2] and local[8] — per-trigger fixed cost
(micro-batch planning, checkpoint + snapshot commits, state-store
bookkeeping), not streamed compute; the 10x sizing makes the per-trigger
compute dominate so the measurement answers the scaling question.

Per-trigger metrics come from a StreamingQueryListener capturing every
progress event (recentProgress truncates past ~100 entries; the listener
never drops one).  Writes nothing; the caller records results in
BENCH/STREAMING.md.  Run EXCLUSIVELY (hypervisor steal).
"""

from __future__ import annotations

import json
import subprocess
import sys

_RUN_SRC = r"""
import json, os, shutil, sys, tempfile, threading, time
sys.path.insert(0, "/root/repo")
cpus = int(sys.argv[1])

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from geetiles_spark.geo import wkt
from geetiles_spark.operators import grid as gridop
from geetiles_spark.session import get_spark
from geetiles_spark.streaming import ingest
from geetiles_spark.catalog import Catalog

spark = get_spark(app_name=f"streambench-{cpus}", master=f"local[{cpus}]",
                  shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")

def ident(b):
    for pdf in b: yield pdf
spark.range(0, cpus * 4, 1, cpus * 4).mapInPandas(ident, "id long").count()


class ProgressTap(StreamingQueryListener):
    def __init__(self):
        self.triggers = []
        self._lock = threading.Lock()
    def onQueryStarted(self, e): pass
    def onQueryIdle(self, e): pass
    def onQueryTerminated(self, e): pass
    def onQueryProgress(self, e):
        p = json.loads(e.progress.json)
        if p.get("numInputRows", 0) == 0:
            return
        t = {
            "rows": p["numInputRows"],
            "ms": p["durationMs"].get("triggerExecution"),
        }
        ops = p.get("stateOperators") or []
        if ops:
            t["state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops)
            t["state_mb"] = round(
                sum(o.get("memoryUsedBytes", 0) for o in ops) / 1e6, 3)
        with self._lock:
            self.triggers.append(t)


def timed(job, tap):
    t0 = time.time()
    n = job()
    wall = time.time() - t0
    trig = sorted(tap.triggers, key=lambda t: -t["rows"])
    return {
        "rows": n, "wall_sec": round(wall, 2),
        "rows_per_sec": round(n / wall, 1),
        "n_triggers": len(tap.triggers),
        "per_trigger_rows_per_sec": [
            round(1000.0 * t["rows"] / t["ms"], 1) for t in tap.triggers if t["ms"]
        ],
        **({"max_state_rows": max(t.get("state_rows", 0) for t in tap.triggers),
            "max_state_mb": max(t.get("state_mb", 0.0) for t in tap.triggers)}
           if any("state_rows" in t for t in tap.triggers) else {}),
    }


out = {"cpus": cpus}
with tempfile.TemporaryDirectory() as td:
    # --- sessionizer over 10x sf0.1 events, 24 files -> 3 batches ------
    edir = os.path.join(td, "events")
    base = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
    ten = base.crossJoin(spark.range(10).select(F.col("id").alias("copy"))).select(
        (F.col("event_id") + F.col("copy") * 10_000_000).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("copy") * 10_000_000).alias("user_id"),
        "event_type", "value", "props",
    )
    ten.repartition(24).write.parquet(edir)
    tap = ProgressTap(); spark.streams.addListener(tap)
    out["sessionize"] = timed(
        lambda: ingest.stream_sessionize(
            spark, edir, os.path.join(td, "sess_out"),
            os.path.join(td, "sess_ck"), max_files_per_trigger=8),
        tap)
    spark.streams.removeListener(tap)

    # --- chip->zonal rollup over a 250 m Luxembourg grid --------------
    import bench
    aoi_name, aoi_path = bench.bench_aoi()
    aoi = wkt.load_ring(aoi_path)
    tiles = gridop.make_grid(spark, aoi, 250, num_partitions=cpus * 4)
    tdir = os.path.join(td, "tiles")
    tiles.repartition(8).write.parquet(tdir)
    n_tiles = spark.read.parquet(tdir).count()
    tap = ProgressTap(); spark.streams.addListener(tap)
    cat = Catalog(os.path.join(td, "cat"))
    out["chip_zonal"] = timed(
        lambda: ingest.stream_chip_zonal(
            spark, tdir, cat, os.path.join(td, "cz_ck"),
            max_files_per_trigger=2),
        tap)
    out["chip_zonal"]["n_tiles"] = n_tiles
    out["chip_zonal"]["aoi"] = aoi_name
    spark.streams.removeListener(tap)

print("RESULT " + json.dumps(out))
spark.stop()
"""


def _cpu_stat():
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:]))


def run_once(cpus: int) -> dict:
    s0 = _cpu_stat()
    out = subprocess.run(
        [sys.executable, "-c", _RUN_SRC, str(cpus)],
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
            print(f"rep{rep} local[{cpus}]: "
                  f"sess {r['sessionize']['wall_sec']}s "
                  f"zonal {r['chip_zonal']['wall_sec']}s "
                  f"steal={r['steal_pct']}%", flush=True)
    best = {
        c: min(rs, key=lambda r: r["sessionize"]["wall_sec"]
               + r["chip_zonal"]["wall_sec"])
        for c, rs in runs.items()
    }
    eff = {
        job: round(
            best[8][job]["rows_per_sec"] / (4 * best[2][job]["rows_per_sec"]), 3)
        for job in ("sessionize", "chip_zonal")
    }
    print(json.dumps({"best": best, "scaling_efficiency_2_to_8": eff}, indent=1))


if __name__ == "__main__":
    main()
