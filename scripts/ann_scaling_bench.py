"""Two-parallelism scaling evidence for the ANN (similarity) stack —
companion to llm_scaling_bench.py (VERDICT r4 next-steps #4 covers the
dedup AND similarity suites).

Job: 10x the sf0.1 embeddings table (20,000 x 64-d; copies are slightly
rotated so clusters stay non-degenerate), commit the IVF index to a
snapshot catalog partitioned by cluster (16 clusters, `ivf_index_commit`),
then serve a 64-query batch probe at nprobe=4 through ONE partition-pruned
scan (`ivf_query_catalog_batch`).  Reported:

* index-build wall (k-means sample + assign + partitioned commit),
* batch-probe wall and queries/s at local[2] vs local[8],
* pruning evidence: files in the probed cluster partitions vs total
  (the scan's PartitionFilters keeps the ratio sub-linear in nprobe).

Same protocol: subprocess per session, warmed workers, per-run steal.
"""

from __future__ import annotations

import json
import subprocess
import sys

_RUN_SRC = r"""
import glob, json, sys, tempfile, time
sys.path.insert(0, "/root/repo")
import numpy as np
from geetiles_spark.session import get_spark

cpus = int(sys.argv[1])
spark = get_spark(app_name=f"ann-scaling-{cpus}", master=f"local[{cpus}]",
                  shuffle_partitions=32)
spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
spark.sparkContext.setLogLevel("ERROR")
def ident(b):
    for pdf in b: yield pdf
spark.range(0, cpus * 4, 1, cpus * 4).mapInPandas(ident, "id long").count()

from pyspark.sql import functions as F
from geetiles_spark.catalog import Catalog
from geetiles_spark.operators import similarity

base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
N = base.count()
# 10 slightly-rotated copies: deterministic, keeps cluster structure
copies = [
    base.select(
        (F.col("vec_id") + F.lit(i * N)).alias("vec_id"),
        F.transform(
            "embedding", lambda x, j: x + F.lit(i * 0.01) * F.cos(j.cast("double"))
        ).alias("embedding"),
    )
    for i in range(10)
]
corpus = copies[0]
for c in copies[1:]:
    corpus = corpus.unionByName(c)
corpus = corpus.repartition(32).cache()
n = corpus.count()

cat = Catalog(tempfile.mkdtemp(prefix=f"ann_scale_{cpus}_"))
t0 = time.time()
C = similarity.ivf_index_commit(spark, cat, corpus, n_clusters=16)
t_build = time.time() - t0

queries = corpus.filter(F.col("vec_id") % 311 == 0).limit(64).select(
    F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
).cache()
nq = queries.count()

# warm probe then timed probe
similarity.ivf_query_catalog_batch(spark, cat, queries.limit(4), k=10, nprobe=4).count()
t0 = time.time()
out = similarity.ivf_query_catalog_batch(spark, cat, queries, k=10, nprobe=4)
rows = out.count()
t_probe = time.time() - t0

total_files = len(glob.glob(cat.snapshot_path("ann_index") + "/cluster=*/*.parquet"))
# pruning evidence: union of probed clusters for batch sizes 1/4/64 — a
# single query reads nprobe/n_clusters of the index; a diverse batch's
# union grows toward full coverage (inherent to union-pruned batching)
qv = np.stack([np.asarray(r["query_vec"], dtype=np.float64) for r in queries.collect()])
mask = similarity._probe(C, qv, 4)  # (n_clusters, n_queries), the probe rule
probed = {bs: int(mask[:, :bs].any(axis=1).sum()) for bs in (1, 4, 64)}
print("RESULT " + json.dumps({
    "cpus": cpus, "n_vectors": n, "n_queries": nq, "result_rows": rows,
    "t_index_build": round(t_build, 2), "t_batch_probe": round(t_probe, 2),
    "queries_per_sec": round(nq / t_probe, 1),
    "probed_clusters_by_batch": probed,
    "n_clusters": 16,
    "files_total": total_files,
}))
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
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    if not line:
        raise RuntimeError(out.stdout[-2000:] + out.stderr[-2000:])
    res = json.loads(line[-1][len("RESULT "):])
    busy = sum(s1) - sum(s0)
    res["steal_pct"] = round(100.0 * (s1[7] - s0[7]) / max(busy, 1), 1)
    return res


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    runs: dict[int, list[dict]] = {2: [], 8: []}
    for rep in range(reps):
        for cpus in (2, 8):
            r = run_once(cpus)
            runs[cpus].append(r)
            print(f"rep{rep} local[{cpus}]: build={r['t_index_build']}s "
                  f"probe={r['t_batch_probe']}s steal={r['steal_pct']}%")
    best = {c: min(rs, key=lambda r: r["t_batch_probe"]) for c, rs in runs.items()}
    eff = best[8]["queries_per_sec"] / (4 * best[2]["queries_per_sec"])
    print(json.dumps({"best": best, "probe_scaling_2_to_8": round(eff, 3)}, indent=1))


if __name__ == "__main__":
    main()
