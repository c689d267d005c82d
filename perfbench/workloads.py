"""The three benchmark workloads.

Each workload generates its inputs from the seed, materializes them before
any span opens, and runs closed-loop passes: one client, and each call into
the engine starts only after the previous one returned.  A call's output is
forced by a noop-format write, so a span covers the call and the work it
causes.  Correctness checks run between calls, outside every span.
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd

import gen
from harness import count_and_digest, force, median, quantile, refine_input_rows


def _dir_stats(path: str, only_new: bool = False) -> tuple[int, int]:
    """(data files, bytes) under ``path``; ``only_new`` skips hard-linked
    files (partitions a scoped merge carried over without rewriting)."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, n))
            if only_new and st.st_nlink > 1:
                continue
            files += 1
            size += st.st_size
    return files, size


WARM_SCALE = 0.25  # input size of the warm-up, as a share of the measured one


class Workload:
    """Shared pass bookkeeping.  Subclasses fill ``setup`` and ``run_pass``;
    a pass returns {"wall", "rows", "calls"}: the summed call seconds, the
    rows of work it did, and the latencies of its queries (the reads of
    ``spatial_store``; the whole pass for the batch workloads, where one
    pass is what a user asks for).  ``scale`` sizes every input."""

    name = ""
    warm_passes = 1
    # another workload whose passes a traced run of this one also runs, to
    # measure layers that no workload of the benchmark's own calls
    layer_probe: str | None = None

    def __init__(self, spark, seed: int, work: str, scale: float = 1.0):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.scale = scale
        self.attempted = 0
        self.failed = 0
        self.labels: dict = {}
        self.commit_s: list[float] = []
        self.store_bpr: list[float] = []
        self.digests: dict = {}

    def op(self, tr, name, build, *metrics):
        """Span ``name``: build the DataFrame and force it; returns
        (df, observed metrics, seconds)."""
        held = {}

        def run():
            held["df"] = build()
            return force(held["df"], *metrics)

        obs, dt = tr.call(name, run)
        self.attempted += 1
        return held["df"], obs, dt

    def warm(self) -> None:
        """Passes of a second, quarter-size instance of this workload,
        outside the measured window: worker start-up, imports and most JIT
        land here.  The instance, with its counters and outputs, is thrown
        away.  The first measured pass still runs 10-20% slow (as it did
        after a full-size warm-up, which costs ~5 s more), so the medians
        over at least three passes absorb it."""
        from harness import Tracer

        w = type(self)(self.spark, self.seed, os.path.join(self.work, "warm"), self.scale * WARM_SCALE)
        w.setup()
        for k in range(self.warm_passes):
            w.run_pass(Tracer(self.spark, labels=False), k)

    def expect(self, ok: bool) -> None:
        """Count one correctness check; a mismatch counts as a failed op."""
        self.attempted += 1
        if not ok:
            self.failed += 1

    def e2e(self, passes: list[dict], setup_s: float) -> dict:
        calls = [c for p in passes for c in p["calls"]]  # reads, or whole passes
        return {
            "setup_s": setup_s,
            "wall_s": median(p["wall"] for p in passes),
            "rows_per_s": median(p["rows"] / p["wall"] for p in passes),
            "query_s.p50": quantile(calls, 0.5),
            "query_s.p90": quantile(calls, 0.9),
            "write_s": median(self.commit_s),
            "store_bytes_per_row": median(self.store_bpr),
        }


def _by_name(spans, name):
    return [s for s in spans if s["name"] == name]


def span_layers(spans: list[dict], groups: dict, spec: dict) -> dict:
    """Per-layer medians over the calls of each span name.  ``spec`` maps
    span name -> quantities to report; event-log quantities come from the
    span's job group, the rest from the values workloads noted on spans."""
    out = {}
    for name, quantities in spec.items():
        calls = _by_name(spans, name)
        for q in quantities:
            if q == "self_s":
                v = median(s["s"] for s in calls)
            elif q in ("jobs", "shuffle_bytes", "spill_bytes", "python_s", "max_task_ratio"):
                v = median(groups.get(s["id"], {}).get(q, 0.0) for s in calls)
            else:
                v = median(s[q] for s in calls if q in s)
            out[f"{name}.{q}"] = float(v)
    return out


# ------------------------------------------------------------------ geo_tiles


class GeoTiles(Workload):
    """AOI -> UTM grid -> fused chip zonal proportions -> random foreign
    partitions -> argmax intersect join.  The tile set is also committed
    to a catalog, outside the pass wall, for ``write_s``."""

    name = "geo_tiles"
    layer_probe = "spatial_store"
    LAYER_SPEC = {
        "grid.make_grid": ("self_s", "python_s", "tiles", "jobs"),
        "zonal.compute_proportions_fused": ("self_s", "python_s", "rows"),
        "random_parts.make_random_partitions": ("self_s",),
        "joins.intersect_join_cells": (
            "self_s", "python_s", "jobs", "shuffle_bytes", "candidate_pairs", "refine_keep_ratio",
        ),
    }

    def setup(self) -> None:
        from geetiles_spark.catalog import Catalog

        p = gen.AOI_PARAMS
        km2 = p["target_km2"] * self.scale
        self.aoi = gen.aoi_ring(self.seed, km2)
        self.chip_m = p["chip_m"]
        # rectangles shrink with the AOI, so the foreign part count stays put
        self.rect_m = p["foreign_rect_m"] * self.scale ** 0.5
        self.catalog = Catalog(os.path.join(self.work, "geo_catalog"))
        self.labels.update(
            {
                "params": dict(p, target_km2=km2, foreign_rect_m=self.rect_m),
                "aoi_vertices": int(len(self.aoi) - 1),
                "aoi_km2": round(gen.ring_area_km2(self.aoi), 3),
                "aoi_centre": [round(float(self.aoi[:, 0].mean()), 4), round(float(self.aoi[:, 1].mean()), 4)],
            }
        )

    def run_pass(self, tr, k: int) -> dict:
        from pyspark.sql import functions as F

        from geetiles_spark.operators import grid, joins, random_parts, zonal

        spark, aoi = self.spark, self.aoi
        n = F.count(F.lit(1)).alias("n")
        tiles, o_t, t_grid = self.op(tr, "grid.make_grid", lambda: grid.make_grid(spark, aoi, self.chip_m), n)
        tr.note(tiles=o_t["n"])
        _, o_z, t_zonal = self.op(
            tr, "zonal.compute_proportions_fused",
            lambda: zonal.compute_proportions_fused(tiles, "esaworldcover-2020"), n,
        )
        tr.note(rows=o_z["n"])
        foreign, o_rp, t_rp = self.op(
            tr, "random_parts.make_random_partitions",
            lambda: random_parts.make_random_partitions(spark, aoi, self.rect_m, seed=self.seed), n,
        )
        _, o_j, t_join = self.op(
            tr, "joins.intersect_join_cells",
            lambda: joins.intersect_join_cells(tiles, foreign), n, *self.subset_digest(),
        )
        wall = t_grid + t_zonal + t_rp + t_join
        snap, t_commit = tr.call("catalog.write", self.catalog.write, tiles, "tiles")
        self.attempted += 1
        self.commit_s.append(t_commit)
        self.store_bpr.append(_dir_stats(self.catalog.snapshot_path("tiles", snap))[1] / max(o_t["n"], 1))
        # untimed checks: a left join keeps every tile once, and on a seeded
        # tile subset it agrees with the broadcast implementation
        self.expect(o_j["n"] == o_t["n"])
        if k == 0:
            self.check_subset(tiles, foreign, o_j)
            self.labels["tiles"] = int(o_t["n"])
            self.labels["foreign_parts"] = int(o_rp["n"])
            self.labels["zonal_rows"] = int(o_z["n"])
        return {"wall": wall, "rows": o_t["n"] + o_j["n"], "calls": [wall]}

    def in_subset(self):
        """The seeded 1/20 tile subset the join is checked on."""
        from pyspark.sql import functions as F

        return F.pmod(F.xxhash64("tile_id", F.lit(self.seed)), F.lit(20)) == 0

    def subset_digest(self):
        """observe() aggregates: row count and order-free digest of the
        (tile_id, foreign_id) rows of the subset tiles, so the measured join
        output is checked without keeping or recomputing it."""
        from pyspark.sql import functions as F

        h = F.xxhash64("tile_id", "foreign_id").cast("decimal(38,0)")
        return (
            F.count(F.when(self.in_subset(), 1)).alias("sub_n"),
            F.coalesce(F.sum(F.when(self.in_subset(), h)), F.lit(0)).alias("sub_digest"),
        )

    def check_subset(self, tiles, foreign, observed) -> None:
        from geetiles_spark import cache
        from geetiles_spark.operators import joins

        with cache.persist_scope():  # keeps the check's persists out of the pass's count
            bcast = joins.intersect_join_broadcast(tiles.where(self.in_subset()), foreign)
            o = force(bcast, *count_and_digest(["tile_id", "foreign_id"]))
        self.labels["check_subset_tiles"] = int(o["n"])
        self.expect(o["n"] > 0 and (o["n"], o["digest"]) == (observed["sub_n"], observed["sub_digest"]))

    def layer_metrics(self, spans, groups) -> dict:
        for s in _by_name(spans, "joins.intersect_join_cells"):
            rows_in, rows_out = refine_input_rows(groups.get(s["id"], {}).get("nodes", []))
            s["candidate_pairs"] = rows_in
            s["refine_keep_ratio"] = rows_out / rows_in if rows_in else 0.0
        return span_layers(spans, groups, self.LAYER_SPEC)


# --------------------------------------------------------------- corpus_dedup


class CorpusDedup(Workload):
    """Document and embedding dedup: MinHash-LSH candidates, exact n-gram
    Jaccard, ExactSubstr spans and blocked cosine pairs."""

    name = "corpus_dedup"
    LAYER_SPEC = {
        "dedup.lsh_candidate_pairs": ("self_s", "jobs", "shuffle_bytes", "pairs", "max_task_ratio"),
        "dedup.ngram_jaccard_pairs": (
            "self_s", "jobs", "shuffle_bytes", "spill_bytes", "pairs", "max_task_ratio",
        ),
        "dedup.exact_substr_spans": ("self_s", "jobs", "shuffle_bytes"),
        "similarity.cosine_pairs": ("self_s", "python_s", "pairs"),
    }

    def setup(self) -> None:
        """Generate the corpus and commit it to a fresh catalog; the
        operators read it back from parquet, as they would in production."""
        from geetiles_spark.catalog import Catalog

        params = gen.scaled_corpus_params(self.scale)
        docs, emb = gen.corpus(self.seed, params)
        root = os.path.join(self.work, "corpus_catalog")
        shutil.rmtree(root, ignore_errors=True)
        cat = Catalog(root)
        t0 = time.perf_counter()
        cat.write(self.spark.createDataFrame(docs), "documents")
        cat.write(self.spark.createDataFrame(emb), "embeddings")
        self.commit_s.append(time.perf_counter() - t0)
        size = sum(_dir_stats(cat.snapshot_path(t))[1] for t in ("documents", "embeddings"))
        self.store_bpr.append(size / (len(docs) + len(emb)))
        self.docs = cat.read(self.spark, "documents")
        self.emb = cat.read(self.spark, "embeddings")
        self.n_docs, self.n_vec = len(docs), len(emb)
        self.labels.update(
            {
                "params": params,
                "docs": self.n_docs,
                "embeddings": self.n_vec,
                "doc_tokens": int(docs["text"].str.count(" ").sum() + len(docs)),
            }
        )

    def run_pass(self, tr, k: int) -> dict:
        from geetiles_spark.operators import dedup, similarity

        docs, emb = self.docs, self.emb
        hot = self.labels["params"]["hot_threshold"]
        ops = [
            ("dedup.lsh_candidate_pairs",
             lambda: dedup.lsh_candidate_pairs(docs, shingle_n=5, num_hashes=8, bands=4, hot_bucket_size=hot),
             ["doc_a", "doc_b"]),
            ("dedup.ngram_jaccard_pairs",
             lambda: dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5, hot_doc_freq=hot),
             ["doc_a", "doc_b", "jaccard"]),
            ("dedup.exact_substr_spans",
             lambda: dedup.exact_substr_spans(docs, k=8),
             ["doc_id", "span_start", "span_len", "n_windows"]),
            ("similarity.cosine_pairs",
             lambda: similarity.cosine_pairs(emb, 0.4, n_hint=self.n_vec),
             ["id_a", "id_b", "cos_sim"]),
        ]
        calls = []
        for name, build, cols in ops:
            _, o, dt = self.op(tr, name, build, *count_and_digest(cols))
            tr.note(pairs=o["n"])
            calls.append(dt)
            # the sorted pair set (as an order-free digest) must not change
            # from pass to pass
            first = self.digests.setdefault(name, (o["n"], o["digest"]))
            self.expect(first == (o["n"], o["digest"]) and o["n"] > 0)
            if k == 0:
                self.labels[f"{name}.rows_out"] = int(o["n"])
        wall = sum(calls)
        return {"wall": wall, "rows": self.n_docs, "calls": [wall]}

    def layer_metrics(self, spans, groups) -> dict:
        return span_layers(spans, groups, self.LAYER_SPEC)


# -------------------------------------------------------------- spatial_store


class SpatialStore(Workload):
    """Points in a catalog, written once and then upserted, with a burst of
    short AOI, polygon, point-in-polygon and kNN reads after every commit.
    Pass 0 makes the S2-clustered write; every later pass makes one
    partition-scoped merge."""

    name = "spatial_store"
    warm_passes = 2  # the write and the merge path
    LAYER_SPEC = {
        "joins.point_in_polygon_join": ("self_s", "jobs"),
        "joins.knn_join_cells": ("self_s", "jobs"),
        "spatial_store.spatial_cluster_write": ("self_s", "files", "bytes"),
        "spatial_store.read_aoi": ("self_s", "jobs"),
        "spatial_store.read_aoi_polygon": ("self_s", "python_s"),
        "catalog.merge_upsert": ("self_s", "bytes_written", "rewritten_partitions", "linked_partitions"),
    }

    def materialize(self, pdf: pd.DataFrame):
        df = self.spark.createDataFrame(pdf).persist()
        df.count()
        return df

    def setup(self) -> None:
        from geetiles_spark.catalog import Catalog

        params = gen.scaled_store_params(self.scale)
        pts = gen.store_points(self.seed, params)
        if hasattr(self, "points"):
            self.points.unpersist()
        self.points = self.materialize(pts)
        self.params, self.truth, self.next_id = params, pts, len(pts)
        self.reads = gen.read_stream(self.seed, 8 * len(gen.READ_PATTERN), pts["lon"].to_numpy(), pts["lat"].to_numpy())
        self.next_read = 0
        root = os.path.join(self.work, "store")
        shutil.rmtree(root, ignore_errors=True)
        self.cat = Catalog(root)
        self.labels.update({"params": params, "points": len(pts)})

    def read(self, tr, cat, req, truth) -> tuple[float, int]:
        from pyspark.sql import functions as F

        from geetiles_spark.operators import joins, spatial_store

        spark, kind = self.spark, req["kind"]
        h = req["half"]
        bbox = (req["lon"] - h, req["lat"] - 0.7 * h, req["lon"] + h, req["lat"] + 0.7 * h)
        n = F.count(F.lit(1)).alias("n")

        def near():
            return spatial_store.read_aoi(cat, spark, "pts", *bbox)

        if kind == "read_aoi":
            df, o, dt = self.op(tr, "spatial_store.read_aoi", near, n)
            tr.note(rows=o["n"], table_files=_dir_stats(cat.snapshot_path("pts"))[0])
            self.check_aoi(df, bbox, truth)
        elif kind == "read_aoi_polygon":
            ring = req["rings"][0]
            _, o, dt = self.op(
                tr, "spatial_store.read_aoi_polygon",
                lambda: spatial_store.read_aoi_polygon(cat, spark, "pts", ring), n,
            )
        elif kind == "point_in_polygon_join":
            polys = spark.createDataFrame(_polys_pdf(req["rings"]))
            _, o, dt = self.op(
                tr, "joins.point_in_polygon_join",
                lambda: joins.point_in_polygon_join(near(), polys, id_col="id"), n,
            )
        else:
            _, o, dt = self.op(
                tr, "joins.knn_join_cells",
                lambda: joins.knn_join_cells(near(), req["queries"], k=10), n,
            )
            x0, y0, x1, y1 = bbox
            inside = int(((truth["lon"] >= x0) & (truth["lon"] <= x1)
                          & (truth["lat"] >= y0) & (truth["lat"] <= y1)).sum())
            self.expect(o["n"] == min(10, inside) * len(req["queries"]))
        return dt, int(o["n"])

    def check_aoi(self, df, bbox, truth) -> None:
        """A pruned read must equal a plain bbox filter of the expected rows."""
        x0, y0, x1, y1 = bbox
        got = df.select("id", "v").toPandas().sort_values("id").reset_index(drop=True)
        sel = truth[(truth["lon"] >= x0) & (truth["lon"] <= x1) & (truth["lat"] >= y0) & (truth["lat"] <= y1)]
        want = sel[["id", "v"]].sort_values("id").reset_index(drop=True)
        self.expect(len(got) == len(want) and bool((got.to_numpy() == want.to_numpy()).all()))

    def commit(self, tr, k: int) -> tuple[float, int]:
        """Pass 0: the clustered write; later passes: merge batch k - 1.
        Returns (seconds, rows written)."""
        from geetiles_spark.operators import spatial_store

        cat, level = self.cat, self.params["part_level"]
        if k == 0:
            snap, dt = tr.call(
                "spatial_store.spatial_cluster_write",
                spatial_store.spatial_cluster_write, cat, "pts", self.points, part_level=level,
            )
            files, size = _dir_stats(cat.snapshot_path("pts", snap))
            tr.note(files=files, bytes=size)
            self.attempted += 1
            return dt, len(self.truth)
        batch = gen.merge_batch(self.seed, k - 1, self.truth, self.next_id, self.params)
        self.next_id = max(self.next_id, int(batch["id"].max()) + 1)
        df = self.materialize(batch)
        delta = spatial_store.with_s2_keys(df, part_level=level)
        snap, dt = tr.call("catalog.merge_upsert", cat.merge_upsert, self.spark, delta, "pts", ["s2_part", "id"])
        df.unpersist()
        self.attempted += 1
        meta = cat.commit_meta("pts", snap)
        tr.note(
            bytes_written=_dir_stats(cat.snapshot_path("pts", snap), only_new=True)[1],
            rewritten_partitions=meta.get("rewritten_partitions", 0),
            linked_partitions=meta.get("linked_partitions", 0),
        )
        prev = self.truth
        self.truth = pd.concat([prev[~prev["id"].isin(batch["id"])], batch], ignore_index=True)
        return dt, len(batch)

    def run_pass(self, tr, k: int) -> dict:
        """One commit, then one cycle of the read pattern against it."""
        commit_s, rows = self.commit(tr, k)
        self.commit_s.append(commit_s)
        live = len(self.truth)
        self.expect(self.cat.read(self.spark, "pts").count() == live)
        self.store_bpr.append(_dir_stats(self.cat.snapshot_path("pts"))[1] / live)
        read_s = []
        for _ in range(self.params["reads_per_commit"]):
            req = self.reads[self.next_read % len(self.reads)]
            self.next_read += 1
            dt, n = self.read(tr, self.cat, req, self.truth)
            read_s.append(dt)
            rows += n
        self.labels.update(reads=self.next_read, merges=k, rows_after_merges=live)
        return {"wall": commit_s + sum(read_s), "rows": rows, "calls": read_s}

    def layer_metrics(self, spans, groups) -> dict:
        from harness import node_rows

        out = span_layers(spans, groups, self.LAYER_SPEC)
        files_read = files_total = scanned = returned = 0.0
        for s in _by_name(spans, "spatial_store.read_aoi"):
            nodes = groups.get(s["id"], {}).get("nodes", [])
            files_read += node_rows(nodes, "Scan parquet", "number of files read")
            scanned += node_rows(nodes, "Scan parquet")
            files_total += s.get("table_files", 0)
            returned += s.get("rows", 0)
        out["spatial_store.read_aoi.files_read_frac"] = files_read / files_total if files_total else 0.0
        out["spatial_store.read_aoi.rows_scanned_per_row"] = scanned / returned if returned else 0.0
        return out


def _polys_pdf(rings) -> pd.DataFrame:
    from geetiles_spark.geo import geom

    rows = []
    for i, r in enumerate(rings):
        rows.append(
            {
                "row_idx": i,
                "tile_id": f"poly{i}",
                "geometry_wkb": geom.polygon_to_wkb(r),
                "minx": float(r[:, 0].min()),
                "miny": float(r[:, 1].min()),
                "maxx": float(r[:, 0].max()),
                "maxy": float(r[:, 1].max()),
            }
        )
    return pd.DataFrame(rows)


WORKLOADS = {w.name: w for w in (GeoTiles, CorpusDedup, SpatialStore)}
