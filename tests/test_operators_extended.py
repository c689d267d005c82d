"""Tests for mosaic, assembly, select, streaming ingest, multimodal and the
dedup/similarity scale-path operators."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geetiles_spark.geo import geom
from geetiles_spark.operators import (
    assemble,
    dedup,
    joins,
    mosaic,
    multimodal,
    select as selectop,
    similarity,
    zonal,
)
from geetiles_spark.operators import split as splitop
from geetiles_spark.sources import chips as chipsrc

from . import assert_salted_pair_join, capture_side_a


class TestMosaic:
    def test_blocks_cover_all_tiles(self, spark, tiles_box):
        ch = chipsrc.generate_chips(tiles_box, "esaworldcover-2020")
        blocks, meta = mosaic.mosaic_blocks(ch, meters_per_pixel=20)
        pdf = blocks.toPandas()
        assert len(pdf) > 0
        canvas = mosaic.stitch_blocks(pdf, meta)
        assert canvas.shape == (meta["dim_y"], meta["dim_x"])
        # most of the canvas is covered by non-zero pixels (grid tiles tile
        # the AOI bbox almost completely; ESA codes include 0 so "covered"
        # means > 50%)
        assert (canvas != 0).mean() > 0.5

    def test_rotate_nn_identity(self):
        img = np.arange(36, dtype=np.uint8).reshape(6, 6)
        np.testing.assert_array_equal(mosaic.rotate_nn(img, 0.0), img)
        r90 = mosaic.rotate_nn(img, 90.0)
        assert r90.shape == img.shape
        # rotating by 90 four times returns interior pixels to start
        r = img
        for _ in range(4):
            r = mosaic.rotate_nn(r, 90.0)
        np.testing.assert_array_equal(r[1:-1, 1:-1], img[1:-1, 1:-1])

    def test_resize_nn(self):
        img = np.arange(16, dtype=np.uint8).reshape(4, 4)
        out = mosaic.resize_nn(img, (8, 8))
        assert out.shape == (8, 8)
        np.testing.assert_array_equal(out[::2, ::2], img)


class TestAssemble:
    def test_dataset_rows(self, spark, tiles_box, foreign_box):
        img_ds = "sentinel2-rgb-median-2020"
        lbl_ds = "esaworldcover-2020"
        chips = chipsrc.generate_chips(tiles_box, img_ds).unionByName(
            chipsrc.generate_chips(tiles_box, lbl_ds)
        )
        props = zonal.compute_proportions(tiles_box, chips, lbl_ds)
        fj = joins.foreign_proportions_cells(tiles_box, foreign_box)
        sp = splitop.split(tiles_box, 8, 0.3, 0.5, 0.3, 0.2).select("tile_id", "split")
        ds = assemble.assemble_dataset(
            tiles_box, chips, img_ds, lbl_ds, props=props, foreign=fj, split_col=sp
        )
        rows = ds.collect()
        n_img = chips.filter(
            (F.col("dataset") == img_ds) & (F.col("status") == "ok")
        ).count()
        assert len(rows) == n_img
        r = rows[0]
        chip = np.frombuffer(r["chip"], dtype=np.int16).reshape(
            r["chip_height"], r["chip_width"], r["chip_bands"]
        )
        assert chip.shape == (100, 100, 3)
        if r["label"] is not None:
            lbl = np.frombuffer(r["label"], dtype=np.int16).reshape(
                r["label_height"], r["label_width"]
            )
            # esaworldcover map_values outputs class indices 0..11
            assert lbl.max() <= 11
        assert r["split"] in ("train", "test", "val")
        assert r["foreign_id"] is not None
        # center parity: mean of closed envelope ring
        t = tiles_box.filter(F.col("tile_id") == r["chip_id"]).first()
        assert r["center_lon"] == pytest.approx((3 * t["minx"] + 2 * t["maxx"]) / 5)
        assert r["corner_nw_lat"] == t["maxy"]

    def test_include_hook_filters(self, spark, tiles_box):
        from geetiles_spark.sources.datasets import DatasetDef, register

        @register
        class RejectAllDef(DatasetDef):
            name = "rejectall-2020"
            def synth_chip(self, tile_id, height=100, width=100):
                import numpy as np
                return np.zeros((height, width), dtype=np.uint8)
            def include_chip_in_dataset(self, chip_dict):
                return False

        chips = chipsrc.generate_chips(tiles_box, "rejectall-2020")
        ds = assemble.assemble_dataset(tiles_box, chips, "rejectall-2020", "rejectall-2020")
        assert ds.count() == 0

    def test_splits_projection(self, spark, tiles_box):
        sp = splitop.split(tiles_box, 8, 0.3, 0.5, 0.3, 0.2)
        proj = assemble.save_splits_projection(sp)
        assert set(proj.columns) == {"tile_id", "split"}


class TestSelect:
    def test_select_partitions(self, spark, aoi_box):
        # three geometries: inside, overlapping, far away
        inside = geom.box_ring(6.095, 49.695, 6.105, 49.705)
        overlap = geom.box_ring(6.11, 49.71, 6.13, 49.73)
        far = geom.box_ring(8.0, 50.0, 8.1, 50.1)
        pdf = pd.DataFrame(
            {"geom_wkb": [geom.polygon_to_wkb(g) for g in (inside, overlap, far)]}
        )
        geoms = spark.createDataFrame(pdf)
        out = selectop.select_partitions(geoms, aoi_box).collect()
        assert len(out) == 2
        for r in out:
            assert len(r["tile_id"]) == 13
            assert r["area_km2"] > 0


class TestStreaming:
    def test_available_now_incremental(self, spark, tiles_box, tmp_path):
        from geetiles_spark.sources import docs as docsrc
        from geetiles_spark.streaming import ingest

        docs_dir = str(tmp_path / "docs")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        d1 = docsrc.generate_docs(tiles_box.limit(10), ["esaworldcover-2020"])
        d1.write.mode("append").parquet(docs_dir)
        n1 = ingest.stream_media_refs(spark, docs_dir, sink, ckpt)
        assert n1 > 0
        got1 = spark.read.parquet(sink).count()
        assert got1 > 0
        # second pass with no new files: nothing reprocessed
        ingest.stream_media_refs(spark, docs_dir, sink, ckpt)
        assert spark.read.parquet(sink).count() == got1
        # drop new docs -> only the delta is processed
        d2 = docsrc.generate_docs(tiles_box.limit(20), ["sentinel2-rgb-median-2020"])
        d2.write.mode("append").parquet(docs_dir)
        ingest.stream_media_refs(spark, docs_dir, sink, ckpt)
        got2 = spark.read.parquet(sink).count()
        assert got2 > got1

    def test_watermarked_hourly_windows(self, spark, tmp_path):
        """Streaming twin of events_hourly: append-mode watermarked windows
        close exactly once and match the batch aggregation for every window
        the watermark has passed."""
        from pyspark.sql import functions as F

        from geetiles_spark.streaming import ingest

        events_dir = str(tmp_path / "events")
        sink = str(tmp_path / "esink")
        ckpt = str(tmp_path / "eckpt")
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        ev.write.mode("append").parquet(events_dir)
        n = ingest.stream_events_hourly(spark, events_dir, sink, ckpt)
        assert n == ev.count()
        got = spark.read.parquet(sink)
        # append mode: only windows older than (max ts - 1 hour) have closed
        import datetime

        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        cutoff = max_ts - datetime.timedelta(hours=1)
        exp = (
            ev.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 6).alias("sum_value"),
            )
            .filter(F.col("hour_start") < F.date_trunc("hour", F.lit(cutoff)))
        )
        gotf = got.filter(F.col("hour_start") < F.date_trunc("hour", F.lit(cutoff)))
        assert gotf.count() == exp.count() and exp.count() > 0
        assert (
            gotf.exceptAll(exp).count() == 0 and exp.exceptAll(gotf).count() == 0
        )
        # idempotent: re-trigger with no new files appends nothing
        ingest.stream_events_hourly(spark, events_dir, sink, ckpt)
        assert spark.read.parquet(sink).count() == got.count()

    def test_stateful_sessionize_matches_batch(self, spark, tmp_path):
        """applyInPandasWithState sessionizer: the emitted set must EQUAL
        the batch events_sessions rows that are final w.r.t. the final
        watermark (end + gap <= max_ts - 1h); later sessions legitimately
        still sit in the state store."""
        import __spark_entry__ as E
        from pyspark.sql import functions as F

        from geetiles_spark.streaming import ingest

        events_dir = str(tmp_path / "events")
        sink = str(tmp_path / "ssink")
        ckpt = str(tmp_path / "sckpt")
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        ev.write.mode("append").parquet(events_dir)
        n = ingest.stream_sessionize(spark, events_dir, sink, ckpt)
        assert n == ev.count()
        got = {
            (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
            for r in spark.read.parquet(sink).collect()
        }
        batch = E.queries()["events_sessions"](spark, "/root/testdata/sf0.001")
        max_us = ev.agg(
            F.max(F.unix_micros(F.col("ts").cast("timestamp")))
        ).collect()[0][0]
        # Spark tracks event-time stats at ms granularity
        wm_us = (max_us // 1000 - 3_600_000) * 1000
        gap_us = 30 * 60 * 10**6
        exp = {
            (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
            for r in batch.filter(F.col("end_us") + gap_us <= wm_us).collect()
        }
        assert exp, "fixture must contain watermark-final sessions"
        assert got == exp

    def test_sessionize_out_of_order_across_batches(self, spark, tmp_path):
        """ADVICE r2 (medium): events arriving in a LATER micro-batch that
        are older than the held session must re-segment exactly like the
        batch sort — extending a session's start backwards, splitting off an
        earlier separate session, and filling an interior gap that merges
        two otherwise-split sessions."""
        import datetime
        import os
        import time

        from pyspark.sql import functions as F

        from geetiles_spark.streaming import ingest

        base = datetime.datetime(2024, 3, 1, 12, 0, 0)

        def ev(eid, uid, minutes):
            return (
                eid, base + datetime.timedelta(minutes=minutes), uid, "c", 1.0, "{}"
            )

        cols = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        # watermark delay 4h keeps the file-2 stragglers admissible after
        # file 1 (wm = 60min - 240min < -10min), then the file-3 sentinel
        # pushes the final watermark to 1500-240 = 1260min so every u1/u2
        # session is watermark-final and flushes via timeout.
        # file 1: u1 @ +0,+10; u2 @ +60
        # file 2 (later batch, older events): u1 @ +5 (interior), u1 @ -10
        #   (extends start back: gap(-10 -> 0) = 10min <= 30); u2 @ +0 (60min
        #   before its held session -> separate earlier session)
        f1 = [ev(1, 1, 0), ev(2, 1, 10), ev(3, 2, 60)]
        f2 = [ev(5, 1, 5), ev(6, 1, -10), ev(7, 2, 0)]
        f3 = [ev(8, 9, 1500)]
        events_dir = tmp_path / "events"
        events_dir.mkdir()
        for i, rows in enumerate([f1, f2, f3]):
            p = str(events_dir / f"f{i}")
            spark.createDataFrame(rows, cols).coalesce(1).write.parquet(p)
            # file stream orders batches by modification time: force ordering
            t = time.time() - 300 + i * 60
            for root, _, files in os.walk(p):
                for fn in files:
                    os.utime(os.path.join(root, fn), (t, t))
        sink = str(tmp_path / "osink")
        ckpt = str(tmp_path / "ockpt")
        ingest.stream_sessionize(
            spark, str(events_dir) + "/*", sink, ckpt,
            gap_minutes=30, watermark="4 hours", max_files_per_trigger=1,
        )
        got = {
            (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
            for r in spark.read.parquet(sink)
            .filter(F.col("user_id") != 9)
            .collect()
        }

        def us(minutes):
            return int(
                (base + datetime.timedelta(minutes=minutes))
                .replace(tzinfo=datetime.timezone.utc)
                .timestamp()
                * 1e6
            )

        exp = {
            (1, us(-10), us(10), 4),  # -10,0,5,10 one session (global sort)
            (2, us(0), us(0), 1),     # separate earlier session for u2
            (2, us(60), us(60), 1),
        }
        assert got == exp


class TestMultimodal:
    def test_image_stats(self, spark, tiles_box):
        ch = chipsrc.generate_chips(tiles_box, "sentinel2-rgb-median-2020")
        stats = multimodal.image_stats(ch).collect()
        assert len(stats) == tiles_box.count()
        for r in stats:
            assert 0 <= r["mean"] <= 255
            assert r["min"] >= 0 and r["max"] <= 255

    def test_resize_chips(self, spark, tiles_box):
        ch = chipsrc.generate_chips(tiles_box, "esaworldcover-2020")
        out = multimodal.resize_chips(ch, 25, 25).first()
        assert out["height"] == 25 and out["width"] == 25
        arr = np.frombuffer(out["payload"], dtype=np.uint8)
        assert len(arr) == 25 * 25

    def test_unknown_codec_raises(self, spark, tiles_box):
        # jpeg/png are REAL decode branches since r5 — webp still isn't
        ch = chipsrc.generate_chips(tiles_box.limit(1), "esaworldcover-2020")
        with pytest.raises(Exception, match="codec"):
            multimodal.image_stats(ch, fmt="webp").collect()

    def test_non_jpeg_bytes_fail_cleanly(self, spark, tiles_box):
        # raw chip payloads are not JPEG streams: the decode branch must
        # surface a parse error, not garbage stats
        ch = chipsrc.generate_chips(tiles_box.limit(1), "esaworldcover-2020")
        with pytest.raises(Exception, match="SOI"):
            multimodal.image_stats(ch, fmt="jpeg").collect()


class TestSimilarityScalePath:
    def test_lsh_pairs_subset_of_brute(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        brute = {
            (r["id_a"], r["id_b"])
            for r in similarity.cosine_pairs(emb, 0.35).collect()
        }
        lsh = {
            (r["id_a"], r["id_b"])
            for r in similarity.lsh_cosine_pairs(
                emb, 0.35, dim=64, n_planes=4, n_tables=8
            ).collect()
        }
        assert lsh <= brute  # refine guarantees precision; recall < 1 is ok
        # theory: p = 1 - acos(0.35)/pi = 0.614 per plane;
        # recall = 1-(1-p^4)^8 = 0.71 at the threshold, higher above it.
        # Measured on this fixture: 194/257 = 0.755 (and 0.814 at the
        # contract's threshold 0.4 on sf0.01) — pin the floor at theory.
        assert brute and len(lsh) / len(brute) >= 0.70

    def test_hot_bucket_salted_exact(self, spark, monkeypatch):
        """Many near-parallel vectors share one bucket in every table: with
        the module's threshold lowered to reach it, the salted run returns
        exactly the unsalted run's pairs, and the hot bucket's side-a rows
        spread over several salts."""
        rng = np.random.default_rng(3)
        base = rng.standard_normal(16)
        vecs = [base + 0.01 * rng.standard_normal(16) for _ in range(120)]
        vecs += [rng.standard_normal(16) for _ in range(60)]
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        a_sides = capture_side_a(monkeypatch, similarity)

        def run(threshold):
            monkeypatch.setattr(similarity, "HOT_KEY_THRESHOLD", threshold)
            monkeypatch.setattr(similarity, "N_SALTS", 8)
            a_sides.clear()
            out = similarity.lsh_cosine_pairs(emb, 0.9, dim=16)
            assert_salted_pair_join(
                out._jdf.queryExecution().executedPlan().toString(), "lsh_cosine"
            )
            # the near-parallel vectors 0..119 share table 0's bucket
            salts = (
                a_sides[0]
                .filter((F.col("table") == 0) & (F.col("vec_id") < 120))
                .groupBy("bucket", "salt")
                .count()
                .collect()
            )
            got = {(r["id_a"], r["id_b"], r["cos_sim"]) for r in out.collect()}
            return got, salts

        plain, plain_salts = run(10**9)
        salted, hot_salts = run(16)
        assert {r["salt"] for r in plain_salts} == {0}
        hot_bucket = max(plain_salts, key=lambda r: r["count"])
        assert hot_bucket["count"] > 16
        hot = [r for r in hot_salts if r["bucket"] == hot_bucket["bucket"]]
        assert len(hot) > 1 and max(r["count"] for r in hot) < hot_bucket["count"]
        assert len(plain) >= 120 * 119 // 2 * 0.9 and salted == plain

    def test_lsh_pairs_plan_has_no_distinct(self, spark):
        """Report-once (first agreeing table) replaced the terminal
        distinct(); at 1e9-vector candidate volumes that distinct was the
        dominant shuffle.  Pin: no aggregate keyed on the output pair."""
        import re

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = (
            similarity.lsh_cosine_pairs(emb, 0.35, dim=64, n_planes=4, n_tables=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert not re.search(r"HashAggregate\(keys=\[id_a", plan)

    def test_blocked_pairs_plan_packs_once_no_collect(self, spark):
        """VERDICT r2 #1: the pack pipeline must appear ONCE in the physical
        plan (persisted; second join side reads the InMemory relation), and
        the corpus must never be collected or broadcast (the only broadcast
        is the tiny B^2/2 pair index)."""
        from geetiles_spark import cache

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        with cache.persist_scope():
            df = similarity.cosine_pairs(emb, 0.35, block_rows=17)
            plan = df._jdf.queryExecution().executedPlan().toString()
        # both join sides read the persisted pack output (the cached plan is
        # PRINTED under each scan, but executes once)
        assert plan.count("InMemoryTableScan") == 2
        assert plan.index("InMemoryRelation") < plan.index("FlatMapGroupsInPandas")
        # the packed corpus bytes are never broadcast (only the tiny pair
        # index is); the b side co-locates via shuffle_hash
        import re

        assert "ShuffledHashJoin" in plan
        assert not re.search(r"BroadcastHashJoin \[bb", plan)

    def test_blocked_pairs_match_single_block(self, spark):
        """The block-nested-loop cosine_pairs must be invariant to block
        count — exercises both the diagonal branch and the cross-block
        orientation (smaller id landing in either block)."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        one = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in similarity.cosine_pairs(emb, 0.35, block_rows=10**6).collect()
        }
        many = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in similarity.cosine_pairs(emb, 0.35, block_rows=17).collect()
        }
        assert one == many and len(one) > 0


class TestLongTailParity:
    def test_monthly_name_parsing(self):
        """F15: s1grdobs-YYYYMM parsing + the reference's validation errors
        (defs/s1grdobs.py:21-40)."""
        from geetiles_spark.sources import datasets as dsets2

        d = dsets2.get_dataset_definition("s1grdobs-202201")
        assert (d.year, d.month) == ("2022", "01")
        for bad in ["s1grdobs", "s1grdobs-2022", "s1grdobs-2022xx", "s1grdobs-202213"]:
            with pytest.raises(ValueError, match="year"):
                dsets2.get_dataset_definition(bad)

    def test_pixel_dims_from_mpp(self):
        """F12: ceil(max UTM envelope edge / mpp) per tile."""
        w, h = chipsrc.pixel_dims_from_mpp(
            np.array([6.086]), np.array([49.6865]),
            np.array([6.114]), np.array([49.7135]), 100.0
        )
        # AOI box is ~2.0 km x ~3.0 km -> ~21 x 31 px at 100 m/px
        assert 15 <= w[0] <= 30 and 25 <= h[0] <= 40
        # finer mpp scales linearly (same ceil recipe)
        w2, h2 = chipsrc.pixel_dims_from_mpp(
            np.array([6.086]), np.array([49.6865]),
            np.array([6.114]), np.array([49.7135]), 50.0
        )
        assert abs(int(w2[0]) - 2 * int(w[0])) <= 1
        assert abs(int(h2[0]) - 2 * int(h[0])) <= 1

    def test_event_props_json_map(self, spark, tiles_box):
        """F18: per-tile map event_id -> json(props) (globalfloods tag
        parity)."""
        import json

        from geetiles_spark.operators import joins as joinsop

        ev = spark.createDataFrame(
            [(1, 6.0, 49.6, 6.2, 49.8, "2020-05-01", "2020-06-01")],
            "event_id int, minx double, miny double, maxx double, maxy double, start string, `end` string",
        )
        matched = joinsop.interval_spatial_join(
            tiles_box, ev, "2020-01-01", "2020-12-31"
        )
        tagged = joinsop.attach_event_props_json(matched, ev, ["start", "end"])
        rows = tagged.collect()
        assert len(rows) > 0
        for r in rows:
            props = json.loads(r["event_props"]["1"])
            assert props == {"start": "2020-05-01", "end": "2020-06-01"}

    def test_chip_pickle_layout(self, spark, tiles_box):
        """K5: row -> reference pickle dict (cmds.py:496-535 keys, dtypes,
        latlon ordering) and the deflate-zip packager round-trip."""
        import pickle
        import zipfile as zf

        from geetiles_spark.operators import assemble as asm

        img = chipsrc.generate_chips(tiles_box, "patternimage-2020")
        lbl = chipsrc.generate_chips(tiles_box, "patternlabels-2020")
        props = zonal.compute_proportions(tiles_box, lbl, "patternlabels-2020")
        ds = asm.assemble_dataset(
            tiles_box, img.unionByName(lbl), "patternimage-2020",
            "patternlabels-2020", props=props,
        )
        row = ds.orderBy("chip_id").first()
        blob = asm.row_to_chip_pickle(row)
        r = pickle.loads(blob)
        assert set(r) == {"chip", "chip_id", "center_latlon", "corners",
                          "label", "label_proportions"}
        assert r["chip"].dtype == np.int16 and r["chip"].shape == (100, 100, 3)
        assert r["label"].dtype == np.int16 and r["label"].shape == (100, 100)
        # center_latlon is (lat, lon): lat ~49.7, lon ~6.1
        assert 49 < r["center_latlon"][0] < 50 and 6 < r["center_latlon"][1] < 7
        nw, se = r["corners"]["nw"], r["corners"]["se"]
        assert nw[0] > se[0] and nw[1] < se[1]  # nw=(latmax, lonmin)
        assert set(r["label_proportions"]) == {"partitions_aschip"}
        # zip packaging
        import tempfile
        with tempfile.TemporaryDirectory() as td:
            n = asm.write_pickle_zip(ds.limit(3), f"{td}/ds.zip")
            assert n == 3
            with zf.ZipFile(f"{td}/ds.zip") as z:
                names = z.namelist()
                assert len(names) == 3 and all(
                    nm.startswith("data/") and nm.endswith(".pkl") for nm in names
                )
                pickle.loads(z.read(names[0]))


class TestBoundaryHull:
    def test_boundary_from_tiles(self, spark, tiles_box):
        """F9 end-to-end: tree-aggregated concave boundary of the tile set
        covers every tile center."""
        from geetiles_spark.operators import boundary

        ring = boundary.boundary_hull(tiles_box, alpha=1.0)
        assert len(ring) >= 4
        rows = tiles_box.select("minx", "miny", "maxx", "maxy").collect()
        centers = np.array(
            [[(r["minx"] + r["maxx"]) / 2, (r["miny"] + r["maxy"]) / 2] for r in rows]
        )
        from geetiles_spark.geo import geom as g2

        assert g2.points_in_polygon(centers, ring).all()


class TestDedupUnits:
    def test_exact_groups(self, spark):
        pdf = pd.DataFrame(
            {"doc_id": [1, 2, 3, 4], "text": ["aa", "bb", "aa", "aa"]}
        )
        docs = spark.createDataFrame(pdf)
        got = {
            r["content_hash"]: (r["keeper_id"], r["group_size"])
            for r in dedup.exact_duplicates(docs).collect()
        }
        sizes = sorted(v[1] for v in got.values())
        assert sizes == [1, 3]
        keeper = [v for v in got.values() if v[1] == 3][0]
        assert keeper[0] == 1

    def test_simhash_similar_docs_close(self, spark):
        pdf = pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the quick brown fox jumps over dog",
                    "the quick brown fox jumps over cat",
                    "completely different words entirely here now",
                ],
            }
        )
        docs = spark.createDataFrame(pdf)
        sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(docs).collect()}
        def ham(a, b):
            return sum(x != y for x, y in zip(a, b))
        assert ham(sig[1], sig[2]) <= ham(sig[1], sig[3])

    def test_jaccard_exact_value(self, spark):
        pdf = pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["a b c d e", "a b c d x"],
            }
        )
        docs = spark.createDataFrame(pdf)
        got = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1).collect()
        # trigram sets: {abc,bcd,cde} vs {abc,bcd,cdx} -> jaccard 2/4
        assert len(got) == 1
        assert got[0]["jaccard"] == pytest.approx(0.5)

    def test_jaccard_hot_gram_salted_exact(self, spark):
        """VERDICT r2 #6: one gram in 50% of the docs — the salted hot path
        must return EXACTLY the plain join's pairs, while splitting the hot
        gram's rows across salt buckets (bounded max task input)."""
        rows = []
        # 100 hot docs share the trigram "the quick brown"; unique tails
        for i in range(100):
            rows.append((i, f"the quick brown w{i}x w{i}y"))
        # 100 cold docs, all-unique grams; plus one near-dup pair
        for i in range(100, 200):
            rows.append((i, f"c{i}a c{i}b c{i}c c{i}d c{i}e"))
        rows.append((200, "p q r s t"))
        rows.append((201, "p q r s u"))
        docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        plain = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedup.ngram_jaccard_pairs(
                docs, n=3, threshold=0.15, hot_doc_freq=10**9
            ).collect()
        }
        salted = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedup.ngram_jaccard_pairs(
                docs, n=3, threshold=0.15, hot_doc_freq=16, n_salts=8
            ).collect()
        }
        # 100 hot docs pair up (jaccard 1/5 >= 0.15) + the near-dup pair
        assert len(plain) == 100 * 99 // 2 + 1
        assert salted == plain
        # the salt genuinely splits the hot gram's partition
        from pyspark.sql import functions as F

        sizes = (
            docs.select(
                "doc_id",
                F.lit("the quick brown").alias("gram"),
                F.pmod(F.xxhash64("doc_id"), F.lit(8)).alias("salt"),
            )
            .filter(F.col("doc_id") < 100)
            .groupBy("gram", "salt")
            .count()
            .collect()
        )
        assert len(sizes) == 8 and max(r["count"] for r in sizes) < 50

    def test_jaccard_length_filter_exact_under_rounding(self, spark):
        """The length prune must keep every pair the final round(jaccard, 6)
        >= t keeps, at any doc size: at na=2,999,998, nb=6,000,000 the
        Jaccard bound na/nb = 0.49999967 rounds to 0.5, so the pair stays
        (a bare -1 slack pruned it), while a pair whose bound rounds below
        t is still pruned."""
        t = 0.5
        rows = [(2_999_998, 6_000_000), (6_000_000, 2_999_998), (2_999_990, 6_000_000)]
        assert [round(min(r) / max(r), 6) >= t for r in rows] == [True, True, False]
        df = spark.createDataFrame(rows, "na long, nb long")
        kept = {
            (r["na"], r["nb"])
            for r in df.filter(dedup._length_filter(F.col("na"), F.col("nb"), t)).collect()
        }
        assert kept == set(rows[:2])


class TestDistributedKatana:
    def test_many_aois_match_driver_recursion(self, spark):
        """VERDICT r2 #7: ~100 AOIs split inside mapInPandas — per-AOI
        results identical to the driver-side seeded recursion, independent
        of row partitioning."""
        import pandas as pd

        from geetiles_spark.geo import geom
        from geetiles_spark.operators import random_parts

        rows = []
        rings = {}
        for k in range(100):
            minx = 6.0 + (k % 10) * 0.05
            miny = 49.5 + (k // 10) * 0.05
            ring = geom.box_ring(minx, miny, minx + 0.03, miny + 0.04)
            rings[f"aoi{k}"] = ring
            rows.append(
                {"aoi_id": f"aoi{k}", "geometry_wkb": geom.polygon_to_wkb(ring)}
            )
        aois = spark.createDataFrame(pd.DataFrame(rows)).repartition(7)
        got = random_parts.make_random_partitions_many(
            aois, 1200, seed=11
        ).collect()
        by_aoi = {}
        for r in got:
            by_aoi.setdefault(r["aoi_id"], []).append(r)
        assert set(by_aoi) == set(rings)
        total = 0
        for aid, ring in rings.items():
            exp = random_parts.split_one_aoi(
                ring, 1200, 0.1, random_parts.aoi_rng(11, aid)
            )
            g = sorted(by_aoi[aid], key=lambda r: r["row_idx"])
            assert len(g) == len(exp) > 1
            total += len(g)
            for gr, er in zip(g, exp):
                assert gr["tile_id"] == er["tile_id"]
                assert gr["area_km2"] == er["area_km2"]
                assert bytes(gr["geometry_wkb"]) == er["geometry_wkb"]
        assert total == len(got)
        # partitioning-independence: different layout, same rows
        got2 = {
            (r["aoi_id"], r["row_idx"], r["tile_id"])
            for r in random_parts.make_random_partitions_many(
                aois.repartition(1), 1200, seed=11
            ).collect()
        }
        assert got2 == {(r["aoi_id"], r["row_idx"], r["tile_id"]) for r in got}


def _ivf_index(spark, tmp_path, emb, n_clusters=8):
    """Commit ``emb`` as a catalog IVF index; returns (catalog, centroids)."""
    from geetiles_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    return cat, similarity.ivf_index_commit(spark, cat, emb, n_clusters=n_clusters)


class TestIVF:
    def test_full_probe_equals_brute(self, spark, tmp_path):
        """nprobe == n_clusters covers the whole corpus partition, so IVF
        must reproduce the brute top-k exactly."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        cat, _ = _ivf_index(spark, tmp_path, emb)
        brute = [(r["rank"], r["vec_id"], r["cos_sim"])
                 for r in similarity.cosine_topk(emb, q, k=10).collect()]
        ivf = [(r["rank"], r["vec_id"], r["cos_sim"])
               for r in similarity.ivf_query_catalog(spark, cat, q, k=10, nprobe=8).collect()]
        assert ivf == brute

    def test_assignment_partitions_corpus(self, spark):
        """Every vector lands in exactly one cluster (the invariant the
        full-probe oracle equality rests on), deterministically."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        C = similarity.ivf_centroids(emb, n_clusters=8, seed=42)
        a1 = {r["vec_id"]: r["cluster"] for r in similarity.ivf_assign(emb, C).collect()}
        a2 = {r["vec_id"]: r["cluster"] for r in similarity.ivf_assign(emb, C).collect()}
        assert a1 == a2 and len(a1) == emb.count()
        assert len(set(a1.values())) > 1  # quantizer actually splits

    def test_partial_probe_recall(self, spark, tmp_path):
        """nprobe < n_clusters scans a fraction of the corpus; top-k recall
        stays high because near neighbors share the query's clusters."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        cat, _ = _ivf_index(spark, tmp_path, emb)
        brute = {r["vec_id"] for r in similarity.cosine_topk(emb, q, k=10).collect()}
        got = {r["vec_id"]
               for r in similarity.ivf_query_catalog(spark, cat, q, k=10, nprobe=3).collect()}
        assert len(got & brute) / len(brute) >= 0.7


class TestPyFilesPackaging:
    def test_zip_is_importable(self, tmp_path):
        """spark-submit --py-files artifact: the zip must be importable from
        sys.path in a clean interpreter (executor shape), and the engine
        zip-imported so installs the zip-archive guard: a second
        ``invalidate_caches`` reads no directory."""
        import subprocess
        import sys

        from scripts.build_pyfiles import build

        out = build(str(tmp_path / "geetiles_spark.zip"))
        code = (
            "import sys; sys.path.insert(0, %r)\n"
            "import importlib, zipimport\n"
            "import geetiles_spark.geo.geom as g\n"
            "import geetiles_spark.operators.similarity\n"
            "assert geetiles_spark.__file__.startswith(%r), geetiles_spark.__file__\n"
            "assert zipimport.zipimporter.invalidate_caches._geetiles_guard\n"
            "importlib.invalidate_caches()\n"
            "stock, seen = zipimport._read_directory, []\n"
            "zipimport._read_directory = lambda a: seen.append(a) or stock(a)\n"
            "importlib.invalidate_caches()\n"
            "assert seen == [], seen\n"
            "print(len(g.box_ring(0,0,1,1)))" % (out, out)
        )
        r = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True,
            cwd=str(tmp_path),  # away from the repo: the zip must suffice
        )
        assert r.returncode == 0 and r.stdout.strip() == "5", r.stderr[-500:]


class TestMinhashFamilyRecall:
    def test_xor_family_recall_comparable_to_independent(self, spark):
        """ADVICE r2: the XOR-mask family's components are correlated (one
        base digest), so quantify the consequence — banded-LSH candidate
        recall on the documents fixture vs (a) ground-truth Jaccard>=0.5
        pairs and (b) an 8-independent-md5 family at the same (bands, rows)
        — the XOR family must be within a few points of the independent
        one, not just 'documented as different'."""
        import hashlib
        from itertools import combinations

        pdf = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text")
            .toPandas()
        )
        sh = {
            r.doc_id: frozenset(
                r.text[i:i + 5] for i in range(max(1, len(r.text) - 4))
            )
            for r in pdf.itertuples()
        }
        ids = sorted(sh)
        true_pairs = set()
        for a, b in combinations(ids, 2):
            inter = len(sh[a] & sh[b])
            if inter and inter / (len(sh[a]) + len(sh[b]) - inter) >= 0.5:
                true_pairs.add((a, b))
        assert len(true_pairs) >= 5, "fixture lost its near-dup structure"

        docs = spark.createDataFrame(pdf)
        got = {
            tuple(sorted((r["doc_a"], r["doc_b"])))
            for r in dedup.lsh_candidate_pairs(docs).collect()
        }
        recall_xor = len(got & true_pairs) / len(true_pairs)

        # independent-digest family, same banding (8 hashes, 4 bands of 2)
        def indep_sig(shingles):
            sig = []
            for j in range(8):
                sig.append(
                    min(
                        int(hashlib.md5(f"{j}|{s}".encode()).hexdigest()[:15], 16)
                        for s in shingles
                    )
                )
            return sig

        buckets: dict[tuple, set] = {}
        for d in ids:
            sig = indep_sig(sh[d])
            for b in range(4):
                buckets.setdefault((b, tuple(sig[2 * b:2 * b + 2])), set()).add(d)
        indep = set()
        for members in buckets.values():
            for a, b in combinations(sorted(members), 2):
                indep.add((a, b))
        recall_indep = len(indep & true_pairs) / len(true_pairs)

        # measured on this fixture: both families recover the high-sim pairs
        assert recall_xor >= 0.9
        assert recall_xor >= recall_indep - 0.05


class TestAudio:
    def test_pcm_stats_known_clip(self, spark):
        """Hand-computed PCM clip: decode + reductions are exact."""
        x = np.array([0, 100, -100, 200, -32768, 32767], dtype="<i2")
        df = spark.createDataFrame(
            pd.DataFrame(
                [{"tile_id": "t0", "dataset": "d", "sample_rate": 16000,
                  "n_samples": len(x), "payload": x.tobytes()}]
            )
        )
        r = multimodal.audio_stats(df).first()
        assert r["n_samples"] == 6
        assert r["peak"] == 32768
        # sign flips (>=0 boundary): 0->100 no, 100->-100 yes, ->200 yes,
        # ->-32768 yes, ->32767 yes
        assert r["zero_crossings"] == 4
        sum_sq = int(np.sum(x.astype(np.int64) ** 2))
        assert r["rms"] == float(np.round(np.sqrt(sum_sq / 6), 6))
        assert r["duration_sec"] == 0.000375

    def test_generated_clips_deterministic(self, spark, tiles_box):
        from geetiles_spark.sources import audio as audiosrc

        a1 = {r["tile_id"]: bytes(r["payload"])
              for r in audiosrc.generate_audio(tiles_box).collect()}
        a2 = {r["tile_id"]: bytes(r["payload"])
              for r in audiosrc.generate_audio(tiles_box.repartition(3)).collect()}
        assert a1 == a2 and len(a1) == tiles_box.count()
        wave = np.frombuffer(next(iter(a1.values())), dtype="<i2")
        assert len(wave) == 1600 and wave.min() >= -32768


class TestHashedKatana:
    def test_leaves_partition_envelope(self, spark):
        """Hash-randomized katana: leaves tile the UTM envelope exactly
        (area additivity, no overlaps along the split tree), every leaf
        respects the threshold, and the result is reproducible."""
        from geetiles_spark.operators.random_parts import katana_hashed_boxes

        leaves = katana_hashed_boxes(0.0, 0.0, 60000.0, 40000.0, 5000.0)
        total = sum((x1 - x0) * (y1 - y0) for _, x0, y0, x1, y1 in leaves)
        assert abs(total - 60000.0 * 40000.0) < 1e-3
        for _, x0, y0, x1, y1 in leaves:
            assert max(x1 - x0, y1 - y0) <= 5000.0 + 1e-9
        assert leaves == katana_hashed_boxes(0.0, 0.0, 60000.0, 40000.0, 5000.0)
        # DFS order == lexicographic path order
        paths = [p for p, *_ in leaves]
        assert paths == sorted(paths)


class TestStreamingDedup:
    def test_first_seen_survives_across_batches_and_restarts(self, spark, tmp_path):
        """Streaming exact dedup: one row per distinct text across
        micro-batches AND across a checkpointed restart with new files —
        matches the batch keep-first rule on the union of all data."""
        import pandas as pd
        from pyspark.sql import functions as F

        from geetiles_spark.streaming import ingest

        docs_dir = tmp_path / "docs"
        docs_dir.mkdir()
        sink = str(tmp_path / "dsink")
        ckpt = str(tmp_path / "dckpt")

        def write(name, rows):
            spark.createDataFrame(
                pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
            ).coalesce(1).write.parquet(str(docs_dir / name))

        write("f1", [(1, "alpha", "en", "s", 5), (2, "beta", "en", "s", 4),
                     (3, "alpha", "en", "s", 5)])
        n1 = ingest.stream_dedup_exact(spark, str(docs_dir) + "/*", sink, ckpt)
        assert n1 == 2  # APPENDED rows (ADVICE r3), not the 3 input rows
        got1 = spark.read.parquet(sink)
        assert got1.count() == 2  # alpha kept once
        # restart with a new file: duplicate of batch-1 content suppressed
        n2 = ingest.stream_dedup_exact(spark, str(docs_dir) + "/*", sink, ckpt)
        # second pass before new data: nothing to append
        assert n2 == 0
        write("f2", [(4, "alpha", "en", "s", 5), (5, "gamma", "en", "s", 5)])
        n3 = ingest.stream_dedup_exact(spark, str(docs_dir) + "/*", sink, ckpt)
        assert n3 == 1  # only gamma survives the cross-restart state
        got2 = spark.read.parquet(sink)
        assert got2.count() == 3  # only gamma appended
        texts = {r["content_hash"] for r in got2.collect()}
        exp = {r["h"] for r in spark.createDataFrame(
            pd.DataFrame({"t": ["alpha", "beta", "gamma"]})
        ).select(F.sha2("t", 256).alias("h")).collect()}
        assert texts == exp

    def test_within_watermark_bounded_state(self, spark, tmp_path):
        """dropDuplicatesWithinWatermark semantics: a duplicate inside the
        watermark horizon is suppressed; once the key's state expires (the
        watermark passes first_ts + delay) a later duplicate RE-EMITS — the
        documented bounded-state trade-off."""
        import pandas as pd

        from geetiles_spark.streaming import ingest

        ev_dir = tmp_path / "ev"
        ev_dir.mkdir()
        sink = str(tmp_path / "wsink")
        ckpt = str(tmp_path / "wckpt")
        cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

        def write(name, rows):
            pdf = pd.DataFrame(rows, columns=cols)
            pdf["ts"] = pd.to_datetime(pdf["ts"])
            spark.createDataFrame(pdf).coalesce(1).write.parquet(str(ev_dir / name))

        # pass 1: A, dup-of-A (same key), B -> 2 appended
        write("f1", [
            (1, "2024-01-01 10:00:00", 7, "click", 1.0, "{}"),
            (2, "2024-01-01 10:01:00", 7, "click", 1.0, "{}"),  # dup of A
            (3, "2024-01-01 10:05:00", 8, "view", 2.0, "{}"),
        ])
        n1 = ingest.stream_dedup_within_watermark(
            spark, str(ev_dir) + "/*", sink, ckpt, watermark="1 hour"
        )
        assert n1 == 2
        # pass 2: in-horizon dup suppressed, new key C emitted; C's ts
        # advances the watermark past A's expiry (10:00 + 1h)
        write("f2", [
            (4, "2024-01-01 10:02:00", 7, "click", 1.0, "{}"),  # dup, in horizon
            (5, "2024-01-01 12:30:00", 9, "buy", 3.0, "{}"),
        ])
        n2 = ingest.stream_dedup_within_watermark(
            spark, str(ev_dir) + "/*", sink, ckpt, watermark="1 hour"
        )
        assert n2 == 1
        # pass 3: A's state expired (wm = 11:30 > 11:00) -> dup re-emits
        write("f3", [(6, "2024-01-01 13:30:00", 7, "click", 1.0, "{}")])
        n3 = ingest.stream_dedup_within_watermark(
            spark, str(ev_dir) + "/*", sink, ckpt, watermark="1 hour"
        )
        assert n3 == 1
        assert spark.read.parquet(sink).count() == 4


class TestConnectedComponents:
    def test_chain_triangle_isolated(self, spark):
        """Min-label propagation: a 4-chain (diameter 3, needs >1 round), a
        triangle, and an unpaired doc resolve to the min-id canonical."""
        pairs = spark.createDataFrame(
            pd.DataFrame(
                {"doc_a": [10, 11, 12, 20, 20, 21], "doc_b": [11, 12, 13, 21, 22, 22]}
            )
        )
        comp = {
            r["node"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert comp == {10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20, 22: 20}
        docs = spark.createDataFrame(pd.DataFrame({"doc_id": [10, 11, 12, 13, 20, 21, 22, 99]}))
        out = {
            (r["doc_id"], r["component"], r["is_canonical"])
            for r in dedup.dedup_components(docs, pairs).collect()
        }
        assert (99, 99, 1) in out and (13, 10, 0) in out and (10, 10, 1) in out
        assert sum(c for _, _, c in out) == 3  # one keeper per cluster + isolated

    def test_reliable_checkpoint_path(self, spark, tmp_path):
        """checkpoint_dir routes lineage truncation through reliable
        checkpoint() (survives executor loss on a real cluster — VERDICT r3
        #6); results identical to the localCheckpoint default."""
        import glob

        pairs = spark.createDataFrame(
            pd.DataFrame({"doc_a": [1, 2, 3, 50], "doc_b": [2, 3, 4, 51]})
        )
        ckpt = str(tmp_path / "cc_ckpt")
        comp = {
            r["node"]: r["component"]
            for r in dedup.connected_components(
                pairs, checkpoint_dir=ckpt
            ).collect()
        }
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 50: 50, 51: 50}
        assert glob.glob(ckpt + "/*")  # reliable checkpoint files written

    def test_unconverged_raises(self, spark):
        """max_iter exhaustion must raise, not silently return partial labels
        (ADVICE r3: partial labels would mark several docs canonical in one
        true cluster)."""
        # 5-chain has diameter 4: min-label needs 3 propagation rounds
        pairs = spark.createDataFrame(
            pd.DataFrame({"doc_a": [1, 2, 3, 4], "doc_b": [2, 3, 4, 5]})
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.connected_components(pairs, max_iter=1)


class TestIVFIndex:
    def test_partition_pruned_probe(self, spark, tmp_path):
        """The catalog IVF index prunes non-probed clusters at SCAN time
        (PartitionFilters carry the cluster predicate), full-probe results
        equal brute top-k, and the first commit writes one file per
        cluster directory."""
        import glob

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        # four upstream tasks: without the commit's cluster shuffle each one
        # writes its own file into every cluster directory
        cat, _ = _ivf_index(spark, tmp_path, emb.repartition(4))
        out = similarity.ivf_query_catalog(spark, cat, q, k=10, nprobe=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        frag = plan.split("PartitionFilters")[1][:120]
        assert "cluster" in frag  # pruning predicate reached the scan
        # full probe == brute
        full = similarity.ivf_query_catalog(spark, cat, q, k=10, nprobe=8)
        brute = [(r["rank"], r["vec_id"]) for r in similarity.cosine_topk(emb, q, 10).collect()]
        assert [(r["rank"], r["vec_id"]) for r in full.collect()] == brute
        dirs = glob.glob(cat.snapshot_path("ann_index") + "/cluster=*")
        assert len(dirs) == 8
        assert all(len(glob.glob(d + "/*.parquet")) == 1 for d in dirs)

    def test_batch_probe_matches_per_query(self, spark, tmp_path):
        """ivf_query_catalog_batch at partial nprobe must equal a loop of
        single-query probes (same probe rule + tie-break), in ONE
        partition-pruned scan."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cat, _ = _ivf_index(spark, tmp_path, emb)
        qrows = emb.filter(F.col("vec_id").isin([0, 3, 11])).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        batch = similarity.ivf_query_catalog_batch(spark, cat, qrows, k=5, nprobe=2)
        plan = batch._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1
        assert "cluster" in plan.split("PartitionFilters")[1][:120]
        got = {
            (r["query_id"], r["rank"], r["vec_id"], r["cos_sim"])
            for r in batch.collect()
        }
        expect = set()
        for r in qrows.collect():
            single = similarity.ivf_query_catalog(
                spark, cat, [float(x) for x in r["query_vec"]], k=5, nprobe=2
            )
            for s in single.collect():
                expect.add((r["query_id"], s["rank"], s["vec_id"], s["cos_sim"]))
        assert got == expect and len(got) == 15

    def test_ivf_topk_precomputed_centroids(self, spark, tmp_path):
        """Probes run off the precomputed centroid matrix stored in the
        commit metadata — no per-probe k-means sample collect (VERDICT r3
        #4): it round-trips exactly, and a probe after the commit equals
        the brute top-k."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        cat, C = _ivf_index(spark, tmp_path, emb)
        assert np.array_equal(similarity.ivf_index_centroids(cat), C)
        assert np.array_equal(C, similarity.ivf_centroids(emb, n_clusters=8))
        a = [(r["rank"], r["vec_id"]) for r in similarity.ivf_query_catalog(
            spark, cat, q, k=10, nprobe=8).collect()]
        b = [(r["rank"], r["vec_id"]) for r in similarity.cosine_topk(
            emb, q, k=10).collect()]
        assert a == b

    def test_catalog_incremental_index(self, spark, tmp_path):
        """The production ANN maintenance loop: create a catalog-committed
        index, append a delta REUSING the committed quantizer (no rebuild),
        verify the probe sees old + new vectors (full probe == brute over
        the union), idempotent re-append, and partition pruning on the
        snapshot scan."""
        from geetiles_spark.catalog import Catalog

        cat = Catalog(str(tmp_path / "cat"))
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        first = emb.filter(F.col("vec_id") < 400)
        delta = emb.filter(F.col("vec_id") >= 400)
        C1 = similarity.ivf_index_commit(spark, cat, first, n_clusters=8)
        q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        got1 = [(r["rank"], r["vec_id"]) for r in similarity.ivf_query_catalog(
            spark, cat, q, k=10, nprobe=8).collect()]
        brute1 = [(r["rank"], r["vec_id"]) for r in similarity.cosine_topk(
            first, q, 10).collect()]
        assert got1 == brute1
        # incremental append: same centroids, merge on id
        C2 = similarity.ivf_index_commit(spark, cat, delta, n_clusters=8)
        assert np.array_equal(C1, C2)  # quantizer stability across appends
        got2 = [(r["rank"], r["vec_id"]) for r in similarity.ivf_query_catalog(
            spark, cat, q, k=10, nprobe=8).collect()]
        brute2 = [(r["rank"], r["vec_id"]) for r in similarity.cosine_topk(
            emb, q, 10).collect()]
        assert got2 == brute2
        # idempotent resume: re-running the same delta changes nothing
        n_before = cat.read(spark, "ann_index").count()
        similarity.ivf_index_commit(spark, cat, delta, n_clusters=8)
        assert cat.read(spark, "ann_index").count() == n_before == emb.count()
        # snapshot scan prunes on the cluster partition
        plan = (
            similarity.ivf_query_catalog(spark, cat, q, k=10, nprobe=2)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters" in plan
        assert "cluster" in plan.split("PartitionFilters")[1][:120]
        # lineage rows recorded per commit
        m = cat.read_metrics(spark).filter(F.col("job") == "ivf_index:ann_index")
        assert m.count() > 0

    def test_ivf_assign_respects_id_col(self, spark):
        """ADVICE r3: the output id column must carry the caller's id_col
        name, not a hardcoded 'vec_id'."""
        emb = (
            spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
            .withColumnRenamed("vec_id", "item_id")
        )
        C = similarity.ivf_centroids(emb, n_clusters=4, id_col="item_id")
        out = similarity.ivf_assign(emb, C, id_col="item_id")
        assert out.columns == ["item_id", "cluster"]


class TestCosineTopkBatch:
    def test_matches_single_query_and_one_scan(self, spark):
        """Each query's block must equal cosine_topk, and the plan must scan
        the corpus ONCE for the whole batch (VERDICT r3 #3)."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        qrows = emb.filter(F.col("vec_id").isin([0, 5, 9])).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        df = similarity.cosine_topk_batch(emb, qrows, k=7)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1  # one corpus scan, all queries
        got = {
            (r["query_id"], r["rank"], r["vec_id"], r["cos_sim"])
            for r in df.collect()
        }
        expect = set()
        for r in qrows.collect():
            for s in similarity.cosine_topk(
                emb, [float(x) for x in r["query_vec"]], k=7
            ).collect():
                expect.add((r["query_id"], s["rank"], s["vec_id"], s["cos_sim"]))
        assert got == expect and len(got) == 21

    def test_tie_safe_partial_topk(self, spark):
        """Rounded sims tie; the per-batch cut must keep tied candidates so
        the global (sim desc, id asc) rule picks the right ids.  Construct a
        corpus of identical vectors (all sims == 1.0) spread over many
        partitions: top-k must be the k LOWEST ids."""
        import pandas as pdl

        pdf = pdl.DataFrame(
            {
                "vec_id": np.arange(200, dtype=np.int64),
                "embedding": [[1.0, 0.0, 0.0]] * 200,
            }
        )
        emb = spark.createDataFrame(pdf).repartition(16)
        qrows = spark.createDataFrame(
            pdl.DataFrame({"query_id": [0], "query_vec": [[1.0, 0.0, 0.0]]})
        )
        got = [
            (r["rank"], r["vec_id"])
            for r in similarity.cosine_topk_batch(emb, qrows, k=5)
            .orderBy("rank")
            .collect()
        ]
        assert got == [(1, 0), (2, 1), (3, 2), (4, 3), (5, 4)]


class TestEmptyInputs:
    """Operators must run (returning empty results, not crashing) on empty
    inputs — resumable pipelines hit empty deltas constantly."""

    def test_dedup_similarity_text_empty(self, spark):
        docs = spark.createDataFrame(
            [], "doc_id long, text string, lang string, source string, n_chars long"
        )
        assert dedup.exact_duplicates(docs).count() == 0
        assert dedup.ngram_jaccard_pairs(docs).count() == 0
        assert dedup.lsh_candidate_pairs(docs).count() == 0
        from geetiles_spark.operators import text as textop

        assert textop.quality_scores(docs).count() == 0
        emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
        assert similarity.cosine_pairs(emb, 0.5).count() == 0
        assert similarity.lsh_cosine_pairs(emb, 0.5, dim=64).count() == 0
        pairs = spark.createDataFrame([], "doc_a long, doc_b long")
        assert dedup.connected_components(pairs).count() == 0
        assert dedup.dedup_components(docs, pairs).count() == 0

    def test_batch_and_pip_empty(self, spark):
        emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
        q_empty = spark.createDataFrame([], "query_id long, query_vec array<float>")
        assert similarity.cosine_topk_batch(emb, q_empty).count() == 0
        # empty corpus with real queries
        qrows = spark.createDataFrame(
            pd.DataFrame({"query_id": [1], "query_vec": [[1.0, 0.0]]})
        )
        assert similarity.cosine_topk_batch(emb, qrows).count() == 0
        # pip shuffle twin on empty polys / empty points
        pts = spark.createDataFrame([], "point_id long, lon double, lat double")
        polys = spark.createDataFrame(
            [], "tile_id string, geometry_wkb binary, minx double, miny double, "
                "maxx double, maxy double"
        )
        assert joins.point_in_polygon_join(
            pts, polys, level=6, broadcast_polys=False
        ).count() == 0


class TestSimhashSkew:
    def test_hot_segment_salted_exact(self, spark):
        """A corpus where one segment value is shared by most docs: the
        salted hot path must return exactly the plain join's pairs."""
        # near-identical docs -> identical simhash segments (hot buckets)
        rows = [(i, f"the quick brown fox jumps w{i}") for i in range(120)]
        rows += [(200 + i, f"c{i}a c{i}b c{i}c c{i}d unique words here") for i in range(30)]
        docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        plain = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in dedup.simhash_hamming_pairs(docs, hot_bucket_size=10**9).collect()
        }
        salted = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in dedup.simhash_hamming_pairs(
                docs, hot_bucket_size=16, n_salts=8
            ).collect()
        }
        assert plain and salted == plain


class TestDhashSkew:
    @staticmethod
    def _sigs(spark):
        """100 near-black thumbnails (only the low 12 bits set, so every
        segment above them is all zeros: one hot value shared by 100 tiles)
        plus 40 random hashes and one-bit near copies of ten of them."""
        rng = np.random.default_rng(7)
        vals = [int(v) for v in rng.integers(0, 1 << 12, 100)]
        rand = [int(v) for v in rng.integers(0, 2**64, 40, dtype=np.uint64)]
        vals += rand + [v ^ (1 << int(b)) for v, b in zip(rand[:10], rng.integers(0, 64, 10))]
        rows = [
            (f"t{i:03d}", format(v, "064b"), v >> 32, v & 0xFFFFFFFF)
            for i, v in enumerate(vals)
        ]
        return rows, spark.createDataFrame(
            rows, "tile_id string, dhash string, h_hi long, h_lo long"
        )

    @pytest.mark.parametrize("max_dist", [1, 4])
    def test_hot_segment_salted_exact(self, spark, monkeypatch, max_dist):
        """A hot segment value is salted (the module's threshold is lowered
        to reach it on a small fixture) and returns exactly the unsalted
        run's (id_a, id_b, dist) set, which is the brute-force all-pairs
        answer.  Both runs have the one salted plan shape; only the hot
        run spreads the hot value's side-a rows over several salts."""
        rows, sigs = self._sigs(spark)
        a_sides = capture_side_a(monkeypatch, dedup)

        def run():
            a_sides.clear()
            out = dedup.dhash_hamming_pairs(sigs, max_dist=max_dist)
            assert_salted_pair_join(out._jdf.queryExecution().executedPlan().toString(), "dhash")
            # segment 0 is all zeros for the 100 near-black tiles t000..t099
            salts = {
                r["salt"]: r["count"]
                for r in a_sides[0]
                .filter((F.col("seg") == 0) & (F.col("iid") < "t100"))
                .groupBy("salt")
                .count()
                .collect()
            }
            return {(r["id_a"], r["id_b"], r["dist"]) for r in out.collect()}, salts

        plain, plain_salts = run()
        monkeypatch.setattr(dedup, "HOT_KEY_THRESHOLD", 16)
        monkeypatch.setattr(dedup, "N_SALTS", 8)
        salted, hot_salts = run()
        assert plain_salts == {0: 100}
        assert len(hot_salts) > 1 and max(hot_salts.values()) < 50
        brute = set()
        for i, (ia, da, _, _) in enumerate(rows):
            for ib, db, _, _ in rows[i + 1:]:
                d = bin(int(da, 2) ^ int(db, 2)).count("1")
                if d <= max_dist:
                    brute.add((min(ia, ib), max(ia, ib), d))
        # at least the ten one-bit near copies
        assert len(plain) >= 10 and plain == brute
        assert salted == plain


def test_pair_operators_fire_no_job_until_forced(spark):
    """The pair operators build a lazy plan: no probe, no size action —
    the caller's action is the only work."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(range(40)),
                "text": [f"the quick brown fox w{i % 7} jumps" for i in range(40)],
            }
        )
    )
    _, sigs = TestDhashSkew._sigs(spark)
    sc = spark.sparkContext
    group = "pair-operators-lazy"
    sc.setJobGroup(group, "build pair operators")
    try:
        outs = [
            dedup.lsh_candidate_pairs(docs),
            dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5),
            dedup.simhash_hamming_pairs(docs),
            dedup.dhash_hamming_pairs(sigs),
        ]
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        for out in outs:
            out.collect()
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


class TestTextCuration:
    def test_repetition_signals_edges(self, spark):
        from geetiles_spark.operators import text as textop

        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2, 3],
                    "text": [
                        "spam spam spam spam",      # fully repeated
                        "all words are different",  # no repetition
                        "one",                       # single word: no bigrams
                    ],
                }
            )
        )
        got = {
            r["doc_id"]: (
                r["n_words"], r["dup_word_frac"], r["top_word_frac"], r["dup_2gram_frac"]
            )
            for r in textop.repetition_signals(docs).collect()
        }
        assert got[1] == (4, 0.75, 1.0, round(1 - 1 / 3, 6))
        assert got[2] == (4, 0.0, 0.25, 0.0)
        assert got[3] == (1, 0.0, 1.0, 0.0)

    def test_ngram_contamination_flags_shared_grams(self, spark):
        from geetiles_spark.operators import text as textop

        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [0, 1, 2, 3],
                    "text": [
                        "the quick brown fox jumps",       # eval doc
                        "look the quick brown dog here",   # shares 'the quick brown'
                        "completely unrelated words here now",  # clean
                        "quick brown fox jumps again",     # shares 2 grams
                    ],
                }
            )
        )
        got = {
            r["doc_id"]: (r["n_shared"], r["contaminated"])
            for r in textop.ngram_contamination(docs, [0], n=3).collect()
        }
        assert 0 not in got  # eval doc excluded from the output
        assert got[1] == (1, 1)
        assert got[2] == (0, 0)
        assert got[3] == (2, 1)  # 'quick brown fox', 'brown fox jumps'


class TestPackSequences:
    def test_invariants_and_partition_independence(self, spark):
        from geetiles_spark.operators import text as textop

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        cap = 200
        out = textop.pack_sequences(docs, capacity=cap, n_bins=4).toPandas()
        assert len(out) == docs.count()
        # per (bin, window): token sum fits the capacity unless the window
        # holds a single overlong doc
        for (_, _), g in out.groupby(["bin", "window_id"]):
            total = g["n_tokens"].sum()
            assert total <= cap or len(g) == 1
            # offsets are the contiguous prefix sums in doc_id order
            g = g.sort_values("doc_id")
            assert list(g["offset"]) == list(
                g["n_tokens"].cumsum().shift(fill_value=0)
            )
        # deterministic under a different input partitioning
        out2 = textop.pack_sequences(
            docs.repartition(13), capacity=cap, n_bins=4
        ).toPandas()
        a = out.sort_values("doc_id").reset_index(drop=True)
        b = out2.sort_values("doc_id").reset_index(drop=True)
        assert a.equals(b)


class TestStratifiedSample:
    def test_rate_determinism_and_partition_independence(self, spark):
        from geetiles_spark.operators import text as textop

        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        s1 = {r["doc_id"] for r in textop.stratified_sample(docs, 0.2, seed=7).collect()}
        s2 = {r["doc_id"] for r in textop.stratified_sample(docs.repartition(13), 0.2, seed=7).collect()}
        assert s1 == s2  # partition-independent
        n = docs.count()
        assert 0.15 * n <= len(s1) <= 0.25 * n  # ~fraction
        s3 = {r["doc_id"] for r in textop.stratified_sample(docs, 0.2, seed=8).collect()}
        assert s3 != s1  # seed changes the sample


def _grid_tiles() -> pd.DataFrame:
    """6 x 6 unit box tiles over [0, 6]^2."""
    rows = []
    for k in range(36):
        x0, y0 = float(k % 6), float(k // 6)
        rows.append(
            {
                "row_idx": k, "tile_id": f"t{k}",
                "geometry_wkb": geom.polygon_to_wkb(
                    geom.box_ring(x0, y0, x0 + 1, y0 + 1)
                ),
                "minx": x0, "miny": y0, "maxx": x0 + 1, "maxy": y0 + 1,
            }
        )
    return pd.DataFrame(rows)


def _footprints() -> pd.DataFrame:
    """A triangle, an L-shape and a box with bounds on a 0.25 lattice, so a
    decimal(12,2) cast of the bounds is exact."""
    shapes = [
        [(0.5, 0.5), (3.75, 1.25), (1.25, 4.5)],
        [(2.0, 2.0), (5.5, 2.0), (5.5, 2.75), (2.75, 2.75), (2.75, 5.5), (2.0, 5.5)],
        [(4.25, 0.25), (5.75, 0.25), (5.75, 1.5), (4.25, 1.5)],
    ]
    rows = []
    for i, verts in enumerate(shapes):
        ring = geom.ring_close(np.array(verts, dtype=np.float64))
        rows.append(
            {
                "row_idx": i, "tile_id": f"f{i}", "event_id": i,
                "geometry_wkb": geom.polygon_to_wkb(ring),
                "minx": ring[:, 0].min(), "miny": ring[:, 1].min(),
                "maxx": ring[:, 0].max(), "maxy": ring[:, 1].max(),
                "start": "2020-02-01", "end": "2020-03-01",
            }
        )
    return pd.DataFrame(rows)


def _decimal_bounds(df):
    return df.withColumns(
        {c: F.col(c).cast("decimal(12,2)") for c in ("minx", "miny", "maxx", "maxy")}
    )


def _intersect(spark, other):
    tiles = spark.createDataFrame(_grid_tiles())
    return joins.intersect_join_cells(tiles, other.drop("event_id", "start", "end"))


def _interval(spark, other):
    tiles = spark.createDataFrame(_grid_tiles())
    return joins.interval_spatial_join(
        tiles, other.drop("row_idx", "tile_id"), "2020-01-01", "2020-12-31"
    )


def _pip_shuffle(spark, other):
    rng = np.random.default_rng(5)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": np.arange(400, dtype=np.int64),
                "lon": rng.uniform(0.0, 6.0, 400),
                "lat": rng.uniform(0.0, 6.0, 400),
            }
        )
    )
    polys = other.drop("row_idx", "event_id", "start", "end")
    return joins.point_in_polygon_join(pts, polys, broadcast_polys=False)


@pytest.mark.parametrize("op", [_intersect, _interval, _pip_shuffle])
def test_decimal_bounds_match_double_bounds(spark, op):
    """DECIMAL bbox columns (what SQL arithmetic on literals yields) take
    the cell explode like doubles do: same rows, no TypeError."""
    other = spark.createDataFrame(_footprints())
    want = sorted(tuple(r) for r in op(spark, other).collect())
    got = sorted(tuple(r) for r in op(spark, _decimal_bounds(other)).collect())
    assert got == want and len(want) > 3


class TestLshShuffleReduction:
    """Round 6 (VERDICT r5 next #3): long-key banded join + verify inside
    the join granule + dictionary id encoding — all result-preserving."""

    def _docs(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def test_threshold_pairs_are_verified_subset(self, spark):
        from geetiles_spark import cache

        docs = self._docs(spark)
        with cache.persist_scope():
            allp = {(r["doc_a"], r["doc_b"])
                    for r in dedup.lsh_candidate_pairs(docs).collect()}
        with cache.persist_scope():
            ver = {(r["doc_a"], r["doc_b"])
                   for r in dedup.lsh_candidate_pairs(
                       docs, est_jaccard_threshold=0.5).collect()}
        assert ver and ver < allp  # strict subset: the filter really cuts
        # every surviving pair clears the component-match bound; every
        # rejected candidate fails it (checked against the signatures)
        with cache.persist_scope():
            sig = {
                r["doc_id"]: r["sig"]
                for r in dedup.minhash_signatures(
                    dedup.char_shingles_flat(docs, 5), 8
                ).collect()
            }
        for a, b in allp:
            m = sum(x == y for x, y in zip(sig[a], sig[b]))
            assert ((a, b) in ver) == (m >= 4), (a, b, m)

    def test_encode_ids_matches_long_id_path(self, spark):
        from geetiles_spark import cache

        docs = self._docs(spark)
        sdocs = docs.select(
            F.concat(F.lit("doc-"), F.format_string("%06d", "doc_id")).alias("doc_id"),
            "text",
        )
        with cache.persist_scope():
            longp = {(r["doc_a"], r["doc_b"])
                     for r in dedup.lsh_candidate_pairs(docs).collect()}
        with cache.persist_scope():
            encp = {(r["doc_a"], r["doc_b"])
                    for r in dedup.lsh_candidate_pairs(
                        sdocs, encode_ids=True).collect()}
        assert encp == {(f"doc-{a:06d}", f"doc-{b:06d}") for a, b in longp}

    def test_salted_hot_path_exact_with_long_keys(self, spark):
        from geetiles_spark import cache

        docs = self._docs(spark)
        with cache.persist_scope():
            plain = {(r["doc_a"], r["doc_b"])
                     for r in dedup.lsh_candidate_pairs(docs).collect()}
        with cache.persist_scope():
            salted = {(r["doc_a"], r["doc_b"])
                      for r in dedup.lsh_candidate_pairs(
                          docs, hot_bucket_size=2, n_salts=4).collect()}
        assert salted == plain


class TestExactSubstrSpans:
    def _spans(self, spark, rows, k=3):
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(range(len(rows))), "text": rows})
        )
        return {
            (r["doc_id"], r["span_start"], r["span_len"], r["n_windows"])
            for r in dedup.exact_substr_spans(docs, k=k).collect()
        }

    def test_cross_doc_duplicate_span_and_offsets(self, spark):
        # "c d e" (3 tokens = one 3-window) shared across docs 0 and 1,
        # at token offsets 3 and 1 respectively
        got = self._spans(
            spark, ["x y z c d e tail", "q c d e", "nothing shared here at all"]
        )
        assert got == {(0, 4, 3, 1), (1, 2, 3, 1)}

    def test_within_doc_repeat_counts_as_duplicate(self, spark):
        # Lee et al. count all positions incl. the same doc: "a b c" twice
        # inside doc 0 -> both occurrences are spans; doc 1 is clean
        got = self._spans(spark, ["a b c z z a b c", "totally different words here"])
        assert got == {(0, 1, 3, 1), (0, 6, 3, 1)}

    def test_adjacent_windows_merge_to_maximal_span(self, spark):
        # 4 shared tokens = two overlapping 3-windows -> ONE maximal span
        # of len 4 with n_windows=2, not two rows
        got = self._spans(spark, ["p q c d e f", "c d e f r s"])
        assert got == {(0, 3, 4, 2), (1, 1, 4, 2)}

    def test_short_docs_emit_nothing(self, spark):
        # both docs are < k tokens: no windows exist, no rows out (and the
        # descending-sequence footgun for len-k+1 <= 0 must not fire)
        assert self._spans(spark, ["a b", "a b"], k=5) == set()


class TestPiiScrub:
    def test_counts_and_redaction(self, spark):
        from geetiles_spark.operators import text as textop

        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2],
                    "text": [
                        "mail a.user+tag@sub.example.org or +4915512345678 "
                        "host 192.168.0.1 done",
                        "no pii in this one at all",
                    ],
                }
            )
        )
        got = {r["doc_id"]: r for r in textop.pii_scrub(docs).collect()}
        assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_phone"]) == (1, 1, 1)
        assert got[1]["text_redacted"] == (
            "mail <EMAIL> or <PHONE> host <IP> done"
        )
        assert (got[2]["n_email"], got[2]["n_ipv4"], got[2]["n_phone"]) == (0, 0, 0)
        assert got[2]["text_redacted"] == "no pii in this one at all"

    def test_placeholders_opaque_to_later_patterns(self, spark):
        from geetiles_spark.operators import text as textop

        # the email's digits/dots must not re-match as an IP after
        # replacement (sequential order contract)
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "text": ["ping 1.2.3.4@a.co end"]})
        )
        r = textop.pii_scrub(docs).collect()[0]
        # the email scanner wins the leftmost region; raw-text counts see
        # both patterns independently
        assert r["n_email"] == 1 and r["n_ipv4"] == 1
        assert r["text_redacted"] == "ping <EMAIL> end"


class TestLmPerplexity:
    def test_hand_computed_bigram_model(self, spark):
        import math

        from geetiles_spark.operators import text as textop

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [0, 1], "text": ["a b a b", "a b"]})
        )
        got = {r["doc_id"]: r for r in textop.lm_perplexity(docs).collect()}
        # corpus bigram stream: doc0 ('',a)(a,b)(b,a)(a,b); doc1 ('',a)(a,b)
        # counts: ('',a)=2 (a,b)=3 (b,a)=1; ctx ''=2 a=3 b=1; B=65536
        lp_bos_a = math.log((2 + 1) / (2 + 65536))
        lp_a_b = math.log((3 + 1) / (3 + 65536))
        lp_b_a = math.log((1 + 1) / (1 + 65536))
        avg0 = (lp_bos_a + lp_a_b + lp_b_a + lp_a_b) / 4
        avg1 = (lp_bos_a + lp_a_b) / 2
        assert got[0]["n_tokens"] == 4 and got[1]["n_tokens"] == 2
        assert got[0]["avg_logp"] == round(avg0, 6)
        assert got[1]["avg_logp"] == round(avg1, 6)
        assert got[0]["ppl"] == round(math.exp(-avg0), 2)
        assert got[1]["ppl"] == round(math.exp(-avg1), 2)

    def test_repeated_text_scores_lower_ppl(self, spark):
        # an LM trained on the corpus must find the duplicated doc more
        # predictable than the singleton junk doc
        from geetiles_spark.operators import text as textop

        dup = "the cat sat on the mat and then the cat sat again"
        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [0, 1, 2, 3],
                    "text": [dup, dup, dup, "zq xv wk jn pf lb dg rm ts hc"],
                }
            )
        )
        got = {r["doc_id"]: r["ppl"] for r in textop.lm_perplexity(docs).collect()}
        assert got[0] == got[1] == got[2] < got[3]


class TestDsirSelect:
    def test_target_like_docs_win(self, spark):
        from geetiles_spark.operators import text as textop

        # 6 "en-like" docs sharing a vocabulary, 6 junk docs with disjoint
        # unigrams/bigrams; select half -> the en-like docs must dominate
        en = ["the cat sat on the mat", "the dog sat on the rug",
              "the cat and the dog", "a cat on a mat",
              "the mat and the rug", "a dog and a cat"]
        junk = ["zq xv wk jn", "pf lb dg rm", "ts hc qn vz",
                "bk wx jz qf", "mv ld gr tp", "cs hn qv zb"]
        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": list(range(12)),
                    "text": en + junk,
                    "lang": ["en"] * 6 + ["xx"] * 6,
                }
            )
        )
        sel = {r["doc_id"] for r in textop.dsir_select(docs, k=6).collect()}
        assert len(sel & set(range(6))) >= 5

    def test_partition_count_independent(self, spark):
        from geetiles_spark.operators import text as textop

        base = pd.DataFrame(
            {
                "doc_id": list(range(40)),
                "text": [f"w{i % 7} common word stream t{i % 3}" for i in range(40)],
                "lang": ["en" if i % 2 == 0 else "de" for i in range(40)],
            }
        )
        a = textop.dsir_select(
            spark.createDataFrame(base).repartition(1), k=10
        ).collect()
        b = textop.dsir_select(
            spark.createDataFrame(base).repartition(17), k=10
        ).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_topk_is_take_ordered_not_global_sort(self, spark):
        from geetiles_spark.operators import text as textop

        docs = spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": [1, 2], "text": ["a b", "c d"], "lang": ["en", "de"]}
            )
        )
        plan = textop.dsir_select(docs, k=1)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestExactSubstrScrub:
    def _scrub(self, spark, rows, k=3):
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(range(len(rows))), "text": rows})
        )
        return {
            r["doc_id"]: (r["n_removed"], r["text_clean"])
            for r in dedup.exact_substr_scrub(docs, k=k).collect()
        }

    def test_shared_span_cut_from_both_docs(self, spark):
        got = self._scrub(
            spark, ["x y c d e tail", "q c d e", "nothing shared here at all"]
        )
        assert got[0] == (3, "x y tail")
        assert got[1] == (3, "q")
        assert got[2] == (0, "nothing shared here at all")

    def test_fully_duplicated_doc_becomes_empty(self, spark):
        got = self._scrub(spark, ["a b c", "a b c"])
        assert got[0] == (3, "") and got[1] == (3, "")

    def test_matches_spans_coverage(self, spark):
        # scrub's removed-token count per doc == union of span coverage
        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [0, 1, 2],
                    "text": [
                        "p q c d e f tail c d e f",
                        "c d e f r s",
                        "solo words only here",
                    ],
                }
            )
        )
        spans = dedup.exact_substr_spans(docs, k=3).collect()
        cov = {}
        for r in spans:
            cov.setdefault(r["doc_id"], set()).update(
                range(r["span_start"], r["span_start"] + r["span_len"])
            )
        scrub = {
            r["doc_id"]: r["n_removed"]
            for r in dedup.exact_substr_scrub(docs, k=3).collect()
        }
        for did in [0, 1, 2]:
            assert scrub[did] == len(cov.get(did, set()))


class TestVocabTopk:
    def test_hand_counts_and_coverage(self, spark):
        from geetiles_spark.operators import text as textop

        docs = spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": [0, 1], "text": ["a a a b b c", "a b z"]}
            )
        )
        rows = textop.vocab_topk(docs, k=3).collect()
        # counts: a=4 b=3 c=1 z=1 (tot 9); top3 ties broken by token text
        assert [(r["rank"], r["token"], r["cnt"]) for r in rows] == [
            (1, "a", 4), (2, "b", 3), (3, "c", 1)
        ]
        assert rows[0]["frac"] == round(4 / 9, 6)
        assert rows[2]["cum_frac"] == round(8 / 9, 6)

    def test_topk_plan_is_take_ordered_with_hash_join(self, spark):
        from geetiles_spark.operators import text as textop

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [0], "text": ["x y"]})
        )
        df = textop.vocab_topk(docs, k=2)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        # the global-total attach constant-folds to a ONE-row Identity
        # broadcast (benign BNLJ: k probe rows x 1 build row)
        assert "IdentityBroadcastMode" in plan


class TestSpanPreservingScrub:
    """docs.transform_text_spans / scrub_text_spans: the north-rule span
    invariant enforced by construction, not just checked after the fact."""

    def _docs(self, spark):
        from geetiles_spark.sources.docs import DOC_SCHEMA

        rows = [
            (
                "d1",
                [
                    {"kind": "text", "text": "mail me at bob@corp.io now",
                     "media_ref": "", "offset": 0},
                    {"kind": "media", "text": "", "media_ref": "ds/t-1",
                     "offset": 1},
                    {"kind": "text", "text": "server 192.168.0.7 down",
                     "media_ref": "", "offset": 2},
                    {"kind": "media", "text": "", "media_ref": "ds/t-2",
                     "offset": 3},
                ],
            ),
            (
                "d2",
                [
                    {"kind": "text", "text": "call +14155550100 today",
                     "media_ref": "", "offset": 0},
                ],
            ),
        ]
        return spark.createDataFrame(rows, DOC_SCHEMA)

    def test_redacts_text_spans_only(self, spark):
        from geetiles_spark.sources import docs as docsrc

        out = {
            r["doc_id"]: r["spans"]
            for r in docsrc.scrub_text_spans(self._docs(spark)).collect()
        }
        assert out["d1"][0]["text"] == "mail me at <EMAIL> now"
        assert out["d1"][2]["text"] == "server <IP> down"
        assert out["d2"][0]["text"] == "call <PHONE> today"
        # media spans byte-identical, order + offsets intact
        assert out["d1"][1].asDict() == {
            "kind": "media", "text": "", "media_ref": "ds/t-1", "offset": 1
        }
        assert [s["offset"] for s in out["d1"]] == [0, 1, 2, 3]

    def test_structure_fingerprint_invariant(self, spark):
        """(kind, media_ref, offset, order) identical before/after."""
        from pyspark.sql import functions as F
        from geetiles_spark.sources import docs as docsrc

        def structure(df):
            return {
                r["doc_id"]: r["s"]
                for r in df.select(
                    "doc_id",
                    F.transform(
                        "spans",
                        lambda s: F.concat_ws(
                            "|", s["kind"], s["media_ref"],
                            s["offset"].cast("string"),
                        ),
                    ).alias("s"),
                ).collect()
            }

        d = self._docs(spark)
        assert structure(d) == structure(docsrc.scrub_text_spans(d))

    def test_idempotent(self, spark):
        from geetiles_spark.sources import docs as docsrc

        once = docsrc.scrub_text_spans(self._docs(spark))
        twice = docsrc.scrub_text_spans(once)
        a = sorted((r["doc_id"], str(r["spans"])) for r in once.collect())
        b = sorted((r["doc_id"], str(r["spans"])) for r in twice.collect())
        assert a == b

    def test_plan_is_udf_free_projection(self, spark):
        """The scrub is a single whole-stage-codegen map — no Python UDF,
        no shuffle (the 10^12-doc requirement)."""
        from geetiles_spark.sources import docs as docsrc

        plan = (
            docsrc.scrub_text_spans(self._docs(spark))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "Exchange" not in plan


class TestMultimodalDedup:
    """dedup.multimodal_dedup + multimodal.chip_content_hash: documents
    collapse by media CONTENT, not by media_ref string."""

    def _fixture(self, spark):
        import numpy as np
        from geetiles_spark.sources.docs import DOC_SCHEMA

        px_a = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
        px_b = px_a + np.uint8(1)  # uint8 wraps; % 256 would promote to int16
        chips = spark.createDataFrame(
            [
                ("t1", "ds", px_a.tobytes(), "uint8", 4, 4, 3, "ok"),
                ("t2", "ds", px_a.tobytes(), "uint8", 4, 4, 3, "ok"),  # same bytes
                ("t3", "ds", px_b.tobytes(), "uint8", 4, 4, 3, "ok"),
            ],
            "tile_id string, dataset string, payload binary, dtype string, "
            "height int, width int, bands int, status string",
        )
        docs = spark.createDataFrame(
            [
                ("dA", [{"kind": "text", "text": "same page", "media_ref": "", "offset": 0},
                         {"kind": "media", "text": "", "media_ref": "ds/t1", "offset": 1}]),
                ("dB", [{"kind": "text", "text": "same page", "media_ref": "", "offset": 0},
                         {"kind": "media", "text": "", "media_ref": "ds/t2", "offset": 1}]),
                ("dC", [{"kind": "text", "text": "same page", "media_ref": "", "offset": 0},
                         {"kind": "media", "text": "", "media_ref": "ds/t3", "offset": 1}]),
                ("dD", [{"kind": "text", "text": "other page", "media_ref": "", "offset": 0},
                         {"kind": "media", "text": "", "media_ref": "ds/t1", "offset": 1}]),
            ],
            DOC_SCHEMA,
        )
        return docs, chips

    def test_collapses_by_content_not_ref(self, spark):
        from geetiles_spark.operators import dedup, multimodal

        docs, chips = self._fixture(spark)
        content = multimodal.chip_content_hash(chips)
        out = {r["doc_id"]: r for r in dedup.multimodal_dedup(docs, content).collect()}
        # dA and dB embed byte-identical images under DIFFERENT refs
        assert out["dA"]["fp"] == out["dB"]["fp"]
        assert out["dB"]["canonical_doc_id"] == "dA"
        assert (out["dA"]["keep"], out["dB"]["keep"]) == (1, 0)
        # one different pixel -> different doc
        assert out["dC"]["fp"] != out["dA"]["fp"] and out["dC"]["keep"] == 1
        # same image, different text -> different doc
        assert out["dD"]["fp"] != out["dA"]["fp"] and out["dD"]["keep"] == 1
        assert all(r["n_media"] == 1 for r in out.values())

    def test_content_hash_order_canonical(self, spark):
        """(band, y, x) serialization order: transposed pixels hash
        differently unless the array is symmetric."""
        import hashlib
        import numpy as np
        from geetiles_spark.operators import multimodal

        arr = np.arange(27, dtype=np.uint8).reshape(3, 3, 3)
        chips = spark.createDataFrame(
            [("t", "ds", arr.tobytes(), "uint8", 3, 3, 3, "ok")],
            "tile_id string, dataset string, payload binary, dtype string, "
            "height int, width int, bands int, status string",
        )
        got = multimodal.chip_content_hash(chips).first()
        want = hashlib.md5(
            ",".join(map(str, arr.transpose(2, 0, 1).ravel().tolist())).encode()
        ).hexdigest()
        assert got["chash"] == want and got["n_pixels"] == 27


class TestImageDhash:
    def _chips(self, spark, arrays):
        rows = [
            (tid, "ds", a.tobytes(), "uint8", a.shape[0], a.shape[1],
             1 if a.ndim == 2 else a.shape[2], "ok")
            for tid, a in arrays
        ]
        return spark.createDataFrame(
            rows,
            "tile_id string, dataset string, payload binary, dtype string, "
            "height int, width int, bands int, status string",
        )

    def test_hand_computed_8x9(self, spark):
        """An 8x9 single-band chip needs no resize: bits are the raw
        column differences."""
        import numpy as np
        from geetiles_spark.operators import multimodal

        a = np.zeros((8, 9), dtype=np.uint8)
        a[:, 1::2] = 200  # alternating columns: bits 10101010 per row
        got = multimodal.image_dhash(self._chips(spark, [("t", a)])).first()
        assert got["dhash"] == "10101010" * 8
        val = int(got["dhash"], 2)
        assert got["h_hi"] == val >> 32 and got["h_lo"] == val & 0xFFFFFFFF

    def test_one_pixel_perturbation_moves_few_bits(self, spark):
        import numpy as np
        from geetiles_spark.operators import multimodal

        rng = np.random.default_rng(9)
        a = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
        b = a.copy()
        b[0, 0, 0] = (int(b[0, 0, 0]) + 1) % 256
        c = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)  # unrelated
        out = {
            r["tile_id"]: r
            for r in multimodal.image_dhash(
                self._chips(spark, [("a", a), ("near", b), ("other", c)])
            ).collect()
        }
        ham = lambda x, y: sum(
            c1 != c2 for c1, c2 in zip(out[x]["dhash"], out[y]["dhash"])
        )
        assert ham("a", "near") <= 1
        assert ham("a", "other") > 10

    def test_pairs_match_brute(self, spark):
        """Pigeonhole join == brute-force Hamming scan (recall 1 at the
        threshold), report-once (no duplicate pairs)."""
        import numpy as np
        from geetiles_spark.operators import dedup, multimodal

        rng = np.random.default_rng(4)
        base = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
        arrays = [("t00", base)]
        for i in range(1, 12):
            m = base.copy()
            # increasingly perturbed copies
            m[: i * 2, : i * 2, :] = rng.integers(0, 256, (i * 2, i * 2, 3))
            arrays.append((f"t{i:02d}", m))
        sigs = multimodal.image_dhash(self._chips(spark, arrays))
        rows = {r["tile_id"]: r["dhash"] for r in sigs.collect()}
        ids = sorted(rows)
        brute = sorted(
            (a, b, sum(x != y for x, y in zip(rows[a], rows[b])))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if sum(x != y for x, y in zip(rows[a], rows[b])) <= 6
        )
        got = sorted(
            (r["id_a"], r["id_b"], r["dist"])
            for r in dedup.dhash_hamming_pairs(sigs, max_dist=6).collect()
        )
        assert got == brute
        assert len(got) == len({(a, b) for a, b, _ in got})  # report-once
        assert len(got) > 0


class TestAudioFingerprint:
    def test_contour_and_robustness(self, spark):
        import numpy as np
        from geetiles_spark.operators import dedup, multimodal

        rng = np.random.default_rng(11)
        base = rng.integers(-30000, 30000, 1600).astype("<i2")
        near = base.copy()
        near[0] = np.int16(((int(near[0]) + 1 + 32768) % 65536) - 32768)
        other = rng.integers(-30000, 30000, 1600).astype("<i2")
        clips = spark.createDataFrame(
            [("a", base.tobytes()), ("near", near.tobytes()),
             ("other", other.tobytes())],
            "tile_id string, payload binary",
        )
        sigs = multimodal.audio_fingerprint(clips)
        rows = {r["tile_id"]: r for r in sigs.collect()}
        assert all(len(r["dhash"]) == 64 for r in rows.values())
        ham = lambda x, y: sum(
            c1 != c2 for c1, c2 in zip(rows[x]["dhash"], rows[y]["dhash"])
        )
        assert ham("a", "near") <= 1
        assert ham("a", "other") > 10
        # halves reconstruct the bitstring
        for r in rows.values():
            val = int(r["dhash"], 2)
            assert r["h_hi"] == val >> 32 and r["h_lo"] == val & 0xFFFFFFFF
        # the image pair machinery works unchanged on audio signatures
        pairs = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in dedup.dhash_hamming_pairs(sigs, max_dist=4).collect()
        }
        assert ("a", "near") in pairs and pairs[("a", "near")] <= 1
        assert not any("other" in p for p in pairs)


class TestImageNearDupGroups:
    def test_dhash_pairs_compose_with_components(self, spark):
        """The image near-dup pipeline end-to-end: dHash -> pigeonhole
        Hamming pairs -> the UNCHANGED connected_components grouping
        (operator reuse across modalities is the design: pairs of any
        provenance feed the same clustering stage)."""
        import numpy as np
        from geetiles_spark.operators import dedup, multimodal

        rng = np.random.default_rng(21)
        # two clusters of near-identical images + one singleton
        a = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
        b = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
        arrays = [("a0", a), ("b0", b)]
        for i in (1, 2):
            for tag, base in (("a", a), ("b", b)):
                m = base.copy()
                m[0, i, 0] += np.uint8(i)
                arrays.append((f"{tag}{i}", m))
        arrays.append(
            ("lone", rng.integers(0, 256, (32, 32, 3), dtype=np.uint8))
        )
        chips = spark.createDataFrame(
            [
                (tid, "ds", arr.tobytes(), "uint8", 32, 32, 3, "ok")
                for tid, arr in arrays
            ],
            "tile_id string, dataset string, payload binary, dtype string, "
            "height int, width int, bands int, status string",
        )
        sigs = multimodal.image_dhash(chips)
        pairs = dedup.dhash_hamming_pairs(sigs, max_dist=6)
        comp = {
            r["node"]: r["component"]
            for r in dedup.connected_components(
                pairs, a_col="id_a", b_col="id_b"
            ).collect()
        }
        assert comp["a1"] == comp["a2"] == comp["a0"] == "a0"
        assert comp["b1"] == comp["b2"] == comp["b0"] == "b0"
        assert "lone" not in comp  # no pairs -> not in the graph
