"""Tests for the SURVEY §2 long-tail: interval+spatial join (J5), group
filter (J6), shuffle/limit (W3), band-part union (W7), hash-guarded save
(K1), AOI catalog (S6), scalar-function wrappers, SAR/flood dataset defs."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geetiles_spark.catalog import Catalog
from geetiles_spark.functions import (
    align_to_lonlat,
    apply_range_map_col,
    apply_value_map_col,
)
from geetiles_spark.geo import geom, maps
from geetiles_spark.operators import joins
from geetiles_spark.sources import aoi_catalog, chips as chipsrc
from geetiles_spark.sources.datasets import get_dataset_definition

from . import AOI_FIXTURE_WKT


class TestIntervalSpatialJoin:
    def test_flood_style_join(self, spark, tiles_box):
        events = spark.createDataFrame(
            pd.DataFrame(
                [
                    # overlaps the whole aoi, inside the year
                    {"event_id": 1, "minx": 6.0, "miny": 49.6, "maxx": 6.2,
                     "maxy": 49.8, "start": "2020-03-01", "end": "2020-04-01"},
                    # spatially out
                    {"event_id": 2, "minx": 8.0, "miny": 50.6, "maxx": 8.2,
                     "maxy": 50.8, "start": "2020-03-01", "end": "2020-04-01"},
                    # temporally out
                    {"event_id": 3, "minx": 6.0, "miny": 49.6, "maxx": 6.2,
                     "maxy": 49.8, "start": "2019-03-01", "end": "2020-04-01"},
                    # small footprint over one corner
                    {"event_id": 4, "minx": 6.086, "miny": 49.6865,
                     "maxx": 6.09, "maxy": 49.69, "start": "2020-06-01",
                     "end": "2020-06-05"},
                ]
            )
        )
        out = joins.interval_spatial_join(
            tiles_box, events, "2020-01-01", "2020-12-31"
        )
        pdf = out.toPandas()
        assert set(pdf["event_id"]) == {1, 4}
        n_tiles = tiles_box.count()
        assert (pdf["event_id"] == 1).sum() == n_tiles  # event 1 covers all
        assert 0 < (pdf["event_id"] == 4).sum() < n_tiles

    def test_mixed_null_geometry_catalog(self, spark, tiles_box):
        """ADVICE r2: a mixed catalog where some events carry a footprint
        and others have geometry_wkb NULL — null footprints refine by bbox
        (no TypeError on the driver), and out-of-window geometries stay out
        of the broadcast."""
        from geetiles_spark.geo import geom

        tri = geom.ring_close(
            np.array([[6.08, 49.68], [6.12, 49.68], [6.08, 49.72]])
        )
        events = spark.createDataFrame(
            pd.DataFrame(
                [
                    {"event_id": 1, "minx": 6.08, "miny": 49.68, "maxx": 6.12,
                     "maxy": 49.72, "start": "2020-03-01", "end": "2020-04-01",
                     "geometry_wkb": geom.polygon_to_wkb(tri)},
                    # null footprint, bbox covers the whole AOI
                    {"event_id": 2, "minx": 6.0, "miny": 49.6, "maxx": 6.2,
                     "maxy": 49.8, "start": "2020-03-01", "end": "2020-04-01",
                     "geometry_wkb": None},
                    # temporally out AND null geometry: must not be collected
                    {"event_id": 3, "minx": 6.0, "miny": 49.6, "maxx": 6.2,
                     "maxy": 49.8, "start": "2019-03-01", "end": "2020-04-01",
                     "geometry_wkb": None},
                ]
            )
        )
        pdf = joins.interval_spatial_join(
            tiles_box, events, "2020-01-01", "2020-12-31"
        ).toPandas()
        n_tiles = tiles_box.count()
        assert set(pdf["event_id"]) == {1, 2}
        assert (pdf["event_id"] == 2).sum() == n_tiles  # bbox-exact
        # the triangle footprint excludes tiles in the bbox's lower-right
        assert 0 < (pdf["event_id"] == 1).sum() < n_tiles


class TestGroupFilter:
    def test_arrays_overlap(self, spark, tiles_box):
        tagged = tiles_box.withColumn(
            "group",
            F.when(F.col("row_idx") % 2 == 0, F.lit("a,b")).otherwise(F.lit("c")),
        )
        kept = joins.filter_groups(tagged, ["b"])
        assert kept.count() == tagged.filter(F.col("row_idx") % 2 == 0).count()
        assert joins.filter_groups(tagged, ["z"]).count() == 0


class TestShuffleLimit:
    def test_deterministic(self, spark, tiles_box):
        a = [r["tile_id"] for r in joins.shuffle_limit(tiles_box, 5, seed=3).collect()]
        b = [r["tile_id"] for r in joins.shuffle_limit(tiles_box, 5, seed=3).collect()]
        assert a == b and len(a) == 5
        c = [r["tile_id"] for r in joins.shuffle_limit(tiles_box, 5, seed=4).collect()]
        assert set(a) != set(c) or a != c


class TestBandParts:
    def test_merge(self, spark, tiles_box):
        base = chipsrc.generate_chips(tiles_box.limit(3), "esaworldcover-2020")
        rows = base.collect()
        parts = []
        for r in rows:
            arr = chipsrc.decode_payload(
                r["payload"], r["dtype"], r["height"], r["width"], r["bands"]
            )
            for pid in range(2):
                d = dict(r.asDict())
                d["part_id"] = pid
                d["bands"] = 1
                d["band_names"] = [f"b{pid+1}"]
                d["payload"] = bytes(np.ascontiguousarray(arr // (pid + 1)).tobytes())
                parts.append(d)
        pdf = pd.DataFrame(parts)
        parts_df = spark.createDataFrame(pdf)
        merged = chipsrc.merge_band_parts(parts_df)
        out = merged.collect()
        assert len(out) == 3
        m = out[0]
        assert m["bands"] == 2
        assert m["band_names"] == ["b1", "b2"]
        arr = chipsrc.decode_payload(
            m["payload"], m["dtype"], m["height"], m["width"], 2
        )
        np.testing.assert_array_equal(arr[:, :, 0] // 2, arr[:, :, 1])


class TestHashGuardSave:
    def test_guard(self, spark, tiles_box, tmp_path):
        cat = Catalog(str(tmp_path / "c"))
        cat.save_partitionset(spark, tiles_box, "t")
        # column addition: allowed
        cat.save_partitionset_guarded(
            spark, tiles_box.withColumn("extra", F.lit(1)), "t"
        )
        # geometry mutation: refused
        moved = tiles_box.withColumn("minx", F.col("minx") + 1.0)
        # tile ids derive from geometry -> recompute ids like a mutation would
        from geetiles_spark.geo import hashing

        @F.pandas_udf("string")
        def rehash(minx, miny, maxx, maxy):
            return pd.Series(hashing.region_hash_batch(
                minx.to_numpy(), miny.to_numpy(), maxx.to_numpy(), maxy.to_numpy()
            ))

        mutated = moved.withColumn("tile_id", rehash("minx", "miny", "maxx", "maxy"))
        with pytest.raises(ValueError, match="geometries changed"):
            cat.save_partitionset_guarded(spark, mutated, "t")


class TestAoiCatalog:
    def test_lookup_paths(self, spark):
        cat = aoi_catalog.synthetic_catalog(spark)
        lux = aoi_catalog.get_aoi(cat, "Luxembourg")
        assert lux is not None and len(lux) == 1
        # 2-letter code convenience: 'MU' -> 'MU1'
        mu = aoi_catalog.get_aoi(cat, "MU")
        assert mu is not None
        # continent match unions multiple members
        oceania = aoi_catalog.get_aoi(cat, "Oceania")
        assert oceania is not None and len(oceania) == 2
        assert aoi_catalog.get_aoi(cat, "Narnia") is None
        # file path short-circuit
        rings = aoi_catalog.get_aoi(cat, AOI_FIXTURE_WKT)
        assert rings is not None and len(rings[0]) > 100


class TestFunctionWrappers:
    def test_value_map_col_matches_kernel(self, spark):
        vals = list(range(0, 110, 5))
        pdf = pd.DataFrame({"v": vals})
        df = spark.createDataFrame(pdf)
        vm = {0: 0, 10: 1, 20: 2, 30: 3, 40: 4, 50: 5, 60: 6, 70: 7, 80: 8,
              90: 9, 95: 10, 100: 11}
        got = [r["m"] for r in df.select(
            apply_value_map_col(F.col("v"), dict(vm)).alias("m")
        ).collect()]
        exp = maps.apply_value_map(np.array(vals), dict(vm)).tolist()
        assert got == exp

    def test_range_map_col_matches_kernel(self, spark):
        vals = [0.0, 19.99, 20.0, 39.0, 40.0, 79.9, 80.0, 255.0]
        df = spark.createDataFrame(pd.DataFrame({"v": vals}))
        got = [r["m"] for r in df.select(
            apply_range_map_col(F.col("v"), [20, 40, 60, 80]).alias("m")
        ).collect()]
        exp = maps.apply_range_map(np.array(vals), [20, 40, 60, 80]).tolist()
        assert got == exp

    def test_align_noop(self):
        obj = object()
        assert align_to_lonlat(obj) is obj


class TestNewDatasetDefs:
    def test_s2_cloud_median_kernel(self):
        """F16 semantics on a hand-built stack: bit-10/11 masking, masked
        median, /10000 + visualize clamp, all-masked pixel -> 0."""
        from geetiles_spark.sources.datasets import s2_cloud_median_visualize

        # 3 images, 1x2 px, 1 band
        raw = np.array(
            [[[[1000], [4000]]], [[[2000], [4000]]], [[[3000], [4000]]]]
        )  # (3, 1, 2, 1)
        qa = np.zeros((3, 1, 2), dtype=np.uint16)
        qa[1, 0, 0] = 1 << 10       # image 1 cloudy at px0 -> median(1000,3000)=2000
        qa[:, 0, 1] = 1 << 11       # px1 all cirrus -> fully masked -> 0
        out = s2_cloud_median_visualize(raw, qa)
        # v = 2000/10000 = 0.2 -> floor(0.2/0.3*255) = floor(170.0) = 170
        assert out.shape == (1, 2, 1)
        assert out[0, 0, 0] == 170 and out[0, 1, 0] == 0
        # clamp: v = 0.4 > vis_max -> 255
        raw2 = np.full((1, 1, 1, 1), 4000)
        qa2 = np.zeros((1, 1, 1), dtype=np.uint16)
        assert s2_cloud_median_visualize(raw2, qa2)[0, 0, 0] == 255
        # interpolated even-count median: values 1000, 2000 -> 1500 -> 127
        raw3 = np.array([[[[1000]]], [[[2000]]]])
        qa3 = np.zeros((2, 1, 1), dtype=np.uint16)
        assert s2_cloud_median_visualize(raw3, qa3)[0, 0, 0] == 127

    def test_s2_def_deterministic_and_has_masked_pixels(self):
        d = get_dataset_definition("s2cloudmedian-2020")
        a = d.synth_chip("t1", 40, 40)
        b = d.synth_chip("t1", 40, 40)
        assert np.array_equal(a, b) and a.dtype == np.uint8
        raw, qa = d.synth_stack("t1", 40, 40)
        assert ((qa & (1 << 10)) != 0).any() and ((qa & (1 << 11)) != 0).any()

    def test_sar_post_process(self):
        d = get_dataset_definition("s1grd-2020")
        chip = d.synth_chip("abc", 10, 10)
        out = d.post_process_chip(chip)
        assert out.dtype == np.uint8
        assert out.min() >= 0 and out.max() <= 255

    def test_flood_zero_sum_nodata(self, spark, tiles_box):
        ch = chipsrc.generate_chips(tiles_box, "globalfloods-2020")
        pdf = ch.select("status").toPandas()
        assert (pdf["status"] == "nodata").any()  # dry tiles dropped (A5)
        assert (pdf["status"] == "ok").any()
        # every 'ok' chip has nonzero pixels
        for r in ch.filter(F.col("status") == "ok").collect():
            arr = chipsrc.decode_payload(
                r["payload"], r["dtype"], r["height"], r["width"], r["bands"]
            )
            assert arr.sum() > 0
