"""Differential tests: Spark operators vs the single-node pandas oracle
(tests/oracle.py — literal reimplementation of the reference algorithms),
plus invariants (span-sequence equality, resume idempotency, strategy
equivalence).  See SURVEY §5.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geetiles_spark.geo import geom
from geetiles_spark.operators import grid, joins
from geetiles_spark.operators import split as splitop
from geetiles_spark.operators import zonal
from geetiles_spark.sources import chips as chipsrc
from geetiles_spark.sources import datasets as dsets
from geetiles_spark.sources import docs as docsrc

from . import oracle


# ------------------------------------------------------------------ grid ---


class TestGrid:
    def test_matches_oracle(self, tiles_box, aoi_box):
        got = tiles_box.orderBy("row_idx").toPandas()
        exp = oracle.oracle_grid(aoi_box, 500)
        assert list(got["tile_id"]) == list(exp["tile_id"])
        assert list(got["row_idx"]) == list(exp["row_idx"])
        np.testing.assert_allclose(got["area_km2"], exp["area_km2"], rtol=1e-12)
        assert len(got) == 24  # FIXTURES.md: aoi_box @ 500m ≈ 24 tiles

    def test_luxembourg_golden_hash(self, spark, request):
        """The README walkthrough golden: lux @ 1000m dataset hash
        14c55eb7d417f (/root/reference/README.md:25)."""
        try:
            aoi_lux = request.getfixturevalue("aoi_lux")
        except FileNotFoundError as e:
            pytest.skip(f"the reference Luxembourg outline is not installed: {e.filename}")
        tiles = grid.make_grid(spark, aoi_lux, 1000, num_partitions=16)
        assert grid.dataset_hash(tiles) == "14c55eb7d417f"

    def test_fixture_golden_hash(self, spark, aoi_fixture):
        """The committed AOI fixture @ 1000m: 232 tiles and a frozen dataset
        hash (FIXTURES.md §2), the golden that runs without the reference."""
        tiles = grid.make_grid(spark, aoi_fixture, 1000, num_partitions=16)
        assert tiles.count() == 232
        assert grid.dataset_hash(tiles) == "30a1698a7d6f8"

    def test_tile_sides_constant_lonlat(self, tiles_box):
        # GEE degree-alignment requirement: tiles are lon/lat boxes
        r = tiles_box.first()
        ring = geom.wkb_to_polygon(bytes(r["geometry_wkb"]))
        assert len(np.unique(ring[:-1, 0])) == 2
        assert len(np.unique(ring[:-1, 1])) == 2

    def test_clipped_grid_variant(self, spark, aoi_box):
        t = grid.make_grid_clipped(spark, aoi_box, 500)
        df = t.toPandas()
        assert len(df) > 0
        # clipped tiles lie within the AOI bounds up to the straight-edge
        # chord effect: the AOI box projected to UTM keeps straight edges
        # between projected corners, which bulge ~1e-6 deg outside the
        # lon/lat box when mapped back (same with pyproj+shapely)
        b = geom.ring_bounds(geom.ring_close(aoi_box))
        assert (df["minx"] >= b[0] - 1e-5).all()
        assert (df["maxx"] <= b[2] + 1e-5).all()


# ----------------------------------------------------------------- zonal ---


class TestZonal:
    def test_matches_oracle(self, spark, tiles_box):
        name = "esaworldcover-2020"
        ch = chipsrc.generate_chips(tiles_box, name)
        got = {
            r["tile_id"]: dict(r["props"])
            for r in zonal.compute_proportions(tiles_box, ch, name).collect()
        }
        ddef = dsets.get_dataset_definition(name)
        tl = tiles_box.select("tile_id", "geometry_wkb").collect()
        checked = 0
        for r in tl:
            arr = ddef.synth_chip(r["tile_id"])
            if arr is None:
                assert r["tile_id"] not in got
                continue
            exp = oracle.oracle_proportions(
                arr, ddef, geom.wkb_to_polygon(bytes(r["geometry_wkb"]))
            )
            g = got[r["tile_id"]]
            assert set(g) == set(exp)
            for k in g:
                assert g[k] == pytest.approx(exp[k], abs=1e-12)
            checked += 1
        assert checked > 0

    def test_props_sum_to_one(self, spark, tiles_box):
        name = "esaworldcover-2020"
        ch = chipsrc.generate_chips(tiles_box, name)
        props = zonal.compute_proportions(tiles_box, ch, name)
        sums = props.select(
            F.aggregate(F.map_values("props"), F.lit(0.0), lambda a, x: a + x).alias("s")
        ).collect()
        for r in sums:
            assert r["s"] == pytest.approx(1.0, abs=1e-9)

    def test_string_keys(self, spark, tiles_box):
        name = "esaworldcover-2020"
        ch = chipsrc.generate_chips(tiles_box, name)
        r = zonal.compute_proportions(tiles_box, ch, name).first()
        assert all(isinstance(k, str) for k in r["props"].keys())

    def test_expand_props(self, spark, tiles_box):
        name = "esaworldcover-2020"
        ch = chipsrc.generate_chips(tiles_box, name)
        props = zonal.compute_proportions(tiles_box, ch, name)
        wide = zonal.expand_props(props)
        cols = [c for c in wide.columns if c.startswith("props__")]
        assert len(cols) > 0
        row = wide.first()
        for c in cols:
            assert row[c] is not None


# ----------------------------------------------------------------- joins ---


def _foreign_list(foreign_df):
    rows = foreign_df.orderBy("row_idx").collect()
    return [
        {
            "id": r["tile_id"],
            "ring": geom.wkb_to_polygon(bytes(r["geometry_wkb"])),
            "props": dict(r["props"]) if r["props"] else {},
        }
        for r in rows
    ]


class TestJoins:
    def test_intersect_matches_oracle(self, tiles_box, foreign_box):
        fl = _foreign_list(foreign_box)
        got = {
            r["tile_id"]: r["foreign_id"]
            for r in joins.intersect_join_cells(tiles_box, foreign_box).collect()
        }
        for r in tiles_box.select("tile_id", "geometry_wkb").collect():
            exp = oracle.oracle_intersect(geom.wkb_to_polygon(bytes(r["geometry_wkb"])), fl)
            assert got[r["tile_id"]] == (str(exp) if exp != -1 else "-1")

    def test_strategies_agree_j1(self, tiles_box, foreign_box):
        a = sorted(
            (r["tile_id"], r["foreign_id"])
            for r in joins.intersect_join_broadcast(tiles_box, foreign_box).collect()
        )
        b = sorted(
            (r["tile_id"], r["foreign_id"])
            for r in joins.intersect_join_cells(tiles_box, foreign_box).collect()
        )
        assert a == b

    def test_foreign_props_matches_oracle(self, tiles_box, foreign_box):
        fl = _foreign_list(foreign_box)
        got = {
            r["tile_id"]: (r["foreign_id"], dict(r["props_at_foreign"]))
            for r in joins.foreign_proportions_cells(tiles_box, foreign_box).collect()
        }
        for r in tiles_box.select("tile_id", "geometry_wkb").collect():
            exp_props, exp_id = oracle.oracle_foreign_props(
                geom.wkb_to_polygon(bytes(r["geometry_wkb"])), fl
            )
            gid, gprops = got[r["tile_id"]]
            assert gid == (str(exp_id) if exp_id != -1 else "-1")
            assert set(gprops) == set(str(k) for k in exp_props)
            for k in gprops:
                # 1e-9: sliver intersections make weights sensitive to the
                # float-level op order, which differs between the vectorized
                # masked clip (Spark) and the scalar clip (oracle) — both
                # correct; GEOS would differ from either the same way
                assert gprops[k] == pytest.approx(exp_props[k], abs=1e-9)

    def test_no_intersection_sentinel(self, spark, tiles_box, foreign_box):
        # a far-away foreign set -> every tile gets '-1' and empty props
        far = foreign_box.withColumn("minx", F.col("minx") + 10).withColumn(
            "maxx", F.col("maxx") + 10
        )
        # shift the wkb too
        import pandas as pd

        rows = far.collect()
        shifted = []
        for i, r in enumerate(rows):
            ring = geom.wkb_to_polygon(bytes(r["geometry_wkb"]))
            ring[:, 0] += 10
            shifted.append(
                {
                    "row_idx": r["row_idx"],
                    "tile_id": r["tile_id"],
                    "geometry_wkb": geom.polygon_to_wkb(ring),
                    "minx": r["minx"],
                    "miny": r["miny"],
                    "maxx": r["maxx"],
                    "maxy": r["maxy"],
                    "area_km2": 0.0,
                    "props": r["props"],
                }
            )
        far2 = spark.createDataFrame(
            pd.DataFrame(shifted)[far.schema.names], schema=far.schema
        )
        out = joins.intersect_join_cells(tiles_box, far2).collect()
        assert all(r["foreign_id"] == "-1" for r in out)
        out2 = joins.foreign_proportions_cells(tiles_box, far2).collect()
        assert all(r["foreign_id"] == "-1" and len(r["props_at_foreign"]) == 0 for r in out2)

    def test_aoi_filter(self, spark, tiles_box, aoi_box):
        # every grid tile intersects the aoi by construction
        assert joins.aoi_filter(tiles_box, aoi_box).count() == tiles_box.count()
        tiny = geom.box_ring(6.099, 49.699, 6.101, 49.701)
        n = joins.aoi_filter(tiles_box, tiny).count()
        assert 0 < n < tiles_box.count()

    def test_knn_ring_expansion_matches_brute(self, spark, tiles_box):
        pts = tiles_box.select(
            F.col("tile_id").alias("id"),
            ((F.col("minx") + F.col("maxx")) / 2).alias("lon"),
            ((F.col("miny") + F.col("maxy")) / 2).alias("lat"),
        )
        qs = [("q0", 6.10, 49.70), ("q1", 6.086, 49.6865)]
        a = sorted(
            (r["query_id"], r["point_id"])
            for r in joins.knn_join(pts, qs, k=7).collect()
        )
        b = sorted(
            (r["query_id"], r["point_id"])
            for r in joins.knn_join_cells(pts, qs, k=7, level=14).collect()
        )
        assert a == b

    def test_knn_cells_driver_state_is_bounded(self, spark, tiles_box):
        """VERDICT r2 #4: the cell-count collect must be restricted to the
        queries' max-ring neighborhoods — O(queries * rings^2) driver rows,
        not O(occupied cells).  Points strewn across the planet far from the
        query must not appear in the collected dict."""
        pts = tiles_box.select(
            F.col("tile_id").alias("id"),
            ((F.col("minx") + F.col("maxx")) / 2).alias("lon"),
            ((F.col("miny") + F.col("maxy")) / 2).alias("lat"),
        )
        # scatter one far-away point per degree of longitude (360 extra
        # occupied cells at any level >= 10)
        far = spark.range(360).select(
            F.concat(F.lit("far"), F.col("id")).alias("id"),
            (F.col("id") - 180 + 0.5).cast("double").alias("lon"),
            F.lit(-40.0).alias("lat"),
        )
        both = pts.unionByName(far)
        qs = [("q0", 6.10, 49.70)]
        max_rings = 8
        from geetiles_spark.geo import cells

        pdf = both.toPandas().rename(columns={"id": "point_id"})
        pdf["cell"] = cells.cell_id(
            pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 14
        )
        counted = joins._neighborhood_cell_counts(
            spark.createDataFrame(pdf), qs, level=14, max_rings=max_rings
        )
        assert len(counted) <= (2 * max_rings + 1) ** 2
        # and the bounded counts still reproduce the brute result
        a = sorted(
            (r["query_id"], r["point_id"])
            for r in joins.knn_join(both, qs, k=7).collect()
        )
        b = sorted(
            (r["query_id"], r["point_id"])
            for r in joins.knn_join_cells(both, qs, k=7, level=14).collect()
        )
        assert a == b

    def test_knn(self, spark, tiles_box):
        pts = tiles_box.select(
            F.col("tile_id").alias("id"),
            ((F.col("minx") + F.col("maxx")) / 2).alias("lon"),
            ((F.col("miny") + F.col("maxy")) / 2).alias("lat"),
        )
        q = [("q0", 6.10, 49.70)]
        got = joins.knn_join(pts, q, k=5).orderBy("dist_m").collect()
        assert len(got) == 5
        # brute-force check
        pdf = pts.toPandas()
        lat = np.deg2rad(pdf["lat"]); lon = np.deg2rad(pdf["lon"])
        qla, qlo = np.deg2rad(49.70), np.deg2rad(6.10)
        h = np.sin((lat - qla) / 2) ** 2 + np.cos(lat) * np.cos(qla) * np.sin((lon - qlo) / 2) ** 2
        d = 2 * 6371008.8 * np.arcsin(np.sqrt(h))
        exp = set(pdf["id"].to_numpy()[np.argsort(d)[:5]])
        assert set(r["point_id"] for r in got) == exp


# ----------------------------------------------------------------- split ---


class TestSplit:
    @pytest.mark.parametrize("angle", [0.0, 0.3, 0.785, -0.3, -1.2])
    def test_matches_oracle(self, tiles_box, angle):
        got = (
            splitop.split(tiles_box, 8, angle, 0.5, 0.3, 0.2)
            .select("row_idx", "split")
            .orderBy("row_idx")
            .collect()
        )
        pdf = tiles_box.select("minx", "miny", "maxx", "maxy").orderBy("row_idx").toPandas()
        exp = oracle.oracle_split(pdf.to_numpy(), 8, angle, 0.5, 0.3, 0.2)
        assert [r["split"] for r in got] == exp

    def test_mode_per_foreign(self, tiles_box, foreign_box):
        with_split = splitop.split(tiles_box, 8, 0.3, 0.5, 0.3, 0.2)
        j1 = joins.intersect_join_cells(tiles_box, foreign_box)
        joined = with_split.join(j1, "tile_id")
        got = (
            splitop.split_per_partitions(joined, "foreign_id")
            .select("row_idx", "split_foreign_id")
            .orderBy("row_idx")
            .toPandas()
        )
        pdf = joined.select("row_idx", "foreign_id", "split").orderBy("row_idx").toPandas()
        exp = oracle.oracle_split_mode(pdf, "foreign_id")
        assert list(got["split_foreign_id"]) == list(exp)

    def test_rejects_bad_pcts(self, tiles_box):
        with pytest.raises(ValueError):
            splitop.split(tiles_box, 8, 0.0, 0.5, 0.3, 0.3)

    def test_approx_mode_valid_banding(self, tiles_box):
        """The scale-path quantile banding: every tile gets a valid split,
        bands follow the projection order (same geographic-banding shape as
        exact mode), and no O(N) driver collect happens (only nbands-1
        quantile doubles come back)."""
        got = (
            splitop.split(tiles_box, 4, 0.3, 0.5, 0.3, 0.2, method="approx")
            .select("minx", "miny", "maxx", "maxy", "split")
            .collect()
        )
        assert all(r["split"] in ("train", "test", "val") for r in got)
        # banding is monotone in the projection: sort by the same projection
        # and check the split sequence is piecewise-constant with <= 4 runs
        import numpy as np
        from geetiles_spark.operators.split import _direction_weights

        plon, plat = _direction_weights(0.3)
        cx = np.array([(3 * r["minx"] + 2 * r["maxx"]) / 5 for r in got])
        cy = np.array([(3 * r["miny"] + 2 * r["maxy"]) / 5 for r in got])
        nx = (cx - cx.min()) / (cx.max() - cx.min())
        ny = (cy - cy.min()) / (cy.max() - cy.min())
        proj = plon * nx + plat * ny
        order = np.argsort(proj)
        seq = [got[i]["split"] for i in order]
        runs = 1 + sum(1 for a, b in zip(seq, seq[1:]) if a != b)
        assert runs <= 4

    def test_exact_mode_collects_distinct_only(self, tiles_box, monkeypatch):
        """The exact k-search must pull only SELECT DISTINCT _proj to the
        driver (VERDICT r1 'what's wrong' #3)."""
        # Spark 4: the concrete collect lives on the classic subclass
        from pyspark.sql.classic.dataframe import DataFrame as SparkDF

        captured = []
        orig = SparkDF.collect

        def spy(self):
            captured.append(self)
            return orig(self)

        monkeypatch.setattr(SparkDF, "collect", spy)
        splitop.split(tiles_box, 4, 0.3, 0.5, 0.3, 0.2).collect()
        monkeypatch.undo()
        proj_pulls = [
            df for df in captured if [f.name for f in df.schema.fields] == ["_proj"]
        ]
        assert proj_pulls, "expected a _proj driver pull"
        for df in proj_pulls:
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "Aggregate" in plan or "Deduplicate" in plan, (
                "the _proj pull must be SELECT DISTINCT, got plan:\n" + plan
            )

    def test_rejects_insufficient_bands(self, tiles_box):
        with pytest.raises(ValueError):
            splitop.split(tiles_box, 2, 0.0, 0.5, 0.3, 0.2)


# ------------------------------------------------------------------ docs ---


class TestDocs:
    def test_span_sequence_invariant(self, spark, tiles_box):
        docs = docsrc.generate_docs(
            tiles_box, ["esaworldcover-2020", "sentinel2-rgb-median-2020"]
        ).cache()
        fp_before = docsrc.span_sequence_fingerprint(docs)
        # run the read path (posexplode) and reconstruct nothing — the docs
        # table must be byte-identical afterwards
        refs = docsrc.extract_media_refs(docs)
        assert refs.count() > 0
        fp_after = docsrc.span_sequence_fingerprint(docs)
        bad = (
            fp_before.withColumnRenamed("span_fingerprint", "a")
            .join(fp_after, "doc_id")
            .filter(F.col("a") != F.col("span_fingerprint"))
            .count()
        )
        assert bad == 0

    def test_media_refs_join_chips(self, spark, tiles_box):
        docs = docsrc.generate_docs(tiles_box, ["esaworldcover-2020"])
        refs = docsrc.extract_media_refs(docs)
        ch = chipsrc.generate_chips(tiles_box, "esaworldcover-2020")
        joined = refs.join(ch, ["tile_id", "dataset"], "inner")
        assert joined.count() == refs.count()  # every media span resolves

    def test_deterministic(self, spark, tiles_box):
        d1 = docsrc.generate_docs(tiles_box, ["esaworldcover-2020"]).collect()
        d2 = docsrc.generate_docs(tiles_box, ["esaworldcover-2020"]).collect()
        assert sorted(r["doc_id"] for r in d1) == sorted(r["doc_id"] for r in d2)


# ---------------------------------------------------------------- resume ---


class TestResume:
    def test_chip_ingest_idempotent(self, spark, tiles_box, tmp_path):
        from geetiles_spark.catalog import Catalog

        cat = Catalog(str(tmp_path / "cat"))
        n1 = chipsrc.ingest_chips_resumable(spark, cat, tiles_box, "esaworldcover-2020")
        assert n1 == tiles_box.count()
        # second run: nothing new
        n2 = chipsrc.ingest_chips_resumable(spark, cat, tiles_box, "esaworldcover-2020")
        assert n2 == 0
        total = cat.read(spark, "chips").count()
        assert total == n1
        # partial-state resume: drop half the rows, re-run, converges
        half = cat.read(spark, "chips").filter(F.crc32(F.col("tile_id")) % 2 == 0)
        cat.write(half, "chips")
        n3 = chipsrc.ingest_chips_resumable(spark, cat, tiles_box, "esaworldcover-2020")
        assert n3 == n1 - half.count()
        assert cat.read(spark, "chips").count() == n1
        # lineage metrics recorded
        m = cat.read_metrics(spark)
        assert m.filter(F.col("stage") == "chips").count() > 0

    def test_snapshot_time_travel(self, spark, tiles_box, tmp_path):
        from geetiles_spark.catalog import Catalog

        cat = Catalog(str(tmp_path / "cat2"))
        s1 = cat.write(tiles_box.limit(5), "t")
        s2 = cat.write(tiles_box.limit(9), "t")
        assert cat.read(spark, "t").count() == 9
        assert cat.read(spark, "t", s1).count() == 5
        assert cat.current_snapshot("t") == s2


# ---------------------------------------------------------------- worker ---


class TestWorker:
    def test_unchanged_archives_are_not_reread_per_task(self, spark):
        """PySpark's worker runs ``importlib.invalidate_caches()`` at the
        start of every task; with the engine imported, a Python task reads
        no unchanged zip directory there (``geetiles_spark/_zipimport.py``)."""

        def count_reads(batches):
            import importlib
            import sys
            import zipimport

            import geetiles_spark  # noqa: F401  (installs the guard)

            # stamps the importers this worker made before the import
            importlib.invalidate_caches()
            stock, seen = zipimport._read_directory, []
            zipimport._read_directory = lambda a: seen.append(a) or stock(a)
            try:
                importlib.invalidate_caches()
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = stock
            zips = sum(
                isinstance(v, zipimport.zipimporter)
                for v in list(sys.path_importer_cache.values())
            )
            guard = getattr(zipimport.zipimporter.invalidate_caches, "_geetiles_guard", False)
            for b in batches:
                yield pd.DataFrame(
                    {"id": b["id"], "reads": len(seen), "zips": zips, "guard": guard}
                )

        got = (
            spark.range(8, numPartitions=8)
            .mapInPandas(count_reads, "id long, reads int, zips int, guard boolean")
            .collect()
        )
        assert sorted(r["id"] for r in got) == list(range(8))
        assert all(r["guard"] for r in got)
        assert all(r["zips"] > 0 for r in got)  # the worker runs from zips
        assert [r["reads"] for r in got] == [0] * 8
