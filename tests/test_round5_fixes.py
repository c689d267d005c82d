"""Regression tests for the ADVICE r4 fixes (round 5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T


class TestZeroNormEmbeddings:
    def test_topk_batch_zero_vector_does_not_poison_batch(self, spark):
        """A zero-norm corpus row used to yield NaN sims; a NaN at the
        kk-th partition position made the per-query threshold NaN and
        dropped EVERY valid candidate of that batch silently."""
        from geetiles_spark.operators import similarity

        rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]), (3, [0.5, 0.5])]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        qs = spark.createDataFrame(
            [(0, [1.0, 0.0])], "query_id long, query_vec array<double>"
        )
        got = similarity.cosine_topk_batch(emb, qs, k=3).collect()
        ids = [r.vec_id for r in got]
        assert ids[:2] == [0, 1]
        assert 2 not in ids  # zero vector scores -inf, never ranks
        assert len(got) == 3

    def test_zero_query_vector_is_deterministic(self, spark):
        from geetiles_spark.operators import similarity

        emb = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(5)],
            "vec_id long, embedding array<double>",
        )
        qs = spark.createDataFrame(
            [(9, [0.0, 0.0])], "query_id long, query_vec array<double>"
        )
        got = similarity.cosine_topk_batch(emb, qs, k=2).collect()
        # all sims 0 -> ties broken by vec_id asc, no NaN anywhere
        assert [r.vec_id for r in got] == [0, 1]
        assert all(r.cos_sim == 0.0 for r in got)

    def test_ivf_batch_zero_vector_in_index(self, spark, tmp_path):
        from geetiles_spark.catalog import Catalog
        from geetiles_spark.operators import similarity

        rows = [
            (i, [float(np.cos(i * 0.7)), float(np.sin(i * 0.7))])
            for i in range(20)
        ] + [(99, [0.0, 0.0])]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cat = Catalog(str(tmp_path / "cat"))
        similarity.ivf_index_commit(spark, cat, emb, n_clusters=3)
        qs = spark.createDataFrame(
            [(0, [1.0, 0.0])], "query_id long, query_vec array<double>"
        )
        got = similarity.ivf_query_catalog_batch(
            spark, cat, qs, k=5, nprobe=3
        ).collect()
        assert len(got) == 5
        assert 99 not in [r.vec_id for r in got]


class TestIvfBatchEmptySchema:
    def test_empty_and_nonempty_schemas_match_for_string_ids(self, spark, tmp_path):
        """Empty-queries branch hardcoded vec_id LongType while the
        non-empty path derives it from the index table (ADVICE r4)."""
        from geetiles_spark.catalog import Catalog
        from geetiles_spark.operators import similarity

        emb = spark.createDataFrame(
            [
                (f"d{i}", [float(np.cos(i * 0.9)), float(np.sin(i * 0.9))])
                for i in range(12)
            ],
            "vec_id string, embedding array<double>",
        )
        cat = Catalog(str(tmp_path / "cat"))
        similarity.ivf_index_commit(spark, cat, emb, n_clusters=2)
        qschema = "query_id long, query_vec array<double>"
        nonempty = similarity.ivf_query_catalog_batch(
            spark, cat,
            spark.createDataFrame([(1, [1.0, 0.0])], qschema), k=3, nprobe=2,
        )
        empty = similarity.ivf_query_catalog_batch(
            spark, cat, spark.createDataFrame([], qschema), k=3, nprobe=2,
        )
        assert empty.schema == nonempty.schema
        assert empty.count() == 0
        assert nonempty.count() == 3


class TestPackSequences:
    def test_string_doc_ids(self, spark):
        """Output id type follows the input id column; the literal
        'doc_id long' DDL broke string ids via Arrow cast (ADVICE r4)."""
        from geetiles_spark.operators import text as textop

        docs = spark.createDataFrame(
            [(f"doc-{i}", "w " * (i + 1)) for i in range(20)],
            "doc_id string, text string",
        )
        out = textop.pack_sequences(docs, capacity=16, n_bins=4)
        assert out.schema["doc_id"].dataType == T.StringType()
        rows = out.collect()
        assert len(rows) == 20
        assert all(r.doc_id.startswith("doc-") for r in rows)
        assert all(r.offset + 0 <= 16 for r in rows)

    def test_default_bins_from_parallelism(self, spark):
        from geetiles_spark.operators import text as textop

        docs = spark.createDataFrame(
            [(i, "a b c") for i in range(50)], "doc_id long, text string"
        )
        out = textop.pack_sequences(docs, capacity=8)
        nbins = out.select("bin").distinct().count()
        dp = spark.sparkContext.defaultParallelism
        assert 1 <= nbins <= dp  # 50 docs hash into <= defaultParallelism bins

    def test_explicit_bins_unchanged_vs_oracle_contract(self, spark):
        """The contract query pins n_bins=8; the derived default must not
        leak into explicit calls."""
        from geetiles_spark.operators import text as textop

        docs = spark.createDataFrame(
            [(i, "x " * (i % 7 + 1)) for i in range(40)],
            "doc_id long, text string",
        )
        a = textop.pack_sequences(docs, capacity=32, n_bins=8).collect()
        b = textop.pack_sequences(docs, capacity=32, n_bins=8).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert {r.bin for r in a} <= set(range(8))


class TestBilinearResize:
    def _float_ref(self, arr, out_h, out_w):
        h, w = arr.shape[:2]
        a = arr.astype(np.float64)
        sy = np.clip((np.arange(out_h) + 0.5) * h / out_h - 0.5, 0, h - 1)
        sx = np.clip((np.arange(out_w) + 0.5) * w / out_w - 0.5, 0, w - 1)
        y0 = np.clip(np.floor(sy).astype(int), 0, h - 1)
        x0 = np.clip(np.floor(sx).astype(int), 0, w - 1)
        y1 = np.minimum(y0 + 1, h - 1)
        x1 = np.minimum(x0 + 1, w - 1)
        fy = (sy - y0)[:, None]
        fx = (sx - x0)[None, :]
        return (1 - fy) * ((1 - fx) * a[y0][:, x0] + fx * a[y0][:, x1]) + fy * (
            (1 - fx) * a[y1][:, x0] + fx * a[y1][:, x1]
        )

    def test_matches_float_reference_within_rounding(self):
        from geetiles_spark.operators.multimodal import bilinear_resize_uint8

        rng = np.random.default_rng(17)
        for (h, w, oh, ow) in [(24, 24, 10, 10), (8, 8, 16, 16), (13, 7, 5, 11)]:
            arr = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            got = bilinear_resize_uint8(arr, oh, ow).astype(np.float64)
            ref = self._float_ref(arr, oh, ow)
            assert np.abs(got - ref).max() <= 0.5 + 1e-9

    def test_identity_resize(self):
        from geetiles_spark.operators.multimodal import bilinear_resize_uint8

        rng = np.random.default_rng(19)
        arr = rng.integers(0, 256, size=(12, 9, 3), dtype=np.uint8)
        assert np.array_equal(bilinear_resize_uint8(arr, 12, 9), arr)

    def test_constant_image_stays_constant(self):
        from geetiles_spark.operators.multimodal import bilinear_resize_uint8

        arr = np.full((16, 16), 201, dtype=np.uint8)
        assert (bilinear_resize_uint8(arr, 7, 29) == 201).all()


class TestMixtureSample:
    def test_nested_samples_and_defaults(self, spark):
        """Raising a stratum's fraction only ADDS docs (nested samples);
        unlisted strata use default_fraction; fraction 0 drops a stratum."""
        from geetiles_spark.operators import text as textop

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        lo = {r.doc_id for r in textop.mixture_sample(
            docs, {"src0": 0.2, "src2": 0.0}, default_fraction=0.3).collect()}
        hi = {r.doc_id for r in textop.mixture_sample(
            docs, {"src0": 0.7, "src2": 0.0}, default_fraction=0.3).collect()}
        assert lo <= hi
        kept_src2 = docs.filter("source = 'src2'").join(
            spark.createDataFrame([(i,) for i in hi], "doc_id long"), "doc_id"
        ).count()
        assert kept_src2 == 0
        # determinism across partitioning
        re = {r.doc_id for r in textop.mixture_sample(
            docs.repartition(13), {"src0": 0.2, "src2": 0.0},
            default_fraction=0.3).collect()}
        assert re == lo


class TestSemanticDedup:
    def test_keep_first_within_cluster(self, spark):
        """Two tight groups near opposite centroids plus a singleton: the
        lowest id of each near-dup group survives, cross-cluster
        similarity never drops anything."""
        from geetiles_spark.operators import similarity

        C = np.array([[1.0, 0.0], [-1.0, 0.0]])
        rows = [
            (0, [1.0, 0.001]),      # cluster 0, kept (first)
            (1, [1.0, 0.002]),      # cluster 0, dup of 0 -> dropped
            (2, [0.9, 0.4]),        # cluster 0, similar-ish
            (3, [-1.0, 0.001]),     # cluster 1, kept (first there)
            (4, [-1.0, -0.002]),    # cluster 1, dup of 3 -> dropped
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {r.vec_id: (r.cluster, r.keep) for r in
               similarity.semantic_dedup(emb, C, threshold=0.99).collect()}
        assert got[0] == (0, True)
        assert got[1] == (0, False)
        assert got[2][0] == 0 and got[2][1]  # cos(2,0) ~ 0.92 < 0.99
        assert got[3] == (1, True)
        assert got[4] == (1, False)

    def test_matches_brute_rule_on_corpus(self, spark):
        """Differential vs a numpy replay of the exact rule on the real
        embeddings table."""
        from geetiles_spark.operators import similarity

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        C = similarity.semantic_probe_centroids(4, 64, 11)
        got = {r.vec_id: (r.cluster, r.keep) for r in
               similarity.semantic_dedup(emb, C, threshold=0.35).collect()}
        rows = sorted(emb.collect(), key=lambda r: r.vec_id)
        X = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
        ids = [r.vec_id for r in rows]
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        asg = np.argmax(Xn @ C.T, axis=1)
        S = np.round(Xn @ Xn.T, 6)
        for i, vid in enumerate(ids):
            exp_keep = not any(
                asg[j] == asg[i] and S[i, j] >= 0.35 for j in range(i)
            )
            assert got[vid] == (int(asg[i]), exp_keep), vid

    def test_blocked_equals_unblocked(self, spark):
        from geetiles_spark.operators import similarity

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        C = similarity.semantic_probe_centroids(4, 64, 11)
        a = similarity.semantic_dedup(emb, C, 0.35, block_rows=7).orderBy("vec_id").collect()
        b = similarity.semantic_dedup(emb, C, 0.35, block_rows=10**6).orderBy("vec_id").collect()
        assert a == b


class TestCatalogMaintenance:
    """VERDICT r4 #5: snapshot expiry + small-file compaction for the
    merge-heavy catalog tables (the IVF index being the archetype)."""

    def _pq_files(self, d):
        import pathlib

        return [p for p in pathlib.Path(d).rglob("*.parquet")]

    def test_compact_and_expire_ivf_index(self, spark, tmp_path):
        from geetiles_spark.catalog import Catalog
        from geetiles_spark.operators import similarity

        cat = Catalog(str(tmp_path / "cat"))
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        # three commits -> three snapshots, many small files per partition
        for lo, hi in [(0, 200), (200, 400), (400, 10**9)]:
            similarity.ivf_index_commit(
                spark, cat,
                emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
                n_clusters=8,
            )
        assert len(cat.snapshots("ann_index")) == 3
        before_rows = sorted(
            (r.vec_id, r.cluster) for r in cat.read(spark, "ann_index").collect()
        )
        before_files = len(self._pq_files(cat.snapshot_path("ann_index")))
        probe_before = [
            (r["rank"], r["vec_id"])
            for r in similarity.ivf_query_catalog(spark, cat, q, k=10, nprobe=8).collect()
        ]

        # ---- compaction: identical results, fewer files, spec preserved
        cat.compact(spark, "ann_index")
        after_rows = sorted(
            (r.vec_id, r.cluster) for r in cat.read(spark, "ann_index").collect()
        )
        assert after_rows == before_rows
        after_files = len(self._pq_files(cat.snapshot_path("ann_index")))
        n_clusters = cat.read(spark, "ann_index").select("cluster").distinct().count()
        assert after_files == n_clusters < before_files  # one file per partition dir
        meta = cat.commit_meta("ann_index")
        assert meta["op"] == "compact"
        assert meta["partition_by"] == ["cluster"]
        assert "ann_centroids" in meta  # table properties carried
        probe_after = [
            (r["rank"], r["vec_id"])
            for r in similarity.ivf_query_catalog(spark, cat, q, k=10, nprobe=8).collect()
        ]
        assert probe_after == probe_before
        plan = (
            similarity.ivf_query_catalog(spark, cat, q, k=10, nprobe=2)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters" in plan  # pruning survives compaction

        # ---- expiry: keep last 2 (incl. current), older gone
        snaps = [m["snapshot"] for m in cat.snapshots("ann_index")]
        expired = cat.expire_snapshots("ann_index", keep_last=2)
        assert expired == snaps[:-2]
        retained = [m["snapshot"] for m in cat.snapshots("ann_index")]
        assert retained == snaps[-2:]
        # current snapshot fully readable after expiry
        assert (
            sorted((r.vec_id, r.cluster) for r in cat.read(spark, "ann_index").collect())
            == before_rows
        )
        # time travel to a RETAINED snapshot still works
        assert cat.read(spark, "ann_index", snap=retained[0]).count() == len(before_rows)
        # expired snapshot is gone
        with pytest.raises(Exception):
            cat.read(spark, "ann_index", snap=expired[0]).count()

    def test_expire_never_drops_current(self, spark, tmp_path):
        from geetiles_spark.catalog import Catalog

        cat = Catalog(str(tmp_path / "cat"))
        df = spark.range(10).withColumnRenamed("id", "k")
        cat.write(df, "t")
        cat.write(df.withColumn("k", F.col("k") + 1), "t")
        expired = cat.expire_snapshots("t", keep_last=1)
        assert len(expired) == 1
        assert cat.read(spark, "t").count() == 10

    def test_compact_unpartitioned_coalesces(self, spark, tmp_path):
        import pathlib

        from geetiles_spark.catalog import Catalog

        cat = Catalog(str(tmp_path / "cat"))
        df = spark.range(100).repartition(8)
        cat.write(df, "t")
        before = len(list(pathlib.Path(cat.snapshot_path("t")).glob("*.parquet")))
        assert before > 1
        cat.compact(spark, "t", target_files=1)
        after = len(list(pathlib.Path(cat.snapshot_path("t")).glob("*.parquet")))
        assert after == 1
        assert sorted(r.id for r in cat.read(spark, "t").collect()) == list(range(100))


class TestStreamChipZonal:
    def test_multi_trigger_matches_batch_and_is_idempotent(
        self, spark, tiles_box, tmp_path
    ):
        """Tiles streamed one file per trigger must produce the identical
        catalog table as the batch pipeline over all tiles; re-running
        with no new files changes nothing; late tiles merge in."""
        from geetiles_spark.catalog import Catalog
        from geetiles_spark.operators import zonal as zonalop
        from geetiles_spark.sources import chips as chipsrc
        from geetiles_spark.streaming import ingest

        tiles = tiles_box.collect()
        assert len(tiles) >= 6
        tdir = tmp_path / "tiles"
        tdir.mkdir()
        early, late = tiles[:-2], tiles[-2:]
        # three files -> three micro-batches at maxFilesPerTrigger=1
        third = -(-len(early) // 3)
        for i in range(0, len(early), third):
            spark.createDataFrame(
                early[i : i + third], schema=tiles_box.schema
            ).coalesce(1).write.mode("append").parquet(str(tdir))
        cat = Catalog(str(tmp_path / "cat"))
        ck = str(tmp_path / "ck")

        n = ingest.stream_chip_zonal(
            spark, str(tdir), cat, ck, max_files_per_trigger=1
        )
        assert n == len(early)

        def table():
            return {
                r.tile_id: r.props
                for r in cat.read(spark, "zonal_props").collect()
            }

        early_df = spark.createDataFrame(early, schema=tiles_box.schema)
        batch_early = {
            r.tile_id: r.props
            for r in zonalop.compute_proportions(
                early_df,
                chipsrc.generate_chips(early_df, "patternlabels-2020"),
                "patternlabels-2020",
            ).collect()
        }
        assert table() == batch_early

        # restart with nothing new: no rows processed, table unchanged
        snaps_before = len(cat.snapshots("zonal_props"))
        assert ingest.stream_chip_zonal(spark, str(tdir), cat, ck) == 0
        assert len(cat.snapshots("zonal_props")) == snaps_before
        assert table() == batch_early

        # late tiles arrive: merged in, early rows untouched
        spark.createDataFrame(late).coalesce(1).write.mode("append").parquet(
            str(tdir)
        )
        assert ingest.stream_chip_zonal(spark, str(tdir), cat, ck) == len(late)
        t = table()
        assert len(t) == len(tiles)
        for k, v in batch_early.items():
            assert t[k] == v


class TestStreamingAppendedCount:
    def test_count_equals_sink_rows_across_many_batches(self, spark, tmp_path):
        """The appended count now comes from a StreamingQueryListener —
        exact regardless of batch count (recentProgress caps at ~100).
        Force many micro-batches with maxFilesPerTrigger=1-sized inputs
        via many input files, then check count == rows actually in sink."""
        import pandas as pd

        from geetiles_spark.streaming import ingest

        src = tmp_path / "docs"
        src.mkdir()
        # 12 files, one row each, 3 duplicate texts -> 9 distinct
        for i in range(12):
            text = f"t{i % 9}"
            pd.DataFrame(
                [{"doc_id": i, "text": text, "lang": "en",
                  "source": "s", "n_chars": len(text)}]
            ).to_parquet(src / f"part-{i:03d}.parquet")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        n = ingest.stream_dedup_exact(spark, str(src), sink, ckpt)
        in_sink = spark.read.parquet(sink).count()
        assert n == in_sink == 9
