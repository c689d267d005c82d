"""Tests for ``operators.similarity``: the zero-vector rule across the top-k,
IVF and LSH paths.

The rule: a zero-norm corpus row never ranks and never pairs.  The fixture
is 21 unit vectors on a circle where one row (id 13) is ``[0, 0]``.
"""

import numpy as np
from pyspark.sql import functions as F

from geetiles_spark.operators import similarity

ZERO_ID = 13


def _circle_with_zero(spark):
    rows = [
        (i, [0.0, 0.0] if i == ZERO_ID else [float(np.cos(0.7 * i)), float(np.sin(0.7 * i))])
        for i in range(21)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _query(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, query_vec array<double>"
    )


class TestZeroVector:
    def test_zero_row_keeps_ivf_quantizer_and_partial_probes(self, spark, tmp_path):
        """A zero row in the k-means sample made a NaN centroid that
        ``ivf_assign`` then gave every row, so any partial probe returned
        nothing.  Centroids stay finite, the corpus spreads over clusters,
        and single and batch partial probes return k rows like the brute
        batch top-k."""
        from geetiles_spark.catalog import Catalog

        emb = _circle_with_zero(spark)
        C = similarity.ivf_centroids(emb, n_clusters=3, seed=42)
        assert np.isfinite(C).all()
        clusters = {r["cluster"] for r in similarity.ivf_assign(emb, C).collect()}
        assert len(clusters) > 1

        cat = Catalog(str(tmp_path / "cat"))
        similarity.ivf_index_commit(spark, cat, emb, n_clusters=3)
        single = similarity.ivf_query_catalog(spark, cat, [1.0, 0.0], k=5, nprobe=2)
        batch = similarity.ivf_query_catalog_batch(spark, cat, _query(spark), k=5, nprobe=2)
        brute = similarity.cosine_topk_batch(emb, _query(spark), k=5)
        assert single.count() == batch.count() == brute.count() == 5
        assert ZERO_ID not in {r["vec_id"] for r in batch.collect()}

    def test_zero_row_never_ranks_or_pairs_on_jvm_paths(self, spark):
        """``cosine_topk`` and ``lsh_cosine_pairs`` divided by the zero norm
        (DIVIDE_BY_ZERO under ANSI).  The JVM top-k now equals the batch
        kernel, and LSH pairs never include the zero row."""
        emb = _circle_with_zero(spark)
        topk = [
            (r["rank"], r["vec_id"], r["cos_sim"])
            for r in similarity.cosine_topk(emb, [1.0, 0.0], k=5).collect()
        ]
        batch = [
            (r["rank"], r["vec_id"], r["cos_sim"])
            for r in similarity.cosine_topk_batch(emb, _query(spark), k=5)
            .orderBy("rank")
            .collect()
        ]
        assert topk == batch and len(topk) == 5

        pairs = similarity.lsh_cosine_pairs(emb, 0.5, dim=2).collect()
        assert pairs
        assert all(ZERO_ID not in (r["id_a"], r["id_b"]) for r in pairs)
        nonzero = emb.filter(F.col("vec_id") != ZERO_ID)
        expect = {
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in similarity.lsh_cosine_pairs(nonzero, 0.5, dim=2).collect()
        }
        assert {(r["id_a"], r["id_b"], r["cos_sim"]) for r in pairs} == expect
