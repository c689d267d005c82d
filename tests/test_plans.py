"""Physical-plan regression guards: the properties that make the engine's
plans survive a 100x scale-up, asserted over the real contract queries.

- no CartesianProduct anywhere, ever;
- no BroadcastNestedLoopJoin except a one-row scalar attach (vocab_topk):
  every tile-vs-footprint join is one broadcast cell equi-join;
- cell covers explode in the JVM: a cell join's only Python node is its
  exact refine, and the rectangle point-in-polygon join has none;
- relational scans push their filters into the parquet reader and prune
  columns (q1 must not read l_comment);
- embedding search: the single-query top-k has no Python node, the batch
  IVF probe is one cluster-pruned Python stage, and the block pairs pack
  once and never broadcast the packed matrices.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as E  # noqa: E402

from . import assert_salted_pair_join  # noqa: E402

SF = "/root/testdata/sf0.001"

# every join must be hash/equi, except vocab_topk: Catalyst constant-folds
# the literal join key of the 1-row global-total attach into an Identity
# broadcast -> BNLJ with a ONE-row build side over k<=256 probe rows (O(k)
# work, the optimal scalar attach)
BNLJ_ALLOWED = {"vocab_topk"}


def _all_queries():
    # plan laws cover the demoted cross-strategy twins too — they remain
    # shipped code paths
    return {**E.queries(), **E.extra_queries()}


def _plan(spark, name):
    return (
        _all_queries()[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
    )


class TestPlanShapes:
    def test_no_cartesian_products(self, spark):
        for name in _all_queries():
            plan = _plan(spark, name)
            assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
            if name not in BNLJ_ALLOWED:
                assert "BroadcastNestedLoopJoin" not in plan, (
                    f"{name} plans a nested-loop join"
                )

    def test_tile_footprint_joins_are_one_broadcast_cell_join(self, spark):
        """J1/J2 and the J5 flood join share one cell pair-join: exactly one
        broadcast hash join on the cell id, no nested loop.  The J1/J2
        operator counts are pinned so the shared join keeps their plans:
        the cell cover is a codegen generator, so their Python nodes are
        the area refine and the contract fixture's tile generator (a cached
        relation, printed under each of its scans).  J1 and J2 are one
        pass: their only exchanges are the foreign cells' broadcast and the
        query's final sort, and none hash-partitions (no argmax shuffle, no
        props aggregate, no back-join)."""
        import re

        pinned = {"geo_intersect_join": (2, 2), "geo_foreign_props": (2, 2)}
        for name in (
            "geo_intersect_join",
            "geo_foreign_props",
            "interval_spatial_join",
            "interval_spatial_join_exact",
        ):
            plan = _plan(spark, name)
            assert len(re.findall(r"BroadcastHashJoin \[cell", plan)) == 1, name
            assert "BroadcastNestedLoopJoin" not in plan, name
            if name in pinned:
                # (MapInPandas nodes, Exchange nodes incl. BroadcastExchange)
                got = (
                    len(re.findall(r"\bMapInPandas\b", plan)),
                    plan.count("Exchange"),
                )
                assert got == pinned[name], (name, got)
        for name in ("geo_intersect_join", "geo_foreign_props"):
            assert "hashpartitioning" not in _plan(spark, name), name

    def test_cell_joins_explode_in_the_jvm(self, spark):
        """No cell join sends its cover to Python: the only MapInPandas
        left is an exact refine (J5 with footprints, the carried-ring pip),
        the rectangle pip has no Python node at all, and the flat kNN
        computes its point cells in codegen, leaving only its refine."""
        import re

        refines = {
            "interval_spatial_join": 0,
            "interval_spatial_join_exact": 1,
            "pip_join": 0,
            "pip_join_cells": 1,
            "knn_points_cells": 1,
        }
        for name, n in refines.items():
            plan = _plan(spark, name)
            assert len(re.findall(r"\bMapInPandas\b", plan)) == n, name
            assert "EvalPython" not in plan, name
        assert not re.search(r"EvalPython|InPandas", _plan(spark, "pip_join"))

    def test_embedding_topk_runs_in_the_jvm(self, spark):
        import re

        plan = _plan(spark, "embedding_topk")
        assert not re.search(r"EvalPython|InPandas|InArrow", plan)

    def test_ivf_batch_probe_is_one_pruned_python_stage(self, spark):
        import re

        plan = _plan(spark, "embedding_ivf_topk_batch")
        assert len(re.findall(r"\bMapInPandas\b", plan)) == 1
        assert "cluster" in plan.split("PartitionFilters")[1][:120]

    def test_cosine_pairs_packs_once_and_never_broadcasts_blocks(self, spark):
        """The block pack is one FlatMapGroupsInPandas node (persisted: the
        cached plan prints under both join-side scans but runs once), and no
        BroadcastExchange subtree carries the packed matrices."""
        import re

        from geetiles_spark import cache
        from geetiles_spark.operators import similarity

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        with cache.persist_scope():
            plan = (
                similarity.cosine_pairs(emb, 0.35, block_rows=17)
                ._jdf.queryExecution().executedPlan().toString()
            )
        assert len(set(re.findall(r"FlatMapGroupsInPandas .*", plan))) == 1
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "BroadcastExchange" not in line:
                continue
            depth = line.index("BroadcastExchange")
            subtree = [line]
            for nxt in lines[i + 1:]:
                node = re.search(r"[A-Za-z]", nxt)
                if node is None or node.start() <= depth:
                    break
                subtree.append(nxt)
            assert not re.search(r"\bmat(_[ab])?#", "\n".join(subtree)), subtree

    def test_q1_pushdown_and_pruning(self, spark):
        plan = _plan(spark, "q1_pricing_summary")
        assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
        # column pruning: the wide comment column must not be read
        assert "l_comment" not in plan

    def test_banded_joins_are_equi(self, spark):
        for name in ("simhash_hamming_pairs", "dedup_minhash_lsh"):
            plan = _plan(spark, name)
            assert (
                "SortMergeJoin" in plan
                or "ShuffledHashJoin" in plan
                or "BroadcastHashJoin" in plan
            ), f"{name} lost its equi join"

    def test_small_dims_broadcast(self, spark):
        plan = _plan(spark, "q5_local_supplier")
        assert "BroadcastHashJoin" in plan  # nation/region dims

    def test_banded_pair_joins_have_no_distinct(self, spark):
        """Report-once replaced every terminal distinct() on pair outputs —
        at candidate scale that distinct is the dominant shuffle."""
        import re

        for name in ("dedup_minhash_lsh", "simhash_hamming_pairs", "embedding_lsh_pairs"):
            plan = _plan(spark, name)
            assert not re.search(r"HashAggregate\(keys=\[doc_a", plan), name
            assert not re.search(r"HashAggregate\(keys=\[id_a", plan), name

    def test_skew_stages_absent_when_no_hot_buckets(self, spark):
        """The contract fixtures have no hot key, and every pair self-join
        still has the one salted shape (the hot fixtures in
        test_operators_extended assert the same shape): no anti, semi or
        union stage of a hot/cold split."""
        for name in (
            "dedup_minhash_lsh",
            "simhash_hamming_pairs",
            "ngram_jaccard_pairs",
            "image_dhash_pairs",
            "audio_fingerprint_pairs",
            "embedding_lsh_pairs",
        ):
            assert_salted_pair_join(_plan(spark, name), name)

    def test_fused_zonal_is_one_join_free_python_stage(self, spark, aoi_box):
        """compute_proportions_fused synthesizes and histograms each chip in
        the Python worker that reads the tile: one MapInPandas, no shuffle."""
        import re

        from geetiles_spark.geo import geom
        from geetiles_spark.operators import zonal

        tiles = spark.createDataFrame(
            [("t0", bytearray(geom.polygon_to_wkb(aoi_box)))], "tile_id string, geometry_wkb binary"
        )
        plan = (
            zonal.compute_proportions_fused(tiles, "esaworldcover-2020")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert len(re.findall(r"\bMapInPandas\b", plan)) == 1, plan
        assert "Exchange" not in plan, plan
