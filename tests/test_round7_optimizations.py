"""Focused tests for the round-7 optimization internals: each asserts the
optimized path is RESULT-IDENTICAL to the semantics it replaced (the suite's
oracle twins cover end-to-end; these pin the new mechanisms directly)."""

import numpy as np
import pytest

from geetiles_spark.geo import geom
from geetiles_spark.operators import dedup, joins
from geetiles_spark.operators.partitioning import spread


# ---------------------------------------------------------------------------
# spread(): the scan-parallelism guard
# ---------------------------------------------------------------------------


def test_spread_noop_when_wide(spark):
    df = spark.range(0, 1000, 1, 16)  # 16 >= local[8] parallelism
    out = spread(df)
    assert out is df  # literally untouched — no extra exchange


def test_spread_repartitions_starved_scan(spark):
    df = spark.range(0, 1000, 1, 1)
    out = spread(df, key="id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # content identical
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))


def test_spread_keyed_partitioning_feeds_groupby(spark):
    # a groupBy on the spread key must not add a second exchange
    df = spread(spark.range(0, 100, 1, 1), key="id")
    plan = df.groupBy("id").count()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1


# ---------------------------------------------------------------------------
# pip rectangle fast path == generic refine on rectangle polys
# ---------------------------------------------------------------------------


def _boxes_df(spark, rect=True):
    import pandas as pd

    rows = []
    for k in range(4):
        minx, miny = k * 2.0, k * 1.5
        maxx, maxy = minx + 1.6, miny + 1.2
        if rect:
            ring = np.array(
                [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy]]
            )
        else:  # pentagon inside the bbox -> generic refine path
            midx = (minx + maxx) / 2
            ring = np.array(
                [[minx, miny], [maxx, miny], [maxx, maxy], [midx, maxy + 0.0],
                 [minx, maxy]]
            )
        rows.append(
            {
                "tile_id": str(k),
                "minx": minx, "miny": miny, "maxx": maxx, "maxy": maxy,
                "geometry_wkb": geom.polygon_to_wkb(ring),
            }
        )
    return spark.createDataFrame(pd.DataFrame(rows))


def test_pip_rectangle_fast_path_matches_generic(spark):
    import pandas as pd

    rng = np.random.default_rng(11)
    pts = pd.DataFrame(
        {
            "point_id": np.arange(4000),
            "lon": rng.uniform(-1, 9, 4000),
            "lat": rng.uniform(-1, 7, 4000),
        }
    )
    pdf = spark.createDataFrame(pts)
    rect = joins.point_in_polygon_join(
        pdf, _boxes_df(spark, rect=True), id_col="point_id"
    )
    # fast path: the per-point pandas UDF and the Python refine are gone —
    # the only Python node left is the 4-row polygon-cover explode
    pstr = rect._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in pstr
    assert pstr.count("MapInPandas") <= 1
    got = sorted(map(tuple, rect.select("point_id", "tile_id").collect()))
    # brute-force strict-open containment (the oracle convention)
    want = []
    for k in range(4):
        minx, miny = k * 2.0, k * 1.5
        maxx, maxy = minx + 1.6, miny + 1.2
        inside = (
            (pts["lon"] > minx) & (pts["lon"] < maxx)
            & (pts["lat"] > miny) & (pts["lat"] < maxy)
        )
        want += [(int(i), str(k)) for i in pts.loc[inside, "point_id"]]
    assert got == sorted(want)


def test_pip_generic_path_still_exact_for_nonrectangles(spark):
    import pandas as pd

    rng = np.random.default_rng(13)
    pts = pd.DataFrame(
        {
            "point_id": np.arange(2000),
            "lon": rng.uniform(-1, 9, 2000),
            "lat": rng.uniform(-1, 7, 2000),
        }
    )
    pdf = spark.createDataFrame(pts)
    out = joins.point_in_polygon_join(
        pdf, _boxes_df(spark, rect=False), id_col="point_id"
    )
    got = sorted(map(tuple, out.select("point_id", "tile_id").collect()))
    want = []
    for r in _boxes_df(spark, rect=False).collect():
        ring = geom.wkb_to_polygon(bytes(r["geometry_wkb"]))
        keep = geom.points_in_polygon(
            np.stack([pts["lon"], pts["lat"]], axis=1), ring
        )
        want += [(int(i), r["tile_id"]) for i in pts.loc[keep, "point_id"]]
    assert got == sorted(want)


def test_ring_is_declared_bbox():
    r = np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 1.0], [0.0, 1.0]])
    assert joins._ring_is_declared_bbox(r, 0.0, 0.0, 2.0, 1.0)
    # declared bbox disagrees with the ring -> refuse the fast path
    assert not joins._ring_is_declared_bbox(r, 0.0, 0.0, 2.5, 1.0)
    # non-rectangle
    pent = np.array([[0, 0], [2, 0], [2, 1], [1, 1.5], [0, 1]], dtype=float)
    assert not joins._ring_is_declared_bbox(pent, 0.0, 0.0, 2.0, 1.5)


# ---------------------------------------------------------------------------
# ngram_jaccard: hashed gram keys + min-size pre-filter stay exact
# ---------------------------------------------------------------------------


def test_ngram_jaccard_exact_vs_bruteforce(spark):
    import itertools
    import pandas as pd

    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(30)]
    texts = {}
    base = list(rng.choice(vocab, 12))
    for i in range(20):
        # near-dups of base plus noise docs; sizes vary so the min-size
        # floor is exercised with non-uniform na/nb
        if i < 6:
            t = list(base)
            if i:
                t[i] = vocab[(i * 7) % 30]
        else:
            t = list(rng.choice(vocab, int(rng.integers(6, 16))))
        texts[i] = " ".join(t)
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }

    def grams(t):
        toks = t.split(" ")
        return {
            " ".join(toks[i : i + 3])
            for i in range(max(len(toks) - 2, 1))
        }

    want = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        ga, gb = grams(texts[a]), grams(texts[b])
        j = len(ga & gb) / len(ga | gb)
        if round(j, 6) >= 0.3:
            want[(a, b)] = round(j, 6)
    assert got == want


def _brute_jaccard(texts, n=3, t=0.5):
    import itertools

    gs = {
        i: {
            " ".join(tk[j : j + n])
            for j in range(max(len(tk) - n + 1, 1))
        }
        for i, tk in ((i, txt.split(" ")) for i, txt in texts.items())
    }
    out = {}
    for x, y in itertools.combinations(sorted(gs), 2):
        a, b = (x, y) if x < y else (y, x)
        j = round(len(gs[a] & gs[b]) / len(gs[a] | gs[b]), 6)
        if j >= t:
            out[(a, b)] = j
    return out


@pytest.mark.parametrize(
    "ids",
    [
        pytest.param(list(range(18)), id="non-negative-ids"),
        pytest.param([f"doc{i:03d}" for i in range(18)], id="string-ids"),
        pytest.param([i - 4 for i in range(18)], id="negative-ids"),
        pytest.param([(1 << 33) + i for i in range(18)], id="ids-past-2^31"),
    ],
)
def test_ngram_packed_fallback_ids_exact(spark, ids):
    # every id kind stays exact (incl. the length filter) and keeps its
    # dtype — among them the non-negative ints below 2^31 that once rode a
    # packed single-long pair key
    import pandas as pd

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(8)]
    base = list(rng.choice(vocab, 14))
    texts = {}
    for k, i in enumerate(ids):
        if k < 5:
            t = list(base)
            if k:
                t[k] = vocab[(k * 3) % 8]
        else:
            t = list(rng.choice(vocab, int(rng.integers(4, 25))))
        texts[i] = " ".join(t)
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    out = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    # dtype must round-trip
    assert dict(out.dtypes)["doc_a"] == dict(docs.dtypes)["doc_id"]
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out.collect()}
    assert got == _brute_jaccard(texts, t=0.5)


def test_ngram_length_filter_keeps_boundary_pair(spark):
    # A strict subset with |A| exactly t*|B| has jaccard exactly t — the
    # join's length filter (min >= t*max) sits on its boundary and must keep
    # the pair for ANY float rounding of t*ng (the -1 slack)
    import pandas as pd

    b_toks = [f"w{i}" for i in range(12)]  # 10 distinct trigrams
    a_toks = b_toks[:7]  # 5 distinct trigrams, subset of B's
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": [" ".join(a_toks), " ".join(b_toks)]})
    )
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    assert got == {(0, 1): 0.5}


def test_ngram_gram_build_not_refiltered_at_scan(spark):
    # regression pin: carrying ng beside explode must use explode_outer so
    # InferFiltersFromGenerate cannot push a size(array_distinct(...)) > 0
    # re-evaluation of the whole gram expression below the spread exchange
    # (measured 13.5s vs 0.9s on the gram stage at 50k docs)
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["a b c d", "b c d e"]})
    )
    plan = (
        dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Filter (size(array_distinct" not in plan


# ---------------------------------------------------------------------------
# paragraph separator quoting (ADVICE fix)
# ---------------------------------------------------------------------------


def test_paragraph_dedup_metacharacter_separator(spark):
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["aa||bb||aa", "bb||cc"],
            }
        )
    )
    out = {
        r["doc_id"]: r
        for r in dedup.paragraph_dedup(docs, sep="||").collect()
    }
    # '||' as a raw regex would split between every char; quoted it keeps
    # the literal separator: doc1 = [aa, bb, aa] -> dup aa removed once,
    # doc2 = [bb, cc] -> bb removed (first seen in doc1)
    assert out[1]["n_paras"] == 3 and out[1]["n_removed"] == 1
    assert out[1]["text_clean"] == "aa||bb"
    assert out[2]["n_paras"] == 2 and out[2]["n_removed"] == 1
    assert out[2]["text_clean"] == "cc"


# ---------------------------------------------------------------------------
# exact_substr xxhash64 windows: unchanged spans
# ---------------------------------------------------------------------------


def test_exact_substr_spans_bruteforce(spark):
    import pandas as pd

    k = 3
    texts = {
        1: "a b c d e f g",
        2: "x y a b c d q",
        3: "p q r s t u v",
        4: "c d e f z z c d e f",
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_len"], r["n_windows"])
        for r in dedup.exact_substr_spans(docs, k=k).collect()
    }
    # brute force: mark every position whose k-window occurs >= 2x
    from collections import Counter

    wins = Counter()
    per_doc = {}
    for d, t in texts.items():
        toks = t.split(" ")
        per_doc[d] = [
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        ]
        wins.update(per_doc[d])
    want = set()
    for d, ws in per_doc.items():
        dup = [i + 1 for i, w in enumerate(ws) if wins[w] > 1]
        # gaps and islands
        run = []
        for p in dup + [None]:
            if run and (p is None or p != run[-1] + 1):
                want.add((d, run[0], run[-1] - run[0] + k, len(run)))
                run = []
            if p is not None:
                run.append(p)
    assert got == want


# ---------------------------------------------------------------------------
# ADVICE r6 regression: kNN ring extension
# ---------------------------------------------------------------------------


def test_knn_cells_extends_rings_past_max_rings(spark):
    import pandas as pd

    # k nearest live several cells from the query; max_rings is too small
    # for the exactness extension, which must now grow instead of truncate
    rng = np.random.default_rng(3)
    lon = 6.0 + rng.uniform(0.4, 0.8, 200)  # well away from the query cell
    lat = 49.6 + rng.uniform(0.4, 0.8, 200)
    pts = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(200), "lon": lon, "lat": lat})
    )
    queries = [("q0", 6.0, 49.6)]
    brute = {
        (r["query_id"], r["point_id"]): round(r["dist_m"], 3)
        for r in joins.knn_join(pts, queries, k=5).collect()
    }
    cells_out = {
        (r["query_id"], r["point_id"]): round(r["dist_m"], 3)
        for r in joins.knn_join_cells(
            pts, queries, k=5, level=8, max_rings=2
        ).collect()
    }
    assert cells_out == brute
