"""The skew-safe keyed self-join every pair operator runs.

A pair operator (MinHash-LSH band keys, simhash/dhash signature segments,
n-gram Jaccard grams, hyperplane-LSH cosine buckets) is a self-join on a
key, and a key shared by D rows emits ~D^2/2 pairs inside one join task.
AQE's skew-join splitting does not bound that: it fires on partition BYTES
(256 MB by default), while a key of a few thousand rows is small in bytes
and quadratic in pairs.  :func:`keyed_self_join` salts the keys above
``HOT_KEY_THRESHOLD`` inside the plan, so the guard costs no action of its
own and the plan has one shape whether a key is hot or not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# keys shared by more rows than this are salted over N_SALTS join tasks
# (sizing rule on :func:`keyed_self_join`)
HOT_KEY_THRESHOLD = 1024
N_SALTS = 16


def keyed_self_join(
    rows: DataFrame, keys: list[str], id_col: str, hot_threshold: int, n_salts: int, pair
) -> DataFrame:
    """``pair(a_rows, b_rows, keys + ["salt"])`` over all of ``rows``, with
    ``salt`` dropped from its output.

    ``pair`` projects the two sides, joins them on the given keys and runs
    every filter that must stay inside the join granule (report-once,
    length filter).  ``rows`` is read by the per-key count and by the
    join, so the caller persists it.

    Salting, inside the plan: the per-key row counts ``df`` pick the hot
    keys (``df > hot_threshold``).  There are at most ``rows /
    hot_threshold`` of them, so they are broadcast and left-joined onto
    ``rows`` as a per-row salt count ``ns`` (``n_salts`` if hot, else 1).
    Side a carries ``salt = pmod(xxhash64(id), ns)`` and side b is
    replicated to every salt in ``[0, ns)``.  Each ``(key, a, b)`` still
    meets exactly once (a's salt is a function of its id, and b is present
    at every salt), so the pairs are identical to the plain join's, while a
    hot key of D rows emits ~D^2/n_salts pairs per task instead of ~D^2/2
    in one.  A cold key has one salt, 0, on both sides: its rows meet as
    in the plain join.

    Sizing on skewed corpora (measured, BENCH/LLM_SCALING.md): a cold key
    just under ``hot_threshold`` emits ~df^2/2 pairs in one join granule,
    a salted hot key ~df^2/n_salts per granule — so bound the per-task pair
    emission with ``hot_threshold ~ sqrt(2 x target_pairs_per_task)`` and
    ``n_salts ~ max_expected_df / hot_threshold``.  With the defaults
    (1024, 16) a near-threshold granule is ~0.5M pairs; sizing LSH to (256,
    64) on a mega-cluster corpus took the largest partition's share of
    emitted pairs from 0.34 to 0.035.
    """
    hot = F.broadcast(
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > hot_threshold)
        .select(*keys, F.lit(n_salts).alias("ns"))
    )
    salted = rows.join(hot, keys, "left").withColumn("ns", F.coalesce("ns", F.lit(1)))
    a = salted.withColumn("salt", F.pmod(F.xxhash64(id_col), F.col("ns")).cast("int"))
    b = salted.withColumn("salt", F.explode(F.sequence(F.lit(0), F.col("ns") - 1)))
    return pair(a.drop("ns"), b.drop("ns"), keys + ["salt"]).drop("salt")
