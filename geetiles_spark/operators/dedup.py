"""Deduplication operators for large-scale training-data pipelines.

All hot paths are JVM-side column expressions (md5 / explode / groupBy) —
no Python UDFs — so they scale with whole-stage codegen.  Hash family: the
j-th hash of a shingle is ``md5(j || shingle)`` (lowercase hex); fixed-width
hex compares lexicographically like the underlying 128-bit integer, so
``min()`` is a valid minhash without any int conversion.  The identical
expressions exist in ANSI SQL, which is what the DuckDB oracle runs.

Operators:
- exact duplicates          -> hash-groupBy on md5(text)
- MinHash + LSH             -> shingle -> minhash signature -> band buckets
                               -> candidate pairs (equi-join on band sig)
- SimHash                   -> per-hex-position majority vote signature
- n-gram Jaccard pairs      -> exact Jaccard via shingle self-join
- embedding near-duplicates -> cosine pairs above a threshold (see
                               similarity.py for the LSH-bucketed scale path)

Scale notes: every pair operator is a keyed self-join (gram, band key or
signature segment) through :func:`.pairs.keyed_self_join`, which salts
the keys above ``HOT_KEY_THRESHOLD`` inside the plan, so a hot key never
becomes one quadratic join task.  No pair operator runs a Spark action of
its own (the one exception: LSH's ``encode_ids`` injectivity check); the
caller's action runs the whole plan.  Per-doc dedup (``array_distinct``
before the explode) keeps a doc's repeated grams from multiplying its rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache
from .pairs import HOT_KEY_THRESHOLD, N_SALTS, keyed_self_join
from .partitioning import spread


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup groups: content hash -> keeper id (min) + group size."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def char_shingles(docs: DataFrame, n: int = 5, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct character n-gram shingles per doc.  Dedup happens *inside*
    the row via ``array_distinct`` before the explode — same result as a
    global (doc, shingle) DISTINCT but with zero shuffle."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1))),
                    lambda i: F.substring(F.col(text_col), i, n),
                )
            )
        ).alias("shingle"),
    )


def char_shingles_flat(docs: DataFrame, n: int = 5, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Character n-gram shingles WITHOUT per-doc dedup — the minhash feed.

    ``min`` over a multiset equals ``min`` over its support set, so minhash
    signatures don't need distinct shingles; skipping it lets the whole
    stage stay in codegen: ``explode(sequence)`` + ``substring(text, i, n)``
    are code-generated, whereas the higher-order ``transform`` +
    ``array_distinct`` of :func:`char_shingles` run INTERPRETED per element
    (Catalyst doesn't codegen lambda functions) — measured 3.3 s -> 1.2 s
    over 5k docs / 1.5M shingles at sf0.1 despite emitting MORE rows.
    Use :func:`char_shingles` where set semantics matter (Jaccard counts)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1)))
        ).alias("i"),
        F.col(text_col).alias("__t"),
    ).select("doc_id", F.expr(f"substring(__t, i, {n})").alias("shingle"))


def minhash_masks(num_hashes: int, seed: int = 0x5EED) -> list[int]:
    """Deterministic 60-bit XOR masks for the minhash family (shared with
    the DuckDB oracle generator)."""
    import random

    rng = random.Random(seed)
    return [rng.getrandbits(60) for _ in range(num_hashes)]


def minhash_base_hash():
    """60-bit base hash of a shingle: integer value of the first 15 hex
    chars of md5 — one digest per shingle regardless of num_hashes."""
    return F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """(doc_id, sig: array<long>) — minhash via the XOR-mask family over one
    60-bit base hash per shingle.

    The round-1 family computed ``num_hashes`` INDEPENDENT md5 digests per
    shingle — 8x the digest work.  The XOR construction (min over
    ``base_hash ^ mask_j``) needs ONE digest; each mask is a bijection of
    the 60-bit space, so distinct shingles never collide (an affine-mod
    family over a space small enough for exact 64-bit arithmetic would
    collide at web-scale shingle cardinalities).  Statistical caveat
    (ADVICE r2): because all components derive from ONE base hash, the
    per-mask minima are NOT min-wise independent across the family — band
    recall/variance differs somewhat from an independent-digest family
    (XOR-of-a-fixed-value preserves neither order nor independence between
    masks).  Per-component the minhash estimator is still unbiased, and the
    banded-LSH candidate sets are near-identical in practice; pipelines
    needing provable pairwise independence should use an affine family over
    a >=61-bit Mersenne prime (``(a*h+b) mod 2^61-1``), which costs 128-bit
    arithmetic unavailable in JVM column expressions.  Measured 15.7s ->
    5.7s on the sf0.1 suite for identical pipeline shape.
    """
    masks = minhash_masks(num_hashes)
    # materialize the md5 chain ONCE per shingle in a projection: Catalyst
    # does not CSE a subexpression repeated across aggregate expressions,
    # so putting `h` inside each min() evaluated the digest num_hashes
    # times per row (measured 0.97 -> 0.57 s/run at sf0.1, round 5)
    hashed = shingles.select("doc_id", minhash_base_hash().alias("bh"))
    aggs = [
        F.min(F.col("bh").bitwiseXOR(F.lit(m))).alias(f"h{j}")
        for j, m in enumerate(masks)
    ]
    return (
        hashed.groupBy("doc_id")
        .agg(*aggs)
        .select("doc_id", F.array(*[f"h{j}" for j in range(num_hashes)]).alias("sig"))
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    shingle_n: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hot_bucket_size: int = HOT_KEY_THRESHOLD,
    n_salts: int = N_SALTS,
    est_jaccard_threshold: float | None = None,
    encode_ids: bool = False,
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing any band signature.

    rows_per_band = num_hashes // bands.  Output (doc_a, doc_b), doc_a <
    doc_b, one row per pair.

    Shuffle-volume design (round 6, VERDICT r5 next #3 — the pair shuffle
    is the engine's measured scaling frontier at 10x skew):

    * the banded self-join shuffles on a single LONG key
      ``bkey = xxhash64(band components..., band)`` instead of a
      ``(band, 'min1|min2')`` string pair — fixed 8 bytes/key vs ~40;
      hash collisions cannot create false pairs because each side carries
      its full ``sig`` array (num_hashes longs) and an EXACT band-slice
      equality filter runs inside the join granule;
    * cross-band duplicates are cut by the report-once rule (a pair
      survives only at the FIRST band whose slices agree), a pure filter —
      no terminal ``distinct()``;
    * ``est_jaccard_threshold`` verifies INSIDE the join granule: the
      estimated Jaccard (fraction of equal signature components) is
      computed from the carried sigs and pairs below the threshold never
      leave the join task — at 10x skew this is most of the candidate
      volume, so downstream stages (clustering, writes) see a fraction of
      the rows.  ``None`` keeps the classic emit-all-candidates contract;
    * ``encode_ids=True`` (string-id corpora) dictionary-encodes ids to
      dense longs BEFORE shingling and decodes after the pair join, so the
      band explode (xN bands) and the pair rows (x2 ids) carry 8-byte
      longs instead of arbitrary strings; output ordering still uses the
      ORIGINAL ids (least/greatest after decode).  Long-id corpora skip
      this (already minimal).

    Hot bkey buckets — giant exact-dup clusters — are salted by
    :func:`.pairs.keyed_self_join` (``hot_bucket_size``, ``n_salts``),
    which also gives the sizing rule for skewed corpora.
    """
    rows_per_band = num_hashes // bands
    # the shingle+md5 map stage does ~300x the scan's work; a starved scan
    # (single-row-group parquet) would pin it to 1-2 cores.  The doc_id key
    # makes the repartition double as the signature groupBy's exchange.
    docs = spread(docs.select(F.col(id_col), F.col(text_col)), key=id_col)

    decode = None
    if encode_ids:
        # dictionary-encode BEFORE shingling: one dim-sized distinct +
        # decode join, in exchange for 8-byte ids through the (band x
        # replicated, pair x2) hot path of the plan.  enc_id is DERIVED
        # (xxhash64), not assigned (ADVICE r6: monotonically_increasing_id
        # under a lazy persist recomputes nondeterministically after block
        # loss, so encode and decode joins could disagree); a dim-sized
        # distinct-count action verifies injectivity on this corpus and
        # refuses to proceed on a collision instead of emitting wrong pairs
        ids = cache.track(
            docs.select(F.col(id_col).alias("orig"))
            .distinct()
            .withColumn("enc_id", F.xxhash64("orig"))
        )
        n_ids, n_enc = ids.agg(
            F.count(F.lit(1)), F.countDistinct("enc_id")
        ).first()
        if n_ids != n_enc:
            raise RuntimeError(
                "encode_ids: xxhash64 collision over the id dictionary "
                f"({n_ids} ids -> {n_enc} codes); rerun with encode_ids=False"
            )
        orig_type = docs.schema[id_col].dataType
        docs = docs.join(ids, docs[id_col] == ids["orig"]).select(
            F.col("enc_id").alias(id_col), F.col(text_col)
        )

        def decode(pairs: DataFrame) -> DataFrame:
            a = ids.select(
                F.col("enc_id").alias("doc_a"), F.col("orig").alias("orig_a")
            )
            b = ids.select(
                F.col("enc_id").alias("doc_b"), F.col("orig").alias("orig_b")
            )
            return (
                pairs.join(a, "doc_a")
                .join(b, "doc_b")
                .select(
                    F.least("orig_a", "orig_b").cast(orig_type).alias("doc_a"),
                    F.greatest("orig_a", "orig_b").cast(orig_type).alias("doc_b"),
                )
            )

    # flat (non-distinct) shingles: min is idempotent over duplicates and
    # the flat pipeline stays in whole-stage codegen (see char_shingles_flat)
    sig = minhash_signatures(char_shingles_flat(docs, shingle_n, id_col, text_col), num_hashes)
    # one LONG join key per band: xxhash64 over the band's components +
    # the band index (baked in so bands never cross-join); the exact
    # band-slice filter below makes hash collisions harmless
    bkeys = F.array(
        *[
            F.xxhash64(
                *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)],
                F.lit(b),
            )
            for b in range(bands)
        ]
    )
    # persist: the self-join would otherwise recompute the full shingle ->
    # minhash pipeline (the expensive md5 pass) once per side; scoped via
    # cache.track so command/query boundaries unpersist it
    band_rows = cache.track(
        sig.select("doc_id", "sig", bkeys.alias("bkeys"))
        .select("doc_id", "sig", F.posexplode("bkeys").alias("band", "bkey"))
    )

    def pair(a, b, keys):
        return a.select(
            F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "band", *keys
        ).join(b.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), *keys), keys)

    cand = keyed_self_join(band_rows, ["bkey"], "doc_id", hot_bucket_size, n_salts, pair)

    def slice_eq(b: int):
        eq = F.col("sig_a")[b * rows_per_band] == F.col("sig_b")[b * rows_per_band]
        for r in range(1, rows_per_band):
            eq = eq & (
                F.col("sig_a")[b * rows_per_band + r]
                == F.col("sig_b")[b * rows_per_band + r]
            )
        return eq

    # exact verify + report-once INSIDE the join granule: the carried sigs
    # (a) reject xxhash64 key collisions (slice must truly match at the
    # joined band) and (b) pin the pair to its FIRST matching band — all
    # whole-stage-codegen comparisons, no distinct, no pair re-shuffle
    first_match = F.coalesce(
        *[F.when(slice_eq(b), F.lit(b)) for b in range(bands)]
    )
    out = cand.filter(F.col("doc_a") < F.col("doc_b")).filter(
        F.col("band") == first_match
    )
    if est_jaccard_threshold is not None:
        # signature-estimated Jaccard = fraction of equal components;
        # sub-threshold candidates die inside the join task and never hit
        # the downstream shuffle (the 10x-skew scaling frontier)
        need = -int(-est_jaccard_threshold * num_hashes // 1)  # ceil
        matches = sum(
            F.when(F.col("sig_a")[i] == F.col("sig_b")[i], 1).otherwise(0)
            for i in range(num_hashes)
        )
        out = out.filter(matches >= F.lit(need))
    out = out.select("doc_a", "doc_b")
    return decode(out) if decode is not None else out


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """16-bit SimHash over whitespace tokens: bit j = majority vote of the
    MSB of hex digit j of md5(token).  Output (doc_id, simhash: string of
    '0'/'1' x16) — pure column expressions, reproducible in SQL."""
    docs = spread(docs.select(F.col(id_col), F.col(text_col)), key=id_col)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    hashed = toks.select("doc_id", F.md5("tok").alias("h"))
    votes = [
        F.sum(
            F.when(
                F.substring("h", j + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"),
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"v{j}")
        for j in range(16)
    ]
    agg = hashed.groupBy("doc_id").agg(*votes)
    bits = F.concat(
        *[F.when(F.col(f"v{j}") > 0, F.lit("1")).otherwise(F.lit("0")) for j in range(16)]
    )
    return agg.select("doc_id", bits.alias("simhash"))


def simhash_segments(max_dist: int, sig_len: int = 16) -> list[tuple[int, int]]:
    """(start, length) of the ``min(max_dist + 1, sig_len)`` signature
    segments (1-based starts).  Pigeonhole: two signatures within Hamming
    distance ``max_dist`` agree on at least one segment."""
    nseg = min(max_dist + 1, sig_len)
    base, rem = divmod(sig_len, nseg)
    out = []
    start = 1
    for s in range(nseg):
        length = base + (1 if s < rem else 0)
        out.append((start, length))
        start += length
    return out


def _segment_rows(sigs: DataFrame, bits_col: str, segs: list[tuple[int, int]]) -> DataFrame:
    """``sigs`` with one row per pigeonhole segment of the bitstring
    ``bits_col``: the segment index ``seg`` and its value ``segv``."""
    sv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("seg"),
                    F.substring(bits_col, start, length).alias("segv"),
                )
                for s, (start, length) in enumerate(segs)
            ]
        )
    ).alias("sv")
    return sigs.select("*", sv).select(*sigs.columns, "sv.seg", "sv.segv")


def _first_agreeing_segment(segs: list[tuple[int, int]], a: str, b: str):
    """Report-once: the index of the first segment on which the bitstrings
    ``a`` and ``b`` agree.  A pair meets at every segment it agrees on and
    is kept only where ``seg`` equals this — a filter, no ``distinct``."""
    return F.coalesce(
        *[
            F.when(F.substring(a, start, length) == F.substring(b, start, length), F.lit(s))
            for s, (start, length) in enumerate(segs)
        ]
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    max_dist: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hot_bucket_size: int = HOT_KEY_THRESHOLD,
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_dist, recall 1.

    Physical plan (the MinHash-LSH shape, NOT an all-pairs scan): the 16-char
    signature splits into ``max_dist + 1`` segments; by pigeonhole every
    qualifying pair agrees on some segment, so an equi-join on
    ``(segment_idx, segment_value)`` finds all of them while bounding
    candidates to same-segment collisions (~n^2/2^seg_bits per segment
    instead of n^2/2).  The exact Hamming refine is a column expression;
    duplicate pairs that collide in several segments are cut by the classic
    report-once rule — keep the pair only in its FIRST agreeing segment — a
    pure filter, no ``distinct`` shuffle.  The brute-force all-pairs scan is
    the DuckDB oracle (contract query ``simhash_hamming_pairs``) and the
    cross-test in tests/.

    (seg, segv) buckets holding more than ``hot_bucket_size`` docs
    (boilerplate-heavy corpora collapse many docs onto popular segment
    values) are salted by :func:`.pairs.keyed_self_join`.
    """
    sig = simhash_signatures(docs, id_col, text_col)
    segs = simhash_segments(max_dist)
    seg_rows = cache.track(_segment_rows(sig, "simhash", segs))

    def pair(a, b, keys):
        return a.select(
            F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"), *keys
        ).join(b.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"), *keys), keys)

    cand = keyed_self_join(seg_rows, ["seg", "segv"], "doc_id", hot_bucket_size, n_salts, pair)
    ham = sum(
        F.when(
            F.substring("sa", j + 1, 1) != F.substring("sb", j + 1, 1), 1
        ).otherwise(0)
        for j in range(16)
    )
    return (
        cand.filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.col("seg") == _first_agreeing_segment(segs, "sa", "sb"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_dist)
        .select("doc_a", "doc_b", "hamming")
    )


def _length_filter(na, nb, t: float):
    """EXACT length filter of the Jaccard self-join (similarity-join
    literature): |A∩B| <= min and |A∪B| >= max give jaccard <=
    min(na,nb)/max(na,nb), so a pair whose gram counts differ by more than
    the threshold ratio can never pass the final ``round(jaccard, 6) >= t``.

    That final filter keeps every jaccard down to ``t - 5e-7``, so the
    bound is ``na >= (t - 5e-7) * nb``: the ``5e-7 * ng`` slack keeps it
    exact at any doc size (a bare ``-1`` is exact only up to ~2e6 grams
    per doc), and the ``-1`` absorbs the float rounding of ``t * ng``.  It
    never drops a pair the final filter keeps; the sliver of sub-threshold
    pairs it lets through dies at that filter."""
    return (na >= t * nb - 1 - 5e-7 * nb) & (nb >= t * na - 1 - 5e-7 * na)


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hot_doc_freq: int = HOT_KEY_THRESHOLD,
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity pairs >= threshold.

    |A∩B| from the shingle self-join, |A∪B| = |A|+|B|-|A∩B|.  Output
    (doc_a, doc_b, jaccard) rounded to 6 — deterministic cross-engine since
    counts are integers.

    Skew hardening (VERDICT r2 #6), still EXACT: a gram occurring in D docs
    produces D^2/2 join rows in one hash-partition task.  Grams with doc
    frequency > ``hot_doc_freq`` are salted by
    :func:`.pairs.keyed_self_join`; the total work is inherent to exact
    intersection counting, the salt spreads it.

    The pair pipeline carries what the score needs, so the operator runs
    no action of its own:

    - every gram row holds ``ng``, its doc's distinct-gram count, computed
      pre-explode at zero extra shuffle cost.  The join's exact length
      filter (:func:`_length_filter`) reads it on both sides and drops
      size-mismatched pairs BEFORE the pair exchange (the query's largest
      shuffle), and each pair row carries it on as ``(na, nb)``;
    - the pair aggregation counts ``|A∩B|`` and takes ``max(na)``,
      ``max(nb)`` (constant per pair), so the Jaccard is computed in place,
      with no per-doc size table and no size-attach joins.

    The pair aggregation's exchange is the default ``repartition(doc_a,
    doc_b)``: ``spark.sql.shuffle.partitions`` tasks that AQE coalesces,
    like every other shuffle in the engine.  This is deliberate: sizing it
    from an exact join-size probe (``sum(df^2)``) cost an action of its
    own on every call.
    """
    grams = (
        spread(docs.select(F.col(id_col), F.col(text_col)), key=id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.split(F.col(text_col), " ").alias("toks"),
        )
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0))),
                    lambda i: F.concat_ws(" ", F.slice("toks", i + 1, n)),
                )
            ).alias("gram_arr"),
        )
        # ng = the doc's distinct-gram count, computed BEFORE the explode so
        # carrying it on every gram row costs zero extra shuffles/aggs; the
        # join's exact length filter below needs it on both sides.
        # explode_outer, NOT explode: gram_arr is never empty (sequence(0, x)
        # has >= 1 element) so the two are result-identical, but plain
        # explode makes InferFiltersFromGenerate add a size(gram_arr) > 0
        # filter that pushdown moves BELOW the spread repartition — the full
        # gram-array expression then re-evaluates on the starved scan
        # (measured 13.5s vs 0.9s for this stage at 50k docs, local[32])
        .select(
            "doc_id",
            F.size("gram_arr").alias("ng"),
            F.explode_outer("gram_arr").alias("gram_s"),
        )
        # the join/agg machinery never needs the gram TEXT, only set
        # identity: an 8-byte xxhash64 key shuffles ~2.5x fewer bytes than
        # the gram string and compares as one long (guide §2.3 "shuffle
        # keys and metadata instead of payloads"); 64-bit collisions are
        # birthday-negligible at any realistic distinct-gram cardinality
        # and the DuckDB twin gate pins the results
        .select("doc_id", "ng", F.xxhash64("gram_s").alias("gram"))
    )
    grams = cache.track(grams)
    t = float(threshold)

    def pair_rows(a_side: DataFrame, b_side: DataFrame, keys: list) -> DataFrame:
        a, b = a_side.alias("a"), b_side.alias("b")
        return (
            a.join(b, on=keys)
            .filter(
                (F.col("a.doc_id") < F.col("b.doc_id"))
                & _length_filter(F.col("a.ng"), F.col("b.ng"), t)
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.ng").alias("na"),
                F.col("b.ng").alias("nb"),
            )
        )

    all_pairs = keyed_self_join(grams, ["gram"], "doc_id", hot_doc_freq, n_salts, pair_rows)
    # pair-count aggregation: an explicit repartition on the pair key turns
    # the groupBy into ONE complete HashAggregate instead of partial+final.
    # Partial aggregation is structurally useless here — a pair's duplicate
    # rows live in DIFFERENT gram granules, so the chance two land in the
    # same map partition is ~1/partitions regardless of corpus duplication
    # — yet it would probe a hash map with every one of the O(sum df^2)
    # join rows (measured 16s -> 6.5s on a 114M-pair stream at local[32],
    # and far lower variance).
    return (
        all_pairs.repartition("doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) for every node in ``pairs`` — component = the MIN
    node id reachable through the pair graph (deterministic canonical
    label).

    Min-label propagation: per round every node takes the min of its own
    label and its neighbors' (one equi-join + one map-side-combined min
    agg), converging in graph-diameter rounds — near-dup clusters are dense
    (banded LSH emits most intra-cluster pairs), so diameter is 1-3 in
    practice.  The only driver-side cost is one convergence-check action
    per round.  This is the grouping stage a training-data dedup pipeline
    runs AFTER pair generation: components -> keep one canonical doc each.

    ``checkpoint_dir``: when set, rounds truncate lineage through RELIABLE
    ``checkpoint()`` into that directory (survives executor loss — the
    production-cluster mode, VERDICT r3 #6); when None, eager
    ``localCheckpoint`` (executor-local blocks — fine for local mode, lost
    on executor death).

    Raises ``RuntimeError`` if ``max_iter`` rounds pass without convergence
    (ADVICE r3: silently returning partial labels would mark several docs
    canonical inside one true cluster) — max_iter bounds the COST of a
    pathological chain-shaped graph, not the answer's correctness.
    """
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    sym = cache.track(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
    )
    # iterative algorithms MUST truncate lineage per round: without the
    # eager checkpoint each iteration's logical plan wraps the whole
    # history and Catalyst re-analysis dominates (measured: 2.1s -> 19.4s
    # by round 5 with persist-only).
    labels = _ckpt(
        sym.groupBy("src")
        .agg(F.min("dst").alias("nmin"))
        .select(
            F.col("src").alias("node"),
            F.least("src", "nmin").alias("lbl"),
        )
    )
    changed = -1
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nl"))
        )
        new_labels = _ckpt(
            labels.join(neigh, labels["node"] == neigh["src"], "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nl", "lbl")).alias("lbl"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — raise max_iter (rounds "
            "needed = cluster diameter)"
        )
    return labels.select(F.col("node"), F.col("lbl").alias("component"))


def dedup_components(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Per document: its near-dup component id (min doc id of the cluster;
    itself when unpaired) and whether it is the cluster's canonical keeper
    — the materialized keep/drop decision of a fuzzy-dedup pipeline."""
    comp = connected_components(pairs, a_col, b_col)
    return (
        docs.select(id_col)
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
            (F.coalesce("component", F.col(id_col)) == F.col(id_col))
            .cast("int")
            .alias("is_canonical"),
        )
    )


def _dup_window_positions(
    docs: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """Shared first stage of the ExactSubstr pair: ``(doc_id, pos)`` rows
    for every 1-based token offset whose ``k``-token window occurs >= 2x
    corpus-wide.  One tokenize + posexplode pass (O(total tokens), whole-
    stage codegen), a map-side-combined gram-count groupBy, and a left-semi
    equi-join back onto the stream — AQE broadcasts the dup-gram set when
    small and splits skewed grams when not.

    Two deliberate expression/caching choices, both measured on a 52k-doc
    corpus at local[8] (scripts/exactsubstr_scaling_bench.py):

    - the token array is HOISTED into its own projection attribute before
      the window lambda.  Catalyst does no common-subexpression
      elimination across lambda boundaries, so an inlined ``split(text)``
      re-executes per window inside ``transform`` — 2.5x slower on the
      explode stage alone;
    - ``pos`` is intentionally NOT persisted.  It feeds two consumers (the
      gram-count agg and the semi-join probe), and a lazily-cached block
      materialized by two AQE-concurrent map stages serializes behind the
      BlockManager's per-block write lock (measured: minutes-long
      straggler creep at local[8] vs seconds at local[2]).  Recomputing
      the cheap hoisted map twice costs two corpus scans — at 100 TB that
      beats caching an O(total tokens) intermediate in executor memory,
      and it removes the lock contention entirely."""
    t = F.col("t")
    n_win = F.size(t) - (k - 1)
    # the window hash is pure set identity — the output carries POSITIONS,
    # never the hash — so xxhash64 replaces md5: cheaper to compute and the
    # gram-count groupBy + semi-join shuffle an 8-byte long instead of a
    # 32-char hex string (guide §2.3; the DuckDB twin's md5 formulation
    # marks the identical positions, collision-negligible)
    wins = F.when(
        n_win >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_win, F.lit(1))),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(t, i, k))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    pos = (
        spread(docs.select(F.col(id_col), F.col(text_col)), key=id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.split(F.col(text_col), " ").alias("t"),
        )
        .select("doc_id", F.posexplode(wins).alias("pos0", "gram_h"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram_h")
    )
    dup = (
        pos.groupBy("gram_h")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > 1)
        .select("gram_h")
    )
    return pos.join(dup, "gram_h", "left_semi").select("doc_id", "pos")


def exact_substr_scrub(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The removal half of ExactSubstr dedup (Lee et al. 2022,
    arXiv:2107.06499 §4.2): rewrite every document with all duplicated-span
    tokens cut out — a token survives iff NO duplicated ``k``-window covers
    it.  This is the step that actually changes the training corpus; see
    :func:`exact_substr_spans` for the detection-side semantics and the
    suffix-array equivalence argument.

    Output: one row per input document — ``(doc_id, n_removed,
    text_clean)``; a fully-duplicated doc comes back with ``text_clean =
    ''``, an untouched doc with ``n_removed = 0`` and its original text.

    Physical plan on top of the shared duplicated-window stage: each dup
    window start explodes to its <= ``k`` covered offsets (output stays
    O(duplicated tokens)); one groupBy(doc) collect_set gathers the covered
    offsets (bounded by tokens-per-doc); a doc_id equi-join hands each doc
    its covered set; the rebuild is a single lambda-indexed ``F.filter`` +
    ``concat_ws`` over the token array — JVM-side, no second explode of the
    token stream and no per-token shuffle.  Total: the two ExactSubstr
    shuffles plus one join on ``doc_id``.
    """
    dp = _dup_window_positions(docs, k, id_col, text_col)
    covset = (
        dp.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("cov"))
    )
    toks = F.split(F.col(text_col), " ")
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("t"))
    kept = F.filter(
        F.col("t"),
        lambda x, i: ~F.coalesce(
            F.array_contains(F.col("cov"), i + 1), F.lit(False)
        ),
    )
    return (
        base.join(covset, ["doc_id"], "left")
        .select(
            "doc_id",
            (F.size("t") - F.size(kept)).cast("int").alias("n_removed"),
            F.concat_ws(" ", kept).alias("text_clean"),
        )
    )


def exact_substr_spans(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): per document, every MAXIMAL token span all of whose
    ``k``-token windows occur at least twice in the corpus — counting every
    occurrence position, including repeats inside one document, exactly the
    suffix-array duplicate criterion with the match-length floor ``k``
    (their production L = 50 tokens).

    Equivalence to the suffix-array formulation: a duplicated substring of
    ``>= k`` tokens makes every one of its k-windows duplicated, and every
    duplicated k-window IS a duplicated k-token substring — so the rolling
    k-window hash marks exactly the tokens a suffix array would mark at
    threshold ``k``.  Adjacent/overlapping duplicated windows within a doc
    merge into one maximal span (gaps-and-islands); a merged span's FULL
    text need not be globally duplicated as a whole — these are the "tokens
    covered by some duplicate" regions that span-removal dedup actually
    cuts, not pairwise matches.

    Output: one row per maximal span — ``(doc_id, span_start, span_len,
    n_windows)`` with ``span_start`` the 1-based token offset and the span
    covering tokens ``[span_start, span_start + span_len)``; docs shorter
    than ``k`` tokens emit nothing.

    Physical plan (contrast the reference's O(N x M) pandas loops and the
    single-machine suffix array, neither of which distributes): one
    tokenize + posexplode pass emits O(total tokens) ``(gram_hash, doc,
    pos)`` rows in whole-stage codegen; the duplicate-gram set comes from a
    map-side-combined count groupBy (never a window over the gram stream —
    partial aggregation halves the shuffle); a left-semi equi-join on the
    hash keeps duplicated positions (AQE broadcasts the dup set when small,
    splits skewed grams when not); the islands merge shuffles once on
    ``doc_id`` with per-doc sort bounded by tokens-per-doc.  No pair
    materialization at any point — output is O(duplicated tokens), so the
    100-TB cost is two bounded shuffles over the token stream.
    """
    from pyspark.sql.window import Window

    dup_pos = _dup_window_positions(docs, k, id_col, text_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup_pos.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) == 1, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("int").alias("span_len"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_len", "n_windows")
    )


def paragraph_dedup(
    docs: DataFrame,
    sep: str = "\n\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicate-paragraph removal (MassiveText / Gopher, Rae et al.
    2021, arXiv:2112.11446 §A.1.2 "remove all exact duplicate paragraphs";
    the paragraph-granularity sibling of :func:`exact_substr_scrub`): any
    paragraph whose exact text occurs more than once corpus-wide survives
    only at its FIRST occurrence — first in the total order ``(doc_id,
    position)``, so the result is deterministic and partition-independent.
    Unique paragraphs always survive.  No reference analog (the reference
    never handles text; nearest pattern is the keep-first rule of its
    ``skip_if_exists`` chip loop, ``partitions.py:441-445``).

    Output: one row per input document — ``(doc_id, n_paras, n_removed,
    text_clean)`` with ``text_clean`` the surviving paragraphs re-joined
    by ``sep`` in original order ('' when everything was removed).

    Physical plan: one split + posexplode pass (O(total paragraphs),
    whole-stage codegen); first-occurrence election is a map-side-combined
    ``min(struct(doc_id, pos))`` groupBy keyed on ``md5(paragraph)`` — the
    128-bit key, not the paragraph text, is what shuffles twice (agg +
    equi-join back), so shuffle width stays bounded at 100 TB no matter
    how long paragraphs get; the rebuild is one groupBy(doc) with
    ``array_sort`` over collected ``(pos, para)`` structs (bounded by
    paragraphs-per-doc).  ``collect_list`` drops the NULLs that the keep
    filter leaves, so survivors regroup without a second pass.  No pair
    materialization; output is O(documents).
    """
    # F.split treats the separator as a Java regex (ADVICE r6: '||' or '. '
    # would silently mis-split) — quote it, Pattern.quote-style
    sep_rx = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    paras = spread(docs.select(F.col(id_col), F.col(text_col)), key=id_col).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep_rx, -1)).alias("pos", "para"),
    ).withColumn("para_h", F.md5(F.col("para")))
    firsts = paras.groupBy("para_h").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    keep = (F.col("doc_id") == F.col("first.doc_id")) & (
        F.col("pos") == F.col("first.pos")
    )
    marked = paras.join(firsts, "para_h").select(
        "doc_id", "pos", "para", keep.alias("keep")
    )
    kept_structs = F.array_sort(
        F.collect_list(F.when(F.col("keep"), F.struct("pos", "para")))
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_paras"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1))
            .cast("int")
            .alias("n_removed"),
            F.concat_ws(
                sep, F.transform(kept_structs, lambda s: s["para"])
            ).alias("text_clean"),
        )
    )


def multimodal_dedup(
    docs: DataFrame,
    media_content: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Doc-level dedup of INTERLEAVED text+media documents by CONTENT:
    a document's fingerprint is the sha256 of its span sequence where text
    spans contribute their text and media spans contribute the md5 of the
    referenced chip's decoded pixels (:func:`..operators.multimodal.
    chip_content_hash`) — NOT the media_ref string, so a re-crawled page
    whose images were re-keyed still collapses with the original, and two
    refs pointing at different bytes never do.

    Scale shape: explode spans once, ONE equi-join on media_ref against
    the chip content table (O(tiles), shuffle-partitioned), per-doc ordered
    rebuild via collect_list + array_sort (the paragraph_dedup pattern),
    then a min-id election per fingerprint — O(docs) out, no pairs.

    Output per doc: ``(doc_id, n_media, fp, canonical_doc_id, keep)`` with
    ``keep = 1`` iff this doc is its fingerprint group's minimum id."""
    from pyspark.sql import Window

    spans = docs.select(
        F.col(id_col), F.posexplode("spans").alias("pos", "s")
    ).select(
        id_col,
        "pos",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )
    content = media_content.select("media_ref", "chash")
    # text spans carry media_ref = '' which matches no content row -> null
    # chash -> '' after coalesce; one equi-join, no extra predicate needed.
    # A MEDIA span with no content row (undecodable chip skipped upstream)
    # falls back to a sentinel that still carries its media_ref (ADVICE r6:
    # a bare '' would make two docs embedding DIFFERENT undecodable images
    # fingerprint identically and silently drop one as a duplicate).
    joined = spans.join(
        content, spans["media_ref"] == content["media_ref"], "left"
    ).select(
        spans[id_col], "pos", "kind", "text",
        F.when(
            (spans["kind"] == "media") & F.col("chash").isNull(),
            F.concat(F.lit("missing:"), spans["media_ref"]),
        ).otherwise(F.coalesce("chash", F.lit(""))).alias("chash"),
        F.when(spans["kind"] == "media", 1).otherwise(0).alias("is_media"),
    )
    elem = F.concat_ws("\x02", F.col("kind"), F.col("text"), F.col("chash"))
    per_doc = (
        joined.withColumn("elem", elem)
        .groupBy(id_col)
        .agg(
            F.sha2(
                F.concat_ws(
                    "\x01",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "elem"))
                        ),
                        lambda st: st["elem"],
                    ),
                ),
                256,
            ).alias("fp"),
            F.sum("is_media").cast("int").alias("n_media"),
        )
    )
    w = Window.partitionBy("fp")
    return per_doc.select(
        id_col,
        "n_media",
        "fp",
        F.min(id_col).over(w).alias("canonical_doc_id"),
        (F.col(id_col) == F.min(id_col).over(w)).cast("int").alias("keep"),
    )


def dhash_hamming_pairs(
    sigs: DataFrame,
    max_dist: int = 4,
    id_col: str = "tile_id",
) -> DataFrame:
    """Near-duplicate IMAGE pairs by dHash Hamming distance <= max_dist,
    recall 1 — the :func:`simhash_hamming_pairs` shape applied to the
    64-bit perceptual hash (`multimodal.image_dhash`): pigeonhole the
    64-char bitstring into ``max_dist + 1`` segments, equi-join on
    ``(segment_idx, segment_value)``, refine with ``bit_count(xor)`` over
    the two 32-bit halves (pure JVM long ops — not 64 per-char
    comparisons), and keep each pair only in its FIRST agreeing segment
    (report-once: a filter, never a distinct shuffle).  A hot segment
    value (e.g. many near-black thumbnails) is salted by
    :func:`.pairs.keyed_self_join` at this module's ``HOT_KEY_THRESHOLD``
    and ``N_SALTS``, so it never becomes one quadratic task."""
    segs = simhash_segments(max_dist, sig_len=64)
    seg_rows = cache.track(
        _segment_rows(
            sigs.select(F.col(id_col).alias("iid"), "dhash", "h_hi", "h_lo"), "dhash", segs
        )
    )

    def pair(a, b, keys):
        return a.select(
            F.col("iid").alias("id_a"), F.col("dhash").alias("da"),
            F.col("h_hi").alias("hi_a"), F.col("h_lo").alias("lo_a"), *keys,
        ).join(
            b.select(
                F.col("iid").alias("id_b"), F.col("dhash").alias("db"),
                F.col("h_hi").alias("hi_b"), F.col("h_lo").alias("lo_b"), *keys,
            ),
            keys,
        )

    pairs = keyed_self_join(seg_rows, ["seg", "segv"], "iid", HOT_KEY_THRESHOLD, N_SALTS, pair)
    dist = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", dist)
        .filter(F.col("dist") <= max_dist)
        .filter(F.col("seg") == _first_agreeing_segment(segs, "da", "db"))
        .select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
    )
