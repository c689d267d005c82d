"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and parameters: the same
seed gives bit-identical inputs.  Nothing is read from disk or the network;
the corpus marginals below were measured once on the sf0.1 documents and
embeddings tables and are frozen here as constants.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# ---------------------------------------------------------------- geo_tiles

# Luxembourg (the paper's walkthrough AOI) is ~2586 km^2; the benchmark AOI
# is four times that, which gives ~10k tiles at 1000 m chips.
AOI_PARAMS = {"target_km2": 10344.0, "chip_m": 1000, "foreign_rect_m": 12600}

_KM_PER_DEG = 111.32


def aoi_ring(seed: int, target_km2: float = AOI_PARAMS["target_km2"]) -> np.ndarray:
    """A closed, simple, concave lon/lat ring of exactly ``target_km2``.

    Star-shaped (strictly increasing vertex angles, so the ring never
    self-intersects): fixed harmonics roughen the outline and two Gaussian
    bays cut into it.  The seed places the ring and jitters every vertex;
    the outline itself stays fixed, because the envelope-to-area ratio sets
    how many grid cells ``make_grid`` tests and a free shape would make
    that vary by tens of percent between seeds.  The ring is scaled so its
    planar area equals the target."""
    rng = np.random.default_rng([seed, 101])
    lon0 = rng.uniform(-8.0, 25.0)
    lat0 = rng.uniform(44.0, 54.0)
    n = 96
    theta = (np.arange(n) + rng.uniform(-0.3, 0.3, n)) * (2 * np.pi / n)
    r = 1.0 + rng.uniform(-0.02, 0.02, n)
    for k, amp, phase in ((2, 0.08, 0.4), (3, 0.06, 2.1), (5, 0.04, 4.0), (8, 0.03, 1.3)):
        r += amp * np.cos(k * theta + phase)
    for c, depth, width in ((0.9, 0.45, 0.18), (3.8, 0.35, 0.14)):
        d = np.angle(np.exp(1j * (theta - c)))
        r *= 1.0 - depth * np.exp(-0.5 * (d / width) ** 2)
    x, y = r * np.cos(theta), r * np.sin(theta)
    area = 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    s = np.sqrt(target_km2 / area)
    lat = lat0 + y * s / _KM_PER_DEG
    lon = lon0 + x * s / (_KM_PER_DEG * np.cos(np.deg2rad(lat0)))
    ring = np.column_stack([lon, lat])
    return np.vstack([ring, ring[:1]])


def ring_area_km2(ring: np.ndarray) -> float:
    """Planar area of a lon/lat ring on a local equirectangular projection."""
    lat0 = np.deg2rad(ring[:, 1].mean())
    x = ring[:, 0] * _KM_PER_DEG * np.cos(lat0)
    y = ring[:, 1] * _KM_PER_DEG
    return float(0.5 * abs(np.dot(x[:-1], y[1:]) - np.dot(y[:-1], x[1:])))


# ------------------------------------------------------------- corpus_dedup

# sf0.1 documents: 5000 docs, a 31-word vocabulary drawn uniformly, lengths
# uniform on [10, 100] tokens, 8 exact-duplicate texts (0.16%).
# sf0.1 embeddings: 2000 unit vectors of dim 64 in 10 label clusters, with
# 920 pairs at cosine >= 0.4.
SF01_DOCS = 5000
SF01_VECS = 2000
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LEN_RANGE = (10, 100)
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))

CORPUS_PARAMS = {
    "scale_x_sf01": 0.5,
    "exact_dup_share": 0.0016,
    "near_dup_share": 0.05,
    "near_dup_edit_frac": 0.06,
    # the hot-key threshold (in docs) passed to both self-joins: a gram or
    # LSH band bucket in more docs than this takes the salted join path.
    # The operators' default (1024) is sized for larger corpora: at 0.5x
    # sf0.1 the hottest LSH band bucket holds 607-619 docs (seeds 1101 to
    # 1103).  400 keeps the salted path running on every seed, and it
    # shrinks with the corpus (the warm-up's and the self-test's), so every
    # size runs the same plan.
    "hot_threshold": 400,
    # a short boilerplate phrase inserted into this many otherwise random
    # docs: its grams exceed the hot threshold, so ngram_jaccard_pairs'
    # salted self-join runs without the boilerplate docs becoming
    # near-duplicates of each other.  LSH band buckets are hot on their
    # own: 5-char shingles over a 31-word vocabulary overlap heavily, so
    # hundreds of docs share a band's min-hashes.
    "boilerplate_docs": 550,
    "boilerplate_tokens": 5,
    "emb_dim": 64,
    "emb_clusters": 10,
    "emb_cluster_weight": 0.15,
    "emb_near_dup_share": 0.01,
}


def scaled_corpus_params(scale: float) -> dict:
    """CORPUS_PARAMS with the corpus, the boilerplate share and the hot
    threshold all multiplied by ``scale``."""
    p = dict(CORPUS_PARAMS)
    for k in ("scale_x_sf01", "hot_threshold", "boilerplate_docs"):
        p[k] = CORPUS_PARAMS[k] * scale
    p["hot_threshold"] = int(p["hot_threshold"])
    return p


def corpus(seed: int, params: dict = CORPUS_PARAMS) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(documents, embeddings) pandas frames at ``scale_x_sf01`` x sf0.1."""
    rng = np.random.default_rng([seed, 202])
    n_docs = int(round(SF01_DOCS * params["scale_x_sf01"]))
    vocab = np.array(VOCAB)
    lo, hi = LEN_RANGE
    texts: list[str] = []
    toks_of: list[np.ndarray] = []
    n_boiler = min(int(params["boilerplate_docs"]), n_docs // 4)
    boiler = rng.integers(0, len(vocab), int(params["boilerplate_tokens"]))
    for i in range(n_docs):
        u = rng.random()
        if i < n_boiler:
            body = rng.integers(0, len(vocab), int(rng.integers(lo, hi + 1)))
            at = int(rng.integers(0, len(body) + 1))
            toks = np.concatenate([body[:at], boiler, body[at:]])
        elif toks_of and u < params["exact_dup_share"]:
            toks = toks_of[int(rng.integers(0, len(toks_of)))].copy()
        elif toks_of and u < params["exact_dup_share"] + params["near_dup_share"]:
            toks = toks_of[int(rng.integers(0, len(toks_of)))].copy()
            k = max(1, int(round(len(toks) * params["near_dup_edit_frac"])))
            toks[rng.integers(0, len(toks), k)] = rng.integers(0, len(vocab), k)
        else:
            toks = rng.integers(0, len(vocab), int(rng.integers(lo, hi + 1)))
        toks_of.append(toks)
        texts.append(" ".join(vocab[toks]))
    order = rng.permutation(n_docs)  # boilerplate docs spread over ids
    texts = [texts[j] for j in order]
    langs, probs = zip(*LANGS)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(langs, n_docs, p=probs),
            "source": [f"src{j % 20}" for j in range(n_docs)],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)

    n_vec = int(round(SF01_VECS * params["scale_x_sf01"]))
    dim, k = params["emb_dim"], params["emb_clusters"]
    cent = rng.standard_normal((k, dim))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    label = rng.integers(0, k, n_vec)
    noise = rng.standard_normal((n_vec, dim))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    w = params["emb_cluster_weight"]
    vec = w * cent[label] + (1 - w) * noise
    n_nd = int(n_vec * params["emb_near_dup_share"])
    src = rng.integers(0, n_vec, n_nd)
    dst = rng.choice(n_vec, n_nd, replace=False)
    vec[dst] = vec[src] + 0.02 * rng.standard_normal((n_nd, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": list(vec.astype(np.float32)),
            "label": label.astype(np.int32),
        }
    )
    return docs, emb


# ------------------------------------------------------------ spatial_store

STORE_PARAMS = {
    "n_points": 100_000,
    "n_cities": 40,
    "zipf_s": 1.1,
    "background_share": 0.1,
    "bbox": (-5.0, 40.0, 15.0, 52.0),
    "part_level": 5,
    "merge_rows": 4000,
    "reads_per_commit": 5,
}


def scaled_store_params(scale: float) -> dict:
    p = dict(STORE_PARAMS)
    p["n_points"] = int(STORE_PARAMS["n_points"] * scale)
    p["merge_rows"] = int(STORE_PARAMS["merge_rows"] * scale)
    return p


def cities(seed: int, params: dict = STORE_PARAMS) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lon, lat, weight) of Zipf-weighted city centres; weights sum to 1."""
    rng = np.random.default_rng([seed, 303])
    x0, y0, x1, y1 = params["bbox"]
    n = params["n_cities"]
    lon = rng.uniform(x0 + 1, x1 - 1, n)
    lat = rng.uniform(y0 + 1, y1 - 1, n)
    w = 1.0 / np.arange(1, n + 1) ** params["zipf_s"]
    return lon, lat, w / w.sum()


def store_points(seed: int, params: dict = STORE_PARAMS) -> pd.DataFrame:
    """Skewed point set: Zipf city clusters plus a uniform background."""
    rng = np.random.default_rng([seed, 304])
    clon, clat, cw = cities(seed, params)
    x0, y0, x1, y1 = params["bbox"]
    n = params["n_points"]
    n_bg = int(n * params["background_share"])
    c = rng.choice(len(cw), n - n_bg, p=cw)
    sd = rng.uniform(0.05, 0.4, len(cw))[c]
    lon = np.concatenate([clon[c] + rng.standard_normal(len(c)) * sd, rng.uniform(x0, x1, n_bg)])
    lat = np.concatenate([clat[c] + rng.standard_normal(len(c)) * sd * 0.7, rng.uniform(y0, y1, n_bg)])
    return pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "lon": np.clip(lon, x0, x1),
            "lat": np.clip(lat, y0, y1),
            "v": rng.integers(0, 1000, n).astype(np.int64),
        }
    )


def merge_batch(seed: int, k: int, truth: pd.DataFrame, next_id: int,
                params: dict = STORE_PARAMS) -> pd.DataFrame:
    """Batch ``k`` of upserts around one city: half updates of existing
    rows (same position, new ``v``, so the partition key is stable) and
    half inserts with fresh ids."""
    rng = np.random.default_rng([seed, 305, k])
    clon, clat, cw = cities(seed, params)
    c = int(rng.choice(len(cw), p=cw))
    n = params["merge_rows"]
    near = np.nonzero(
        (np.abs(truth["lon"].to_numpy() - clon[c]) < 0.5)
        & (np.abs(truth["lat"].to_numpy() - clat[c]) < 0.5)
    )[0]
    upd = truth.iloc[rng.choice(near, min(n // 2, len(near)), replace=False)].copy()
    upd["v"] = rng.integers(1000, 2000, len(upd))
    n_new = n - len(upd)
    lon = np.clip(clon[c] + rng.standard_normal(n_new) * 0.2, *params["bbox"][0::2])
    lat = np.clip(clat[c] + rng.standard_normal(n_new) * 0.14, *params["bbox"][1::2])
    new = pd.DataFrame(
        {
            "id": np.arange(next_id, next_id + n_new, dtype=np.int64),
            "lon": lon,
            "lat": lat,
            "v": rng.integers(1000, 2000, n_new).astype(np.int64),
        }
    )
    return pd.concat([upd, new], ignore_index=True)


def star_ring(rng, lon0: float, lat0: float, radius_deg: float, n: int = 24) -> np.ndarray:
    """Small closed concave star polygon around a point."""
    theta = np.arange(n) * (2 * np.pi / n)
    r = radius_deg * (1.0 + 0.35 * np.where(np.arange(n) % 2 == 0, 1.0, -1.0) * rng.uniform(0.3, 1.0, n))
    ring = np.column_stack([lon0 + r * np.cos(theta), lat0 + 0.7 * r * np.sin(theta)])
    return np.vstack([ring, ring[:1]])


# The read mix is an assumption: no public trace of reads against a store
# like this one exists to copy.  Every commit is followed by one cycle of
# the pattern below: three bbox reads of growing size, one polygon read
# and one join over a bbox read, the join alternating between
# point-in-polygon (after even commits) and kNN (after odd ones).  Bbox
# reads, the store's primary access path, are three reads in five.  The
# record reports latency per read kind, so the shares decide only the
# mixed query_s quantiles.  The sizes are target rows as a share of the
# stored points, so every seed reads the same amount of data; only the
# places vary.
READ_PATTERN = (  # (kind, target rows as a share of the stored points)
    ("read_aoi", 0.0015), ("read_aoi", 0.015), ("read_aoi", 0.15),
    ("read_aoi_polygon", 0.015), ("point_in_polygon_join", 0.015),
    ("read_aoi", 0.0015), ("read_aoi", 0.015), ("read_aoi", 0.15),
    ("read_aoi_polygon", 0.015), ("knn_join_cells", 0.015),
)


def read_stream(seed: int, n: int, lon: np.ndarray, lat: np.ndarray) -> list[dict]:
    """``n`` seeded read requests against the points ``lon``/``lat``.

    Each read is centred on a randomly drawn stored point, so hot areas are
    read more often, as in real traffic.  Its bbox (aspect 1 : 0.7) is the
    smallest one around that centre holding the pattern's target row
    count; polygons and kNN queries sit inside that bbox."""
    rng = np.random.default_rng([seed, 306])
    out = []
    for i in range(n):
        kind, share = READ_PATTERN[i % len(READ_PATTERN)]
        target = max(1, int(share * len(lon)))
        c = int(rng.integers(0, len(lon)))
        lon0, lat0 = float(lon[c]), float(lat[c])
        d = np.maximum(np.abs(lon - lon0), np.abs(lat - lat0) / 0.7)
        half = float(np.partition(d, target)[target])
        req = {"i": i, "kind": kind, "lon": lon0, "lat": lat0, "half": half}
        if kind in ("read_aoi_polygon", "point_in_polygon_join"):
            req["rings"] = [
                star_ring(rng, lon0 + rng.normal(0, half / 4), lat0 + rng.normal(0, half / 6), half / 2)
                for _ in range(1 if kind == "read_aoi_polygon" else 3)
            ]
        if kind == "knn_join_cells":
            req["queries"] = [
                (f"q{j}", lon0 + float(rng.normal(0, half / 4)), lat0 + float(rng.normal(0, half / 6)))
                for j in range(3)
            ]
        out.append(req)
    return out
