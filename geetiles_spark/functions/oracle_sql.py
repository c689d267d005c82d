"""Composed DuckDB oracles for the geo contract queries.

Each generator chains the Krüger-series grid CTEs (:mod:`.tm_sql`) with the
operator math re-derived from first principles in ANSI SQL, so the formerly
rows-only geo queries get full value-checked oracles:

* ``split_oracle_sql``   — W1 geographic banding (projection + linspace
  k-search + cycled split assignment, reference ``partitions.py:307-368``)
* ``intersect_oracle_sql`` / ``foreign_props_oracle_sql`` — J1/J2 over the
  deterministic box-foreign fixture (box∩box area is exact
  ``greatest/least`` arithmetic; reference ``partitions.py:470-507``)
* ``zonal_pattern_oracle_sql`` — A1 label proportions over the
  SQL-expressible pattern label def (``sources/datasets.PatternLabelDef``)
* ``chip_stats_pattern_oracle_sql`` — per-chip intensity stats over the
  pattern image def

The shared fixture constants (AOI box, foreign boxes) live here so the Spark
side (``__spark_entry__``) and the SQL side are generated from the same
numbers — a literal embedded via ``repr`` parses to the identical double in
both engines.
"""

from __future__ import annotations

from . import tm_sql
from .tm_sql import _L

AOI = (6.086, 49.6865, 6.114, 49.7135)
ZONE = 32


def foreign_boxes() -> list[dict]:
    """9 deterministic overlapping lon/lat boxes covering the AOI fixture
    (plus the half-tile overhang of unclipped grid tiles), each with a
    3-class proportion map — the foreign side for the J1/J2 oracles."""
    out = []
    for i in range(9):
        fx0 = 6.076 + (i % 3) * 0.016
        fy0 = 49.6765 + (i // 3) * 0.0157
        fx1 = fx0 + 0.020
        fy1 = fy0 + 0.019
        c10 = ((i % 4) + 1) / 10
        c20 = ((i % 3) + 1) / 10
        c30 = 1 - c10 - c20
        out.append(
            {
                "row_idx": i,
                "tile_id": f"f{i}",
                "minx": fx0, "miny": fy0, "maxx": fx1, "maxy": fy1,
                "props": {"10": c10, "20": c20, "30": c30},
            }
        )
    return out


def _grid_with(chip_size_m: float) -> tuple[str, str]:
    """(with_body, last_cte) of the grid chain including ``tile_id``."""
    body, kept = tm_sql.grid_chains(*AOI, chip_size_m, ZONE)
    tm_sql.add_region_hash(kept, "minx", "miny", "maxx", "maxy", "tile_id")
    return f"{body},\n{kept.render()}", kept.last()


def _foreign_values() -> str:
    rows = ", ".join(
        f"({f['row_idx']}, '{f['tile_id']}', {_L(f['minx'])}, {_L(f['miny'])}, "
        f"{_L(f['maxx'])}, {_L(f['maxy'])})"
        for f in foreign_boxes()
    )
    return f"(VALUES {rows}) fv(fidx, fid, fx0, fy0, fx1, fy1)"


def _pairs_ctes(last: str) -> str:
    """CTEs producing positive-overlap (tile, foreign) pairs with exact
    box∩box areas."""
    return f"""
f AS (SELECT * FROM {_foreign_values()}),
pairs AS (
  SELECT t.tile_id, f.fidx, f.fid,
         greatest(0, least(t.maxx, f.fx1) - greatest(t.minx, f.fx0)) *
         greatest(0, least(t.maxy, f.fy1) - greatest(t.miny, f.fy0)) AS ia
  FROM {last} t, f
),
pos AS (SELECT * FROM pairs WHERE ia > 0)"""


def intersect_oracle_sql(chip_size_m: float) -> str:
    """J1: per tile the foreign id of the max intersection area (first max in
    foreign row order), '-1' when nothing overlaps.

    Diverges from the engine J1 on a touch-only tile: ``pos`` keeps only
    pairs of positive area, so such a tile gets '-1' here, where
    ``joins.intersect_join_cells`` gives the first toucher in foreign row
    order (the reference's ``intersects``).  The contract fixture holds no
    touch-only tile, so the two agree on it; :func:`split_per_partitions_oracle_sql`
    inherits the same rule."""
    body, last = _grid_with(chip_size_m)
    return f"""
WITH {body},
{_pairs_ctes(last)},
best AS (
  SELECT tile_id, fid,
         row_number() OVER (PARTITION BY tile_id ORDER BY ia DESC, fidx ASC) AS rn
  FROM pos
)
SELECT t.tile_id, coalesce(b.fid, '-1') AS foreign_id
FROM {last} t
LEFT JOIN (SELECT tile_id, fid FROM best WHERE rn = 1) b USING (tile_id)
ORDER BY tile_id
"""


def foreign_props_oracle_sql(chip_size_m: float) -> str:
    """J2: per (tile, class) the area-weighted mean of foreign proportions
    over the overlapping foreign set.

    Diverges from the engine J2 on a zero-area toucher: ``pos`` drops it,
    where ``joins.foreign_proportions_cells`` keeps its keys at 0.0 (the
    reference's ``intersects`` set).  The contract fixture holds no
    touching tile, so the two agree on it."""
    body, last = _grid_with(chip_size_m)
    prop_rows = ", ".join(
        f"({f['row_idx']}, '{cls}', {_L(frac)})"
        for f in foreign_boxes()
        for cls, frac in f["props"].items()
    )
    return f"""
WITH {body},
{_pairs_ctes(last)},
w AS (
  SELECT tile_id, fidx, ia / sum(ia) OVER (PARTITION BY tile_id) AS w
  FROM pos
),
fp AS (SELECT * FROM (VALUES {prop_rows}) pv(fidx, class, frac))
SELECT w.tile_id, fp.class, round(sum(w.w * fp.frac), 6) AS frac
FROM w JOIN fp ON w.fidx = fp.fidx
GROUP BY w.tile_id, fp.class
ORDER BY w.tile_id, fp.class
"""


def _split_ctes(
    last: str,
    nbands: int,
    angle: float,
    train_pct: float,
    test_pct: float,
    val_pct: float,
) -> str:
    """W1 banding as reusable CTEs ending in ``splits(tile_id, row_idx,
    split)`` — shared by the standalone split oracle and the A3
    mode-per-foreign oracle."""
    from ..operators.split import _direction_weights, band_counts

    a, b, c = band_counts(train_pct, test_pct, val_pct)
    plon, plat = _direction_weights(angle)
    base = ["train"] * a + ["test"] * b + ["val"] * c
    step = (50.0 - 0.1) / 9999
    nx = "(cx - bx0) / rx"
    ny = "(cy - by0) / ry"
    if angle < 0:
        nx = f"1 - ({nx})"
        ny = f"1 - ({ny})"
    case_items = " ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(base))
    return f"""
c AS (
  SELECT tile_id, row_idx,
         (2 * minx + 2 * maxx + minx) / 5 AS cx,
         (2 * miny + 2 * maxy + miny) / 5 AS cy
  FROM {last}
),
bbr AS (SELECT min(cx) AS bx0, max(cx) AS bx1, min(cy) AS by0, max(cy) AS by1 FROM c),
bb AS (
  SELECT bx0, by0,
         CASE WHEN bx1 - bx0 = 0 THEN 1 ELSE bx1 - bx0 END AS rx,
         CASE WHEN by1 - by0 = 0 THEN 1 ELSE by1 - by0 END AS ry
  FROM bbr
),
p AS (
  SELECT tile_id, row_idx, {_L(plon)} * ({nx}) + {_L(plat)} * ({ny}) AS proj
  FROM c, bb
),
ks AS (SELECT j, 0.1e0 + j * {_L(step)} AS k FROM generate_series(0, 9999) g(j)),
cnt AS (
  SELECT j, k, count(DISTINCT trunc(proj / (k / {nbands}))) AS nb
  FROM p, ks GROUP BY j, k
),
chosen AS (SELECT k FROM cnt WHERE nb = {nbands} ORDER BY j LIMIT 1),
bands AS (
  SELECT tile_id, row_idx, CAST(trunc(proj / (k / {nbands})) AS BIGINT) AS raw
  FROM p, chosen
),
ranked AS (
  SELECT tile_id, row_idx, dense_rank() OVER (ORDER BY raw) - 1 AS bidx
  FROM bands
),
splits AS (
  SELECT tile_id, row_idx, CASE (bidx % {len(base)}) {case_items} END AS split
  FROM ranked
)"""


def split_oracle_sql(
    chip_size_m: float,
    nbands: int,
    angle: float,
    train_pct: float,
    test_pct: float,
    val_pct: float,
) -> str:
    """W1: envelope-ring centroids, min-max normalization, direction-weighted
    projection, the exact linspace(0.1, 50, 10000) k-search for exactly
    ``nbands`` distinct bands, and the cycled train/test/val assignment."""
    body, last = _grid_with(chip_size_m)
    return f"""
WITH {body},
{_split_ctes(last, nbands, angle, train_pct, test_pct, val_pct)}
SELECT tile_id, split FROM splits ORDER BY tile_id
"""


def split_per_partitions_oracle_sql(
    chip_size_m: float,
    nbands: int,
    angle: float,
    train_pct: float,
    test_pct: float,
    val_pct: float,
) -> str:
    """A3 (``partitions.py:383-384``): per foreign group, the MODE of the
    tile splits, ties resolved by first occurrence in row order (pandas
    ``value_counts`` parity) — composed from the W1 banding CTEs and the J1
    argmax foreign assignment (with :func:`intersect_oracle_sql`'s '-1' for
    a touch-only tile, where the engine gives the first toucher)."""
    body, last = _grid_with(chip_size_m)
    return f"""
WITH {body},
{_split_ctes(last, nbands, angle, train_pct, test_pct, val_pct)},
{_pairs_ctes(last)},
best AS (
  SELECT tile_id, fid,
         row_number() OVER (PARTITION BY tile_id ORDER BY ia DESC, fidx ASC) AS rn
  FROM pos
),
assigned AS (
  SELECT s.tile_id, s.row_idx, s.split, coalesce(b.fid, '-1') AS foreign_id
  FROM splits s
  LEFT JOIN (SELECT tile_id, fid FROM best WHERE rn = 1) b USING (tile_id)
),
mode_cte AS (
  SELECT foreign_id, split,
         row_number() OVER (
           PARTITION BY foreign_id
           ORDER BY count(*) DESC, min(row_idx) ASC
         ) AS mrn
  FROM assigned GROUP BY foreign_id, split
)
SELECT a.tile_id, a.foreign_id, a.split, m.split AS split_foreign_id
FROM assigned a
JOIN (SELECT foreign_id, split FROM mode_cte WHERE mrn = 1) m USING (foreign_id)
ORDER BY a.tile_id
"""


def group_filter_oracle_sql(chip_size_m: float, want: str) -> str:
    """J6 (``partitions.py:405-413``): keep tiles whose comma-separated
    group tag overlaps the wanted set — tags derived deterministically from
    row_idx parity, matching the Spark query."""
    body, last = _grid_with(chip_size_m)
    return f"""
WITH {body},
tagged AS (
  SELECT tile_id,
         CASE WHEN row_idx % 2 = 0 THEN 'a,b' ELSE 'c' END AS grp
  FROM {last}
)
SELECT tile_id, grp AS group_tag FROM tagged
WHERE list_has_any(string_split(grp, ','), ['{want}'])
ORDER BY tile_id
"""


def zonal_pattern_oracle_sql(
    chip_size_m: float,
    dataset: str = "patternlabels-2020",
    block: int = 10,
    height: int = 100,
    width: int = 100,
) -> str:
    """A1 over :class:`~..sources.datasets.PatternLabelDef`: per-tile class
    fractions re-derived per block (value = (seed + bx + 31*by) % 12, each
    block contributes block^2 pixels; box tiles mask to all-ones)."""
    body, kept_last = _grid_with(chip_size_m)
    # second hash: chip seed from (dataset, tile_id)
    seed = tm_sql._Chain(f"SELECT tile_id FROM {kept_last}", "seeded")
    tm_sql.add_hex_prefix_int(seed, f"'{dataset}/' || tile_id", 12, "seed")
    nbx = width // block
    nby = height // block
    total = height * width
    return f"""
WITH {body},
{seed.render()},
blocks AS (
  SELECT tile_id, (seed + bx.g + 31 * by.g) % 12 AS cls
  FROM {seed.last()},
       generate_series(0, {nbx - 1}) bx(g), generate_series(0, {nby - 1}) by(g)
)
SELECT tile_id, CAST(cls AS VARCHAR) AS class,
       round(CAST(count(*) * {block * block} AS DOUBLE) / {_L(float(total))}, 9) AS frac
FROM blocks GROUP BY tile_id, cls ORDER BY tile_id, class
"""


def sh_clip_stages(src: str, id_cols: list[str], prefix: str) -> tuple[str, str]:
    """Reusable Sutherland–Hodgman-in-SQL: emit CTEs clipping list-polygons
    ``(xs, ys)`` by per-row axis boxes ``(e0, n0, e1, n1)`` — one
    unnest + emit + regroup block per half-plane, box_ring CCW edge order
    (bottom, right, top, left).  ``id_cols`` are carried through every
    stage.  Returns ``(ctes_text, last_cte_name)``; the result rows keep
    (id_cols, e0, n0, e1, n1, xs, ys) with degenerate outputs having
    ``len(xs) < 3``."""
    edges = [
        ("cy >= n0", "(n0 - py) / (cy - py)"),
        ("cx <= e1", "(e1 - px) / (cx - px)"),
        ("cy <= n1", "(n1 - py) / (cy - py)"),
        ("cx >= e0", "(e0 - px) / (cx - px)"),
    ]
    ids = ", ".join(id_cols)
    stages = []
    for s, (inside, t_expr) in enumerate(edges):
        cur_in = inside
        prev_in = inside.replace("cx", "px").replace("cy", "py")
        cids = ", ".join(f"c.{c}" for c in id_cols)
        stages.append(f"""
{prefix}p{s} AS (
  SELECT {cids}, c.e0, c.n0, c.e1, c.n1, g.i,
         c.xs[g.i] AS cx, c.ys[g.i] AS cy,
         c.xs[CASE WHEN g.i = 1 THEN len(c.xs) ELSE g.i - 1 END] AS px,
         c.ys[CASE WHEN g.i = 1 THEN len(c.xs) ELSE g.i - 1 END] AS py
  FROM {src} c JOIN generate_series(1, 32) g(i) ON g.i <= len(c.xs)
),
{prefix}e{s} AS (
  SELECT {ids}, e0, n0, e1, n1, i, 1 AS sub,
         px + ({t_expr}) * (cx - px) AS x,
         py + ({t_expr}) * (cy - py) AS y
  FROM {prefix}p{s} WHERE ({cur_in}) <> ({prev_in})
  UNION ALL
  SELECT {ids}, e0, n0, e1, n1, i, 2, cx, cy FROM {prefix}p{s} WHERE {cur_in}
),
{prefix}s{s} AS (
  SELECT {ids}, e0, n0, e1, n1,
         list(x ORDER BY i, sub) AS xs, list(y ORDER BY i, sub) AS ys
  FROM {prefix}e{s} GROUP BY {ids}, e0, n0, e1, n1
)""")
        src = f"{prefix}s{s}"
    return ",".join(stages), src


def clipped_grid_oracle_sql(rect_size: float, zone: int = ZONE) -> str:
    """G2 oracle: the UTM-square clipped grid fully in SQL — forward-project
    the AOI corners, enumerate UTM cells, run a four-edge Sutherland–Hodgman
    clip of the projected AOI quad against each cell (lists + unnest + one
    re-group per edge), shoelace the clipped ring, inverse-project its
    vertices for the lon/lat bounds, and region-hash them into tile_id."""
    import numpy as np

    lam0 = np.deg2rad(zone * 6.0 - 183.0)
    m = float(rect_size)
    aoi_w, aoi_s, aoi_e, aoi_n = AOI

    env = tm_sql._Chain("SELECT 1 AS one", "env")
    # box_ring corner order: (w,s) (e,s) (e,n) (w,n)
    for i, (lon, lat) in enumerate(
        [(aoi_w, aoi_s), (aoi_e, aoi_s), (aoi_e, aoi_n), (aoi_w, aoi_n)]
    ):
        tm_sql.add_fwd(env, _L(lon), _L(lat), lam0, f"c{i}")
    env.add(
        {
            "minx_m": "least(c0_e, c1_e, c2_e, c3_e)",
            "miny_m": "least(c0_n, c1_n, c2_n, c3_n)",
            "nx": "CAST(ceil((greatest(c0_e, c1_e, c2_e, c3_e) - least(c0_e, c1_e, c2_e, c3_e)) / "
                  f"{_L(m)}) AS BIGINT)",
            "nyc": "CAST(ceil((greatest(c0_n, c1_n, c2_n, c3_n) - least(c0_n, c1_n, c2_n, c3_n)) / "
                   f"{_L(m)}) AS BIGINT)",
        }
    )

    # one row per cell, carrying the subject quad as vertex lists
    cells_sql = f"""
cells AS (
  SELECT gx.g * d.nyc + gy.g AS row_idx,
         d.minx_m + gx.g * {_L(m)} AS e0,
         d.miny_m + gy.g * {_L(m)} AS n0,
         d.minx_m + gx.g * {_L(m)} + {_L(m)} AS e1,
         d.miny_m + gy.g * {_L(m)} + {_L(m)} AS n1,
         [d.c0_e, d.c1_e, d.c2_e, d.c3_e] AS xs,
         [d.c0_n, d.c1_n, d.c2_n, d.c3_n] AS ys
  FROM {env.last()} d,
       generate_series(0, 1023) gx(g), generate_series(0, 1023) gy(g)
  WHERE gx.g < d.nx AND gy.g < d.nyc
)"""

    stages_txt, src = sh_clip_stages("cells", ["row_idx"], "g")

    # shoelace area + vertex table for reprojection
    area_and_verts = f"""
kept AS (SELECT row_idx, xs, ys FROM {src} WHERE len(xs) >= 3),
shoe AS (
  SELECT k.row_idx,
         abs(sum(k.xs[g.i] * k.ys[CASE WHEN g.i = len(k.xs) THEN 1 ELSE g.i + 1 END]
               - k.xs[CASE WHEN g.i = len(k.xs) THEN 1 ELSE g.i + 1 END] * k.ys[g.i])) / 2
           AS area_m2
  FROM kept k JOIN generate_series(1, 32) g(i) ON g.i <= len(k.xs)
  GROUP BY k.row_idx
),
verts AS (
  SELECT k.row_idx, k.xs[g.i] AS ve, k.ys[g.i] AS vn
  FROM kept k JOIN generate_series(1, 32) g(i) ON g.i <= len(k.xs)
)"""

    inv = tm_sql._Chain("SELECT * FROM verts", "inv")
    tm_sql.add_inv(inv, "ve", "vn", lam0, "ll")

    hashed = tm_sql._Chain(
        f"""SELECT row_idx,
               min(ll_lon) AS minx, min(ll_lat) AS miny,
               max(ll_lon) AS maxx, max(ll_lat) AS maxy
        FROM {inv.last()} GROUP BY row_idx""",
        "bnd",
    )
    tm_sql.add_region_hash(hashed, "minx", "miny", "maxx", "maxy", "tile_id")

    return f"""
WITH
{env.render()},
{cells_sql},
{stages_txt},
{area_and_verts},
{inv.render()},
{hashed.render()}
SELECT b.row_idx, b.tile_id, round(a.area_m2 / 1000000.0, 6) AS area_km2
FROM {hashed.last()} b JOIN shoe a ON a.row_idx = b.row_idx
WHERE a.area_m2 > 0
ORDER BY b.row_idx
"""


def assembly_pattern_oracle_sql(
    chip_size_m: float,
    img_dataset: str = "patternimage-2020",
    lbl_dataset: str = "patternlabels-2020",
    height: int = 100,
    width: int = 100,
    bands: int = 3,
    block: int = 10,
) -> str:
    """J4/K5 oracle: tile metadata (centers/corners from the grid chain) plus
    int16 pixel sums of the pattern image and mapped pattern label chips."""
    body, kept_last = _grid_with(chip_size_m)
    seed = tm_sql._Chain(
        f"SELECT tile_id, minx, miny, maxx, maxy FROM {kept_last}", "seeded"
    )
    tm_sql.add_hex_prefix_int(seed, f"'{img_dataset}/' || tile_id", 12, "iseed")
    tm_sql.add_hex_prefix_int(seed, f"'{lbl_dataset}/' || tile_id", 12, "lseed")
    nbx = width // block
    nby = height // block
    return f"""
WITH {body},
{seed.render()},
isum AS (
  SELECT tile_id,
         sum((iseed + 3 * x.g + 7 * y.g + 11 * b.g) % 256) AS chip_sum
  FROM {seed.last()},
       generate_series(0, {width - 1}) x(g),
       generate_series(0, {height - 1}) y(g),
       generate_series(0, {bands - 1}) b(g)
  GROUP BY tile_id
),
lsum AS (
  SELECT tile_id,
         sum(((lseed + bx.g + 31 * by.g) % 12) * {block * block}) AS label_sum
  FROM {seed.last()},
       generate_series(0, {nbx - 1}) bx(g), generate_series(0, {nby - 1}) by(g)
  GROUP BY tile_id
)
SELECT s.tile_id AS chip_id,
       {height} AS chip_height, {width} AS chip_width, {bands} AS chip_bands,
       round((3 * s.miny + 2 * s.maxy) / 5, 9) AS center_lat,
       round((3 * s.minx + 2 * s.maxx) / 5, 9) AS center_lon,
       round(s.maxy, 9) AS corner_nw_lat,
       round(s.maxx, 9) AS corner_se_lon,
       CAST(i.chip_sum AS BIGINT) AS chip_sum,
       CAST(l.label_sum AS BIGINT) AS label_sum
FROM {seed.last()} s
JOIN isum i ON i.tile_id = s.tile_id
JOIN lsum l ON l.tile_id = s.tile_id
ORDER BY chip_id
"""


def event_triangles() -> list[dict]:
    """25 deterministic triangle flood footprints over the planar 25-box
    fixture grid (non-rectangular: exercises the exact ring refine of
    ``interval_spatial_join``)."""
    out = []
    for i in range(25):
        x0 = (i % 5) * 2 + 0.3
        y0 = (i // 5) * 2 + 0.3
        verts = [(x0, y0), (x0 + 2.2, y0 + 0.4), (x0 + 0.9, y0 + 2.3)]
        start = "2019-05-01" if i % 3 == 0 else "2020-05-01"
        out.append(
            {"event_id": i, "verts": verts, "start": start, "end": "2020-06-01"}
        )
    return out


def interval_triangles_oracle_sql() -> str:
    """J5-exact oracle: box-tile x triangle-event intersects (clip via the
    SQL Sutherland–Hodgman, keep strictly-overlapping pairs) plus the
    string-date interval containment."""
    ev_rows = ", ".join(
        f"({e['event_id']}, "
        + ", ".join(_L(c) for v in e["verts"] for c in v)
        + f", '{e['start']}', '{e['end']}')"
        for e in event_triangles()
    )
    base = f"""
boxes AS (
  SELECT k AS box_id,
         (k % 5) * 2 + 0.123457 AS minx, (k // 5) * 2 + 0.123457 AS miny,
         (k % 5) * 2 + 0.123457 + 1.75 AS maxx, (k // 5) * 2 + 0.123457 + 1.75 AS maxy
  FROM generate_series(0, 24) g(k)
),
ev AS (
  SELECT * FROM (VALUES {ev_rows})
    t(event_id, x0, y0, x1, y1, x2, y2, start, "end")
  WHERE start >= '2020-01-01' AND "end" <= '2020-12-31'
),
pairs AS (
  SELECT b.box_id, e.event_id,
         b.minx AS e0, b.miny AS n0, b.maxx AS e1, b.maxy AS n1,
         [e.x0, e.x1, e.x2] AS xs, [e.y0, e.y1, e.y2] AS ys
  FROM boxes b, ev e
  WHERE least(e.x0, e.x1, e.x2) <= b.maxx AND greatest(e.x0, e.x1, e.x2) >= b.minx
    AND least(e.y0, e.y1, e.y2) <= b.maxy AND greatest(e.y0, e.y1, e.y2) >= b.miny
)"""
    stages, last = sh_clip_stages("pairs", ["box_id", "event_id"], "iv")
    return f"""
WITH {base},
{stages},
kept AS (SELECT box_id, event_id, xs, ys FROM {last} WHERE len(xs) >= 3),
shoe AS (
  SELECT k.box_id, k.event_id,
         abs(sum(k.xs[g.i] * k.ys[CASE WHEN g.i = len(k.xs) THEN 1 ELSE g.i + 1 END]
               - k.xs[CASE WHEN g.i = len(k.xs) THEN 1 ELSE g.i + 1 END] * k.ys[g.i])) / 2
           AS area
  FROM kept k JOIN generate_series(1, 32) g(i) ON g.i <= len(k.xs)
  GROUP BY k.box_id, k.event_id
)
SELECT s.box_id, s.event_id,
       '{{"start":"' || e.start || '","end":"' || e."end" || '"}}' AS props_json
FROM shoe s JOIN ev e ON e.event_id = s.event_id
WHERE s.area > 0 ORDER BY s.box_id, s.event_id
"""


def doc_spans_oracle_sql(chip_size_m: float, dataset: str) -> str:
    """Span-sequence oracle (the north-rule per-row invariant, driver-checked):
    re-derive every (kind, text, media_ref, offset) span of the pattern
    documents from the tile ids — seed arithmetic, word table indexing and
    the per-span word join all in SQL."""
    from ..sources.docs import _WORDS

    wlit = "[" + ", ".join(f"'{w}'" for w in _WORDS) + "]"
    body, kept_last = _grid_with(chip_size_m)
    seed = tm_sql._Chain(f"SELECT tile_id FROM {kept_last}", "seeded")
    tm_sql.add_hex_prefix_int(seed, f"'doc-{dataset}-' || tile_id", 12, "seed")
    return f"""
WITH {body},
{seed.render()},
base AS (
  SELECT 'doc-{dataset}-' || tile_id AS doc_id, tile_id, seed, off.g AS span_pos,
         CASE WHEN off.g % 2 = 1 THEN 'media' ELSE 'text' END AS kind
  FROM {seed.last()} JOIN generate_series(0, 6) off(g) ON off.g < 2 + seed % 5
),
txt AS (
  SELECT doc_id, span_pos,
         string_agg(w, ' ' ORDER BY g) AS text
  FROM (
    SELECT b.doc_id, b.span_pos, k.g,
           ({wlit})[(b.seed + 7 * b.span_pos + 13 * k.g) % 24 + 1] AS w
    FROM base b JOIN generate_series(0, 11) k(g)
      ON k.g < 3 + (b.seed + 11 * b.span_pos) % 9
    WHERE b.kind = 'text'
  )
  GROUP BY doc_id, span_pos
)
SELECT b.doc_id, b.span_pos, b.kind,
       CASE WHEN b.kind = 'text' THEN t.text ELSE '' END AS text,
       CASE WHEN b.kind = 'media' THEN '{dataset}/' || b.tile_id ELSE '' END AS media_ref,
       b.span_pos AS offset
FROM base b LEFT JOIN txt t ON t.doc_id = b.doc_id AND t.span_pos = b.span_pos
ORDER BY b.doc_id, b.span_pos
"""


def doc_span_fingerprints_oracle_sql(chip_size_m: float, dataset: str) -> str:
    """Order-sensitive per-document span fingerprint (sha256 of the
    concatenated span tuples) — DuckDB twin of
    ``docs.span_sequence_fingerprint``."""
    spans = doc_spans_oracle_sql(chip_size_m, dataset)
    # reuse the full span derivation as a subquery
    return f"""
WITH allspans AS ({spans})
SELECT doc_id,
       sha256(string_agg(kind || chr(2) || text || chr(2) || media_ref
                              || chr(2) || CAST("offset" AS VARCHAR),
                         chr(1) ORDER BY span_pos)) AS span_fingerprint
FROM allspans GROUP BY doc_id ORDER BY doc_id
"""


def chip_dims_oracle_sql(chip_size_m: float, mpp: float) -> str:
    """F12 oracle: per-tile pixel dims from meters_per_pixel — the grid
    chain already carries the UTM projections of all four envelope corners
    (q0=(minx,miny), q1=(minx,maxy), q2=(maxx,maxy), q3=(maxx,miny));
    width/height = ceil(UTM-envelope span per axis / mpp) — max-min over the
    projected corners, mirroring the reference's project-then-``.bounds``
    (ADVICE r2: edge deltas can undershoot the envelope under shear)."""
    body, last = _grid_with(chip_size_m)
    w = ("(greatest(q0_e, q1_e, q2_e, q3_e) - "
         "least(q0_e, q1_e, q2_e, q3_e))")
    h = ("(greatest(q0_n, q1_n, q2_n, q3_n) - "
         "least(q0_n, q1_n, q2_n, q3_n))")
    return f"""
WITH {body}
SELECT tile_id,
       CAST(ceil({h} / {_L(mpp)}) AS INTEGER) AS height,
       CAST(ceil({w} / {_L(mpp)}) AS INTEGER) AS width
FROM {last} ORDER BY tile_id
"""


def mosaic_pattern_oracle_sql(
    chip_size_m: float,
    mpp: float,
    dataset: str = "patternlabels-2020",
    block: int = 1024,
    chip_block: int = 10,
    chip_hw: int = 100,
) -> str:
    """K6 oracle: the full mosaic chain in SQL — canvas UTM frame from the
    global chip bounds, per-tile ``ceil`` pixel placement, the transpose +
    y-flip + order-0 resize + nearest-neighbor rotation inverse maps, the
    pattern-def source pixel, and the non-zero-wins paste in tile_id order.
    Emits per-block pixel statistics (count / sum / position-weighted sum)
    matching the engine's ``geo_mosaic_blocks`` contract output."""
    import numpy as np

    from ..sources.datasets import ESA_CODES

    codes = "[" + ", ".join(str(c) for c in ESA_CODES) + "]"
    lam0 = np.deg2rad(ZONE * 6.0 - 183.0)
    body, kept_last = _grid_with(chip_size_m)
    seed = tm_sql._Chain(
        f"SELECT tile_id, minx, miny, maxx, maxy, "
        f"q0_e, q0_n, q1_e, q1_n, q2_e, q2_n, q3_e, q3_n FROM {kept_last}",
        "seeded",
    )
    tm_sql.add_hex_prefix_int(seed, f"'{dataset}/' || tile_id", 12, "seed")

    # canvas frame: project (min lon, min lat) and (max lon, max lat)
    env = tm_sql._Chain(
        f"SELECT min(minx) AS gw, min(miny) AS gs, max(maxx) AS ge, "
        f"max(maxy) AS gn FROM {kept_last}",
        "menv",
    )
    tm_sql.add_fwd(env, "gw", "gs", lam0, "mmin")
    tm_sql.add_fwd(env, "ge", "gn", lam0, "mmax")
    env.add(
        {
            "dim_x": f"CAST(round((mmax_e - mmin_e) / {_L(mpp)}) AS BIGINT)",
            "dim_y": f"CAST(round((mmax_n - mmin_n) / {_L(mpp)}) AS BIGINT)",
        }
    )

    # per-tile placement: corner order (w,n)=q1 (w,s)=q0 (e,s)=q3 (e,n)=q2
    place = f"""
place AS (
  SELECT s.tile_id, s.seed, m.dim_x, m.dim_y,
         CAST(ceil((s.q0_e - m.mmin_e) / {_L(mpp)}) AS BIGINT) AS cpx_q0,
         CAST(ceil((s.q0_n - m.mmin_n) / {_L(mpp)}) AS BIGINT) AS cpy_q0,
         CAST(ceil((s.q2_n - m.mmin_n) / {_L(mpp)}) AS BIGINT) AS cpy_q2,
         CAST(ceil((s.q3_e - m.mmin_e) / {_L(mpp)}) AS BIGINT) AS cpx_q3,
         CAST(ceil((s.q3_n - m.mmin_n) / {_L(mpp)}) AS BIGINT) AS cpy_q3
  FROM {seed.last()} s, {env.last()} m
),
geomtry AS (
  SELECT tile_id, seed, dim_x, dim_y,
         cpx_q0 AS x0_raw, cpx_q3 - cpx_q0 AS ph, cpy_q2 - cpy_q3 AS pw,
         cpy_q0 - cpy_q3 AS rot_y, cpy_q0 AS swy
  FROM place
),
patches AS (
  SELECT tile_id, seed, ph, pw, rot_y,
         x0_raw AS x0, swy - rot_y AS y0,
         atan2(CAST(rot_y AS DOUBLE), CAST(pw AS DOUBLE)) AS ang
  FROM geomtry
  WHERE ph > 0 AND pw > 0
    AND x0_raw >= 0 AND swy - rot_y >= 0
    AND x0_raw + ph <= dim_x AND swy - rot_y + pw <= dim_y
),
px AS (
  SELECT p.tile_id, p.seed, p.ph, p.pw, p.ang,
         p.x0 + gr.g AS x, p.y0 + gc.g AS y, gr.g AS r, gc.g AS c
  FROM patches p
  JOIN generate_series(0, 4095) gr(g) ON gr.g < p.ph
  JOIN generate_series(0, 4095) gc(g) ON gc.g < p.pw
),
srcpix AS (
  SELECT tile_id, seed, ph, pw, x, y,
         CASE WHEN abs(ang) < 1e-12 THEN r
              ELSE CAST(round(-sin(ang) * (c - (pw - 1) / 2.0e0)
                            + cos(ang) * (r - (ph - 1) / 2.0e0)
                            + (ph - 1) / 2.0e0) AS BIGINT) END AS pr,
         CASE WHEN abs(ang) < 1e-12 THEN c
              ELSE CAST(round(cos(ang) * (c - (pw - 1) / 2.0e0)
                            + sin(ang) * (r - (ph - 1) / 2.0e0)
                            + (pw - 1) / 2.0e0) AS BIGINT) END AS pc
  FROM px
),
vals AS (
  SELECT tile_id, x, y,
         ({codes})[
           (seed + least(pr * {chip_hw} // ph, {chip_hw - 1}) // {chip_block}
                 + 31 * (({chip_hw - 1} - least(pc * {chip_hw} // pw, {chip_hw - 1})) // {chip_block})
           ) % 12 + 1] AS v
  FROM srcpix
  WHERE pr >= 0 AND pr < ph AND pc >= 0 AND pc < pw
),
winners AS (
  SELECT x, y, v,
         row_number() OVER (PARTITION BY x, y ORDER BY tile_id DESC) AS rn
  FROM vals WHERE v <> 0
)
SELECT CAST(x // {block} AS INTEGER) AS bx, CAST(y // {block} AS INTEGER) AS by,
       {block} AS h, {block} AS w,
       count(*) AS n_nonzero, CAST(sum(v) AS BIGINT) AS pix_sum,
       CAST(sum(v * ((x % {block}) * {block} + (y % {block}))) AS BIGINT) AS pos_sum
FROM winners WHERE rn = 1
GROUP BY 1, 2 ORDER BY 1, 2"""
    return f"""
WITH {body},
{seed.render()},
{env.render()},
{place}
"""


def lsh_pairs_oracle_sql(
    threshold: float,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    n_tables: int = 4,
) -> str:
    """ANN near-dup oracle: the seeded hyperplane matrices of
    ``operators.similarity.lsh_cosine_pairs`` are emitted as SQL literals,
    the sign-bit bucketing + bucket equi-join + exact cosine refine re-run in
    DuckDB over the same ``embeddings`` view."""
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal((n_tables, dim, n_planes))
    table_blocks = []
    for t in range(n_tables):
        bits = " + ".join(
            "(CASE WHEN list_dot_product(v, ["
            + ", ".join(_L(float(x)) for x in planes[t, :, j])
            + f"]) > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(n_planes)
        )
        table_blocks.append(f"SELECT vec_id, {t} AS t, {bits} AS bucket FROM e")
    buckets_sql = "\n  UNION ALL ".join(table_blocks)
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nm
  FROM embeddings
),
bk AS (
  {buckets_sql}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
scored AS (
  SELECT c.id_a, c.id_b,
         round(list_dot_product(ea.v, eb.v) / (ea.nm * eb.nm), 6) AS cos_sim
  FROM cand c
  JOIN e ea ON ea.vec_id = c.id_a
  JOIN e eb ON eb.vec_id = c.id_b
)
SELECT id_a, id_b, cos_sim FROM scored
WHERE cos_sim >= {_L(threshold)}
ORDER BY id_a, id_b
"""


def chip_stats_pattern_oracle_sql(
    chip_size_m: float,
    dataset: str = "patternimage-2020",
    height: int = 100,
    width: int = 100,
    bands: int = 3,
) -> str:
    """image_stats over :class:`~..sources.datasets.PatternImageDef`:
    mean/std/min/max/nonzero fraction of (seed + 3*px + 7*py + 11*b) % 256."""
    body, kept_last = _grid_with(chip_size_m)
    seed = tm_sql._Chain(f"SELECT tile_id FROM {kept_last}", "seeded")
    tm_sql.add_hex_prefix_int(seed, f"'{dataset}/' || tile_id", 12, "seed")
    return f"""
WITH {body},
{seed.render()},
px AS (
  SELECT tile_id,
         CAST((seed + 3 * x.g + 7 * y.g + 11 * b.g) % 256 AS DOUBLE) AS v
  FROM {seed.last()},
       generate_series(0, {width - 1}) x(g),
       generate_series(0, {height - 1}) y(g),
       generate_series(0, {bands - 1}) b(g)
)
SELECT tile_id, '{dataset}' AS dataset,
       round(avg(v), 6) AS mean,
       round(stddev_pop(v), 6) AS std,
       min(v) AS min, max(v) AS max,
       round(avg(CASE WHEN v <> 0 THEN 1.0e0 ELSE 0.0e0 END), 6) AS nonzero_frac
FROM px GROUP BY tile_id ORDER BY tile_id
"""


def audio_stats_pattern_oracle_sql(
    chip_size_m: float,
    dataset: str = "patternpcm-2020",
    n_samples: int = 1600,
    sample_rate: int = 16000,
) -> str:
    """Audio-modality oracle: the closed-form PCM waveform
    (``((seed + 7919*i) % 65536) - 32768``, seed =
    ``int(sha256('{dataset}/'||tile_id)[:12], 16)``) re-generated per sample
    in SQL, with the SAME exact-integer reductions the engine applies to the
    decoded int16 bytes — sum of squares (BIGINT-exact), peak, and the
    sign-change count via lead() — so the value hash checks the byte decode
    end to end."""
    body, last = _grid_with(chip_size_m)
    seed = tm_sql._Chain(f"SELECT tile_id FROM {last}", "aseed")
    tm_sql.add_hex_prefix_int(seed, f"'{dataset}/' || tile_id", 12, "seed")
    return f"""
WITH {body},
{seed.render()},
samples AS (
  SELECT tile_id, g.i AS i,
         ((seed + 7919 * g.i) % 65536) - 32768 AS v
  FROM {seed.last()}, generate_series(0, {n_samples - 1}) g(i)
),
flags AS (
  SELECT tile_id, i, v,
         lead(v) OVER (PARTITION BY tile_id ORDER BY i) AS nv
  FROM samples
)
SELECT tile_id,
       {n_samples} AS n_samples,
       round({n_samples} / CAST({sample_rate} AS DOUBLE), 6) AS duration_sec,
       round(sqrt(CAST(sum(v * v) AS DOUBLE) / {n_samples}), 6) AS rms,
       CAST(max(abs(v)) AS INTEGER) AS peak,
       CAST(sum(CASE WHEN nv IS NOT NULL AND (v >= 0) <> (nv >= 0)
                THEN 1 ELSE 0 END) AS INTEGER) AS zero_crossings
FROM flags
GROUP BY tile_id
ORDER BY tile_id
"""


def semantic_dedup_oracle_sql(
    threshold: float, k: int = 8, dim: int = 64, seed: int = 7
) -> str:
    """SemDeDup oracle: the SAME deterministic centroid matrix the Spark
    query uses (``similarity.semantic_probe_centroids`` — seeded, data-
    independent) embedded as DOUBLE literals, assignment re-derived as
    argmax dot (row_number over dot DESC, j ASC), then the keep-first rule:
    a vector is dropped iff a lower-id member of ITS cluster reaches
    ``round(cos, 6) >= threshold``.  Output (vec_id, cluster, keep)."""
    from ..operators.similarity import semantic_probe_centroids

    C = semantic_probe_centroids(k, dim, seed)
    vals = ",\n  ".join(
        f"({j}, [{', '.join(_L(x) for x in C[j])}])" for j in range(len(C))
    )
    t = _L(threshold)
    return f"""
WITH cent(j, c) AS (VALUES
  {vals}
),
v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nm
  FROM embeddings
),
asg AS (
  SELECT vec_id, j AS cluster FROM (
    SELECT v.vec_id, cent.j,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.e, cent.c) DESC, cent.j ASC
           ) AS rn
    FROM v, cent
  ) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id AS vec_id
  FROM v a
  JOIN asg aa ON a.vec_id = aa.vec_id
  JOIN asg bb ON aa.cluster = bb.cluster
  JOIN v b ON b.vec_id = bb.vec_id
  WHERE a.vec_id < b.vec_id
    AND round(list_dot_product(a.e, b.e) / (a.nm * b.nm), 6) >= {t}
)
SELECT v.vec_id,
       CAST(asg.cluster AS INTEGER) AS cluster,
       (d.vec_id IS NULL) AS keep
FROM v
JOIN asg ON v.vec_id = asg.vec_id
LEFT JOIN dropped d ON v.vec_id = d.vec_id
ORDER BY v.vec_id
"""


def audio_autocorr_oracle_sql(
    chip_size_m: float,
    dataset: str = "patternpcm-2020",
    n_samples: int = 1600,
    lags: tuple[int, ...] = (1, 2, 4, 8),
) -> str:
    """Audio autocorrelation oracle: both v(i) and v(i+L) come from the
    closed-form waveform, so the lag product needs NO self-join — one
    generate_series per (tile, lag), exact BIGINT sums."""
    body, last = _grid_with(chip_size_m)
    seed = tm_sql._Chain(f"SELECT tile_id FROM {last}", "acseed")
    tm_sql.add_hex_prefix_int(seed, f"'{dataset}/' || tile_id", 12, "seed")
    lag_vals = ", ".join(f"({lg})" for lg in lags)

    def v(i: str) -> str:
        return f"(((seed + 7919 * ({i})) % 65536) - 32768)"

    return f"""
WITH {body},
{seed.render()},
lags(lag) AS (VALUES {lag_vals}),
prods AS (
  SELECT tile_id, lags.lag AS lag,
         {v('g.i')} * {v('g.i + lags.lag')} AS p
  FROM {seed.last()}, lags, generate_series(0, {n_samples - 1}) g(i)
  WHERE g.i + lags.lag <= {n_samples - 1}
)
SELECT tile_id, CAST(lag AS INTEGER) AS lag, CAST(sum(p) AS BIGINT) AS acorr
FROM prods
GROUP BY tile_id, lag
ORDER BY tile_id, lag
"""


def png_stats_pattern_oracle_sql(
    chip_size_m: float,
    dataset: str = "patternpng-2020",
    height: int = 24,
    width: int = 24,
    bands: int = 3,
) -> str:
    """Compressed-image-modality oracle: the closed-form pixel block
    ``(seed + 7919*(y*w+x) + 104729*band) % 256`` (seed =
    ``int(sha256('{dataset}/'||tile_id)[:12], 16)``) re-generated per pixel
    in SQL with the SAME exact-integer per-band reductions the engine
    applies AFTER round-tripping those pixels through a real PNG stream
    (``sources.png``: filtered scanlines, zlib, CRC chunks — filter type =
    ``seed % 5`` so all five unfilter branches are inside the hash).  The
    oracle never touches PNG bytes: it states what the decoded pixels must
    be, so any encode/inflate/unfilter defect breaks the value hash."""
    body, last = _grid_with(chip_size_m)
    seed = tm_sql._Chain(f"SELECT tile_id FROM {last}", "pngseed")
    tm_sql.add_hex_prefix_int(seed, f"'{dataset}/' || tile_id", 12, "seed")
    n = height * width
    return f"""
WITH {body},
{seed.render()},
px AS (
  SELECT tile_id, b.b AS band,
         (seed + 7919 * g.i + 104729 * b.b) % 256 AS v
  FROM {seed.last()},
       generate_series(0, {n - 1}) g(i),
       generate_series(0, {bands - 1}) b(b)
)
SELECT tile_id,
       '{dataset}' AS dataset,
       CAST(band AS INTEGER) AS band,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(min(v) AS BIGINT) AS min_val,
       CAST(max(v) AS BIGINT) AS max_val,
       CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
FROM px
GROUP BY tile_id, band
ORDER BY tile_id, band
"""


def video_frame_stats_oracle_sql(
    chip_size_m: float,
    dataset: str = "patternmjpeg-2020",
    n_frames: int = 6,
    height: int = 32,
    width: int = 32,
    quality: int = 50,
    every_n: int = 2,
) -> str:
    """Compressed-video-modality oracle: clips are MJPEG-in-AVI whose
    frames are all CONSTANT 8x8 blocks (``sources.avi.pattern_frame``), so
    decode(encode(v)) is the data-independent 256-entry map
    ``sources.avi.dc_value_map(quality)`` — embedded here as literals (the
    semantic_dedup deterministic-literal trick).  The SQL re-derives every
    block value ``(seed + 7919*(f*nblocks + b)) % 256`` for the SAMPLED
    frames, maps it through the literals, and applies the engine's exact
    per-band integer reductions.  The engine side round-trips real AVI
    bytes (RIFF walk -> standalone JPEG chunk -> entropy decode -> dequant
    -> IDCT -> JFIF rounding), so container walk + JPEG decode + frame
    sampling arithmetic are all inside the value hash."""
    from ..sources.avi import dc_value_map

    body, last = _grid_with(chip_size_m)
    seed = tm_sql._Chain(f"SELECT tile_id FROM {last}", "vidseed")
    tm_sql.add_hex_prefix_int(seed, f"'{dataset}/' || tile_id", 12, "seed")
    nb = (height // 8) * (width // 8)
    px_per_block = 64
    dcmap = dc_value_map(quality)
    map_rows = ", ".join(f"({v}, {d})" for v, d in enumerate(dcmap))
    return f"""
WITH {body},
{seed.render()},
dcmap(v, d) AS (VALUES {map_rows}),
blk AS (
  SELECT tile_id || ':f' || CAST(fr.f AS VARCHAR) AS tile_id,
         (seed + 7919 * (fr.f * {nb} + b.b)) % 256 AS v
  FROM {seed.last()},
       (VALUES {", ".join(f"({f})" for f in range(0, n_frames, every_n))}) fr(f),
       generate_series(0, {nb - 1}) b(b)
)
SELECT blk.tile_id,
       '{dataset}' AS dataset,
       CAST(0 AS INTEGER) AS band,
       CAST({px_per_block} * sum(dcmap.d) AS BIGINT) AS sum_val,
       CAST(min(dcmap.d) AS BIGINT) AS min_val,
       CAST(max(dcmap.d) AS BIGINT) AS max_val,
       CAST({px_per_block} * sum(CASE WHEN dcmap.d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
FROM blk JOIN dcmap ON dcmap.v = blk.v
GROUP BY blk.tile_id
ORDER BY blk.tile_id
"""


def bilinear_png_stats_oracle_sql(
    chip_size_m: float,
    dataset: str = "patternpng-2020",
    height: int = 24,
    width: int = 24,
    bands: int = 3,
    out_h: int = 10,
    out_w: int = 10,
) -> str:
    """Bilinear-resize oracle: the engine resizes in EXACT integer
    arithmetic (``multimodal.bilinear_resize_uint8`` — numerators over the
    2*out dims denominator, round-half-up), so this SQL replays the
    identical integer ops over the closed-form PNG pattern pixels and
    re-derives every resized byte, then the per-band stats.  Checks
    PNG decode + half-pixel-center/edge-clamp coordinate math + the
    4-tap blend end to end."""
    body, last = _grid_with(chip_size_m)
    seed = tm_sql._Chain(f"SELECT tile_id FROM {last}", "blseed")
    tm_sql.add_hex_prefix_int(seed, f"'{dataset}/' || tile_id", 12, "seed")
    deny, denx = 2 * out_h, 2 * out_w
    D = deny * denx

    def v(y: str, x: str) -> str:
        return (
            f"((seed + 7919 * (({y}) * {width} + ({x})) + 104729 * b.b) % 256)"
        )

    blend = (
        f"((({deny} - yc.fy) * (({denx} - xc.fx) * {v('yc.y0', 'xc.x0')}"
        f" + xc.fx * {v('yc.y0', 'xc.x1')})"
        f" + yc.fy * (({denx} - xc.fx) * {v('yc.y1', 'xc.x0')}"
        f" + xc.fx * {v('yc.y1', 'xc.x1')})) + {D // 2}) // {D}"
    )
    return f"""
WITH {body},
{seed.render()},
yc0 AS (
  SELECT oy,
    CASE WHEN ty >= {(height - 1) * deny} THEN {height - 1}
         ELSE ty // {deny} END AS y0,
    CASE WHEN ty >= {(height - 1) * deny} THEN 0 ELSE ty % {deny} END AS fy
  FROM (SELECT g.oy AS oy, GREATEST((2 * g.oy + 1) * {height} - {out_h}, 0) AS ty
        FROM generate_series(0, {out_h - 1}) g(oy))
),
yc AS (SELECT oy, y0, LEAST(y0 + 1, {height - 1}) AS y1, fy FROM yc0),
xc0 AS (
  SELECT ox,
    CASE WHEN tx >= {(width - 1) * denx} THEN {width - 1}
         ELSE tx // {denx} END AS x0,
    CASE WHEN tx >= {(width - 1) * denx} THEN 0 ELSE tx % {denx} END AS fx
  FROM (SELECT g.ox AS ox, GREATEST((2 * g.ox + 1) * {width} - {out_w}, 0) AS tx
        FROM generate_series(0, {out_w - 1}) g(ox))
),
xc AS (SELECT ox, x0, LEAST(x0 + 1, {width - 1}) AS x1, fx FROM xc0),
px AS (
  SELECT s.tile_id, b.b AS band, {blend} AS v
  FROM {seed.last()} s, yc, xc, generate_series(0, {bands - 1}) b(b)
)
SELECT tile_id,
       '{dataset}' AS dataset,
       CAST(band AS INTEGER) AS band,
       CAST(sum(v) AS BIGINT) AS sum_val,
       CAST(min(v) AS BIGINT) AS min_val,
       CAST(max(v) AS BIGINT) AS max_val,
       CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
FROM px
GROUP BY tile_id, band
ORDER BY tile_id, band
"""


def s2_cloud_median_oracle_sql(
    chip_size_m: float,
    dataset: str = "s2cloudmedian-2020",
    height: int = 100,
    width: int = 100,
    bands: int = 3,
    n_images: int = 5,
) -> str:
    """F16 oracle: the S2 cloud-mask/median/visualize semantics
    (``defs/sentinel2rgbmedian2020.py:17-38``) re-derived in SQL over the
    closed-form stack of :class:`~..sources.datasets.S2CloudMedianDef` —
    clear observations filtered by the same cloud/cirrus congruences,
    per-pixel ``median`` (DuckDB interpolates even counts exactly like
    ``np.nanmedian``), ``floor(m / 10000 / 0.3 * 255)`` clamped to 255,
    fully-masked pixels 0 via the LEFT JOIN, then per-band exact-integer
    reductions (sum / min / max / zero count)."""
    body, kept_last = _grid_with(chip_size_m)
    seed = tm_sql._Chain(f"SELECT tile_id FROM {kept_last}", "s2seed")
    tm_sql.add_hex_prefix_int(seed, f"'{dataset}/' || tile_id", 12, "seed")
    return f"""
WITH {body},
{seed.render()},
clear AS (
  SELECT tile_id, b.g AS band, x.g AS px, y.g AS py,
         (seed + 3 * x.g + 7 * y.g + 11 * b.g + 97 * i.g) % 4001 AS raw
  FROM {seed.last()},
       generate_series(0, {width - 1}) x(g),
       generate_series(0, {height - 1}) y(g),
       generate_series(0, {bands - 1}) b(g),
       generate_series(0, {n_images - 1}) i(g)
  WHERE (seed + 13 * x.g + 29 * y.g + 53 * i.g) % 7 <> 0
    AND (seed + 17 * x.g + 31 * y.g + 59 * i.g) % 11 <> 0
),
med AS (
  SELECT tile_id, band, px, py, median(CAST(raw AS DOUBLE)) AS m
  FROM clear GROUP BY tile_id, band, px, py
),
allpx AS (
  SELECT tile_id, b.g AS band, x.g AS px, y.g AS py
  FROM {seed.last()},
       generate_series(0, {width - 1}) x(g),
       generate_series(0, {height - 1}) y(g),
       generate_series(0, {bands - 1}) b(g)
),
bytes AS (
  SELECT a.tile_id, a.band,
         coalesce(
           least(255, CAST(floor(m.m / 10000.0e0 / 0.3e0 * 255.0e0) AS BIGINT)),
           0) AS byte
  FROM allpx a
  LEFT JOIN med m
    ON m.tile_id = a.tile_id AND m.band = a.band
   AND m.px = a.px AND m.py = a.py
)
SELECT tile_id, '{dataset}' AS dataset, CAST(band AS INTEGER) AS band,
       CAST(sum(byte) AS BIGINT) AS sum_val,
       CAST(min(byte) AS BIGINT) AS min_val,
       CAST(max(byte) AS BIGINT) AS max_val,
       CAST(sum(CASE WHEN byte = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
FROM bytes
GROUP BY tile_id, band
ORDER BY tile_id, band
"""


def _hexint_expr(strexpr: str, nchars: int) -> str:
    """Inline SQL expression: int(sha256(strexpr)[:nchars], 16) as BIGINT —
    the non-chain twin of ``tm_sql.add_hex_prefix_int`` for use inside a
    recursive CTE."""
    if nchars > 15:
        raise ValueError("nchars > 15 overflows BIGINT")
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(sha256({strexpr}), {i + 1}, 1)) - 1)"
        f" * {16 ** (nchars - 1 - i)}"
        for i in range(nchars)
    )
    return f"CAST({terms} AS BIGINT)"


def random_partitions_hashed_oracle_sql(
    max_rectangle_size: float,
    random_variance: float = 0.1,
    salt: str = "katana",
    zone: int = ZONE,
) -> str:
    """G3 (hash-randomized variant): the full stateful recursion in SQL — a
    recursive CTE splits the AOI's UTM envelope exactly like
    ``random_parts.katana_hashed_boxes`` (factor from sha256 of the node's
    tree path, depth-first leaf order = lexicographic path order), leaves
    inverse-project (Krüger) to lonlat bounds and take the sha256 region
    hash.  The seeded-numpy katana cannot be oracled (PCG64 state); this
    twin proves the recursion itself is engine-independent."""
    import numpy as np

    from . import tm_sql

    lam0 = np.deg2rad(zone * 6.0 - 183.0)
    aoi_w, aoi_s, aoi_e, aoi_n = AOI

    # forward-project the 4 AOI ring corners, take the UTM envelope
    env = tm_sql._Chain("SELECT 1 AS one", "kenv")
    for i, (lon, lat) in enumerate(
        [(aoi_w, aoi_s), (aoi_e, aoi_s), (aoi_e, aoi_n), (aoi_w, aoi_n)]
    ):
        tm_sql.add_fwd(env, _L(lon), _L(lat), lam0, f"k{i}")
    env.add(
        {
            "rx0": "least(k0_e, k1_e, k2_e, k3_e)",
            "ry0": "least(k0_n, k1_n, k2_n, k3_n)",
            "rx1": "greatest(k0_e, k1_e, k2_e, k3_e)",
            "ry1": "greatest(k0_n, k1_n, k2_n, k3_n)",
        }
    )

    thr = _L(max_rectangle_size)
    v = _L(random_variance)
    factor = f"(2.0e0 * (1.0e0 + (CAST({_hexint_expr('PATHHASH', 12)} AS DOUBLE) / 281474976710656e0 - 0.5e0) * {v} * 2.0e0))"
    factor = factor.replace("PATHHASH", f"'{salt}/' || path")

    # leaves chain: inverse-project the 4 UTM box corners, lonlat bounds,
    # region hash
    leaves = tm_sql._Chain(
        f"SELECT path, x0, y0, x1, y1 FROM split "
        f"WHERE greatest(x1 - x0, y1 - y0) <= {thr} OR depth = 250",
        "kleaf",
    )
    for i, (ex, ny) in enumerate(
        [("x0", "y0"), ("x0", "y1"), ("x1", "y1"), ("x1", "y0")]
    ):
        tm_sql.add_inv(leaves, ex, ny, lam0, f"g{i}")
    leaves.add(
        {
            "minx": "least(g0_lon, g1_lon, g2_lon, g3_lon)",
            "miny": "least(g0_lat, g1_lat, g2_lat, g3_lat)",
            "maxx": "greatest(g0_lon, g1_lon, g2_lon, g3_lon)",
            "maxy": "greatest(g0_lat, g1_lat, g2_lat, g3_lat)",
            "area_km2": "(x1 - x0) * (y1 - y0) / 1000000.0e0",
        }
    )
    tm_sql.add_region_hash(leaves, "minx", "miny", "maxx", "maxy", "tile_id")

    return f"""
WITH RECURSIVE
{env.render()},
split AS (
  SELECT '' AS path, rx0 AS x0, ry0 AS y0, rx1 AS x1, ry1 AS y1, 0 AS depth
  FROM {env.last()}
  UNION ALL
  SELECT p.path || c.c,
         CASE WHEN p.h >= p.w THEN p.x0
              WHEN c.c = 'a' THEN p.x0 ELSE p.xa END,
         CASE WHEN p.h < p.w THEN p.y0
              WHEN c.c = 'a' THEN p.y0 ELSE p.ya END,
         CASE WHEN p.h >= p.w THEN p.x1
              WHEN c.c = 'a' THEN p.xa ELSE p.x1 END,
         CASE WHEN p.h < p.w THEN p.y1
              WHEN c.c = 'a' THEN p.ya ELSE p.y1 END,
         p.depth + 1
  FROM (
    SELECT path, x0, y0, x1, y1, depth,
           x1 - x0 AS w, y1 - y0 AS h,
           x0 + (x1 - x0) / {factor} AS xa,
           y0 + (y1 - y0) / {factor} AS ya
    FROM split
    WHERE greatest(x1 - x0, y1 - y0) > {thr} AND depth < 250
  ) p, (VALUES ('a'), ('b')) c(c)
),
{leaves.render()}
SELECT CAST(row_number() OVER (ORDER BY path) - 1 AS BIGINT) AS row_idx,
       tile_id,
       round(minx, 9) AS minx, round(miny, 9) AS miny,
       round(maxx, 9) AS maxx, round(maxy, 9) AS maxy,
       round(area_km2, 9) AS area_km2
FROM {leaves.last()}
ORDER BY row_idx
"""


def multimodal_dedup_oracle_sql(
    chip_size_m: float,
    dataset: str = "patternimage-2020",
    height: int = 100,
    width: int = 100,
    bands: int = 3,
    copy_mod: int = 3,
) -> str:
    """Multimodal doc-level dedup oracle: re-derives the interleaved span
    sequences (doc_spans chain), the chip CONTENT hashes from the pattern
    pixel formula (md5 over comma-joined decimal pixel values in (band, y,
    x) order — the canonical form shared with ``multimodal.
    chip_content_hash``), injects the deterministic 'copy-' re-crawl docs
    (doc-seed % copy_mod == 0), and replays the fingerprint + min-id
    election.  A single mis-decoded pixel byte, span reorder, or wrong
    join breaks the fp column's value hash."""
    spans = doc_spans_oracle_sql(chip_size_m, dataset)
    # chip pixel seed = sha256('{dataset}/{tile_id}')[:12] = sha256 of the
    # media_ref string itself — derive it from the spans (no second grid
    # chain; duplicate CTE names across nesting levels are a DuckDB binder
    # error)
    cseed = tm_sql._Chain(
        "SELECT DISTINCT media_ref FROM allspans WHERE kind = 'media'",
        "cseeded",
    )
    tm_sql.add_hex_prefix_int(cseed, "media_ref", 12, "cseed")
    dseed = tm_sql._Chain("SELECT DISTINCT doc_id FROM allspans", "docseed")
    tm_sql.add_hex_prefix_int(dseed, "doc_id", 12, "dseed")
    return f"""
WITH allspans AS ({spans}),
{dseed.render()},
copies AS (
  SELECT 'copy-' || a.doc_id AS doc_id, a.span_pos, a.kind, a.text,
         a.media_ref, a."offset"
  FROM allspans a JOIN {dseed.last()} s ON s.doc_id = a.doc_id
  WHERE s.dseed % {copy_mod} = 0
),
uni AS (
  SELECT doc_id, span_pos, kind, text, media_ref FROM allspans
  UNION ALL
  SELECT doc_id, span_pos, kind, text, media_ref FROM copies
),
{cseed.render()},
px AS (
  SELECT media_ref, b.g AS b, y.g AS y, x.g AS x,
         CAST((cseed + 3 * x.g + 7 * y.g + 11 * b.g) % 256 AS BIGINT) AS v
  FROM {cseed.last()},
       generate_series(0, {width - 1}) x(g),
       generate_series(0, {height - 1}) y(g),
       generate_series(0, {bands - 1}) b(g)
),
chash AS (
  SELECT media_ref,
         md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY b, y, x)) AS chash
  FROM px GROUP BY media_ref
),
elems AS (
  SELECT u.doc_id, u.span_pos,
         u.kind || chr(2) || u.text || chr(2) || coalesce(c.chash, '')
           AS elem,
         CASE WHEN u.kind = 'media' THEN 1 ELSE 0 END AS is_media
  FROM uni u LEFT JOIN chash c ON u.media_ref = c.media_ref
),
perdoc AS (
  SELECT doc_id,
         sha256(string_agg(elem, chr(1) ORDER BY span_pos)) AS fp,
         CAST(sum(is_media) AS INTEGER) AS n_media
  FROM elems GROUP BY doc_id
)
SELECT doc_id, n_media, fp,
       min(doc_id) OVER (PARTITION BY fp) AS canonical_doc_id,
       CAST(CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY fp)
                 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM perdoc ORDER BY doc_id
"""


def image_dhash_oracle_sql(
    chip_size_m: float,
    dataset: str = "patternimage-2020",
    height: int = 100,
    width: int = 100,
    pairs: bool = False,
    max_dist: int = 4,
) -> str:
    """dHash oracle: grayscale (exact floor-mean over the 3 pattern bands,
    with the contract's +1-on-pixel-(0,0,0) perturbed 'near-' copies),
    integer bilinear resize to 8x9 (the bilinear_png_stats coordinate /
    blend math), difference bits, the 64-char bitstring and the two 32-bit
    halves.  ``pairs=True`` emits the brute-force Hamming pairs instead
    (bit_count over xor of the halves) — the oracle for the pigeonhole
    join."""
    body, last = _grid_with(chip_size_m)
    seed = tm_sql._Chain(f"SELECT tile_id FROM {last}", "dhseed")
    tm_sql.add_hex_prefix_int(seed, f"'{dataset}/' || tile_id", 12, "seed")
    out_h, out_w = 8, 9
    deny, denx = 2 * out_h, 2 * out_w
    D = deny * denx

    def v(y: str, x: str, b: int) -> str:
        return f"((seed + 3 * ({x}) + 7 * ({y}) + 11 * {b}) % 256)"

    def gray(y: str, x: str) -> str:
        v0 = (
            f"(({v(y, x, 0)} + bump * (CASE WHEN ({y}) = 0 AND ({x}) = 0"
            " THEN 1 ELSE 0 END)) % 256)"
        )
        return f"(({v0} + {v(y, x, 1)} + {v(y, x, 2)}) // 3)"

    blend = (
        f"((({deny} - yc.fy) * (({denx} - xc.fx) * {gray('yc.y0', 'xc.x0')}"
        f" + xc.fx * {gray('yc.y0', 'xc.x1')})"
        f" + yc.fy * (({denx} - xc.fx) * {gray('yc.y1', 'xc.x0')}"
        f" + xc.fx * {gray('yc.y1', 'xc.x1')})) + {D // 2}) // {D}"
    )
    head = f"""
WITH {body},
{seed.render()},
tiles2 AS (
  SELECT tile_id, seed, 0 AS bump FROM {seed.last()}
  UNION ALL
  SELECT 'near-' || tile_id, seed, 1 FROM {seed.last()}
),
yc0 AS (
  SELECT oy,
    CASE WHEN ty >= {(height - 1) * deny} THEN {height - 1}
         ELSE ty // {deny} END AS y0,
    CASE WHEN ty >= {(height - 1) * deny} THEN 0 ELSE ty % {deny} END AS fy
  FROM (SELECT g.oy AS oy, GREATEST((2 * g.oy + 1) * {height} - {out_h}, 0) AS ty
        FROM generate_series(0, {out_h - 1}) g(oy))
),
yc AS (SELECT oy, y0, LEAST(y0 + 1, {height - 1}) AS y1, fy FROM yc0),
xc0 AS (
  SELECT ox,
    CASE WHEN tx >= {(width - 1) * denx} THEN {width - 1}
         ELSE tx // {denx} END AS x0,
    CASE WHEN tx >= {(width - 1) * denx} THEN 0 ELSE tx % {denx} END AS fx
  FROM (SELECT g.ox AS ox, GREATEST((2 * g.ox + 1) * {width} - {out_w}, 0) AS tx
        FROM generate_series(0, {out_w - 1}) g(ox))
),
xc AS (SELECT ox, x0, LEAST(x0 + 1, {width - 1}) AS x1, fx FROM xc0),
rz AS (
  SELECT t.tile_id, yc.oy, xc.ox, {blend} AS g
  FROM tiles2 t, yc, xc
),
bits AS (
  SELECT a.tile_id, a.oy, a.ox, CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
  FROM rz a JOIN rz b
    ON b.tile_id = a.tile_id AND b.oy = a.oy AND b.ox = a.ox + 1
  WHERE a.ox < {out_w - 1}
),
hashes AS (
  SELECT tile_id,
         string_agg(CAST(bit AS VARCHAR), '' ORDER BY oy, ox) AS dhash,
         CAST(sum(CASE WHEN oy * 8 + ox < 32
                       THEN bit * power(2, 31 - (oy * 8 + ox))
                       ELSE 0 END) AS BIGINT) AS h_hi,
         CAST(sum(CASE WHEN oy * 8 + ox >= 32
                       THEN bit * power(2, 63 - (oy * 8 + ox))
                       ELSE 0 END) AS BIGINT) AS h_lo
  FROM bits GROUP BY tile_id
)"""
    if not pairs:
        return head + """
SELECT tile_id, dhash, h_hi, h_lo FROM hashes ORDER BY tile_id
"""
    return head + f"""
SELECT a.tile_id AS id_a, b.tile_id AS id_b,
       CAST(bit_count(xor(a.h_hi, b.h_hi))
            + bit_count(xor(a.h_lo, b.h_lo)) AS INTEGER) AS dist
FROM hashes a JOIN hashes b ON a.tile_id < b.tile_id
WHERE bit_count(xor(a.h_hi, b.h_hi)) + bit_count(xor(a.h_lo, b.h_lo))
      <= {max_dist}
ORDER BY id_a, id_b
"""


def audio_fingerprint_oracle_sql(
    chip_size_m: float,
    dataset: str = "patternpcm-2020",
    n_samples: int = 1600,
    n_windows: int = 65,
    pairs: bool = False,
    max_dist: int = 4,
) -> str:
    """Audio-fingerprint oracle: the closed-form PCM waveform, |x| summed
    into the SAME ragged integer windows (sample i -> (i*W)//n), contour
    bits via lead(), the 64-char bitstring + 32-bit halves; ``pairs=True``
    emits the brute Hamming pairs.  Includes the contract's 'near-' copies
    (sample 0 bumped by +1 with int16 wrap)."""
    body, last = _grid_with(chip_size_m)
    seed = tm_sql._Chain(f"SELECT tile_id FROM {last}", "afseed")
    tm_sql.add_hex_prefix_int(seed, f"'{dataset}/' || tile_id", 12, "seed")
    head = f"""
WITH {body},
{seed.render()},
tiles2 AS (
  SELECT tile_id, seed, 0 AS bump FROM {seed.last()}
  UNION ALL
  SELECT 'near-' || tile_id, seed, 1 FROM {seed.last()}
),
samples AS (
  SELECT t.tile_id, g.i,
         CASE WHEN g.i = 0 AND t.bump = 1
              THEN (((t.seed % 65536) + 1) % 65536) - 32768
              ELSE ((t.seed + 7919 * g.i) % 65536) - 32768 END AS x
  FROM tiles2 t, generate_series(0, {n_samples - 1}) g(i)
),
env AS (
  SELECT tile_id, (i * {n_windows}) // {n_samples} AS k,
         sum(abs(x)) AS e
  FROM samples GROUP BY tile_id, (i * {n_windows}) // {n_samples}
),
bits AS (
  SELECT tile_id, k,
         CASE WHEN lead(e) OVER (PARTITION BY tile_id ORDER BY k) > e
              THEN 1 ELSE 0 END AS bit
  FROM env QUALIFY k < {n_windows - 1}
),
hashes AS (
  SELECT tile_id,
         string_agg(CAST(bit AS VARCHAR), '' ORDER BY k) AS dhash,
         CAST(sum(CASE WHEN k < 32
                       THEN bit * power(2, 31 - k) ELSE 0 END) AS BIGINT)
           AS h_hi,
         CAST(sum(CASE WHEN k >= 32
                       THEN bit * power(2, 63 - k) ELSE 0 END) AS BIGINT)
           AS h_lo
  FROM bits GROUP BY tile_id
)"""
    if not pairs:
        return head + """
SELECT tile_id, dhash, h_hi, h_lo FROM hashes ORDER BY tile_id
"""
    return head + f"""
SELECT a.tile_id AS id_a, b.tile_id AS id_b,
       CAST(bit_count(xor(a.h_hi, b.h_hi))
            + bit_count(xor(a.h_lo, b.h_lo)) AS INTEGER) AS dist
FROM hashes a JOIN hashes b ON a.tile_id < b.tile_id
WHERE bit_count(xor(a.h_hi, b.h_hi)) + bit_count(xor(a.h_lo, b.h_lo))
      <= {max_dist}
ORDER BY id_a, id_b
"""
