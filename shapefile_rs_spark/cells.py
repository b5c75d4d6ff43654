"""Hierarchical spatial cell index (H3/S2-style, pure numpy).

The sandbox has no h3/s2 bindings, so the engine ships its own discrete
global grid: an equirectangular quadtree ("quadcell") with Morton-coded cell
ids — the same contract H3/S2 provide (point→cell at a resolution, parent/
children, k-ring neighborhoods, polygon covering) with radically simpler
math.  Resolution r splits the world into 2^r × 2^r cells (lon ∈ [-180,180],
lat ∈ [-90,90]); r ≤ 30 keeps ids in 60 bits + 5 resolution bits = 65… so we
cap r ≤ 29 to stay inside a signed 64-bit Spark LongType.

cell_id layout (LongType-safe): bits 58..62 = resolution (5 bits),
bits 0..57 = Morton(ix, iy).  All functions are vectorized over numpy arrays
and are the kernels inside pandas UDFs (no per-row Python, per input_hint).
"""

from __future__ import annotations

from typing import Sequence, Tuple

import numpy as np

MAX_RES = 29
_RES_SHIFT = 58


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 29 bits of v so there is a zero bit between each."""
    v = v.astype(np.uint64)
    v &= np.uint64(0x1FFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def lonlat_to_ixiy(lon: np.ndarray, lat: np.ndarray, res) -> Tuple[np.ndarray, np.ndarray]:
    """Grid coordinates at ``res`` (an int, or one res per point).

    Clamped before the integer cast, so any out-of-range coordinate,
    infinities included, lands in the edge cell :func:`cell_id_col` puts it
    in; NaN lands in cell 0."""
    n = np.int64(1) << np.asarray(res, dtype=np.int64)
    fx = (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0
    fy = (np.asarray(lat, dtype=np.float64) + 90.0) / 180.0
    ix = np.floor(np.fmin(np.fmax(fx * n, 0.0), n - 1)).astype(np.int64)
    iy = np.floor(np.fmin(np.fmax(fy * n, 0.0), n - 1)).astype(np.int64)
    return ix, iy


def encode_ixiy(ix: np.ndarray, iy: np.ndarray, res) -> np.ndarray:
    """Cell ids of grid coordinates at ``res`` (an int, or one per cell)."""
    morton = _part1by1(np.asarray(ix)) | (_part1by1(np.asarray(iy)) << np.uint64(1))
    cell = (np.asarray(res).astype(np.uint64) << np.uint64(_RES_SHIFT)) | morton
    return cell.astype(np.int64)


def cell_id(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Point → cell id at resolution ``res`` (vectorized)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be 0..{MAX_RES}")
    ix, iy = lonlat_to_ixiy(lon, lat, res)
    return encode_ixiy(ix, iy, res)


def decode_cell(cell: np.ndarray) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell → (res, ix, iy) arrays."""
    c = np.asarray(cell, dtype=np.uint64)
    res = (c >> np.uint64(_RES_SHIFT)).astype(np.int64)
    morton = c & ((np.uint64(1) << np.uint64(_RES_SHIFT)) - np.uint64(1))
    ix = _compact1by1(morton).astype(np.int64)
    iy = _compact1by1(morton >> np.uint64(1)).astype(np.int64)
    return res, ix, iy


def cell_bounds(cell: int) -> Tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of one cell."""
    res, ix, iy = decode_cell(np.array([cell]))
    n = float(1 << int(res[0]))
    w, h = 360.0 / n, 180.0 / n
    lon0 = -180.0 + ix[0] * w
    lat0 = -90.0 + iy[0] * h
    return float(lon0), float(lat0), float(lon0 + w), float(lat0 + h)


def k_ring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (the H3 k-ring analog).
    x wraps around the antimeridian; y clamps at the poles."""
    res, ix, iy = decode_cell(np.array([cell]))
    r = int(res[0])
    n = np.int64(1) << np.int64(r)
    dx = np.arange(-k, k + 1, dtype=np.int64)
    dy = np.arange(-k, k + 1, dtype=np.int64)
    gx, gy = np.meshgrid((ix[0] + dx) % n, iy[0] + dy)
    keep = (gy >= 0) & (gy < n)
    return np.unique(encode_ixiy(gx[keep], gy[keep], r))


def cover_bbox(
    xmin: float, ymin: float, xmax: float, ymax: float, res: int
) -> np.ndarray:
    """All cells at ``res`` whose bounds intersect the bbox (closed).

    ``xmin > xmax`` means the bbox straddles the antimeridian (the k_ring
    wrap convention): the x range wraps modulo the grid width."""
    ix0, iy0 = lonlat_to_ixiy(np.array([xmin]), np.array([ymin]), res)
    ix1, iy1 = lonlat_to_ixiy(np.array([xmax]), np.array([ymax]), res)
    n = np.int64(1) << np.int64(res)
    if xmin > xmax:  # antimeridian wrap: ix0..n-1 then 0..ix1
        span = (ix1[0] - ix0[0]) % n + 1
        if span == 1 and ix0[0] == ix1[0]:
            # both endpoints land in the SAME column yet the range wraps:
            # the excluded gap is sub-cell, so every column intersects
            span = n
        xs = (ix0[0] + np.arange(span, dtype=np.int64)) % n
    else:
        xs = np.arange(ix0[0], ix1[0] + 1, dtype=np.int64)
    ys = np.arange(iy0[0], iy1[0] + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return encode_ixiy(gx.ravel(), gy.ravel(), res)


def adaptive_cover_res(
    xmin, ymin, xmax, ymax, max_cells: int = 256, max_res: int = MAX_RES
):
    """Finest resolution whose bbox covering stays ≤ max_cells (polygon
    covering sets bounded so the build side of the cell join stays small).

    Vectorized: the bbox bounds may be equal-length arrays, one resolution
    per bbox comes back; scalars give an int.  Non-finite bounds raise."""
    b = [np.asarray(v, dtype=np.float64) for v in (xmin, ymin, xmax, ymax)]
    if not all(np.isfinite(v).all() for v in b):
        raise ValueError("adaptive_cover_res: non-finite bbox")
    x0, y0, x1, y1 = np.broadcast_arrays(*b)
    out = np.zeros(x0.shape, dtype=np.int64)
    todo = np.ones(x0.shape, dtype=bool)
    for res in range(max_res, -1, -1):
        n = float(1 << res)
        nx = np.trunc((x1 + 180.0) / 360.0 * n) - np.trunc((x0 + 180.0) / 360.0 * n) + 1
        ny = np.trunc((y1 + 90.0) / 180.0 * n) - np.trunc((y0 + 90.0) / 180.0 * n) + 1
        ok = todo & (nx * ny <= max_cells)
        out[ok] = res
        todo &= ~ok
        if not todo.any():
            break
    return int(out) if out.ndim == 0 else out


def classify_cover(
    rings, res: int, pad_frac: float = 1e-9, max_pairs: int = 1 << 16
) -> Tuple[np.ndarray, np.ndarray]:
    """TRUE polygon covering of ONE polygon at ``res``: its
    :func:`classify_cover_batch` row, as ``(cells, full)``."""
    _, cells, full = classify_cover_batch([rings], [res], pad_frac, max_pairs)
    return cells, full


def pair_blocks(counts: np.ndarray, max_pairs: int):
    """``(item, k)`` for every ``k < counts[item]``, items in order, in
    blocks of about ``max_pairs`` pairs (an item with more is split along
    ``k``), so the temporaries of a pairwise kernel stay a few MB whatever
    the input size.  The items of one block are ascending."""
    counts = np.asarray(counts, dtype=np.int64)
    nunit = -(-counts // max_pairs)
    u_item = np.repeat(np.arange(len(counts)), nunit)
    if not len(u_item):
        return
    u_k = max_pairs * (np.arange(len(u_item)) - np.repeat(np.cumsum(nunit) - nunit, nunit))
    u_n = np.minimum(max_pairs, counts[u_item] - u_k)
    u_off = np.cumsum(u_n) - u_n
    cuts = np.flatnonzero(np.diff(u_off // max_pairs)) + 1
    for b in np.split(np.arange(len(u_item)), cuts):
        cnt = u_n[b]
        yield (
            np.repeat(u_item[b], cnt),
            np.repeat(u_k[b] - (u_off[b] - u_off[b[0]]), cnt) + np.arange(int(cnt.sum())),
        )


def classify_cover_batch(
    polygons: Sequence, res, pad_frac: float = 1e-9, max_pairs: int = 1 << 16
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """TRUE polygon covering (X1 as SURVEYed) of many polygons at once:
    ``polygons[i]`` is a list of (k, 2) rings covered at ``res[i]``.
    Returns ``(poly, cells, full)`` — one row per kept covering cell,
    grouped by polygon index in input order, cells in row-major bbox order:

    * cells of the bbox range NOT touched by the polygon are DROPPED (bbox
      false positives stop scaling with polygon size);
    * ``full`` ⇔ the cell lies ENTIRELY in the polygon interior — a point
      landing there is contained with no ray-cast needed (the refine-UDF
      bypass), exact because the cell is connected and boundary-free, so
      containment is constant across it and the cell center's even-odd
      status decides it;
    * the rest are BOUNDARY cells — their candidates refine exactly.

    Rings with fewer than 2 points are ignored; a polygon left with none
    has zero area and no cells.  Two edge-local tests, all polygons in one
    pass:

    * boundary: a segment-vs-rect SAT (rect padded by ``pad_frac`` of the
      cell size so ties and grazings classify BOUNDARY, never FULL) of
      each edge against the cells of its own bbox widened by one cell —
      no cell outside can overlap it;
    * center even-odd: each edge against each cell row whose center line
      it may straddle (its y range widened by one row); the crossing's x
      is computed once per (edge, row), and the cells whose center lies
      left of it are a prefix of the row, found by binary search.

    Both compare the same operands as a test of every (edge, cell) pair of
    the bbox grid (the :func:`..geom.pip.crossings_matrix` rule for the
    crossings), so the result is bit-identical to it.  An edge with a NaN
    coordinate neither overlaps nor crosses anything and is skipped.
    Pairs are generated ``max_pairs`` at a time (:func:`pair_blocks`).

    Semantics preserved: composed with the even-odd refine this reproduces
    the reference contains() truth (examples/geotype-example/src/main.rs:
    15-36) — interior-only, holes via even-odd over the full ring set.
    """
    res = np.asarray(res, dtype=np.int64)
    kept = [
        (i, np.asarray(r, dtype=np.float64))
        for i, rings in enumerate(polygons)
        for r in rings
        if len(r) >= 2
    ]
    if not kept:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, bool)
    ring_poly = np.array([i for i, _ in kept], dtype=np.int64)
    lens = np.array([len(r) for _, r in kept], dtype=np.int64)
    xy = np.concatenate([r for _, r in kept])
    vert_poly = np.repeat(ring_poly, lens)

    # per polygon (those with rings left): bbox → its cell range at its res
    polys, vstart = np.unique(vert_poly, return_index=True)
    r = res[polys]
    ix0, iy0 = lonlat_to_ixiy(
        np.minimum.reduceat(xy[:, 0], vstart), np.minimum.reduceat(xy[:, 1], vstart), r
    )
    ix1, iy1 = lonlat_to_ixiy(
        np.maximum.reduceat(xy[:, 0], vstart), np.maximum.reduceat(xy[:, 1], vstart), r
    )
    nx = ix1 - ix0 + 1
    ncell = nx * (iy1 - iy0 + 1)
    cstart = np.cumsum(ncell) - ncell
    cell_p = np.repeat(np.arange(len(polys)), ncell)
    k = np.arange(int(ncell.sum()), dtype=np.int64) - cstart[cell_p]
    gx = ix0[cell_p] + k % nx[cell_p]
    gy = iy0[cell_p] + k // nx[cell_p]
    n = (np.int64(1) << r[cell_p]).astype(np.float64)
    w, h = 360.0 / n, 180.0 / n
    rx0 = -180.0 + gx * w
    ry0 = -90.0 + gy * h
    pad_x, pad_y = w * pad_frac, h * pad_frac
    px0, py0 = rx0 - pad_x, ry0 - pad_y
    px1, py1 = rx0 + w + pad_x, ry0 + h + pad_y
    cx, cy = rx0 + w / 2.0, ry0 + h / 2.0

    # edges: consecutive vertices of one ring, with their polygon
    last = np.zeros(len(xy), dtype=bool)
    last[np.cumsum(lens) - 1] = True
    e0 = np.flatnonzero(~last)
    e0 = e0[~np.isnan(xy[e0]).any(axis=1) & ~np.isnan(xy[e0 + 1]).any(axis=1)]
    x1, y1 = xy[e0, 0], xy[e0, 1]
    x2, y2 = xy[e0 + 1, 0], xy[e0 + 1, 1]
    dx, dy = x2 - x1, y2 - y1
    exlo, exhi = np.minimum(x1, x2), np.maximum(x1, x2)
    eylo, eyhi = np.minimum(y1, y2), np.maximum(y1, y2)
    ep = np.searchsorted(polys, vert_poly[e0])
    er = r[ep]
    # each edge's cell range, widened by one cell, inside its polygon's grid
    gx_lo, gy_lo = lonlat_to_ixiy(exlo, eylo, er)
    gx_hi, gy_hi = lonlat_to_ixiy(exhi, eyhi, er)
    gx_lo, gx_hi = np.maximum(gx_lo - 1, ix0[ep]), np.minimum(gx_hi + 1, ix1[ep])
    gy_lo, gy_hi = np.maximum(gy_lo - 1, iy0[ep]), np.minimum(gy_hi + 1, iy1[ep])
    enx = np.maximum(gx_hi - gx_lo + 1, 0)
    eny = np.maximum(gy_hi - gy_lo + 1, 0)

    def cell_at(e, cgx, cgy):
        p = ep[e]
        return cstart[p] + (cgy - iy0[p]) * nx[p] + (cgx - ix0[p])

    boundary = np.zeros(len(gx), dtype=bool)
    for e, j in pair_blocks(enx * eny, max_pairs):
        c = cell_at(e, gx_lo[e] + j % enx[e], gy_lo[e] + j // enx[e])
        # bbox overlap, then the 4 rect corners not all on one side
        hit = np.flatnonzero(
            (exhi[e] >= px0[c]) & (exlo[e] <= px1[c]) & (eyhi[e] >= py0[c]) & (eylo[e] <= py1[c])
        )
        he, hc = e[hit], c[hit]
        a1, b1, ddx, ddy = x1[he], y1[he], dx[he], dy[he]
        s00 = ddx * (py0[hc] - b1) - ddy * (px0[hc] - a1)
        s01 = ddx * (py1[hc] - b1) - ddy * (px0[hc] - a1)
        s10 = ddx * (py0[hc] - b1) - ddy * (px1[hc] - a1)
        s11 = ddx * (py1[hc] - b1) - ddy * (px1[hc] - a1)
        same = ((s00 > 0) & (s01 > 0) & (s10 > 0) & (s11 > 0)) | (
            (s00 < 0) & (s01 < 0) & (s10 < 0) & (s11 < 0)
        )
        boundary[hc[~same]] = True

    # center even-odd: per (edge, row) the row's first cell and the count
    # of cells left of the crossing, as +1/-1 marks summed along the rows
    marks = np.zeros(len(gx) + 1, dtype=np.int64)
    for e, j in pair_blocks(eny, max_pairs):
        row = cell_at(e, ix0[ep[e]], gy_lo[e] + j)
        ccy = cy[row]
        st = np.flatnonzero((y1[e] > ccy) != (y2[e] > ccy))
        se, row = e[st], row[st]
        xint = dx[se] * (ccy[st] - y1[se]) / dy[se] + x1[se]
        lo, hi = np.zeros(len(se), dtype=np.int64), nx[ep[se]]
        while True:
            todo = np.flatnonzero(lo < hi)
            if not len(todo):
                break
            mid = (lo[todo] + hi[todo]) // 2
            left = cx[row[todo] + mid] < xint[todo]
            lo[todo] = np.where(left, mid + 1, lo[todo])
            hi[todo] = np.where(left, hi[todo], mid)
        marks += np.bincount(row, minlength=len(marks))
        marks -= np.bincount(row + lo, minlength=len(marks))

    center_in = np.cumsum(marks[:-1]) % 2 == 1
    keep = boundary | center_in
    return (
        polys[cell_p[keep]],
        encode_ixiy(gx[keep], gy[keep], r[cell_p[keep]]),
        (center_in & ~boundary)[keep],
    )


# --------------------------------------------------------------------------
# Catalyst twins: the same cell math as JVM column expressions, so the
# point-side hot path stays inside whole-stage codegen (no Python at all).
# Bit-parity with the numpy kernels is pinned by tests/test_geom_cells.py.
# --------------------------------------------------------------------------

_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_col(c):
    """Column twin of :func:`_part1by1` (long col, low 29 bits)."""
    from pyspark.sql import functions as F

    c = c.bitwiseAND(F.lit(0x1FFFFFFF))
    for shift, mask in _SPREAD_MASKS:
        c = c.bitwiseOR(F.shiftleft(c, shift)).bitwiseAND(F.lit(mask))
    return c


def cell_id_col(lon, lat, res: int):
    """Column twin of :func:`cell_id` — point → cell id at a fixed res."""
    from pyspark.sql import functions as F

    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be 0..{MAX_RES}")
    n = 1 << res
    ix = (
        F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))))
    ).cast("long")
    iy = (
        F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(n))))
    ).cast("long")
    return (
        F.lit(res << _RES_SHIFT)
        .bitwiseOR(_spread_col(ix))
        .bitwiseOR(F.shiftleft(_spread_col(iy), 1))
    )


def quote_ident(name: str) -> str:
    """Column ``name`` as a backquoted SQL identifier, for SQL-text
    expressions and selects of exact column names."""
    return "`" + name.replace("`", "``") + "`"


def with_cell_ids(df, lon_col: str, lat_col: str, ids: dict):
    """``df`` plus one column per ``{name: res}`` of ``ids``, holding
    :func:`cell_id_col` of the columns named ``lon_col``/``lat_col`` at
    that res (an existing column of that name is replaced).

    The same operations as :func:`cell_id_col`, split over two
    projections: the grid coordinates through the first two bit-spreading
    steps, then the last three steps and the id.  Every step reads its
    input twice, so :func:`cell_id_col` nests the grid expression 32 times
    per axis, and the analyzer, the optimizer and code generation walk all
    of those copies in every query built on it; split, no expression holds
    more than 4 copies of the grid expression or 8 of a column reference.
    The optimizer keeps the two projections apart, because the second
    reads each column of the first more than once.  The expressions are
    SQL text: one call into the JVM per column, where building them from
    :mod:`pyspark.sql.functions` takes a few per operator."""
    from pyspark.sql import functions as F

    def spread(e: str, steps) -> str:
        for shift, mask in steps:
            e = f"(({e}) | shiftleft(({e}), {shift})) & {mask}"
        return e

    first, rest = _SPREAD_MASKS[:2], _SPREAD_MASKS[2:]
    tmp = {}
    for name, res in ids.items():
        if not 0 <= res <= MAX_RES:
            raise ValueError(f"res must be 0..{MAX_RES}")
        n = 1 << res
        for axis, c, off, span in (("x", lon_col, 180, 360), ("y", lat_col, 90, 180)):
            # cell_id_col's grid coordinate and _spread_col's low-bits mask
            grid = (
                f"CAST(least({n - 1}, greatest(0, floor(({quote_ident(c)} + {off}.0D)"
                f" / {span}.0D * {n}))) AS BIGINT) & {0x1FFFFFFF}"
            )
            tmp[f"_cell_{axis}_{name}"] = spread(grid, first)
    df = df.withColumns({t: F.expr(e) for t, e in tmp.items()})
    df = df.withColumns(
        {
            name: F.expr(
                f"{res << _RES_SHIFT} | ({spread(quote_ident(f'_cell_x_{name}'), rest)})"
                f" | shiftleft(({spread(quote_ident(f'_cell_y_{name}'), rest)}), 1)"
            )
            for name, res in ids.items()
        }
    )
    return df.drop(*tmp)


def cell_res_col(cell):
    """Column twin of :func:`decode_cell`'s resolution: the id's res bits."""
    from pyspark.sql import functions as F

    return F.shiftright(cell, _RES_SHIFT).cast("int")


# --------------------------------------------------------------------------
# web-mercator-style z/x/y raster tiles (R1 operator)
# --------------------------------------------------------------------------


def tile_xy(lon: np.ndarray, lat: np.ndarray, z: int) -> Tuple[np.ndarray, np.ndarray]:
    """Equirectangular z/x/y tile ids (x: 2^z across lon, y: 2^z across lat,
    y=0 at lat=+90 like slippy tiles). Matches the SQL oracle expression
    ``floor((lon+180)/360 * 2^z)`` / ``floor((90-lat)/180 * 2^z)``."""
    n = np.int64(1) << np.int64(z)
    tx = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * n).astype(np.int64), 0, int(n) - 1)
    ty = np.clip(np.floor((90.0 - np.asarray(lat)) / 180.0 * n).astype(np.int64), 0, int(n) - 1)
    return tx, ty
