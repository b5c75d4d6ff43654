"""The polygon covering kernel as it tested every (edge, cell) pair of a
polygon's bbox grid: the oracle :func:`shapefile_rs_spark.cells.
classify_cover_batch` must reproduce bit for bit."""

import numpy as np

from shapefile_rs_spark.cells import encode_ixiy, lonlat_to_ixiy


def classify_cover_all_pairs(polygons, res, pad_frac=1e-9, max_pairs=1 << 16):
    """``(poly, cells, full)`` as :func:`..cells.classify_cover_batch`,
    from a segment-vs-rect SAT and a center crossing test of EVERY
    (edge, cell) pair of each polygon's bbox grid, ``max_pairs`` at a
    time."""
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

    # edges: consecutive vertices of one ring, grouped by polygon
    last = np.zeros(len(xy), dtype=bool)
    last[np.cumsum(lens) - 1] = True
    e0 = np.flatnonzero(~last)
    x1, y1 = xy[e0, 0], xy[e0, 1]
    x2, y2 = xy[e0 + 1, 0], xy[e0 + 1, 1]
    dx, dy = x2 - x1, y2 - y1
    exlo, exhi = np.minimum(x1, x2), np.maximum(x1, x2)
    eylo, eyhi = np.minimum(y1, y2), np.maximum(y1, y2)
    n_edge = np.bincount(np.searchsorted(polys, vert_poly[e0]), minlength=len(polys))
    estart = np.cumsum(n_edge) - n_edge

    # work blocks of ≤ max_pairs (edge, cell) pairs, packed into chunks
    step = np.maximum(1, max_pairs // ncell)
    nblk = -(-n_edge // step)
    blk_p = np.repeat(np.arange(len(polys)), nblk)
    blk_j = np.arange(int(nblk.sum()), dtype=np.int64) - np.repeat(np.cumsum(nblk) - nblk, nblk)
    blk_e = estart[blk_p] + blk_j * step[blk_p]
    blk_pairs = np.minimum(step[blk_p], estart[blk_p] + n_edge[blk_p] - blk_e) * ncell[blk_p]
    blk_off = np.cumsum(blk_pairs) - blk_pairs
    cuts = np.flatnonzero(np.diff(blk_off // max_pairs)) + 1

    boundary = np.zeros(len(gx), dtype=bool)
    crossings = np.zeros(len(gx), dtype=np.int64)
    for b in np.split(np.arange(len(blk_p)), cuts):
        cnt = blk_pairs[b]
        p = np.repeat(blk_p[b], cnt)
        loc = np.arange(int(cnt.sum()), dtype=np.int64) - np.repeat(blk_off[b] - blk_off[b[0]], cnt)
        e = np.repeat(blk_e[b], cnt) + loc // ncell[p]
        c = cstart[p] + loc % ncell[p]
        # boundary: bbox overlap, then the 4 rect corners not all on one side
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
        # center even-odd: edges straddling the center's y, crossed to its right
        ccy = cy[c]
        st = np.flatnonzero((y1[e] > ccy) != (y2[e] > ccy))
        se, sc = e[st], c[st]
        xint = dx[se] * (ccy[st] - y1[se]) / dy[se] + x1[se]
        crossings += np.bincount(sc[cx[sc] < xint], minlength=len(gx))

    center_in = crossings % 2 == 1
    keep = boundary | center_in
    return (
        polys[cell_p[keep]],
        encode_ixiy(gx[keep], gy[keep], r[cell_p[keep]]),
        (center_in & ~boundary)[keep],
    )
