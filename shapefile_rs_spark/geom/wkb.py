"""WKB (well-known binary, little-endian, 2D) encode/decode in pure numpy.

WKB is the engine's canonical geometry column (SURVEY §1.5): the shapefile
record → WKB conversion plays the role of the reference's geo-types export
(shapefile-rs src/record/mod.rs:433-475):

* Point → Point, Multipoint → MultiPoint,
* Polyline → MultiLineString (one linestring per part,
  src/record/polyline.rs:439-456),
* Polygon → MultiPolygon with ring grouping and the orphaned-inner-ring error
  (src/record/polygon.rs:599-641),
* Multipatch → MultiPolygon for ring patches; TriangleStrip/TriangleFan are
  unsupported for polygon conversion (src/record/multipatch.rs:359-402).

M/Z are dropped in WKB (2D canonical form, like the reference's geo-types
feature); they remain available as separate array columns in the DataFrame.
"""

from __future__ import annotations

import struct
from typing import List, Optional, Tuple

import numpy as np

from ..shapelib.shp import ShapeRec
from ..shapelib.shptypes import (
    FIRST_RING,
    INNER_RING,
    MULTIPATCH,
    OUTER_RING,
    RING,
    InvalidPatchType,
    is_multipoint_family,
    is_point_family,
)
from . import rings as R

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTIPOINT = 4
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6

_LE = b"\x01"


def _coords(arr: np.ndarray) -> bytes:
    return np.ascontiguousarray(arr, dtype="<f8").tobytes()


def point_wkb(x: float, y: float) -> bytes:
    return _LE + struct.pack("<I", WKB_POINT) + struct.pack("<2d", x, y)


def points_wkb_bulk(xy: np.ndarray) -> list:
    """Vectorized Point-WKB encoder: one (n, 21) uint8 assembly for the
    whole batch, no per-row struct packing.  Returns a list of bytes."""
    xy = np.ascontiguousarray(np.asarray(xy, dtype="<f8")).reshape(-1, 2)
    n = xy.shape[0]
    out = np.empty((n, 21), dtype=np.uint8)
    out[:, 0] = 1  # little-endian marker
    out[:, 1:5] = np.frombuffer(struct.pack("<I", WKB_POINT), dtype=np.uint8)
    out[:, 5:21] = xy.view(np.uint8).reshape(n, 16)
    return [b.tobytes() for b in out]


def _bulk_split(buf: np.ndarray, rec_offsets: np.ndarray) -> list:
    data = buf.tobytes()
    bounds = np.asarray(rec_offsets).tolist()
    return [data[a:b] for a, b in zip(bounds[:-1], bounds[1:])]


def multipoints_wkb_bulk(xy: np.ndarray, point_offsets: np.ndarray) -> list:
    """Vectorized MultiPoint-WKB for a whole BulkShapes file: one buffer
    assembly + scatter, no per-record/per-point Python (same technique as
    :func:`points_wkb_bulk`).  ``point_offsets`` is the (R+1,) record
    delimiter; returns a list of R bytes objects."""
    xy = np.ascontiguousarray(np.asarray(xy, dtype="<f8")).reshape(-1, 2)
    po = np.asarray(point_offsets, dtype=np.int64)
    R = len(po) - 1
    n = np.diff(po)
    rec_sizes = 9 + 21 * n  # MultiPoint hdr + 21-byte point WKBs
    rec_off = np.concatenate([[0], np.cumsum(rec_sizes)])
    buf = np.zeros(int(rec_off[-1]), dtype=np.uint8)
    # record headers: 01 | u32 type=4 | u32 n
    hdr = np.zeros((R, 9), dtype=np.uint8)
    hdr[:, 0] = 1
    hdr[:, 1:5] = np.frombuffer(struct.pack("<I", WKB_MULTIPOINT), dtype=np.uint8)
    hdr[:, 5:9] = n.astype("<u4").view(np.uint8).reshape(R, 4)
    buf[rec_off[:-1, None] + np.arange(9)] = hdr
    # per-point 21-byte WKBs at rec_off[rec_of_point] + 9 + 21*local_idx
    N = int(po[-1])
    if N:
        rec_of_pt = np.repeat(np.arange(R), n)
        local = np.arange(N) - np.repeat(po[:-1], n)
        dst = rec_off[rec_of_pt] + 9 + 21 * local
        pt = np.empty((N, 21), dtype=np.uint8)
        pt[:, 0] = 1
        pt[:, 1:5] = np.frombuffer(struct.pack("<I", WKB_POINT), dtype=np.uint8)
        pt[:, 5:21] = xy.view(np.uint8).reshape(N, 16)
        buf[dst[:, None] + np.arange(21)] = pt
    return _bulk_split(buf, rec_off)


def multilinestrings_wkb_bulk(
    xy: np.ndarray,
    point_offsets: np.ndarray,
    parts: np.ndarray,
    part_offsets: np.ndarray,
) -> list:
    """Vectorized MultiLineString-WKB for a whole BulkShapes polyline file.

    ``parts`` holds record-local start offsets (as stored on disk); part
    point-counts fall out of one global diff because parts partition each
    record's points in order (src/record/io.rs:144-187 semantics)."""
    xy = np.ascontiguousarray(np.asarray(xy, dtype="<f8")).reshape(-1, 2)
    po = np.asarray(point_offsets, dtype=np.int64)
    fo = np.asarray(part_offsets, dtype=np.int64)
    R = len(po) - 1
    P = len(parts)
    N = int(po[-1])
    p = np.diff(fo)
    n = np.diff(po)
    orphan = (p == 0) & (n > 0)
    if orphan.any():
        # a record declaring points but zero parts decodes as an EMPTY
        # MultiLineString (sequential-path / reference geo-types parity:
        # geo export iterates parts, so part-less points vanish) — drop
        # those records' coords and lay out a bare 9-byte header for them
        xy = xy[np.repeat(~orphan, n)]
        n = np.where(orphan, 0, n)
        po = np.concatenate([[0], np.cumsum(n)])
        N = int(po[-1])
    rec_of_part = np.repeat(np.arange(R), p)
    # global point index where each part starts; boundary diff = part sizes
    g_start = po[:-1][rec_of_part] + np.asarray(parts, dtype=np.int64)
    part_n = np.diff(np.concatenate([g_start, [N]]))
    if (part_n < 0).any():
        raise ValueError("non-monotonic part offsets")
    # layout: [9 rec hdr][per part: 9 hdr + 16*c coords]...
    rec_sizes = 9 + 9 * p + 16 * n
    rec_off = np.concatenate([[0], np.cumsum(rec_sizes)])
    buf = np.zeros(int(rec_off[-1]), dtype=np.uint8)
    hdr = np.zeros((R, 9), dtype=np.uint8)
    hdr[:, 0] = 1
    hdr[:, 1:5] = np.frombuffer(struct.pack("<I", WKB_MULTILINESTRING), dtype=np.uint8)
    hdr[:, 5:9] = p.astype("<u4").view(np.uint8).reshape(R, 4)
    buf[rec_off[:-1, None] + np.arange(9)] = hdr
    if P:
        local_part = np.arange(P) - np.repeat(fo[:-1], p)
        pts_before = g_start - po[:-1][rec_of_part]  # points before this part
        part_hdr_off = rec_off[rec_of_part] + 9 + 9 * local_part + 16 * pts_before
        ph = np.zeros((P, 9), dtype=np.uint8)
        ph[:, 0] = 1
        ph[:, 1:5] = np.frombuffer(struct.pack("<I", WKB_LINESTRING), dtype=np.uint8)
        ph[:, 5:9] = part_n.astype("<u4").view(np.uint8).reshape(P, 4)
        buf[part_hdr_off[:, None] + np.arange(9)] = ph
    if N:
        part_of_pt = np.repeat(np.arange(P), part_n)
        pt_local = np.arange(N) - np.repeat(g_start, part_n)
        dst = part_hdr_off[part_of_pt] + 9 + 16 * pt_local
        buf[dst[:, None] + np.arange(16)] = xy.view(np.uint8).reshape(N, 16)
    return _bulk_split(buf, rec_off)


def multipolygons_wkb_bulk(
    xy: np.ndarray,
    point_offsets: np.ndarray,
    parts: np.ndarray,
    part_offsets: np.ndarray,
) -> Tuple[list, np.ndarray]:
    """Vectorized MultiPolygon-WKB for a whole BulkShapes polygon file,
    byte-identical to :func:`shape_to_wkb` per record, with no Python loop
    per record or ring.  Returns ``(wkbs, orphan)``: ``orphan[i]`` marks a
    record with an inner ring before any outer ring (the scalar path's
    :class:`OrphanedInnerRing`); its wkb is ``None``.

    Every part is one ring, closed by appending its first point when the
    ends differ (:func:`..rings.close_ring`).  A ring's role is the sign of
    its shoelace sum (:func:`..rings.ring_role`), summed per ring with
    ``np.add.reduceat``; that rounds differently from the ``np.sum`` of
    :func:`..rings.signed_area2`, so wherever the sum does not clear the
    rounding bound of either order (``|s| > n·2⁻⁵²·Σ|terms|`` over ``n``
    terms, which also excludes zero, NaN and overflow) the ring is summed
    again with :func:`..rings.signed_area2`.  Rings keep their record
    order in the output (an outer ring opens a polygon, inner rings follow
    it), so grouping is a running count of outer rings per record, and the
    bytes are written in one scatter as :func:`multilinestrings_wkb_bulk`
    writes them."""
    xy = np.ascontiguousarray(np.asarray(xy, dtype="<f8")).reshape(-1, 2)
    po = np.asarray(point_offsets, dtype=np.int64)
    fo = np.asarray(part_offsets, dtype=np.int64)
    R_ = len(po) - 1
    p = np.diff(fo)
    # rings = parts: global [start, end) point ranges
    rec = np.repeat(np.arange(R_), p)
    start = po[:-1][rec] + np.asarray(parts, dtype=np.int64)
    end = np.empty_like(start)
    end[:-1] = start[1:]
    end[fo[1:][p > 0] - 1] = po[1:][p > 0]
    npts = end - start
    # close_ring: append the first point unless the ends compare equal
    has = npts > 0
    closed = np.zeros(len(start), dtype=bool)
    closed[has] = (xy[start[has]] == xy[end[has] - 1]).all(axis=1)
    clen = npts + (has & ~closed)
    coff = np.cumsum(clen) - clen
    ring_of_pt = np.repeat(np.arange(len(start)), clen)
    local = np.arange(int(clen.sum()), dtype=np.int64) - coff[ring_of_pt]
    cxy = xy[start[ring_of_pt] + local % np.maximum(npts, 1)[ring_of_pt]]

    # ring roles from the shoelace sum, signed_area2's terms
    inner = np.zeros(len(start), dtype=bool)
    nterm = np.maximum(clen - 1, 0)
    summed = np.flatnonzero(nterm > 0)
    if len(summed):
        with np.errstate(invalid="ignore", over="ignore"):
            t = (cxy[1:, 0] - cxy[:-1, 0]) * (cxy[1:, 1] + cxy[:-1, 1])
            t = t[ring_of_pt[1:] == ring_of_pt[:-1]]
            tstart = (np.cumsum(nterm) - nterm)[summed]
            s = np.add.reduceat(t, tstart)
            bound = nterm[summed] * 2.0**-52 * np.add.reduceat(np.abs(t), tstart)
            sure = (np.abs(s) > bound) & (np.abs(s) >= np.finfo(np.float64).tiny)
        for i in np.flatnonzero(~sure):
            r = summed[i]
            s[i] = R.signed_area2(cxy[coff[r] : coff[r] + clen[r]])
        inner[summed] = s / 2.0 < 0.0

    # grouping: a running count of outer rings per record
    outer = ~inner
    n_outer = np.cumsum(outer)
    base = np.zeros(R_, dtype=np.int64)
    base[p > 0] = (n_outer - outer)[fo[:-1][p > 0]]
    orphan = np.zeros(R_, dtype=bool)
    orphan[rec[inner & (n_outer == base[rec])]] = True
    ok = ~orphan[rec]

    # layout: per record a 9-byte header, then per ring in order its
    # polygon header (9 bytes, outer rings only), its u32 point count and
    # 16 bytes per point; the coordinates fill every byte no header takes
    ring_bytes = np.where(ok, 9 * outer + 4 + 16 * clen, 0)
    rec_sizes = np.bincount(rec, weights=ring_bytes, minlength=R_).astype(np.int64) + 9
    rec_off = np.concatenate([[0], np.cumsum(np.where(orphan, 0, rec_sizes))])
    ring_end = np.cumsum(ring_bytes)
    ring_off = (
        rec_off[rec] + 9 + ring_end - ring_bytes
        - np.repeat(np.concatenate([[0], ring_end])[fo[:-1]], p)
    )
    buf = np.zeros(int(rec_off[-1]), dtype=np.uint8)
    coords = np.ones(len(buf), dtype=bool)

    def put(at, width, fields):
        idx = at[:, None] + np.arange(width)
        buf[idx] = fields
        coords[idx] = False

    def headers(at, gtype, counts):
        h = np.zeros((len(at), 9), dtype=np.uint8)
        h[:, 0] = 1
        h[:, 1:5] = np.frombuffer(struct.pack("<I", gtype), dtype=np.uint8)
        h[:, 5:9] = counts.astype("<u4").view(np.uint8).reshape(-1, 4)
        put(at, 9, h)

    keep = np.flatnonzero(~orphan)
    headers(rec_off[keep], WKB_MULTIPOLYGON, np.bincount(rec[ok & outer], minlength=R_)[keep])
    k = np.flatnonzero(ok & outer)
    if len(k):
        # an inner ring belongs to the last outer ring before it
        nrings = np.bincount(n_outer[ok] - 1, minlength=int(n_outer[-1]))
        headers(ring_off[k], WKB_POLYGON, nrings[n_outer[k] - 1])
    k = np.flatnonzero(ok)
    put(ring_off[k] + 9 * outer[k], 4, clen[k].astype("<u4").view(np.uint8).reshape(-1, 4))
    buf[coords] = (cxy if ok.all() else cxy[ok[ring_of_pt]]).view(np.uint8).ravel()
    out = _bulk_split(buf, rec_off)
    for i in np.flatnonzero(orphan):
        out[i] = None
    return out, orphan


def multipoint_wkb(xy: np.ndarray) -> bytes:
    out = [_LE, struct.pack("<II", WKB_MULTIPOINT, len(xy))]
    for i in range(len(xy)):
        out.append(point_wkb(float(xy[i, 0]), float(xy[i, 1])))
    return b"".join(out)


def multilinestring_wkb(parts: List[np.ndarray]) -> bytes:
    out = [_LE, struct.pack("<II", WKB_MULTILINESTRING, len(parts))]
    for part in parts:
        out.append(_LE + struct.pack("<II", WKB_LINESTRING, len(part)) + _coords(part))
    return b"".join(out)


def multipolygon_wkb(polygons: List[List[np.ndarray]]) -> bytes:
    """``polygons`` = [[outer_ring, hole, ...], ...]; rings closed, (n,2)."""
    out = [_LE, struct.pack("<II", WKB_MULTIPOLYGON, len(polygons))]
    for rings_ in polygons:
        out.append(_LE + struct.pack("<II", WKB_POLYGON, len(rings_)))
        for ring in rings_:
            out.append(struct.pack("<I", len(ring)) + _coords(ring))
    return b"".join(out)


def shape_to_wkb(rec: ShapeRec, strict: bool = True) -> Optional[bytes]:
    """Canonical 2D WKB for a decoded record; None for NullShape."""
    st = rec.shape_type
    if st == 0:
        return None
    if is_point_family(st):
        return point_wkb(float(rec.xy[0, 0]), float(rec.xy[0, 1]))
    if is_multipoint_family(st):
        return multipoint_wkb(rec.xy)
    slices = rec.part_slices()
    if st == MULTIPATCH:
        # ring grouping per src/record/multipatch.rs:359-402:
        # OuterRing|FirstRing start a polygon, InnerRing|Ring attach,
        # TriangleStrip/Fan unsupported for polygon conversion.
        polygons: List[List[np.ndarray]] = []
        for (s, e), pt in zip(slices, rec.patch_types.tolist()):
            ring = R.close_ring(rec.xy[s:e])
            if pt in (OUTER_RING, FIRST_RING):
                polygons.append([ring])
            elif pt in (INNER_RING, RING):
                if not polygons:
                    polygons.append([ring])
                else:
                    polygons[-1].append(ring)
            else:
                raise InvalidPatchType(
                    f"patch type {pt} not convertible to polygon (TriangleStrip/Fan)"
                )
        return multipolygon_wkb(polygons)
    if st in (5, 15, 25):  # polygon family
        ring_arrays = [R.close_ring(rec.xy[s:e]) for s, e in slices]
        roles = [R.ring_role(r) for r in ring_arrays]
        groups = R.group_rings(ring_arrays, roles, strict=strict)
        return multipolygon_wkb(groups)
    # polyline family
    return multilinestring_wkb([rec.xy[s:e] for s, e in slices])


# ---------------------------------------------------------------------------
# decode (tests + PIP refine input)
# ---------------------------------------------------------------------------


def parse_wkb(buf: bytes) -> Tuple[int, object]:
    """Decode little-endian 2D WKB → (geom_type, payload).

    payload: Point → (x, y); MultiPoint → (n,2) array; MultiLineString →
    [arrays]; MultiPolygon → [[ring arrays]]; Polygon → [ring arrays].
    """
    mv = memoryview(buf)

    def geom(off: int):
        if mv[off] != 1:
            raise ValueError("only little-endian WKB supported")
        (gtype,) = struct.unpack_from("<I", mv, off + 1)
        off += 5
        if gtype == WKB_POINT:
            x, y = struct.unpack_from("<2d", mv, off)
            return off + 16, gtype, (x, y)
        if gtype == WKB_LINESTRING:
            (n,) = struct.unpack_from("<I", mv, off)
            arr = np.frombuffer(mv, dtype="<f8", count=2 * n, offset=off + 4).reshape(n, 2)
            return off + 4 + 16 * n, gtype, arr.copy()
        if gtype == WKB_POLYGON:
            (nr,) = struct.unpack_from("<I", mv, off)
            off += 4
            rings_ = []
            for _ in range(nr):
                (n,) = struct.unpack_from("<I", mv, off)
                arr = np.frombuffer(mv, dtype="<f8", count=2 * n, offset=off + 4).reshape(n, 2)
                rings_.append(arr.copy())
                off += 4 + 16 * n
            return off, gtype, rings_
        if gtype in (WKB_MULTIPOINT, WKB_MULTILINESTRING, WKB_MULTIPOLYGON):
            (ng,) = struct.unpack_from("<I", mv, off)
            off += 4
            items = []
            for _ in range(ng):
                off, _, payload = geom(off)
                items.append(payload)
            if gtype == WKB_MULTIPOINT:
                items = np.array(items, dtype=np.float64).reshape(-1, 2)
            return off, gtype, items
        raise ValueError(f"unsupported WKB geometry type {gtype}")

    _, gtype, payload = geom(0)
    return gtype, payload


def wkb_rings(buf: bytes) -> List[np.ndarray]:
    """All rings of a (Multi)Polygon WKB, flattened — the even-odd PIP input."""
    gtype, payload = parse_wkb(buf)
    if gtype == WKB_POLYGON:
        return list(payload)
    if gtype == WKB_MULTIPOLYGON:
        return [ring for poly in payload for ring in poly]
    raise ValueError(f"not a polygon WKB: type {gtype}")


def _wkt_num(v: float) -> str:
    """Shortest round-trip decimal (repr), with integral values unpadded
    (canonical across writers: 5.0 → '5').  Non-finite coordinates emit
    repr() ('nan'/'inf') deliberately rather than crashing the export."""
    import math

    f = float(v)
    if math.isfinite(f) and f == int(f) and abs(f) < 1e15:
        return str(int(f))
    return repr(f)


def wkt_from_wkb(buf: bytes) -> str:
    """WKB → canonical WKT text for the engine's geometry families.
    Deterministic formatting (see :func:`_wkt_num`), so golden oracles can
    pin exact strings."""
    gtype, payload = parse_wkb(buf)

    def coords(arr) -> str:
        return ", ".join(f"{_wkt_num(x)} {_wkt_num(y)}" for x, y in arr)

    if gtype == WKB_POINT:
        return f"POINT ({_wkt_num(payload[0])} {_wkt_num(payload[1])})"
    if gtype == WKB_MULTIPOINT:
        return "MULTIPOINT (" + ", ".join(f"({_wkt_num(x)} {_wkt_num(y)})" for x, y in payload) + ")"
    if gtype == WKB_LINESTRING:
        return f"LINESTRING ({coords(payload)})"
    if gtype == WKB_MULTILINESTRING:
        return "MULTILINESTRING (" + ", ".join(f"({coords(p)})" for p in payload) + ")"
    if gtype == WKB_POLYGON:
        return "POLYGON (" + ", ".join(f"({coords(r)})" for r in payload) + ")"
    if gtype == WKB_MULTIPOLYGON:
        return (
            "MULTIPOLYGON ("
            + ", ".join("(" + ", ".join(f"({coords(r)})" for r in poly) + ")" for poly in payload)
            + ")"
        )
    raise ValueError(f"unsupported WKB type {gtype} for WKT export")
