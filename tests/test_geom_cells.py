"""Unit tests: ring semantics, WKB conversion, ray-cast PIP, cell index."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from shapefile_rs_spark import cells as C
from shapefile_rs_spark import fixtures as FX
from shapefile_rs_spark.geom import pip as P
from shapefile_rs_spark.geom import rings as R
from shapefile_rs_spark.geom import wkb as W
from shapefile_rs_spark.shapelib.shptypes import OrphanedInnerRing


def test_ring_orientation_sign_convention():
    """CW ⇒ outer, CCW ⇒ inner (src/record/mod.rs:133-145 convention)."""
    ccw = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]])
    cw = ccw[::-1].copy()
    assert R.ring_role(cw) == R.OUTER
    assert R.ring_role(ccw) == R.INNER


def test_close_and_reorder():
    open_ccw = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0]])
    ring = R.close_and_reorder(open_ccw, R.OUTER)
    assert R.is_closed(ring)
    assert R.ring_role(ring) == R.OUTER


def test_group_rings_orphan():
    inner = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]])
    with pytest.raises(OrphanedInnerRing):
        R.group_rings([inner], [R.INNER], strict=True)
    groups = R.group_rings([inner], [R.INNER], strict=False)
    assert len(groups) == 1


def test_polygon_wkb_groups_rings():
    rec = FX.fx_polygon_hole()[0]
    blob = W.shape_to_wkb(rec)
    gtype, polys = W.parse_wkb(blob)
    assert gtype == W.WKB_MULTIPOLYGON
    assert len(polys) == 1 and len(polys[0]) == 2  # outer + hole


def test_polyline_wkb():
    rec = FX.fx_line()[0]
    gtype, parts = W.parse_wkb(W.shape_to_wkb(rec))
    assert gtype == W.WKB_MULTILINESTRING
    assert len(parts) == 2 and parts[0].shape == (5, 2)


def test_multipatch_wkb_ring_patches_only():
    rec = FX.fx_multipatch()[0]  # TriangleStrip/Fan -> unsupported
    with pytest.raises(Exception):
        W.shape_to_wkb(rec)


def test_pip_hole_semantics():
    """The engine's kernel (:func:`_pip_index` + :func:`_pip_contains`)
    excludes the hole."""
    from shapefile_rs_spark.operators.spatial_join import _pip_contains, _pip_index

    rec = FX.fx_join_polygons()[0][0]  # square with hole
    blob = W.shape_to_wkb(rec)
    px = np.array([2.0, 5.0, 8.0, 11.0])
    py = np.array([2.0, 5.0, 9.0, 5.0])
    rows, _ = _pip_contains(_pip_index([blob], 256, 12, None), px, py)
    inside = np.isin(np.arange(len(px)), rows)
    assert inside.tolist() == [True, False, True, False]


def test_join_fixture_golden():
    polys, _ = FX.fx_join_polygons()
    pts, _ = FX.fx_join_points()
    rings_per_poly = [W.wkb_rings(W.shape_to_wkb(p)) for p in polys]
    xy = np.vstack([p.xy for p in pts])
    pairs = P.nested_loop_pip_oracle(xy, rings_per_poly)
    got = sorted((i + 1, j + 1) for i, j in pairs)
    assert got == FX.JOIN_GOLDEN


def test_cell_roundtrip():
    rng = np.random.default_rng(42)
    lon = rng.uniform(-180, 180, 1000)
    lat = rng.uniform(-90, 90, 1000)
    for res in (0, 5, 12, 29):
        cid = C.cell_id(lon, lat, res)
        r, ix, iy = C.decode_cell(cid)
        assert (r == res).all()
        ix2, iy2 = C.lonlat_to_ixiy(lon, lat, res)
        assert (ix == ix2).all() and (iy == iy2).all()
        # cell bounds contain the point
        b = C.cell_bounds(int(cid[0]))
        assert b[0] <= lon[0] <= b[2] and b[1] <= lat[0] <= b[3]


def test_k_ring():
    cid = int(C.cell_id(np.array([0.0]), np.array([0.0]), 10)[0])
    ring0 = C.k_ring(cid, 0)
    assert ring0.tolist() == [cid]
    ring1 = C.k_ring(cid, 1)
    assert len(ring1) == 9
    ring2 = C.k_ring(cid, 2)
    assert len(ring2) == 25
    assert set(ring1.tolist()) <= set(ring2.tolist())


def test_k_ring_pole_clamp_and_wrap():
    top = int(C.cell_id(np.array([179.9]), np.array([89.9]), 4)[0])
    ring = C.k_ring(top, 1)
    assert len(ring) == 6  # 3x3 minus the 3 above the pole, x wraps


def test_cover_bbox():
    cover = C.cover_bbox(-1.0, -1.0, 1.0, 1.0, 8)
    assert len(cover) >= 4
    # every covering cell's bounds intersect the bbox
    for cid in cover.tolist():
        x0, y0, x1, y1 = C.cell_bounds(cid)
        assert x1 >= -1.0 and x0 <= 1.0 and y1 >= -1.0 and y0 <= 1.0


def test_adaptive_cover_res_bounds_cells():
    res = C.adaptive_cover_res(0.0, 0.0, 10.0, 10.0, max_cells=64)
    cover = C.cover_bbox(0.0, 0.0, 10.0, 10.0, res)
    assert len(cover) <= 64
    finer = C.cover_bbox(0.0, 0.0, 10.0, 10.0, res + 1)
    assert len(finer) > 64


def test_tile_xy_matches_sql_formula():
    lon = np.array([-180.0, 0.0, 179.99])
    lat = np.array([90.0, 0.0, -89.99])
    tx, ty = C.tile_xy(lon, lat, 3)
    n = 8
    exp_tx = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1)
    exp_ty = np.clip(np.floor((90.0 - lat) / 180.0 * n), 0, n - 1)
    assert tx.tolist() == exp_tx.astype(int).tolist()
    assert ty.tolist() == exp_ty.astype(int).tolist()


def test_classify_cover_exact_partition():
    """classify_cover's three-way split is exact: FULL cells are entirely
    interior (dense sampling), dropped bbox cells contain no interior point,
    and boundary cells are exactly where ring edges pass."""
    import numpy as np
    from shapefile_rs_spark.geom.pip import points_in_rings, rings_bbox

    t = np.linspace(0, 2 * np.pi, 48, endpoint=False)
    outer = np.column_stack([(9 + 2 * np.sin(4 * t)) * np.cos(t) + 15,
                             (9 + 2 * np.sin(4 * t)) * np.sin(t) + 5])
    outer = np.vstack([outer, outer[0]])
    th = np.linspace(0, 2 * np.pi, 16, endpoint=False)
    hole = np.vstack([np.column_stack([2 * np.cos(th) + 15, 2 * np.sin(th) + 5])])
    hole = np.vstack([hole, hole[0]])
    rings = [outer, hole]

    res = 9
    cells, full = C.classify_cover(rings, res)
    assert full.sum() > 0 and (~full).sum() > 0
    kept = set(int(c) for c in cells)
    for cell, f in zip(cells, full):
        x0, y0, x1, y1 = C.cell_bounds(int(cell))
        gx, gy = np.meshgrid(np.linspace(x0 + 1e-9, x1 - 1e-9, 8),
                             np.linspace(y0 + 1e-9, y1 - 1e-9, 8))
        ins = points_in_rings(gx.ravel(), gy.ravel(), rings)
        if f:
            assert ins.all()  # FULL ⇒ every sampled point inside
    for cell in (int(c) for c in C.cover_bbox(*rings_bbox(rings), res)):
        if cell in kept:
            continue
        x0, y0, x1, y1 = C.cell_bounds(cell)
        gx, gy = np.meshgrid(np.linspace(x0 + 1e-9, x1 - 1e-9, 8),
                             np.linspace(y0 + 1e-9, y1 - 1e-9, 8))
        assert not points_in_rings(gx.ravel(), gy.ravel(), rings).any()


def test_cover_bbox_antimeridian_wrap():
    """xmin > xmax wraps the x range across the antimeridian (the k_ring
    convention) instead of producing an empty/creeping covering."""
    import numpy as np

    res = 6
    wrap = C.cover_bbox(175.0, -5.0, -175.0, 5.0, res)
    east = C.cover_bbox(175.0, -5.0, 179.999999, 5.0, res)
    west = C.cover_bbox(-180.0, -5.0, -175.0, 5.0, res)
    assert set(wrap.tolist()) == set(east.tolist()) | set(west.tolist())
    assert len(wrap) > 0
    # ordinary bboxes unchanged
    plain = C.cover_bbox(-1.0, -1.0, 1.0, 1.0, res)
    assert len(plain) == len(set(plain.tolist()))


def test_cover_bbox_wrap_same_column_covers_ring():
    """A wrapped bbox whose endpoints land in the SAME cell column spans
    (almost) the whole ring — the covering must include every column, not
    collapse to one."""
    import numpy as np

    from shapefile_rs_spark import cells as C

    res = 6
    n = 1 << res
    cells = C.cover_bbox(10.0, -5.0, 9.0, 5.0, res)  # gap inside one column
    _, ix, iy = C.decode_cell(np.asarray(cells, dtype=np.int64))
    assert len(set(ix.tolist())) == n
    # normal wrap (distinct columns) unchanged
    cells2 = C.cover_bbox(170.0, -5.0, -170.0, 5.0, res)
    _, ix2, _ = C.decode_cell(np.asarray(cells2, dtype=np.int64))
    assert 0 < len(set(ix2.tolist())) < n


def test_classify_cover_degenerate_rings_empty():
    """All-degenerate rings (<2 points) → empty covering, no crash (the
    bbox covering this replaced completed on such records too)."""
    import numpy as np

    from shapefile_rs_spark import cells as C

    cells, full = C.classify_cover([np.array([[1.0, 2.0]])], res=6)
    assert len(cells) == 0 and len(full) == 0


def _classify_cover_reference(rings, res, pad_frac=1e-9):
    """The per-polygon covering as first written (one E×C broadcast, no
    chunking): the batched kernel must reproduce it bit for bit."""
    rings = [np.asarray(r, dtype=np.float64) for r in rings if len(r) >= 2]
    if not rings:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=bool)
    xmin, ymin, xmax, ymax = P.rings_bbox(rings)
    ix0, iy0 = C.lonlat_to_ixiy(np.array([xmin]), np.array([ymin]), res)
    ix1, iy1 = C.lonlat_to_ixiy(np.array([xmax]), np.array([ymax]), res)
    n = float(1 << res)
    w, h = 360.0 / n, 180.0 / n
    gx, gy = np.meshgrid(np.arange(ix0[0], ix1[0] + 1), np.arange(iy0[0], iy1[0] + 1))
    gx, gy = gx.ravel(), gy.ravel()
    rx0, ry0 = -180.0 + gx * w, -90.0 + gy * h
    px0, py0 = rx0 - w * pad_frac, ry0 - h * pad_frac
    px1, py1 = rx0 + w + w * pad_frac, ry0 + h + h * pad_frac
    a1 = np.concatenate([r[:-1, 0] for r in rings])[:, None]
    b1 = np.concatenate([r[:-1, 1] for r in rings])[:, None]
    a2 = np.concatenate([r[1:, 0] for r in rings])[:, None]
    b2 = np.concatenate([r[1:, 1] for r in rings])[:, None]
    ovl = (
        (np.maximum(a1, a2) >= px0) & (np.minimum(a1, a2) <= px1)
        & (np.maximum(b1, b2) >= py0) & (np.minimum(b1, b2) <= py1)
    )
    dx, dy = a2 - a1, b2 - b1
    s = [dx * (y - b1) - dy * (x - a1) for x in (px0, px1) for y in (py0, py1)]
    same = np.logical_and.reduce([v > 0 for v in s]) | np.logical_and.reduce([v < 0 for v in s])
    boundary = (ovl & ~same).any(axis=0)
    with np.errstate(over="ignore"):  # non-straddling edges, masked out
        center_in = P.points_in_rings(rx0 + w / 2.0, ry0 + h / 2.0, rings)
    keep = boundary | center_in
    return C.encode_ixiy(gx[keep], gy[keep], res), (center_in & ~boundary)[keep]


@st.composite
def _star_layers(draw):
    """A layer of star polygons (some with a star hole, some with 1- and
    2-point degenerate rings, some with nothing but degenerate rings), each
    at its own adaptive resolution."""
    polys, res = [], []
    for _ in range(draw(st.integers(0, 6))):
        cx = draw(st.floats(-179.0, 179.0))
        cy = draw(st.floats(-89.0, 89.0))
        radius = draw(st.floats(1e-4, 1.0))
        n = draw(st.integers(3, 12))
        t = np.sort(np.array(draw(st.lists(st.floats(0.0, 6.28), min_size=n, max_size=n))))
        rad = radius * np.array(draw(st.lists(st.floats(0.2, 1.0), min_size=n, max_size=n)))
        outer = np.column_stack([cx + rad * np.cos(t), cy + rad * np.sin(t)])
        rings = [np.vstack([outer, outer[:1]])]
        if draw(st.booleans()):
            hole = np.column_stack([cx + 0.15 * radius * np.cos(t), cy + 0.15 * radius * np.sin(t)])
            rings.append(np.vstack([hole, hole[:1]])[::-1])
        if draw(st.booleans()):
            rings.insert(draw(st.integers(0, len(rings))), outer[: draw(st.integers(1, 2))])
        if draw(st.integers(0, 9)) == 0:
            rings = [outer[:1]]
        polys.append(rings)
        bbox = P.rings_bbox(rings)
        res.append(C.adaptive_cover_res(*bbox, draw(st.sampled_from([1, 9, 64, 300])), 16))
    return polys, res


@settings(max_examples=80, deadline=None)
@given(_star_layers(), st.sampled_from([1, 40, 1 << 16]))
def test_classify_cover_batch_matches_per_polygon(layer, max_pairs):
    """The batched covering kernel returns, polygon by polygon, exactly the
    per-polygon covering (cells, order and FULL flags), whatever the pair
    chunk — including degenerate rings, holes and mixed resolutions."""
    polys, res = layer
    poly, cells, full = C.classify_cover_batch(polys, res, max_pairs=max_pairs)
    assert np.all(np.diff(poly) >= 0)
    for i, (rings, r) in enumerate(zip(polys, res)):
        mine = poly == i
        for want_cells, want_full in (
            C.classify_cover(rings, r),
            _classify_cover_reference(rings, r),
        ):
            assert np.array_equal(cells[mine], want_cells)
            assert np.array_equal(full[mine], want_full)


@st.composite
def _edge_cases_layers(draw):
    """Layers the edge-local covering must get exactly right: stars that
    cross the antimeridian or reach a pole, polygons whose vertices sit on
    cell corners (edges along grid lines), and rings with a NaN or ±inf
    vertex (covered at a fixed coarse res, as adaptive res rejects them)."""
    polys, res = [], []
    for _ in range(draw(st.integers(1, 5))):
        kind = draw(st.sampled_from(["star", "antimeridian", "pole", "grid", "nonfinite"]))
        r = draw(st.integers(0, 10))
        if kind == "grid":
            n = 1 << r
            bx, by = draw(st.integers(0, n - 1)), draw(st.integers(0, n - 1))
            k = draw(st.integers(3, 8))
            gxs = draw(st.lists(st.integers(-1, 4), min_size=k, max_size=k))
            gys = draw(st.lists(st.integers(-1, 4), min_size=k, max_size=k))
            ring = np.column_stack(
                [-180.0 + (bx + np.array(gxs)) * (360.0 / n), -90.0 + (by + np.array(gys)) * (180.0 / n)]
            )
            polys.append([np.vstack([ring, ring[:1]])])
            res.append(r)
            continue
        cx = draw(st.floats(-179.0, 179.0))
        cy = draw(st.floats(-89.0, 89.0))
        if kind == "antimeridian":
            cx = draw(st.sampled_from([-1.0, 1.0])) * draw(st.floats(179.0, 180.5))
        if kind == "pole":
            cy = draw(st.sampled_from([-1.0, 1.0])) * draw(st.floats(88.5, 90.5))
        radius = draw(st.floats(1e-3, 2.0))
        k = draw(st.integers(3, 12))
        t = np.sort(np.array(draw(st.lists(st.floats(0.0, 6.28), min_size=k, max_size=k))))
        ring = np.column_stack([cx + radius * np.cos(t), cy + radius * np.sin(t)])
        rings = [np.vstack([ring, ring[:1]])]
        if draw(st.booleans()):
            rings.append(rings[0][::-1] * 0.5 + np.array([cx, cy]) * 0.5)
        if kind == "nonfinite":
            rings[0][draw(st.integers(0, k - 1))] = draw(
                st.sampled_from([(np.nan, 1.0), (1.0, np.nan), (np.inf, 0.0), (0.0, -np.inf)])
            )
            polys.append(rings)
            res.append(draw(st.integers(0, 4)))
            continue
        polys.append(rings)
        bbox = P.rings_bbox(rings)
        res.append(C.adaptive_cover_res(*bbox, draw(st.sampled_from([1, 9, 64, 300])), 16))
    return polys, res


@settings(max_examples=150, deadline=None)
@given(st.one_of(_edge_cases_layers(), _star_layers()), st.sampled_from([1, 7, 1 << 16]))
def test_classify_cover_batch_edge_local_matches_all_pairs(layer, max_pairs):
    """The edge-local covering kernel (each edge against its own widened
    bbox cells and straddled rows) returns exactly what testing every
    (edge, cell) pair of the bbox grid returns — polygons, cells, order
    and FULL flags — at any pair chunk size."""
    from tests.cover_oracle import classify_cover_all_pairs

    polys, res = layer
    with np.errstate(invalid="ignore", over="ignore", divide="ignore"):
        got = C.classify_cover_batch(polys, res, max_pairs=max_pairs)
        want = classify_cover_all_pairs(polys, res)
    for g, w in zip(got, want):
        assert np.array_equal(g, w)


@st.composite
def _polygon_records(draw, min_rings=0):
    """Polygon records as (xy, parts): rings that are empty, 1-point,
    unclosed, closed, zero-area, near-zero-area around a large offset
    (where the shoelace sum's rounding depends on the summation order), or
    hold a NaN/±inf coordinate, in either orientation — so inner rings
    before any outer ring (orphans) occur."""
    coord = st.one_of(
        st.floats(-1e3, 1e3), st.sampled_from([0.0, -0.0, 1.0, np.nan, np.inf, -np.inf])
    )
    rings = []
    for _ in range(draw(st.integers(min_rings, 4))):
        kind = draw(st.sampled_from(["empty", "one", "open", "closed", "flat", "thin", "odd"]))
        if kind == "empty":
            ring = np.empty((0, 2))
        elif kind == "one":
            ring = np.array([[draw(coord), draw(coord)]])
        elif kind in ("open", "closed"):
            k = draw(st.integers(2, 12))
            ring = np.array([[draw(st.floats(-1e3, 1e3)), draw(st.floats(-1e3, 1e3))] for _ in range(k)])
            if kind == "closed":
                ring = np.vstack([ring, ring[:1]])
        elif kind == "flat":
            k = draw(st.integers(2, 9))
            ring = np.column_stack([np.arange(k, dtype=float), np.full(k, draw(st.floats(-1e3, 1e3)))])
        elif kind == "thin":
            k = draw(st.integers(3, 40))
            base = draw(st.sampled_from([1e8, -3e7, 0.0]))
            eps = draw(st.sampled_from([1e-300, 1e-12, 1e-9, 1e-7]))
            wiggle = np.array(draw(st.lists(st.integers(-2, 2), min_size=k, max_size=k)), dtype=float)
            ring = np.column_stack([base + np.arange(k, dtype=float), base + eps * wiggle])
        else:
            k = draw(st.integers(2, 6))
            ring = np.array([[draw(coord), draw(coord)] for _ in range(k)])
        rings.append(ring[::-1] if draw(st.booleans()) else ring)
    xy = np.vstack(rings) if rings else np.empty((0, 2))
    parts = np.cumsum([0] + [len(r) for r in rings[:-1]]).astype(np.int32) if rings else np.empty(0, np.int32)
    return xy, parts


def _scalar_wkb(xy, parts):
    """(wkb, orphan) of one record by the scalar path."""
    from shapefile_rs_spark.shapelib.shp import ShapeRec

    try:
        return W.shape_to_wkb(ShapeRec(5, xy, parts=parts, bbox_xy=(0.0,) * 4)), False
    except OrphanedInnerRing:
        return None, True


@settings(max_examples=200, deadline=None)
@given(st.lists(_polygon_records(), min_size=1, max_size=6))
def test_multipolygons_wkb_bulk_matches_shape_to_wkb(records):
    """The bulk polygon encoder is byte-identical to :func:`shape_to_wkb`
    on every record, and flags exactly the records the scalar path
    rejects with OrphanedInnerRing."""
    po = np.cumsum([0] + [len(xy) for xy, _ in records])
    fo = np.cumsum([0] + [len(p) for _, p in records])
    with np.errstate(all="ignore"):
        got, orphan = W.multipolygons_wkb_bulk(
            np.vstack([xy for xy, _ in records]),
            po,
            np.concatenate([p for _, p in records]),
            fo,
        )
        want = [_scalar_wkb(xy, p) for xy, p in records]
    assert got == [w for w, _ in want]
    assert orphan.tolist() == [o for _, o in want]


@settings(max_examples=60, deadline=None)
@given(st.lists(_polygon_records(min_rings=1), min_size=1, max_size=5))
def test_bulk_frame_polygon_on_invalid(records):
    """Through the source's bulk decode: ``on_invalid="error"`` raises
    OrphanedInnerRing when any record has an orphan inner ring, and
    ``on_invalid="null"`` nulls exactly those records' wkb."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from shapefile_rs_spark.shapelib.shp import ShapeRec, read_shp_bulk, write_shp
    from shapefile_rs_spark.sources.shapefile_source import SHAPES_SCHEMA, _bulk_batch

    recs = [ShapeRec(5, xy, parts=p, bbox_xy=(0.0,) * 4) for xy, p in records]
    bulk = read_shp_bulk(*write_shp(recs))
    schema = to_arrow_schema(SHAPES_SCHEMA)
    with np.errstate(all="ignore"):
        want = [_scalar_wkb(xy, p) for xy, p in records]
        if any(o for _, o in want):
            with pytest.raises(OrphanedInnerRing):
                _bulk_batch(bulk, "s", None, [None] * len(recs), "error", schema)
        else:
            frame = _bulk_batch(bulk, "s", None, [None] * len(recs), "error", schema)
            assert frame["wkb"].tolist() == [w for w, _ in want]
        frame = _bulk_batch(bulk, "s", None, [None] * len(recs), "null", schema)
    assert frame["wkb"].tolist() == [w for w, _ in want]
