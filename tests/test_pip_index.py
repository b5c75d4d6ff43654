"""The broadcast phase of the PIP join: a driver-built polygon index and one
Arrow kernel per point batch.  Its rows must equal the shuffle phase's
(cell-equi join + refine UDF), the salted shuffle phase's and the
nested-loop oracle's, on holes, mixed covering resolutions, points on cell
borders and polygon vertices, hot clusters, pre-indexed points, string
keys, carried polygon columns and polygons whose ray-cast work spans
several blocks; non-finite coordinates are contained in nothing on every
phase.  The tile center rule runs the same ray-cast: it must equal the
oracle on tile centers, and bad polygon rows get no tile."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import Phase, given, settings
from hypothesis import strategies as st

from shapefile_rs_spark import cells as C
from shapefile_rs_spark.geom.pip import nested_loop_pip_oracle, points_in_rings
from shapefile_rs_spark.geom.wkb import multipolygon_wkb
from shapefile_rs_spark.operators.spatial_join import (
    _MAX_PAIRS,
    _pip_contains,
    _pip_index,
    point_in_polygon_join,
    with_cells,
)
from shapefile_rs_spark.operators.tiles import _tile_batch, tile_polygon_assignment

_POINTS = "point_id bigint, lon double, lat double"
_POLYS = "polygon_id bigint, wkb binary"


def _star(cx, cy, radius, t, rad, hole):
    """A star polygon (rings closed) around (cx, cy), with an optional
    hole well inside its smallest radius."""
    outer = np.column_stack([cx + radius * rad * np.cos(t), cy + radius * rad * np.sin(t)])
    rings = [np.vstack([outer, outer[:1]])[::-1]]
    if hole:
        h = np.column_stack(
            [cx + 0.3 * radius * rad.min() * np.cos(t), cy + 0.3 * radius * rad.min() * np.sin(t)]
        )
        rings.append(np.vstack([h, h[:1]]))
    return rings


@st.composite
def _layers(draw):
    """Star polygons (some with holes) of very different sizes, so the
    adaptive covering mixes resolutions, plus points on polygon vertices,
    on cell borders of every covering level, in one hot cluster and
    spread over the layer's extent."""
    polys = []
    for _ in range(draw(st.integers(1, 4))):
        n = draw(st.integers(3, 10))
        angles = st.lists(st.floats(0.0, 6.28), min_size=n, max_size=n, unique=True)
        t = np.sort(np.array(draw(angles)))
        rad = np.array(draw(st.lists(st.floats(0.3, 1.0), min_size=n, max_size=n)))
        polys.append(
            _star(
                draw(st.floats(-3.0, 3.0)),
                draw(st.floats(-3.0, 3.0)),
                draw(st.sampled_from([0.01, 0.2, 1.5, 4.0])),
                t,
                rad,
                draw(st.booleans()),
            )
        )
    max_cover_cells = draw(st.sampled_from([4, 16, 64]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    verts = np.concatenate([r[:-1] for p in polys for r in p])
    res = [C.adaptive_cover_res(*_bbox(p), max_cover_cells, 12) for p in polys]
    borders = []
    for r in sorted(set(res)):
        w, h = 360.0 / (1 << r), 180.0 / (1 << r)
        ix, iy = C.lonlat_to_ixiy(verts[:, 0], verts[:, 1], r)
        borders.append(np.column_stack([-180.0 + ix * w, verts[:, 1]]))
        borders.append(np.column_stack([verts[:, 0], -90.0 + iy * h]))
        borders.append(np.column_stack([-180.0 + ix * w, -90.0 + iy * h]))
    hot = polys[0][0][:-1].mean(axis=0) + rng.normal(0, 1e-3, (60, 2))
    spread = rng.uniform(verts.min(axis=0) - 0.5, verts.max(axis=0) + 0.5, (300, 2))
    pts = np.concatenate([verts, *borders, np.repeat(hot[:5], 8, axis=0), hot, spread])
    return polys, pts, max_cover_cells


def _bbox(rings):
    xy = np.concatenate(rings)
    return xy[:, 0].min(), xy[:, 1].min(), xy[:, 0].max(), xy[:, 1].max()


def _frames(spark, polys, pts):
    points = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(len(pts)), "lon": pts[:, 0], "lat": pts[:, 1]}),
        _POINTS,
    )
    polygons = spark.createDataFrame(
        pd.DataFrame(
            {"polygon_id": np.arange(len(polys)) + 1, "wkb": [multipolygon_wkb([p]) for p in polys]}
        ),
        _POLYS,
    )
    return points, polygons


def _pairs(df):
    rows = [(r["point_id"], r["polygon_id"]) for r in df.collect()]
    assert len(rows) == len(set(rows)), "duplicate (point, polygon) rows"
    return set(rows)


@settings(max_examples=60, deadline=None)
@given(_layers())
def test_pip_kernel_matches_oracle(layer):
    """The kernel over the driver-built index gives the nested-loop
    oracle's pairs whatever the ray-cast block bound — down to one pair,
    so every point's edges split across blocks."""
    polys, pts, max_cover_cells = layer
    want = set(nested_loop_pip_oracle(pts, polys))
    index = _pip_index([multipolygon_wkb([p]) for p in polys], max_cover_cells, 12, None)
    for max_pairs in (1, 3, 7, _MAX_PAIRS):
        rows, pos = _pip_contains(index, pts[:, 0], pts[:, 1], max_pairs=max_pairs)
        assert set(zip(rows.tolist(), pos.tolist())) == want


# each example runs two Spark joins: no shrinking (the kernel test above
# shrinks a kernel failure cheaply)
@settings(max_examples=8, deadline=None, phases=[Phase.explicit, Phase.reuse, Phase.generate])
@given(_layers())
def test_broadcast_index_join_matches_shuffle_join_and_oracle(spark, layer):
    """Same pairs as the shuffle phase, the salted shuffle phase and the
    nested-loop oracle."""
    polys, pts, max_cover_cells = layer
    points, polygons = _frames(spark, polys, pts)
    kw = dict(point_cols=["point_id"], max_cover_cells=max_cover_cells)
    want = {(i, j + 1) for i, j in nested_loop_pip_oracle(pts, polys)}
    assert _pairs(point_in_polygon_join(points, polygons, **kw)) == want
    assert _pairs(point_in_polygon_join(points, polygons, broadcast_polygons=False, **kw)) == want
    salted = dict(broadcast_polygons=False, salt_factor=4, hot_cell_threshold=8)
    assert _pairs(point_in_polygon_join(points, polygons, **salted, **kw)) == want


def _rect(x0, y0, x1, y1):
    return [np.array([[x0, y0], [x0, y1], [x1, y1], [x1, y0], [x0, y0]], dtype=float)]


def _grid_points(n, lo, hi, seed):
    return np.random.default_rng(seed).uniform(lo, hi, (n, 2))


def test_broadcast_index_join_pre_indexed_fixed_res(spark):
    """``pre_indexed=True`` looks each row's own ``cell_id`` up: the rows
    equal the join that computes the cells, and the oracle."""
    polys = [_rect(0.0, 0.0, 3.0, 2.0) + _rect(1.0, 0.5, 1.5, 1.0), _rect(2.5, 1.5, 6.0, 4.0)]
    pts = _grid_points(1500, -1.0, 7.0, 3)
    points, polygons = _frames(spark, polys, pts)
    want = {(i, j + 1) for i, j in nested_loop_pip_oracle(pts, polys)}
    kw = dict(point_cols=["point_id", "lon", "lat"], fixed_res=7)
    indexed = with_cells(points, [7])
    got = point_in_polygon_join(indexed, polygons, pre_indexed=True, **kw)
    assert got.columns == ["point_id", "lon", "lat", "polygon_id"]
    assert _pairs(got) == want == _pairs(point_in_polygon_join(points, polygons, **kw))
    with pytest.raises(ValueError, match="pre_indexed"):
        point_in_polygon_join(points, polygons, pre_indexed=True, **kw)


def test_broadcast_index_join_string_key_carries_polygon_columns(spark):
    """A string ``polygon_key``, and ``polygon_cols`` carrying the wkb and
    an attribute: every value comes back exact, with the polygon side's
    types."""
    polys = [_rect(0.0, 0.0, 3.0, 2.0) + _rect(1.0, 0.5, 1.5, 1.0), _rect(2.5, 1.5, 6.0, 4.0)]
    blobs = [multipolygon_wkb([p]) for p in polys]
    names, areas = ["alpha", "beta"], [5.75, 8.75]
    polygons = spark.createDataFrame(
        pd.DataFrame({"name": names, "wkb": blobs, "area": areas}),
        "name string, wkb binary, area double",
    )
    pts = _grid_points(1000, -1.0, 7.0, 4)
    points, _ = _frames(spark, polys, pts)
    out = point_in_polygon_join(
        points, polygons, point_cols=["point_id"], polygon_key="name",
        polygon_cols=["name", "wkb", "area"],
    )
    assert out.schema.simpleString() == (
        "struct<point_id:bigint,name:string,wkb:binary,area:double>"
    )
    got = {(r["point_id"], r["name"], bytes(r["wkb"]), r["area"]) for r in out.collect()}
    want = {
        (i, names[j], blobs[j], areas[j]) for i, j in nested_loop_pip_oracle(pts, polys)
    }
    assert got == want and len(want) > 100


def _circle(cx, cy, r, n):
    t = np.linspace(0.0, 2 * np.pi, n, endpoint=False)[::-1]
    ring = np.column_stack([cx + r * np.cos(t), cy + r * np.sin(t)])
    return [np.vstack([ring, ring[:1]])]


def test_broadcast_index_join_ray_cast_spans_blocks(spark):
    """A 3000-edge polygon with points crowding its boundary: the
    candidate × edge count is many ray-cast blocks, and the rows still
    equal the oracle's.  At the kernel level, a block bound smaller than
    one polygon's edge count (each point's edges split across blocks)
    gives the same pairs as the default bound."""
    poly = _circle(10.0, 10.0, 2.0, 3000)
    rng = np.random.default_rng(6)
    t = rng.uniform(0, 2 * np.pi, 400)
    rad = 2.0 + rng.normal(0, 0.01, 400)
    pts = np.column_stack([10.0 + rad * np.cos(t), 10.0 + rad * np.sin(t)])
    points, polygons = _frames(spark, [poly], pts)
    index = _pip_index([multipolygon_wkb([poly])], 256, 12, None)
    (level,) = index["levels"]
    probe = C.cell_id(pts[:, 0], pts[:, 1], level)
    at = np.searchsorted(index["cells"], probe)
    assert np.array_equal(index["cells"][at], probe)
    boundary = ~index["full"][index["cell_offs"][at]]
    assert boundary.sum() * 3000 > 4 * _MAX_PAIRS
    rows, pos = _pip_contains(index, pts[:, 0], pts[:, 1])
    want = {(i, j + 1) for i, j in nested_loop_pip_oracle(pts, [poly])}
    assert 50 < len(want) < len(pts)
    assert _pairs(point_in_polygon_join(points, polygons, point_cols=["point_id"])) == want
    small = _pip_contains(index, pts[:, 0], pts[:, 1], max_pairs=1000)
    assert set(zip(rows.tolist(), pos.tolist())) == set(zip(*(a.tolist() for a in small)))
    assert {(i, p + 1) for i, p in zip(rows.tolist(), pos.tolist())} == want


@pytest.mark.parametrize(
    "phase",
    [
        dict(broadcast_polygons=None),
        dict(broadcast_polygons=False),
        dict(broadcast_polygons=False, salt_factor=4, hot_cell_threshold=1),
    ],
    ids=["broadcast", "shuffle", "salted"],
)
def test_broadcast_index_join_non_finite_coordinates_contain_nothing(spark, phase):
    """Null, NaN and ±inf coordinates are contained in no polygon — even
    one that covers the whole grid with interior cells, where a clamped
    cell id would otherwise pass the interior-cell bypass — on every
    phase of the join."""
    polygons = spark.createDataFrame(
        pd.DataFrame({"polygon_id": [1], "wkb": [multipolygon_wkb([_rect(-200, -100, 200, 100)])]}),
        _POLYS,
    )
    bad = [None, float("nan"), float("inf"), float("-inf")]
    rows = [(i, lon, lat) for i, (lon, lat) in enumerate(
        [(b, 0.0) for b in bad] + [(0.0, b) for b in bad] + [(5.0, 5.0), (179.9, 89.9)]
    )]
    points = spark.createDataFrame(rows, _POINTS)
    out = point_in_polygon_join(points, polygons, point_cols=["point_id"], fixed_res=3, **phase)
    assert _pairs(out) == {(8, 1), (9, 1)}


@st.composite
def _snapped_stars(draw):
    """A zoom level and star polygons (some with holes) whose vertices are
    snapped to that level's tile centers: tile centers fall on vertices,
    and on the axis-parallel and diagonal edges between them."""
    z = draw(st.integers(2, 5))
    n = 1 << z
    polys = []
    for _ in range(draw(st.integers(1, 3))):
        k = draw(st.integers(3, 9))
        t = np.sort(np.array(draw(st.lists(st.floats(0.0, 6.28), min_size=k, max_size=k, unique=True))))
        rad = np.array(draw(st.lists(st.floats(0.3, 1.0), min_size=k, max_size=k)))
        star = _star(
            draw(st.floats(-150.0, 150.0)),
            draw(st.floats(-70.0, 70.0)),
            draw(st.sampled_from([5.0, 20.0, 60.0])),
            t,
            rad,
            draw(st.booleans()),
        )
        snapped = []
        for ring in star:
            ix, iy = _tile_of(ring[:, 0], ring[:, 1], n)
            snapped.append(np.column_stack(_center_of(ix, iy, n)))
        polys.append(snapped)
    return z, polys


def _tile_of(lon, lat, n):
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((90.0 - lat) / 180.0 * n), 0, n - 1).astype(np.int64)
    return ix, iy


def _center_of(ix, iy, n):
    return (ix + 0.5) / n * 360.0 - 180.0, 90.0 - (iy + 0.5) / n * 180.0


@settings(max_examples=80, deadline=None)
@given(_snapped_stars())
def test_tile_center_rule_matches_oracle(case):
    """The center rule's tiles are exactly the grid tiles whose center the
    reference ray-cast (:func:`points_in_rings`, over every tile center of
    the grid) puts inside each polygon."""
    z, polys = case
    n = 1 << z
    ix, iy = (a.ravel() for a in np.meshgrid(np.arange(n), np.arange(n), indexing="ij"))
    cx, cy = _center_of(ix, iy, n)
    want = set()
    for j, rings in enumerate(polys):
        inside = points_in_rings(cx, cy, rings)
        want |= {(j + 1, int(x), int(y)) for x, y in zip(ix[inside], iy[inside])}
    pdf = pd.DataFrame(
        {"polygon_id": np.arange(len(polys)) + 1, "wkb": [multipolygon_wkb([p]) for p in polys]}
    )
    got = _tile_batch(pdf, z, "wkb", ["polygon_id"], center_rule=True)
    assert (got["tile_z"] == z).all()
    rows = list(zip(got["polygon_id"].tolist(), got["tile_x"].tolist(), got["tile_y"].tolist()))
    assert len(rows) == len(set(rows)) and set(rows) == want


def test_tiles_skip_null_and_empty_polygon_rows(spark):
    """A polygon row with a null wkb or with no vertex gets no tile, with
    and without the center rule; the good row keeps its tiles (z6: its
    bbox spans tiles x 32-33, y 28-32, and the y=32 centers lie at
    lat -1.40625, outside it)."""
    polygons = spark.createDataFrame(
        pd.DataFrame(
            {
                "polygon_id": [1, 2, 3],
                "wkb": [
                    multipolygon_wkb([_rect(0.0, 0.0, 10.0, 10.0)]),
                    None,
                    multipolygon_wkb([[np.empty((0, 2))]]),
                ],
            }
        ),
        _POLYS,
    )
    bbox = {(1, 6, x, y) for x in (32, 33) for y in range(28, 33)}
    centers = {r for r in bbox if r[3] < 32}
    for got, want in (
        (tile_polygon_assignment(polygons, 6, center_rule=False), bbox),
        (tile_polygon_assignment(polygons, 6), centers),
    ):
        rows = [tuple(r) for r in got.collect()]
        assert len(rows) == len(set(rows)) and set(rows) == want
