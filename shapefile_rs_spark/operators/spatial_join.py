"""Point-in-polygon spatial join — the engine's flagship operator (J1).

Replaces the reference's O(N·M) nested loop
(examples/geotype-example/src/main.rs:15-36) with the standard scalable
spatial-join decomposition:

1. **cover**: every polygon → its covering cells (adaptive resolution so the
   covering stays ≤ ``max_cover_cells``), CLASSIFIED by one batched
   segment-vs-rect SAT + center ray-cast over all polygons of a batch
   (:func:`..cells.classify_cover_batch`): cells outside the polygon are
   dropped (bbox false positives no longer scale with polygon size),
   fully-INTERIOR cells are flagged so their candidates skip the ray-cast
   entirely, and only BOUNDARY cells refine;
2. **broadcast path** (polygons ≤ :data:`..local.DRIVER_ROWS`, the common
   case: polygons ≪ points): the polygon side is evaluated ONCE — one
   driver ``collect()`` that is also the size probe — into a polygon index
   (:func:`_pip_index`: sorted covering cells with their polygons and
   interior flags, every polygon's edges, the covering's levels) broadcast
   once.  One scalar Arrow UDF per point batch (:func:`_pip_udf`) takes
   only ``(lon, lat)`` to Python, computes the points' cells at each level,
   looks them up, passes interior-cell hits and ray-casts boundary-cell
   hits (:func:`_ray_cast`), and returns each point's containing polygon
   positions; an ``explode`` and one broadcast hash join to the polygon
   attributes finish the join;
3. **shuffle path** (larger polygon sides): every point → its cell at each
   covering resolution level in ONE scan (:func:`with_cells`), a
   **cell-equi join** on (res, cell_id) to the distributed
   :func:`polygon_covering` — shuffled hash/SMJ chosen by Catalyst+AQE,
   with optional explicit hot-cell salting — then a join to the polygon
   geometry;
4. **refine** (shuffle path, :func:`pip_refine_full`): per Arrow batch,
   the boundary-cell candidates' distinct polygon blobs become one edge
   index (:func:`_edge_index`) and the whole batch is ONE
   :func:`_ray_cast` call — ring semantics per
   src/record/polygon.rs:606-640 + src/record/mod.rs:133-145.
   Interior-cell candidates bypass it: their wkb is nulled (no blob bytes
   cross Arrow) and they pass unexamined.

:func:`_ray_cast` (vectorized over (point, edge) pairs in bounded blocks,
no per-row Python) is the engine's only even-odd test, so both phases —
and :func:`..tiles.tile_polygon_assignment`'s center rule — give the same
rows; on both phases a point with a null or non-finite coordinate is
contained in nothing (:func:`_finite`).

Scale notes (100 TB story): the point side is never shuffled in the
broadcast path — one map-side kernel per batch over the scan, then a
broadcast hash join, so cost is one scan of the pages table.  In the
shuffle path both sides partition by (res, cell_id); hot cells (dense
urban clusters) are salted: point rows get a per-row salt, covering rows
are replicated ``salt_factor`` times — bounding any single reducer at
1/salt_factor of the hot cell.  AQE skew-join stays on as backstop.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .. import cells as C
from .. import local

_COVER_EXTRA = [
    StructField("cell_id", LongType()),
    StructField("cell_res", IntegerType()),
    StructField("cell_full", BooleanType()),
]


def _wkb_polygons(blobs: Sequence) -> Tuple[List[int], List]:
    """``(blob index, rings)`` of every polygon WKB blob with at least one
    vertex; a null blob is skipped."""
    from ..geom.wkb import wkb_rings

    idx, polys = [], []
    for i, blob in enumerate(blobs):
        if blob is not None:
            rings = wkb_rings(bytes(blob))
            if any(len(r) for r in rings):
                idx.append(i)
                polys.append(rings)
    return idx, polys


def _polygon_bboxes(polys: List) -> Tuple[np.ndarray, ...]:
    """``(xmin, ymin, xmax, ymax)`` arrays of parsed polygons ``polys``
    (:func:`_wkb_polygons`), each over every ring, degenerate ones
    included."""
    n_vert = np.array([sum(len(r) for r in rings) for rings in polys], dtype=np.int64)
    xy = np.concatenate([r for rings in polys for r in rings] or [np.empty((0, 2))])
    start = np.cumsum(n_vert) - n_vert
    lo, hi = np.minimum.reduceat, np.maximum.reduceat
    return lo(xy[:, 0], start), lo(xy[:, 1], start), hi(xy[:, 0], start), hi(xy[:, 1], start)


def _edge_index(idx: Sequence[int], polys: List, n: int) -> dict:
    """The ring edges :func:`_ray_cast` reads: ``x1, y1, x2, y2`` of every
    parsed polygon ``polys[j]`` at position ``idx[j]`` of ``n``, CSR by
    position (``edge_offs``; a position with no polygon has no edge).
    Rings of fewer than 2 points are skipped, as
    :func:`..geom.pip.points_in_rings` skips them."""
    rings = [(i, r) for i, p in zip(idx, polys) for r in p if len(r) >= 2]
    n_edge = np.zeros(n, dtype=np.int64)
    np.add.at(n_edge, np.array([i for i, _ in rings], dtype=np.int64), [len(r) - 1 for _, r in rings])
    edges = (
        np.concatenate([np.hstack([r[:-1], r[1:]]) for _, r in rings])
        if rings
        else np.empty((0, 4))
    ).astype(np.float64)
    return {
        "edge_offs": np.concatenate([[0], np.cumsum(n_edge)]),
        **{k: np.ascontiguousarray(edges[:, j]) for j, k in enumerate(("x1", "y1", "x2", "y2"))},
    }


def _finite(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Points a polygon may contain: a null (NaN once in numpy), NaN or
    ±inf coordinate is contained in nothing."""
    return np.isfinite(lon) & np.isfinite(lat)


def _cover_polygons(
    idx: List[int], polys: List, max_cover_cells: int, max_res: int, fixed_res: Optional[int]
) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Parsed polygons ``polys`` (:func:`_wkb_polygons`, blob indices
    ``idx``) → ``(blob index, cell_id, cell_res, cell_full)``, one row per
    classified covering cell, every polygon in one
    :func:`..cells.classify_cover_batch` pass.  Each polygon is covered at
    ``fixed_res``, or else at the finest resolution whose bbox covering
    stays ≤ ``max_cover_cells``.
    """
    if not polys:
        return (
            np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int32), np.empty(0, bool)
        )
    if fixed_res is not None:
        res = np.full(len(polys), fixed_res, dtype=np.int64)
    else:
        res = C.adaptive_cover_res(*_polygon_bboxes(polys), max_cover_cells, max_res)
    p, cells, full = C.classify_cover_batch(polys, res)
    return np.asarray(idx, dtype=np.int64)[p], cells, res[p].astype(np.int32), full


def polygon_covering(
    polygons: DataFrame,
    wkb_col: str = "wkb",
    id_cols: Optional[List[str]] = None,
    max_cover_cells: int = 256,
    max_res: int = 12,
    fixed_res: Optional[int] = None,
) -> DataFrame:
    """polygons → (id_cols..., cell_id, cell_res, cell_full): one row per
    covering cell, CLASSIFIED (X1 as SURVEYed): cells outside the polygon
    are dropped at the source; ``cell_full`` marks cells entirely in the
    interior — their candidates skip the ray-cast refine.  Rows with a null
    ``wkb_col`` cover nothing.

    Per-polygon adaptive resolution (finest res whose bbox covering is ≤
    ``max_cover_cells``) keeps giant polygons from exploding while small
    polygons stay selective.  Each Arrow batch is one batched kernel call
    (the same covering kernel the broadcast join's :func:`_pip_index` runs
    on the driver).
    """
    id_cols = id_cols or [c for c in polygons.columns if c != wkb_col]
    out_schema = StructType(
        [polygons.schema[c] for c in id_cols] + _COVER_EXTRA
    )

    def cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in out_schema.fields]
        for pdf in batches:
            i, cells, res, full = _cover_polygons(
                *_wkb_polygons(pdf[wkb_col]), max_cover_cells, max_res, fixed_res
            )
            out = {c: pdf[c].to_numpy()[i] for c in id_cols}
            out.update(cell_id=cells, cell_res=res, cell_full=full)
            yield pd.DataFrame(out, columns=cols)

    return polygons.mapInPandas(cover, schema=out_schema)


def with_cells(
    points: DataFrame,
    res_levels: List[int],
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """points → + (cell_res, cell_id), one row per (point, level) over the
    resolution levels present in the covering (multi-res equi-join trick).

    Cell ids are computed with pure Catalyst bit arithmetic
    (:func:`shapefile_rs_spark.cells.with_cell_ids`, the two-projection
    form of :func:`..cells.cell_id_col`) — on the join's shuffle path (and
    for pre-indexed cell stages) the point side never leaves whole-stage
    codegen, and the points are scanned ONCE whatever the number of
    levels.  Several levels are one projection of every level's
    id, then an ``explode`` of their array; ``cell_res`` is the id's
    resolution bits (``cell_id >> 58``), so no CASE over the generator
    output is needed (a CASE there knocks the stage out of codegen,
    measured 20× slower).  The ids are projected BEFORE the explode on
    purpose: the inline cell expression repeats its input 32× inside its
    bit-spreading steps, and ``Generate`` does not de-duplicate those
    repeats — exploding the inline expressions measured ~5× slower.
    :func:`..cells.with_cell_ids` goes further and splits the spreading
    steps over two projections, so no plan carries the 32× expression at
    all: less driver time to analyze, optimize and compile every query
    built on the index, and less of it still warming up in a session's
    first queries.
    No level at all (an empty covering) gives an empty frame with the
    same columns."""
    levels = sorted(set(int(r) for r in res_levels))
    if len(levels) == 1:
        return C.with_cell_ids(
            points.withColumn("cell_res", F.lit(levels[0])), lon_col, lat_col, {"cell_id": levels[0]}
        )
    if not levels:
        return points.select(
            "*",
            F.lit(None).cast("int").alias("cell_res"),
            F.lit(None).cast("long").alias("cell_id"),
        ).where(F.lit(False))
    tmp = [f"_cell_{r}" for r in levels]
    ids = C.with_cell_ids(points, lon_col, lat_col, dict(zip(tmp, levels)))
    quoted = [C.quote_ident(c) for c in points.columns if c not in ("cell_res", "cell_id")]
    out = ids.select(*quoted, F.explode(F.array(*tmp)).alias("cell_id"))
    return out.select(*quoted, C.cell_res_col(F.col("cell_id")).alias("cell_res"), "cell_id")


@F.pandas_udf(StructType([StructField("ix", LongType()), StructField("iy", LongType())]))
def cell_ixiy(cell: pd.Series) -> pd.DataFrame:
    """cell_id → (ix, iy) grid coordinates (vectorized Morton decode)."""
    _, ix, iy = C.decode_cell(cell.to_numpy(dtype=np.int64))
    return pd.DataFrame({"ix": ix, "iy": iy})


# (point, edge) pairs one ray-cast block evaluates at most (the
# classify_cover_batch bound): temporaries stay a few MB whatever the
# polygon size
_MAX_PAIRS = 1 << 16


def _pip_index(
    blobs: Sequence, max_cover_cells: int, max_res: int, fixed_res: Optional[int]
) -> dict:
    """The broadcast join's polygon index over polygon rows ``blobs`` (a
    null blob contains nothing), keyed by row position:

    * ``cells`` — the covering's cell ids, sorted and de-duplicated, with
      CSR offsets ``cell_offs`` into ``pos`` (int32 row position) and
      ``full`` (the cell is interior to that polygon);
    * the edge index (:func:`_edge_index`) of every row;
    * ``levels`` — the covering's resolutions.
    """
    idx, polys = _wkb_polygons(blobs)
    pos, cells, res, full = _cover_polygons(idx, polys, max_cover_cells, max_res, fixed_res)
    order = np.argsort(cells, kind="stable")
    uniq, first = np.unique(cells[order], return_index=True)
    return {
        "cells": uniq,
        "cell_offs": np.append(first, len(cells)),
        "pos": pos[order].astype(np.int32),
        "full": full[order],
        **_edge_index(idx, polys, len(blobs)),
        "levels": np.unique(res).tolist(),
    }


def _ray_cast(
    edges: dict, px: np.ndarray, py: np.ndarray, poly: np.ndarray, max_pairs: int = _MAX_PAIRS
) -> np.ndarray:
    """Even-odd test of point ``i`` against the edges of polygon
    ``poly[i]`` of the edge index ``edges`` (:func:`_edge_index`), over
    (point, edge) pairs with :func:`..geom.pip.crossings_matrix`'s operand
    order, so bit-identical to it.  The engine's one containment test:
    the broadcast kernel, :func:`pip_refine_full` and the tile center
    rule all call it.  Pairs are generated about ``max_pairs`` at a time
    (:func:`..cells.pair_blocks`): a point whose polygon has more edges
    is split along them."""
    e0 = edges["edge_offs"][poly]
    x1, y1, x2, y2 = edges["x1"], edges["y1"], edges["x2"], edges["y2"]
    crossings = np.zeros(len(px), dtype=np.int64)
    for i, k in C.pair_blocks(edges["edge_offs"][poly + 1] - e0, max_pairs):
        lo, hi = i[0], i[-1] + 1
        e = e0[i] + k
        yy = py[i]
        st = np.flatnonzero((y1[e] > yy) != (y2[e] > yy))
        i, e, yy = i[st], e[st], yy[st]
        xint = (x2[e] - x1[e]) * (yy - y1[e]) / (y2[e] - y1[e]) + x1[e]
        crossings[lo:hi] += np.bincount(i[px[i] < xint] - lo, minlength=hi - lo)
    return crossings % 2 == 1


def _pip_contains(
    index: dict,
    lon: np.ndarray,
    lat: np.ndarray,
    cell: Optional[np.ndarray] = None,
    max_pairs: int = _MAX_PAIRS,
) -> Tuple[np.ndarray, np.ndarray]:
    """``(row, position)`` of every (point, polygon of ``index``) pair
    where the polygon contains the point.  A point is looked up at each of
    the covering's levels (or at its own ``cell`` id when given; a
    negative id finds nothing); a hit in a FULL cell is contained with no
    ray-cast, a hit in a boundary cell is ray-cast (:func:`_ray_cast`).  A
    non-finite point is contained in nothing (:func:`_finite`)."""
    ok = _finite(lon, lat)
    if cell is not None:
        ok &= cell >= 0
    rows = np.flatnonzero(ok)
    cells = index["cells"]
    if not len(rows) or not len(cells):
        return np.empty(0, np.int64), np.empty(0, np.int32)
    if cell is None:
        probe = np.concatenate([C.cell_id(lon[rows], lat[rows], r) for r in index["levels"]])
        rows = np.tile(rows, len(index["levels"]))
    else:
        probe = cell[rows]
    at = np.minimum(np.searchsorted(cells, probe), len(cells) - 1)
    hit = cells[at] == probe
    rows, at = rows[hit], at[hit]
    start = index["cell_offs"][at]
    cnt = index["cell_offs"][at + 1] - start
    rows = np.repeat(rows, cnt)
    k = np.repeat(start - (np.cumsum(cnt) - cnt), cnt) + np.arange(int(cnt.sum()))
    pos = index["pos"][k]
    inside = index["full"][k].copy()
    edge = np.flatnonzero(~inside)
    if len(edge):
        r = rows[edge]
        inside[edge] = _ray_cast(index, lon[r], lat[r], pos[edge], max_pairs)
    return rows[inside], pos[inside]


@F.pandas_udf(BooleanType())
def pip_refine_full(
    wkb: pd.Series, lon: pd.Series, lat: pd.Series, full: pd.Series
) -> pd.Series:
    """The shuffle phase's refine: is each candidate row's point inside its
    row's polygon ``wkb``?  A row whose covering cell is fully inside the
    polygon (``full``) is contained with no wkb parse and no ray-cast (the
    caller nulls its wkb, so the blob never crosses Arrow).  The other
    rows' distinct blobs are parsed once into one edge index
    (:func:`_edge_index`) and ray-cast in one :func:`_ray_cast` call per
    batch.  A non-finite point is contained in nothing (:func:`_finite`),
    even in a full cell."""
    lon_v = lon.to_numpy(dtype=np.float64)
    lat_v = lat.to_numpy(dtype=np.float64)
    ok = _finite(lon_v, lat_v)
    full_v = full.to_numpy(dtype=bool)
    out = full_v & ok
    rest = np.flatnonzero(~full_v & ok & wkb.notna().to_numpy())
    if len(rest):
        codes, uniques = pd.factorize(wkb.iloc[rest])
        edges = _edge_index(*_wkb_polygons(uniques), len(uniques))
        out[rest] = _ray_cast(edges, lon_v[rest], lat_v[rest], codes)
    return pd.Series(out)


def _pip_udf(bc):
    """Scalar Arrow UDF over ``(lon, lat[, cell_id])`` → ``array<int>``:
    per point, the positions of the polygons of the broadcast index
    ``bc`` (:func:`_pip_index`) that contain it (:func:`_pip_contains`).
    The list is built from offsets and values, with no per-row Python."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def contained(lon, lat, cell=None):
        n = len(lon)
        rows, pos = _pip_contains(
            bc.value,
            lon.to_numpy(zero_copy_only=False),  # nulls → NaN
            lat.to_numpy(zero_copy_only=False),
            None if cell is None else pc.fill_null(cell, -1).to_numpy(),
        )
        offs = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(np.bincount(rows, minlength=n), out=offs[1:])
        return pa.ListArray.from_arrays(
            pa.array(offs), pa.array(pos[np.argsort(rows, kind="stable")], pa.int32())
        )

    return F.arrow_udf(contained, "array<int>")


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    point_cols: Optional[List[str]] = None,
    polygon_cols: Optional[List[str]] = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
    wkb_col: str = "wkb",
    polygon_key: str = "polygon_id",
    max_cover_cells: int = 256,
    max_res: int = 12,
    fixed_res: Optional[int] = None,
    broadcast_polygons: Optional[bool] = None,
    salt_factor: int = 0,
    hot_cell_threshold: int = 100_000,
    pre_indexed: bool = False,
    census_sample: Optional[float] = None,
) -> DataFrame:
    """Emit one row per (point, containing polygon) — the Q1 join.

    ``broadcast_polygons=None`` auto-selects: one
    :func:`..local.collect_upto` of the polygon side is both the size
    probe and the fetch; up to :data:`..local.DRIVER_ROWS` rows take the
    broadcast phase, more take the shuffle phase — the explicit two-phase
    broadcast/sort-merge selection the north_star demands.

    In the broadcast phase (also ``broadcast_polygons=True``, which
    collects the whole side) the polygon side is evaluated exactly once:
    the driver builds a polygon index from the collected rows
    (:func:`_pip_index`: sorted covering cells, interior flags, every
    polygon's edges) and broadcasts it once.  One scalar Arrow UDF per
    point batch (:func:`_pip_udf`) takes only ``(lon, lat)`` across to
    Python, looks the points' cells up, passes interior-cell hits, ray-casts
    boundary-cell hits and returns each point's containing polygon
    positions; an ``explode`` of those and one broadcast hash join to a
    local relation ``(_ppos, polygon_key, *polygon_cols)``
    (:func:`..local.local_frame` with the polygon side's schema, so key
    and attribute values stay exact) finish the join.  Every other point column stays in the JVM, and the
    point side is never shuffled.  The index broadcast lives as long as
    the returned frame (it is not unpersisted).  A polygon row whose
    ``polygon_key`` is null joins nothing, as on the shuffle path.

    The shuffle phase (``broadcast_polygons=False``, or more rows than
    :data:`..local.DRIVER_ROWS`) joins :func:`with_cells` points to the
    :func:`polygon_covering` on (cell_res, cell_id) and refines with
    :func:`pip_refine_full`.  The covering is a lazy ``localCheckpoint``
    (the resolution probe and the join both read it): its blocks are
    freed when the returned frame becomes unreachable, and a lost block
    fails the join instead of recomputing.  ``salt_factor>0`` activates
    explicit hot-cell salting there: point rows in hot cells get
    ``pmod(hash, salt_factor)`` appended to the key; covering rows for
    hot cells are replicated across all salts.

    A polygon row whose ``wkb_col`` is null (``read_shapefiles(...,
    on_invalid="null")``, strip/fan multipatch) contains no point: it gets
    no covering cells and joins nothing, on both paths.  An empty polygon
    side gives an empty frame with the join's output columns.  A point
    whose ``lon`` or ``lat`` is null or non-finite is contained in no
    polygon, on both phases.

    ``pre_indexed=True`` declares that ``points`` already carries
    ``cell_res``/``cell_id`` at every covering resolution (use with
    ``fixed_res`` so the levels are known up front) — lets a checkpointed
    cell-index stage feed the join without recomputing cells; the
    broadcast phase then looks up each row's ``cell_id``.
    """
    point_cols = point_cols or [c for c in points.columns]
    polygon_cols = polygon_cols or [polygon_key]
    spark = points.sparkSession
    poly_geo = polygons.select(*dict.fromkeys([polygon_key, *polygon_cols, wkb_col]))
    if pre_indexed and ("cell_id" not in points.columns or "cell_res" not in points.columns):
        raise ValueError("pre_indexed points need cell_id/cell_res columns")
    point_keep = [c for c in point_cols if c not in ("cell_id", "cell_res", "cell_full")]
    keep = list(dict.fromkeys(point_keep + [c for c in polygon_cols if c not in point_cols]))

    if broadcast_polygons is not False:
        if broadcast_polygons is None:
            rows = local.collect_upto(poly_geo)
            broadcast_polygons = rows is not None
        else:
            rows = poly_geo.collect()

    if broadcast_polygons:
        attr_cols = list(dict.fromkeys([polygon_key, *polygon_cols]))
        index = _pip_index(
            [r[wkb_col] if r[polygon_key] is not None else None for r in rows],
            max_cover_cells,
            max_res,
            fixed_res,
        )
        attrs = local.local_frame(
            spark,
            {
                "_ppos": np.arange(len(rows)),
                **{c: [r[c] for r in rows] for c in attr_cols},
            },
            StructType(
                [StructField("_ppos", IntegerType())] + [poly_geo.schema[c] for c in attr_cols]
            ),
        )
        contained = _pip_udf(spark.sparkContext.broadcast(index))
        coords = [F.col(lon_col).cast("double"), F.col(lat_col).cast("double")]
        if pre_indexed:
            coords.append(F.col("cell_id").cast("long"))
        pts = points.select(
            *dict.fromkeys(point_keep),
            F.explode(contained(*coords)).alias("_ppos"),
        )
        return pts.join(F.broadcast(attrs), on="_ppos").select(*keep)

    covering = polygon_covering(
        polygons,
        wkb_col=wkb_col,
        id_cols=[polygon_key],
        max_cover_cells=max_cover_cells,
        max_res=max_res,
        fixed_res=fixed_res,
    ).localCheckpoint(eager=False)
    if fixed_res is not None:
        res_levels = [fixed_res]
    else:
        res_levels = [
            r["cell_res"] for r in covering.select("cell_res").distinct().collect()
        ]

    if pre_indexed:
        pts = points
    else:
        pts = with_cells(points, res_levels, lon_col=lon_col, lat_col=lat_col)

    if salt_factor > 1:
        # explicit hot-cell salting (W1): census point cells, salt the hot
        # ones.  ``census_sample`` makes hot-cell DETECTION a cheap sampled
        # pass (threshold scaled by the fraction) — at 100 TB a full census
        # is an extra all-rows shuffle just to find the handful of hot
        # cells; which cells are salted affects only physical distribution,
        # never the join's output rows.
        # fraction= by keyword: given positionally, PySpark reads the seed
        # from the second positional slot, ignores seed= and draws a random
        # one, so the salted cells would change from run to run
        census_src = (
            pts if census_sample is None else pts.sample(fraction=census_sample, seed=7)
        )
        eff_threshold = (
            hot_cell_threshold
            if census_sample is None
            else max(1, int(hot_cell_threshold * census_sample))
        )
        hot = (
            census_src.groupBy("cell_res", "cell_id")
            .count()
            .filter(F.col("count") >= eff_threshold)
            .select("cell_res", "cell_id", F.lit(True).alias("_hot"))
        )
        pts_s = (
            pts.join(F.broadcast(hot), ["cell_res", "cell_id"], "left")
            .withColumn(
                "_salt",
                F.when(
                    F.col("_hot"),
                    F.pmod(F.xxhash64(F.col(lon_col), F.col(lat_col)), F.lit(salt_factor)),
                ).otherwise(F.lit(0)),
            )
            .drop("_hot")
        )
        cov_s = (
            covering.join(F.broadcast(hot), ["cell_res", "cell_id"], "left")
            .withColumn(
                "_salt",
                F.explode(
                    F.when(
                        F.col("_hot"),
                        F.sequence(F.lit(0), F.lit(salt_factor - 1)),
                    ).otherwise(F.array(F.lit(0)))
                ),
            )
            .drop("_hot")
        )
        candidates = pts_s.join(cov_s, on=["cell_res", "cell_id", "_salt"], how="inner").drop("_salt")
    else:
        candidates = pts.join(covering, on=["cell_res", "cell_id"], how="inner")

    joined = candidates.join(poly_geo, on=polygon_key, how="inner")
    # interior-cell bypass: candidates in a fully-interior cell are contained
    # by construction — feed the refine UDF a TEMP wkb nulled for such rows
    # (the blob never crosses Arrow) so pip_refine_full passes them through;
    # only boundary-cell rows ray-cast.  The user-visible wkb column (when
    # carried via polygon_cols) stays untouched.
    joined = joined.withColumn(
        "_refine_wkb", F.when(F.col("cell_full"), F.lit(None)).otherwise(F.col(wkb_col))
    )
    refined = joined.filter(
        pip_refine_full(
            F.col("_refine_wkb"), F.col(lon_col), F.col(lat_col), F.col("cell_full")
        )
    )
    return refined.select(*keep)
