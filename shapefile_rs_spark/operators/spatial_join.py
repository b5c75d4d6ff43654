"""Point-in-polygon spatial join — the engine's flagship operator (J1).

Replaces the reference's O(N·M) nested loop
(examples/geotype-example/src/main.rs:15-36) with the standard scalable
spatial-join decomposition:

1. **cover**: every polygon → its covering cells (adaptive resolution so the
   covering stays ≤ ``max_cover_cells``), CLASSIFIED by one batched
   segment-vs-rect SAT + center ray-cast over all polygons of a batch
   (:func:`..cells.classify_cover_batch`): cells outside the polygon are
   dropped (bbox false positives no longer scale with polygon size),
   fully-INTERIOR cells are flagged so their candidates skip the refine UDF
   entirely, and only BOUNDARY cells refine.  In the broadcast path the
   polygon side is evaluated ONCE — one driver ``collect()`` that is also
   the size probe — and both broadcast relations (covering and polygon
   geometry) are built from those rows;
2. **index**: every point → its cell at each covering resolution level (≤3
   levels in practice) in ONE scan: the per-level cell ids are projected
   first, then exploded, and ``cell_res`` is read back from the id's
   resolution bits (:func:`with_cells`);
3. **cell-equi join** on (res, cell_id) — broadcast when the covering side is
   small (the common case: polygons ≪ points), shuffled hash/SMJ chosen by
   Catalyst+AQE otherwise, with optional explicit hot-cell salting;
4. **refine**: vectorized even-odd ray-cast per Arrow batch, grouped by
   polygon inside the batch (no per-row Python) — ring semantics per
   src/record/polygon.rs:606-640 + src/record/mod.rs:133-145.  Interior-
   cell candidates bypass it: their wkb is nulled (no blob bytes cross
   Arrow) and :func:`pip_refine_full` passes them through unexamined.

Scale notes (100 TB story): the point side is never shuffled in the
broadcast path — cells are computed map-side and the join is a broadcast
hash join, so cost is one scan of the pages table.  In the shuffle path both
sides partition by (res, cell_id); hot cells (dense urban clusters) are
salted: point rows get a per-row salt, covering rows are replicated
``salt_factor`` times — bounding any single reducer at 1/salt_factor of the
hot cell.  AQE skew-join stays on as backstop.
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

_COVER_EXTRA = [
    StructField("cell_id", LongType()),
    StructField("cell_res", IntegerType()),
    StructField("cell_full", BooleanType()),
]


def _cover_blobs(
    blobs: Sequence, max_cover_cells: int, max_res: int, fixed_res: Optional[int]
) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Polygon WKB blobs → ``(blob index, cell_id, cell_res, cell_full)``,
    one row per classified covering cell, every polygon in one
    :func:`..cells.classify_cover_batch` pass.  Each polygon is covered at
    ``fixed_res``, or else at the finest resolution whose bbox covering
    stays ≤ ``max_cover_cells``.  A null blob, or one without vertices,
    covers nothing.
    """
    from ..geom.wkb import wkb_rings

    idx, polys = [], []
    for i, blob in enumerate(blobs):
        if blob is not None:
            rings = wkb_rings(bytes(blob))
            if any(len(r) for r in rings):
                idx.append(i)
                polys.append(rings)
    if not polys:
        return (
            np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int32), np.empty(0, bool)
        )
    if fixed_res is not None:
        res = np.full(len(polys), fixed_res, dtype=np.int64)
    else:
        # bbox over every ring, degenerate ones included
        n_vert = np.array([sum(len(r) for r in rings) for rings in polys])
        xy = np.concatenate([r for rings in polys for r in rings])
        start = np.cumsum(n_vert) - n_vert
        res = C.adaptive_cover_res(
            np.minimum.reduceat(xy[:, 0], start),
            np.minimum.reduceat(xy[:, 1], start),
            np.maximum.reduceat(xy[:, 0], start),
            np.maximum.reduceat(xy[:, 1], start),
            max_cover_cells,
            max_res,
        )
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
    (the same :func:`_cover_blobs` the broadcast join runs on the driver).
    """
    id_cols = id_cols or [c for c in polygons.columns if c != wkb_col]
    out_schema = StructType(
        [polygons.schema[c] for c in id_cols] + _COVER_EXTRA
    )

    def cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in out_schema.fields]
        for pdf in batches:
            i, cells, res, full = _cover_blobs(
                pdf[wkb_col], max_cover_cells, max_res, fixed_res
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
    form of :func:`..cells.cell_id_col`) — the point side of the join never
    leaves whole-stage codegen, and the points are scanned ONCE whatever the
    number of levels.  Several levels are one projection of every level's
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
    quoted = [
        "`" + c.replace("`", "``") + "`"
        for c in points.columns
        if c not in ("cell_res", "cell_id")
    ]
    out = ids.select(*quoted, F.explode(F.array(*tmp)).alias("cell_id"))
    return out.select(*quoted, C.cell_res_col(F.col("cell_id")).alias("cell_res"), "cell_id")


@F.pandas_udf(StructType([StructField("ix", LongType()), StructField("iy", LongType())]))
def cell_ixiy(cell: pd.Series) -> pd.DataFrame:
    """cell_id → (ix, iy) grid coordinates (vectorized Morton decode)."""
    _, ix, iy = C.decode_cell(cell.to_numpy(dtype=np.int64))
    return pd.DataFrame({"ix": ix, "iy": iy})


@F.pandas_udf(BooleanType())
def pip_refine(wkb: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Exact even-odd ray-cast, vectorized per distinct polygon per batch.
    Arrow hands binary columns over as ``bytes`` (hashable) — factorize
    groups the batch by polygon so the ray-cast runs once per polygon over
    a contiguous numpy slab, never per row."""
    from ..geom.pip import points_in_rings
    from ..geom.wkb import wkb_rings

    out = np.zeros(len(wkb), dtype=bool)
    if not len(wkb):
        return pd.Series(out)
    lon_v = lon.to_numpy(dtype=np.float64)
    lat_v = lat.to_numpy(dtype=np.float64)
    try:
        codes, uniques = pd.factorize(wkb)
    except TypeError:  # bytearray payloads (non-Arrow fallback path)
        codes, uniques = pd.factorize(wkb.apply(bytes))
    for gi, blob in enumerate(uniques):
        mask = codes == gi
        out[mask] = points_in_rings(lon_v[mask], lat_v[mask], wkb_rings(bytes(blob)))
    return pd.Series(out)


@F.pandas_udf(BooleanType())
def pip_refine_full(
    wkb: pd.Series, lon: pd.Series, lat: pd.Series, full: pd.Series
) -> pd.Series:
    """:func:`pip_refine` with the INTERIOR-cell bypass: rows whose covering
    cell is fully inside the polygon (``full``) are contained by
    construction — they return True with NO wkb parse and NO ray-cast (the
    caller nulls their wkb so the blob bytes never even cross Arrow).  Only
    BOUNDARY-cell rows pay the exact even-odd test."""
    from ..geom.pip import points_in_rings
    from ..geom.wkb import wkb_rings

    full_v = full.to_numpy(dtype=bool)
    out = full_v.copy()
    if not len(wkb) or full_v.all():
        return pd.Series(out)
    rest = ~full_v
    lon_v = lon.to_numpy(dtype=np.float64)
    lat_v = lat.to_numpy(dtype=np.float64)
    sub = wkb[rest]
    try:
        codes, uniques = pd.factorize(sub)
    except TypeError:
        codes, uniques = pd.factorize(sub.apply(bytes))
    rest_idx = np.nonzero(rest)[0]
    for gi, blob in enumerate(uniques):
        mask = rest_idx[codes == gi]
        out[mask] = points_in_rings(lon_v[mask], lat_v[mask], wkb_rings(bytes(blob)))
    return pd.Series(out)


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
    small_poly_threshold: int = 100_000,
    pre_indexed: bool = False,
    census_sample: Optional[float] = None,
) -> DataFrame:
    """Emit one row per (point, containing polygon) — the Q1 join.

    ``broadcast_polygons=None`` auto-selects: one driver
    ``limit(small_poly_threshold + 1).collect()`` of the polygon side is
    both the size probe and the fetch; up to ``small_poly_threshold`` rows
    take the broadcast phase, more take the shuffle phase — the explicit
    two-phase broadcast/sort-merge selection the north_star demands.  In the
    broadcast phase (also ``broadcast_polygons=True``, which collects the
    whole side) the polygon side is evaluated exactly once: the covering is
    computed DRIVER-side with the batched numpy kernel and shipped, with the
    polygon geometry, as two Arrow-built local relations, so the whole join
    is one codegen'd scan of the point side plus the refine UDF.
    ``salt_factor>0`` activates explicit hot-cell salting for the shuffle
    path: point rows in hot cells get ``pmod(hash, salt_factor)`` appended
    to the key; covering rows for hot cells are replicated across all salts.

    A polygon row whose ``wkb_col`` is null (``read_shapefiles(...,
    on_invalid="null")``, strip/fan multipatch) contains no point: it gets
    no covering cells and joins nothing, on both paths.  An empty polygon
    side gives an empty frame with the join's output columns.

    ``pre_indexed=True`` declares that ``points`` already carries
    ``cell_res``/``cell_id`` at every covering resolution (use with
    ``fixed_res`` so the levels are known up front) — lets a checkpointed
    cell-index stage feed the join without recomputing cells.
    """
    point_cols = point_cols or [c for c in points.columns]
    polygon_cols = polygon_cols or [polygon_key]
    spark = points.sparkSession
    poly_geo = polygons.select(*dict.fromkeys([polygon_key, *polygon_cols, wkb_col]))

    if broadcast_polygons is not False:
        if broadcast_polygons is None:
            rows = poly_geo.limit(small_poly_threshold + 1).collect()
            broadcast_polygons = len(rows) <= small_poly_threshold
        else:
            rows = poly_geo.collect()

    if broadcast_polygons:
        # object columns keep ids exact (no float64 detour for null ints)
        geo_pdf = pd.DataFrame(
            {c: pd.Series([r[i] for r in rows], dtype=object) for i, c in enumerate(poly_geo.columns)}
        )
        i, cells, res, full = _cover_blobs(geo_pdf[wkb_col], max_cover_cells, max_res, fixed_res)
        covering = spark.createDataFrame(
            pd.DataFrame(
                {
                    polygon_key: geo_pdf[polygon_key].to_numpy()[i],
                    "cell_id": cells,
                    "cell_res": res,
                    "cell_full": full,
                }
            ),
            schema=StructType([poly_geo.schema[polygon_key]] + _COVER_EXTRA),
        )
        poly_geo = spark.createDataFrame(geo_pdf, schema=poly_geo.schema)
        res_levels = sorted(set(res.tolist()))
    else:
        covering = polygon_covering(
            polygons,
            wkb_col=wkb_col,
            id_cols=[polygon_key],
            max_cover_cells=max_cover_cells,
            max_res=max_res,
            fixed_res=fixed_res,
        ).persist()
        if fixed_res is not None:
            res_levels = [fixed_res]
        else:
            res_levels = [
                r["cell_res"] for r in covering.select("cell_res").distinct().collect()
            ]

    if pre_indexed:
        if "cell_id" not in points.columns or "cell_res" not in points.columns:
            raise ValueError("pre_indexed points need cell_id/cell_res columns")
        pts = points
    else:
        pts = with_cells(points, res_levels, lon_col=lon_col, lat_col=lat_col)

    if broadcast_polygons:
        candidates = pts.join(
            F.broadcast(covering),
            on=["cell_res", "cell_id"],
            how="inner",
        )
    elif salt_factor > 1:
        # explicit hot-cell salting (W1): census point cells, salt the hot
        # ones.  ``census_sample`` makes hot-cell DETECTION a cheap sampled
        # pass (threshold scaled by the fraction) — at 100 TB a full census
        # is an extra all-rows shuffle just to find the handful of hot
        # cells; which cells are salted affects only physical distribution,
        # never the join's output rows.
        census_src = pts if census_sample is None else pts.sample(census_sample, seed=7)
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

    joined = candidates.join(
        F.broadcast(poly_geo) if broadcast_polygons else poly_geo, on=polygon_key, how="inner"
    )
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
    keep = [c for c in point_cols if c not in ("cell_id", "cell_res", "cell_full")] + [
        c for c in polygon_cols if c not in point_cols
    ]
    return refined.select(*dict.fromkeys(keep))
