"""Raster-tile ↔ vector operators (R1).

Tiles are equirectangular z/x/y (slippy-style: x across lon, y from +90 lat
down).  Tile assignment of points is pure Catalyst arithmetic — stays inside
whole-stage codegen, no Python in the hot path.  Tile↔polygon assignment
is one ``mapInPandas`` over the polygons: each Arrow batch parses its
polygons once, expands their bbox tiles, and (center rule) ray-casts every
tile center against its own polygon with the PIP join's kernel
(:func:`.spatial_join._ray_cast`).
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..cells import quote_ident
from .spatial_join import _edge_index, _polygon_bboxes, _ray_cast, _wkb_polygons


def tile_x_col(lon, z: int):
    n = 1 << z
    return F.least(
        F.lit(n - 1),
        F.greatest(F.lit(0), F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))),
    ).cast("long")


def tile_y_col(lat, z: int):
    n = 1 << z
    return F.least(
        F.lit(n - 1),
        F.greatest(F.lit(0), F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(float(n)))),
    ).cast("long")


def assign_tiles(points: DataFrame, z: int, lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """+ (tile_z, tile_x, tile_y) — JVM-side expressions only: one
    projection of SQL text spelling :func:`tile_x_col`/:func:`tile_y_col`'s
    arithmetic (one call into the JVM per column, where the column
    functions take a few per operator)."""
    n = 1 << z

    def tile(expr: str) -> str:
        return f"CAST(least({n - 1}, greatest(0, floor({expr} * {n}.0D))) AS BIGINT)"

    return points.withColumns(
        {
            "tile_z": F.expr(str(z)),
            "tile_x": F.expr(tile(f"({quote_ident(lon_col)} + 180.0D) / 360.0D")),
            "tile_y": F.expr(tile(f"(90.0D - {quote_ident(lat_col)}) / 180.0D")),
        }
    )


def tile_aggregate(
    points: DataFrame, z: int, lon_col: str = "lon", lat_col: str = "lat", aggs: Optional[list] = None
) -> DataFrame:
    """Per-tile rollup (partial+final aggregation handled by Catalyst)."""
    aggs = aggs or [F.count(F.lit(1)).alias("n_pages")]
    return assign_tiles(points, z, lon_col, lat_col).groupBy("tile_z", "tile_x", "tile_y").agg(*aggs)


_TILE_SCHEMA_EXTRA = [
    StructField("tile_z", IntegerType()),
    StructField("tile_x", LongType()),
    StructField("tile_y", LongType()),
]


def _tile_batch(
    pdf: pd.DataFrame, z: int, wkb_col: str, id_cols: List[str], center_rule: bool
) -> pd.DataFrame:
    """One batch of polygon rows → ``(*id_cols, tile_z, tile_x, tile_y)``:
    every z-``z`` tile of each polygon's bbox, or with ``center_rule`` only
    the tiles whose center the polygon contains.  A row with a null
    ``wkb_col`` or no vertex gets no tile (:func:`.spatial_join._wkb_polygons`).
    The tile-rectangle expansion is numpy repeat/tile, not nested Python
    loops."""
    n = 1 << z
    idx, polys = _wkb_polygons(pdf[wkb_col])
    xmin, ymin, xmax, ymax = _polygon_bboxes(polys)
    tx0 = np.clip(np.floor((xmin + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    tx1 = np.clip(np.floor((xmax + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    ty0 = np.clip(np.floor((90.0 - ymax) / 180.0 * n), 0, n - 1).astype(np.int64)
    ty1 = np.clip(np.floor((90.0 - ymin) / 180.0 * n), 0, n - 1).astype(np.int64)
    ny = ty1 - ty0 + 1
    counts = (tx1 - tx0 + 1) * ny
    # per-tile local index within each polygon's nx×ny rectangle
    poly = np.repeat(np.arange(len(polys)), counts)
    local = np.arange(len(poly), dtype=np.int64) - np.repeat(np.cumsum(counts) - counts, counts)
    tile_x = tx0[poly] + local // ny[poly]
    tile_y = ty0[poly] + local % ny[poly]
    if center_rule:
        # the centers spelled with the same IEEE operations as the
        # tile_polygons SQL oracle
        inside = _ray_cast(
            _edge_index(range(len(polys)), polys, len(polys)),
            (tile_x + 0.5) / n * 360.0 - 180.0,
            90.0 - (tile_y + 0.5) / n * 180.0,
            poly,
        )
        poly, tile_x, tile_y = poly[inside], tile_x[inside], tile_y[inside]
    rows = np.asarray(idx, dtype=np.int64)[poly]
    out = {c: pdf[c].to_numpy()[rows] for c in id_cols}
    out.update(tile_z=np.full(len(rows), z, dtype=np.int32), tile_x=tile_x, tile_y=tile_y)
    return pd.DataFrame(out, columns=[*id_cols, "tile_z", "tile_x", "tile_y"])


def _tiles(
    polygons: DataFrame, z: int, wkb_col: str, id_cols: List[str], center_rule: bool
) -> DataFrame:
    """:func:`_tile_batch` over every Arrow batch of ``polygons``: one
    Python stage, no join."""
    out_schema = StructType([polygons.schema[c] for c in id_cols] + _TILE_SCHEMA_EXTRA)

    def cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _tile_batch(pdf, z, wkb_col, id_cols, center_rule)

    return polygons.mapInPandas(cover, schema=out_schema)


def tile_polygon_assignment(
    polygons: DataFrame,
    z: int,
    wkb_col: str = "wkb",
    polygon_key: str = "polygon_id",
    center_rule: bool = True,
) -> DataFrame:
    """(polygon_id, tile_z, tile_x, tile_y): tiles whose CENTER lies inside
    the polygon (center_rule) — deterministic, oracle-expressible
    assignment, in one Python stage.
    Without center_rule, returns the bbox covering (superset)."""
    return _tiles(polygons, z, wkb_col, [polygon_key], center_rule)


def tile_pyramid(
    assignments: DataFrame,
    from_z: int,
    to_z: int,
    count_col: str = "n",
) -> DataFrame:
    """Zoom-pyramid rollup: per-tile counts at every level to_z..from_z.

    Hierarchical: level z-1 aggregates level z's ALREADY-AGGREGATED rows
    (4:1 parent arithmetic, ``x >> 1``), so the base table is scanned once
    and the whole pyramid costs ~4/3 of the base aggregation — the
    standard tile-server precompute shape.  Counts are summed as BIGINT
    (ANSI mode: overflow is loud, and tile counts fit comfortably).
    """
    assert from_z >= to_z
    cur = (
        assignments.groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias(count_col))
        .withColumn("tile_z", F.lit(from_z))
    )
    levels = [cur]
    for z in range(from_z - 1, to_z - 1, -1):
        cur = (
            cur.groupBy(
                F.shiftright("tile_x", 1).alias("tile_x"),
                F.shiftright("tile_y", 1).alias("tile_y"),
            )
            .agg(F.sum(count_col).cast("bigint").alias(count_col))
            .withColumn("tile_z", F.lit(z))
        )
        levels.append(cur)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select("tile_z", "tile_x", "tile_y", count_col)
