"""Raster-tile ↔ vector operators (R1).

Tiles are equirectangular z/x/y (slippy-style: x across lon, y from +90 lat
down).  Tile assignment of points is pure Catalyst arithmetic — stays inside
whole-stage codegen, no Python in the hot path.  Tile↔polygon assignment
reuses the PIP machinery with tile centers as the point side.
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..cells import quote_ident
from .spatial_join import pip_refine


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


def polygon_tiles(
    polygons: DataFrame, z: int, wkb_col: str = "wkb", id_cols: Optional[List[str]] = None
) -> DataFrame:
    """Explode each polygon into the z/x/y tiles its bbox covers."""
    id_cols = id_cols or [c for c in polygons.columns if c != wkb_col]
    out_schema = StructType([polygons.schema[c] for c in id_cols] + _TILE_SCHEMA_EXTRA)
    n = 1 << z

    def cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..geom.pip import rings_bbox
        from ..geom.wkb import wkb_rings

        cols = [f.name for f in out_schema.fields]
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(columns=cols)
                continue
            # WKB parse per polygon; the tile-rectangle expansion is numpy
            # meshgrid-style repeat/tile, not nested Python loops
            bb = np.array(
                [rings_bbox(wkb_rings(bytes(b))) for b in pdf[wkb_col]], dtype=np.float64
            )
            tx0 = np.clip(np.floor((bb[:, 0] + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
            tx1 = np.clip(np.floor((bb[:, 2] + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
            ty0 = np.clip(np.floor((90.0 - bb[:, 3]) / 180.0 * n), 0, n - 1).astype(np.int64)
            ty1 = np.clip(np.floor((90.0 - bb[:, 1]) / 180.0 * n), 0, n - 1).astype(np.int64)
            nx = tx1 - tx0 + 1
            ny = ty1 - ty0 + 1
            counts = nx * ny
            total = int(counts.sum())
            # per-tile local index within each polygon's nx×ny rectangle
            csum = np.cumsum(counts) - counts
            local = np.arange(total, dtype=np.int64) - np.repeat(csum, counts)
            ny_rep = np.repeat(ny, counts)
            out = {c: np.repeat(pdf[c].to_numpy(), counts) for c in id_cols}
            out["tile_z"] = np.full(total, z, dtype=np.int32)
            out["tile_x"] = np.repeat(tx0, counts) + local // ny_rep
            out["tile_y"] = np.repeat(ty0, counts) + local % ny_rep
            yield pd.DataFrame(out, columns=cols)

    return polygons.mapInPandas(cover, schema=out_schema)


def tile_polygon_assignment(
    polygons: DataFrame,
    z: int,
    wkb_col: str = "wkb",
    polygon_key: str = "polygon_id",
    center_rule: bool = True,
) -> DataFrame:
    """(tile_z, tile_x, tile_y, polygon_id): tiles whose CENTER lies inside
    the polygon (center_rule) — deterministic, oracle-expressible assignment.
    Without center_rule, returns the bbox covering (superset)."""
    tiles = polygon_tiles(polygons, z, wkb_col=wkb_col, id_cols=[polygon_key])
    if not center_rule:
        return tiles
    n = float(1 << z)
    with_centers = tiles.withColumn(
        "_clon", (F.col("tile_x") + F.lit(0.5)) / F.lit(n) * F.lit(360.0) - F.lit(180.0)
    ).withColumn("_clat", F.lit(90.0) - (F.col("tile_y") + F.lit(0.5)) / F.lit(n) * F.lit(180.0))
    joined = with_centers.join(F.broadcast(polygons.select(polygon_key, wkb_col)), polygon_key)
    inside = joined.filter(pip_refine(F.col(wkb_col), F.col("_clon"), F.col("_clat")))
    return inside.select(polygon_key, "tile_z", "tile_x", "tile_y")


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
