"""Streaming spatial pipeline: a stream of pages joined against a static
polygon dim (stream-static broadcast join), geotagged and tile-counted
incrementally.

The logical plan is the SAME builder functions as the batch engine
(geotag_pages / point_in_polygon_join / tile columns) applied to a
streaming DataFrame: the static polygon side is collected once into the
join's broadcast polygon index, each micro-batch runs the join's one Arrow
kernel map-side (no stream shuffle before the aggregate, codegen'd
parse), and the only stateful operator is the final aggregation.
availableNow replay over a static directory reproduces the batch result
exactly (pinned by tests).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spatial_join import point_in_polygon_join
from ..operators.tiles import tile_x_col, tile_y_col
from ..pages import geotag_pages


def read_page_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """Parquet file-source stream of page rows (input_hint schema or any
    superset carrying ``html``)."""
    schema = spark.read.parquet(input_path).schema
    if os.path.isfile(input_path):
        d = tempfile.mkdtemp(prefix="pgstream_")
        os.symlink(input_path, os.path.join(d, os.path.basename(input_path)))
        input_path = d
    return spark.readStream.schema(schema).parquet(input_path)


def stream_pip_tiles(pages_stream: DataFrame, polygons: DataFrame, z: int = 6) -> DataFrame:
    """stream(pages) ⋈ static(polygons) → per-(polygon, tile) page counts:
    the batch :func:`..operators.spatial_join.point_in_polygon_join` over
    the geotagged stream, then a tile rollup."""
    inside = point_in_polygon_join(
        geotag_pages(pages_stream).select("url", "lon", "lat"),
        polygons,
        point_cols=["url", "lon", "lat"],
    )
    return (
        inside.withColumn("tile_x", tile_x_col(F.col("lon"), z))
        .withColumn("tile_y", tile_y_col(F.col("lat"), z))
        .groupBy("polygon_id", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )
