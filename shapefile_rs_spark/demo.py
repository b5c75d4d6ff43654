"""Demo geometry + the driver-facing query catalog building blocks.

Defines the fixed polygon set used by the correctness-gate queries.  The
polygons are deliberately placed OFF the synthetic point lattice (vertices at
x.xx5 while points live on a 0.01° grid or hot clusters stepped 0.0002°), so
no test point ever lands within 2.5e-3° of an edge — the Spark ray-cast and
the DuckDB half-plane oracle provably agree despite using different edge
expressions.

Polygon 1: square (-0.005,-0.005)…(10.005,10.005) with hole
(3.995,3.995)…(6.005,6.005).  Polygon 2: triangle (20.005,0.005),
(30.005,5.005), (20.005,10.005).  Hot clusters (pages.lonlat_sql) sit
inside polygon 1 (2,2), (8,8) and polygon 2 (25,5).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from .geom import rings as R
from .geom.wkb import shape_to_wkb
from .shapelib.shp import ShapeRec
from .shapelib.shptypes import POLYGON

_SQ = 10.005
_H0, _H1 = 3.995, 6.005
_TX0, _TX1 = 20.005, 30.005


def oracle_polygon_recs():
    outer1 = R.close_and_reorder(
        np.array([[-0.005, -0.005], [_SQ, -0.005], [_SQ, _SQ], [-0.005, _SQ]]), R.OUTER
    )
    hole1 = R.close_and_reorder(
        np.array([[_H0, _H0], [_H1, _H0], [_H1, _H1], [_H0, _H1]]), R.INNER
    )
    poly1 = ShapeRec(POLYGON, np.vstack([outer1, hole1]), parts=[0, len(outer1)])
    tri = R.close_and_reorder(
        np.array([[_TX0, 0.005], [_TX1, 5.005], [_TX0, 10.005]]), R.OUTER
    )
    poly2 = ShapeRec(POLYGON, tri)
    return [poly1, poly2]


def oracle_polygons_df(spark: SparkSession) -> DataFrame:
    """WKB polygon dim as a pure-JVM VALUES relation.  createDataFrame on
    local rows costs seconds (python serialization + parallelize across
    defaultParallelism empty slices); an inline VALUES table is a local
    relation Catalyst folds for free — and broadcasts instantly."""
    recs = oracle_polygon_recs()
    vals = ", ".join(
        f"({i + 1}, X'{bytes(shape_to_wkb(r)).hex()}')" for i, r in enumerate(recs)
    )
    return spark.sql(
        f"SELECT CAST(col1 AS BIGINT) AS polygon_id, col2 AS wkb FROM VALUES {vals}"
    )


# SQL containment predicates (strict interior — matches ray-cast which is
# interior-only; points are ≥2.5e-3 from every edge by construction).
POLY1_SQL = (
    f"(lon > -0.005 AND lon < {_SQ} AND lat > -0.005 AND lat < {_SQ} "
    f"AND NOT (lon > {_H0} AND lon < {_H1} AND lat > {_H0} AND lat < {_H1}))"
)
# CCW triangle: inside = left of every edge (cross products spelled out)
POLY2_SQL = (
    f"(10.0*(lat - 0.005) - 5.0*(lon - {_TX0}) > 0 "
    f"AND -10.0*(lat - 5.005) - 5.0*(lon - {_TX1}) > 0 "
    f"AND lon > {_TX0})"
)

# KNN demo query points (inside/near the hot clusters + one far away)
KNN_QUERIES = [
    (1, 2.0, 2.0),
    (2, 8.001, 8.001),
    (3, 25.0, 5.0),
    (4, 15.0, 15.0),
]


def knn_queries_df(spark: SparkSession) -> DataFrame:
    vals = ", ".join(
        f"({q}, CAST({x!r} AS DOUBLE), CAST({y!r} AS DOUBLE))" for q, x, y in KNN_QUERIES
    )
    return spark.sql(
        f"SELECT CAST(col1 AS BIGINT) AS query_id, col2 AS q_lon, col3 AS q_lat "
        f"FROM VALUES {vals}"
    )


def knn_queries_values_sql() -> str:
    rows = ", ".join(
        f"({q}, CAST({x!r} AS DOUBLE), CAST({y!r} AS DOUBLE))" for q, x, y in KNN_QUERIES
    )
    return f"(VALUES {rows}) AS q(query_id, q_lon, q_lat)"
