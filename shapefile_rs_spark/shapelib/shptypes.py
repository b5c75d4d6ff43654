"""Shape-type lattice and value-semantics constants.

Re-expresses the reference's type model (shapefile-rs ``src/lib.rs:162-259``,
``src/record/mod.rs:28-33``) for a numpy/PySpark engine.  Nothing here is a
translation of Rust code — these are the public ESRI shapefile constants plus
the reference's documented sentinel semantics.
"""

from __future__ import annotations

# ESRI shape type codes (shapefile-rs src/lib.rs:162-180).
NULL_SHAPE = 0
POINT = 1
POLYLINE = 3
POLYGON = 5
MULTIPOINT = 8
POINT_Z = 11
POLYLINE_Z = 13
POLYGON_Z = 15
MULTIPOINT_Z = 18
POINT_M = 21
POLYLINE_M = 23
POLYGON_M = 25
MULTIPOINT_M = 28
MULTIPATCH = 31

ALL_SHAPE_TYPES = frozenset(
    {
        NULL_SHAPE,
        POINT,
        POLYLINE,
        POLYGON,
        MULTIPOINT,
        POINT_Z,
        POLYLINE_Z,
        POLYGON_Z,
        MULTIPOINT_Z,
        POINT_M,
        POLYLINE_M,
        POLYGON_M,
        MULTIPOINT_M,
        MULTIPATCH,
    }
)

# Measure sentinel: any value <= NO_DATA is "no data"
# (shapefile-rs src/record/mod.rs:28-33; note -10e38 == -1e39).
NO_DATA = -10e38

# Multipatch patch-type codes (shapefile-rs src/record/multipatch.rs:36-44).
TRIANGLE_STRIP = 0
TRIANGLE_FAN = 1
OUTER_RING = 2
INNER_RING = 3
FIRST_RING = 4
RING = 5
ALL_PATCH_TYPES = frozenset({TRIANGLE_STRIP, TRIANGLE_FAN, OUTER_RING, INNER_RING, FIRST_RING, RING})


def has_z(shape_type: int) -> bool:
    """Multipatch counts as Z (shapefile-rs src/lib.rs:222-231)."""
    return shape_type in (POINT_Z, POLYLINE_Z, POLYGON_Z, MULTIPOINT_Z, MULTIPATCH)


def has_m(shape_type: int) -> bool:
    """All M and Z variants carry measures (shapefile-rs src/lib.rs:234-246)."""
    return shape_type in (
        POINT_Z,
        POLYLINE_Z,
        POLYGON_Z,
        MULTIPOINT_Z,
        MULTIPATCH,
        POINT_M,
        POLYLINE_M,
        POLYGON_M,
        MULTIPOINT_M,
    )


def is_multipart(shape_type: int) -> bool:
    """Polylines, polygons and multipatch have a parts array (src/lib.rs:249-259)."""
    return shape_type in (
        POLYLINE,
        POLYLINE_M,
        POLYLINE_Z,
        POLYGON,
        POLYGON_M,
        POLYGON_Z,
        MULTIPATCH,
    )


def is_point_family(shape_type: int) -> bool:
    return shape_type in (POINT, POINT_M, POINT_Z)


def is_multipoint_family(shape_type: int) -> bool:
    return shape_type in (MULTIPOINT, MULTIPOINT_M, MULTIPOINT_Z)


class ShapefileError(Exception):
    """Base class mirroring the reference error surface (src/lib.rs:89-118)."""


class InvalidFileCode(ShapefileError):
    pass


class InvalidShapeType(ShapefileError):
    pass


class InvalidPatchType(ShapefileError):
    pass


class MismatchShapeType(ShapefileError):
    def __init__(self, requested: int, actual: int):
        super().__init__(f"requested shape type {requested}, file/record has {actual}")
        self.requested = requested
        self.actual = actual


class InvalidShapeRecordSize(ShapefileError):
    pass


class OrphanedInnerRing(ShapefileError):
    pass


class MissingDbf(ShapefileError):
    pass


class MissingIndexFile(ShapefileError):
    pass
