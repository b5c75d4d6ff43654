"""Vectorized even-odd ray-cast point-in-polygon.

Semantics: a multi-ring shapefile polygon contains a point iff a ray from the
point crosses the union of all its rings an odd number of times (outer minus
holes) — the batch equivalent of the reference example's
``geo::Contains`` nested loop (examples/geotype-example/src/main.rs:15-36)
with the ring-grouping rule of src/record/polygon.rs:606-640.  Boundary points
are excluded (geo's ``contains`` is interior-only); callers that need boundary
inclusiveness must buffer upstream.

This module is the reference spelling the tests pin the engine against:
the engine's own even-odd test is
:func:`..operators.spatial_join._ray_cast`, bit-identical to
:func:`crossings_matrix` by construction (same operand order).

All arrays are float64; no per-point Python.
"""

from __future__ import annotations

from typing import List, Sequence

import numpy as np


def crossings_matrix(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Ray-cast crossing counts of N points against one ring's edges.

    Returns an int array (N,) of crossings of the +x ray with the ring.
    Vectorized over points × edges (N×E temporary — callers batch).
    """
    x1 = ring[:-1, 0][None, :]
    y1 = ring[:-1, 1][None, :]
    x2 = ring[1:, 0][None, :]
    y2 = ring[1:, 1][None, :]
    pxc = px[:, None]
    pyc = py[:, None]
    straddle = (y1 > pyc) != (y2 > pyc)
    # x of the edge↔ray intersection; guarded: where straddle is False the
    # division may be 0/0 — mask it out before comparing.
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (pyc - y1) / (y2 - y1) + x1
    cross = straddle & (pxc < xint)
    return cross.sum(axis=1)


def points_in_rings(
    px: np.ndarray, py: np.ndarray, rings: Sequence[np.ndarray]
) -> np.ndarray:
    """Even-odd test of N points against the union of ``rings`` (one polygon
    = its outer ring(s) + hole rings). Returns bool (N,)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    total = np.zeros(len(px), dtype=np.int64)
    for ring in rings:
        if len(ring) < 2:
            continue
        total += crossings_matrix(px, py, np.asarray(ring, dtype=np.float64))
    return (total % 2) == 1


def rings_bbox(rings: Sequence[np.ndarray]) -> tuple:
    """``(xmin, ymin, xmax, ymax)`` over every vertex of ``rings``."""
    xs = np.concatenate([r[:, 0] for r in rings])
    ys = np.concatenate([r[:, 1] for r in rings])
    return float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())


def nested_loop_pip_oracle(
    points_xy: np.ndarray, polygons: List[List[np.ndarray]]
) -> List[tuple]:
    """O(N·M) oracle mirroring examples/geotype-example/src/main.rs:15-36:
    emits (point_idx, polygon_idx) for every contained pair. Test-only."""
    out = []
    px = points_xy[:, 0]
    py = points_xy[:, 1]
    for j, rings in enumerate(polygons):
        inside = points_in_rings(px, py, rings)
        for i in np.nonzero(inside)[0]:
            out.append((int(i), j))
    return out
