"""Ring semantics: orientation classification, closing, reordering, grouping.

Mirrors the reference's correctness-critical polygon rules (SURVEY §1.3):

* orientation via signed shoelace with the exact sign convention of
  ``ring_type_from_points_ordering`` (shapefile-rs src/record/mod.rs:133-145):
  ``area = Σ (x[i+1]-x[i]) * (y[i+1]+y[i]) / 2``; ``area < 0`` ⇒ inner ring,
  otherwise outer (ESRI: outer rings clockwise, holes counter-clockwise);
* unclosed rings are closed by appending the first point
  (``close_points_if_not_already``, src/record/mod.rs:93-109);
* rings whose orientation contradicts their declared role are reversed
  (``PolygonRing::close_and_reorder``, src/record/polygon.rs:150-169);
* ring→polygon grouping scans rings in record order: Outer starts a polygon,
  Inner attaches to the most recent Outer, an Inner before any Outer is an
  ``OrphanedInnerRing`` error (src/record/polygon.rs:606-640).

All functions are numpy-vectorized per ring (no per-point Python loops).
"""

from __future__ import annotations

from typing import List, Sequence

import numpy as np

from ..shapelib.shptypes import OrphanedInnerRing

OUTER = 0
INNER = 1


def signed_area2(ring: np.ndarray) -> float:
    """Twice the signed shoelace sum with the reference's sign convention.

    Positive for clockwise rings (ESRI outer), negative for counter-clockwise
    (holes).  ``ring`` is an (n, 2) float64 array.
    """
    x = ring[:, 0]
    y = ring[:, 1]
    return float(np.sum((x[1:] - x[:-1]) * (y[1:] + y[:-1])))


def ring_role(ring: np.ndarray) -> int:
    """OUTER/INNER per src/record/mod.rs:133-145 (area<0 ⇒ inner)."""
    return INNER if signed_area2(ring) / 2.0 < 0.0 else OUTER


def is_closed(ring: np.ndarray) -> bool:
    return len(ring) > 0 and bool(np.all(ring[0] == ring[-1]))


def close_ring(ring: np.ndarray) -> np.ndarray:
    """Append the first point if the ring is not closed (src/record/mod.rs:93-109)."""
    if len(ring) == 0 or is_closed(ring):
        return ring
    return np.vstack([ring, ring[:1]])


def close_and_reorder(ring: np.ndarray, declared_role: int) -> np.ndarray:
    """Close, then reverse if orientation contradicts the declared role
    (src/record/polygon.rs:150-169)."""
    ring = close_ring(np.asarray(ring, dtype=np.float64).reshape(-1, 2))
    if len(ring) and ring_role(ring) != declared_role:
        ring = ring[::-1].copy()
    return ring


def group_rings(
    rings: Sequence[np.ndarray], roles: Sequence[int], strict: bool = True
) -> List[List[np.ndarray]]:
    """Group ordered rings into polygons: ``[[outer, hole, ...], ...]``.

    ``strict=True`` raises :class:`OrphanedInnerRing` for an inner ring before
    any outer (src/record/polygon.rs:606-640); ``strict=False`` promotes the
    orphan to its own outer (lenient GIS fallback, not reference behavior).
    """
    polygons: List[List[np.ndarray]] = []
    for ring, role in zip(rings, roles):
        if role == OUTER:
            polygons.append([ring])
        else:
            if not polygons:
                if strict:
                    raise OrphanedInnerRing("inner ring before any outer ring")
                polygons.append([ring])
            else:
                polygons[-1].append(ring)
    return polygons
