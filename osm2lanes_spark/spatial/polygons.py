"""Polygon kernels: ray-casting point-in-polygon + cell covering.

The reference resolves way→country containment remotely via Overpass
``is_in`` (`/root/reference/osm2lanes/src/overpass.rs:147-157`); the engine
makes locale *data*: polygons are covered by index cells once (driver-side,
they are a small dim), and the exact ray-casting refinement runs as a
vectorized numpy kernel inside Arrow batches.
"""

from __future__ import annotations

import numpy as np

from . import cells


def point_in_polygon(lon: np.ndarray, lat: np.ndarray,
                     ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting.

    ``ring``: (V, 2) array of [lon, lat] vertices (closed or open).
    Returns a boolean array over the N query points. O(N*V) but fully
    vectorized; V is tiny for admin polygons after simplification.
    """
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    x0, y0 = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    inside = np.zeros(lon.shape, dtype=bool)
    for i in range(len(ring)):
        xi, yi, xj, yj = x0[i], y0[i], x1[i], y1[i]
        crosses = (yi > lat) != (yj > lat)
        if yj == yi:
            continue
        xint = (xj - xi) * (lat - yi) / (yj - yi) + xi
        inside ^= crosses & (lon < xint)
    return inside


def edges_cross_cells(ring: np.ndarray, clon0: np.ndarray, clat0: np.ndarray,
                      clon1: np.ndarray, clat1: np.ndarray) -> np.ndarray:
    """For each cell rectangle, does ANY polygon edge intersect it? Exact.

    Segment-vs-axis-aligned-rect: the segment's bbox overlaps the rect AND
    the rect's four corners do not all lie strictly on one side of the
    segment's supporting line. Vectorized over cells per edge. This
    replaces the old 'any polygon vertex inside the cell' proxy, which
    missed cells crossed by a long vertex-free edge (ADVICE r01 #2).
    """
    hit = np.zeros(len(clon0), dtype=bool)
    x0, y0 = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    for i in range(len(ring)):
        ax, ay, bx, by = x0[i], y0[i], x1[i], y1[i]
        overlap = ((min(ax, bx) <= clon1) & (max(ax, bx) >= clon0)
                   & (min(ay, by) <= clat1) & (max(ay, by) >= clat0))
        if not overlap.any():
            continue
        dx, dy = bx - ax, by - ay
        s1 = dx * (clat0 - ay) - dy * (clon0 - ax)
        s2 = dx * (clat0 - ay) - dy * (clon1 - ax)
        s3 = dx * (clat1 - ay) - dy * (clon0 - ax)
        s4 = dx * (clat1 - ay) - dy * (clon1 - ax)
        smin = np.minimum(np.minimum(s1, s2), np.minimum(s3, s4))
        smax = np.maximum(np.maximum(s1, s2), np.maximum(s3, s4))
        hit |= overlap & (smin <= 0.0) & (smax >= 0.0)
    return hit


def cover_polygon(ring: np.ndarray, level: int) -> np.ndarray:
    """Cells at ``level`` intersecting the polygon — exact covering.

    bbox candidates kept when (a) any corner or the centre is inside
    (interior cells), or (b) any polygon edge intersects the cell rectangle
    (boundary cells, exact segment-rect test). Conservative by construction:
    a cell that intersects the polygon always satisfies (a) or (b).
    """
    return cover_and_classify(ring, level)[0]


def cover_and_classify(ring: np.ndarray,
                       level: int) -> tuple[np.ndarray, np.ndarray]:
    """:func:`cover_polygon`'s cells and :func:`classify_cells`' full
    flags for them, in one pass: both tests need the same corner
    point-in-polygon and edge-crossing results, so they are computed once
    per bbox candidate."""
    lon_min, lat_min = ring.min(axis=0)
    lon_max, lat_max = ring.max(axis=0)
    candidates = cells.cover_bbox(lon_min, lat_min, lon_max, lat_max, level)
    clon0, clat0, clon1, clat1 = cells.cell_bounds(candidates)
    corners = [point_in_polygon(qx, qy, ring)
               for qx, qy in ((clon0, clat0), (clon1, clat0),
                              (clon0, clat1), (clon1, clat1))]
    centre = point_in_polygon((clon0 + clon1) / 2, (clat0 + clat1) / 2, ring)
    crossed = edges_cross_cells(ring, clon0, clat0, clon1, clat1)
    keep = np.logical_or.reduce(corners) | centre | crossed
    full = np.logical_and.reduce(corners) & ~crossed
    return candidates[keep], full[keep]


def classify_cells(ring: np.ndarray, covering: np.ndarray) -> np.ndarray:
    """Mark covering cells fully inside the polygon (skip PIP for those).

    A cell is *full* iff all four corners are inside and no polygon edge
    intersects the cell rectangle (exact segment-rect test — a vertex-free
    concave notch crossing the cell is caught, unlike the old
    vertex-in-cell proxy). Points landing in full cells shortcut the
    refinement kernel — the classic coarse/fine split of an S2/H3 covering.
    """
    clon0, clat0, clon1, clat1 = cells.cell_bounds(covering)
    full = np.ones(len(covering), dtype=bool)
    for qx, qy in ((clon0, clat0), (clon1, clat0), (clon0, clat1), (clon1, clat1)):
        full &= point_in_polygon(qx, qy, ring)
    full &= ~edges_cross_cells(ring, clon0, clat0, clon1, clat1)
    return full


def point_to_segment_dist(px: np.ndarray, py: np.ndarray,
                          ring: np.ndarray) -> np.ndarray:
    """Min euclidean distance (degrees) from points to a polyline.

    Mirrors the geo-crate distance the reference uses for nearest-way kNN
    (`overpass.rs:222-235`).
    """
    px = np.asarray(px, np.float64)[:, None]
    py = np.asarray(py, np.float64)[:, None]
    ax, ay = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    bx, by = ring[1:, 0][None, :], ring[1:, 1][None, :]
    dx, dy = bx - ax, by - ay
    seg_len2 = dx * dx + dy * dy
    seg_len2 = np.where(seg_len2 == 0.0, 1e-300, seg_len2)
    t = np.clip(((px - ax) * dx + (py - ay) * dy) / seg_len2, 0.0, 1.0)
    cx, cy = ax + t * dx, ay + t * dy
    d2 = (px - cx) ** 2 + (py - cy) ** 2
    return np.sqrt(d2.min(axis=1))
