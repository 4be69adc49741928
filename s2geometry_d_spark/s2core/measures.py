"""Spherical measures: triangle/loop areas, centroids, edge geometry.

Numpy-vectorized kernels for the geometry-adjacent scalar functions the
engine exposes (SURVEY.md §2.9; reference corpus s2measures.d:37-147,
s2edge_distances.d:45-235, s2centroids.d).  Independent re-expression using
the standard published formulas (l'Huilier / signed excess / slerp).
"""

from __future__ import annotations

import math

import numpy as np


def _dot(a, b):
    return a[0] * b[0] + a[1] * b[1] + a[2] * b[2]


def _cross(a, b):
    return (
        a[1] * b[2] - a[2] * b[1],
        a[2] * b[0] - a[0] * b[2],
        a[0] * b[1] - a[1] * b[0],
    )


def signed_triangle_area(a, b, c) -> float:
    """Signed spherical triangle area: positive when (a,b,c) is CCW.
    area = 2*atan2(det(a,b,c), 1 + a.b + b.c + c.a) — exact excess form."""
    triple = _dot(a, _cross(b, c))
    denom = 1.0 + _dot(a, b) + _dot(b, c) + _dot(c, a)
    return 2.0 * math.atan2(triple, denom)


def triangle_area(a, b, c) -> float:
    return abs(signed_triangle_area(a, b, c))


def loop_area(vertices) -> float:
    """Area of a CCW loop (interior-left), in [0, 4*pi): fan of signed
    triangle excesses from vertex 0, wrapped to the sphere."""
    total = 0.0
    v0 = vertices[0]
    for i in range(1, len(vertices) - 1):
        total += signed_triangle_area(v0, vertices[i], vertices[i + 1])
    if total < 0:
        total += 4.0 * math.pi
    return total


def cap_area(radius_radians: float) -> float:
    return 2.0 * math.pi * (1.0 - math.cos(radius_radians))


# ---------------------------------------------------------------- edges

def interpolate(a, b, t: float):
    """Point at fraction t along the minor great-circle arc a->b (slerp)."""
    ang = math.atan2(
        math.sqrt(_dot(_cross(a, b), _cross(a, b))), _dot(a, b)
    )
    return interpolate_at_distance(a, b, t * ang)


def interpolate_at_distance(a, b, distance_radians: float):
    """Point at the given arc distance from a towards b."""
    # unit tangent at a towards b
    n = _cross(a, b)
    tangent = _cross(n, a)
    tn = math.sqrt(_dot(tangent, tangent))
    tangent = (tangent[0] / tn, tangent[1] / tn, tangent[2] / tn)
    ca, sa = math.cos(distance_radians), math.sin(distance_radians)
    p = (
        ca * a[0] + sa * tangent[0],
        ca * a[1] + sa * tangent[1],
        ca * a[2] + sa * tangent[2],
    )
    pn = math.sqrt(_dot(p, p))
    return (p[0] / pn, p[1] / pn, p[2] / pn)


def project_to_edge(p, a, b):
    """Closest point to p on the edge (a, b)."""
    n = _cross(a, b)
    # point on the great circle closest to p
    q = _cross(n, _cross(p, n))
    qn = math.sqrt(_dot(q, q))
    if qn == 0.0:
        return a
    q = (q[0] / qn, q[1] / qn, q[2] / qn)
    # is q within the arc? compare against endpoints via the tangent frame
    if _dot(_cross(n, a), q) >= 0 and _dot(_cross(b, n), q) >= 0:
        return q
    # otherwise the nearer endpoint
    da = _chord2(p, a)
    db = _chord2(p, b)
    return a if da <= db else b


def _chord2(a, b) -> float:
    d = (a[0] - b[0], a[1] - b[1], a[2] - b[2])
    return _dot(d, d)


def point_edge_distance2(p, a, b) -> float:
    """Squared chord distance from p to the edge (a,b)."""
    q = project_to_edge(p, a, b)
    return _chord2(p, q)


# ------------------------------------------------------- vectorized variants

def point_edges_min_dist2(px, py, pz, edges) -> np.ndarray:
    """Min squared-chord distance from each point to any edge in ``edges``
    (list of ((ax,ay,az),(bx,by,bz))) — vectorized over points."""
    n = px.shape[0]
    best = np.full(n, 4.0)
    for a, b in edges:
        nx, ny, nz = (
            a[1] * b[2] - a[2] * b[1],
            a[2] * b[0] - a[0] * b[2],
            a[0] * b[1] - a[1] * b[0],
        )
        nn = math.sqrt(nx * nx + ny * ny + nz * nz)
        if nn == 0:
            continue
        ux, uy, uz = nx / nn, ny / nn, nz / nn
        # distance from p to the great circle: |sin| = |p . u|
        s = px * ux + py * uy + pz * uz
        # closest point on circle q = normalize(p - (p.u)u)
        qx = px - s * ux
        qy = py - s * uy
        qz = pz - s * uz
        qn = np.sqrt(qx * qx + qy * qy + qz * qz)
        qn = np.where(qn == 0, 1.0, qn)
        qx, qy, qz = qx / qn, qy / qn, qz / qn
        # inside-arc test in the tangent frame
        na = _cross((ux, uy, uz), a)
        bn = _cross(b, (ux, uy, uz))
        in_arc = (qx * na[0] + qy * na[1] + qz * na[2] >= 0) & (
            qx * bn[0] + qy * bn[1] + qz * bn[2] >= 0
        )
        d_arc = (px - qx) ** 2 + (py - qy) ** 2 + (pz - qz) ** 2
        d_a = (px - a[0]) ** 2 + (py - a[1]) ** 2 + (pz - a[2]) ** 2
        d_b = (px - b[0]) ** 2 + (py - b[1]) ** 2 + (pz - b[2]) ** 2
        d = np.where(in_arc, d_arc, np.minimum(d_a, d_b))
        best = np.minimum(best, d)
    return best


def edge_pair_min_dist2(a, b, c, d) -> float:
    """Min squared-chord distance between edges (a,b) and (c,d): zero when
    they cross, else the min of the four endpoint-to-other-edge distances
    (s2edge_distances.d:280-283 semantics, re-expressed)."""
    from . import predicates as pred

    if pred.crossing_sign(tuple(a), tuple(b), tuple(c), tuple(d)) > 0:
        return 0.0
    return min(
        point_edge_distance2(a, c, d),
        point_edge_distance2(b, c, d),
        point_edge_distance2(c, a, b),
        point_edge_distance2(d, a, b),
    )


def edges_min_chord2_from_point(p, A, B) -> np.ndarray:
    """Min squared-chord distance from ONE point ``p`` (3,) to EACH edge
    (A[i], B[i]); A, B are (k, 3) arrays — the transpose of
    :func:`point_edges_min_dist2`, vectorized over edges.  Used by the
    polygon cell index build to clip edge lists to cells."""
    p = np.asarray(p, dtype=np.float64)
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    N = np.cross(A, B)
    nn = np.linalg.norm(N, axis=1)
    nn = np.where(nn == 0, 1.0, nn)
    U = N / nn[:, None]
    s = U @ p
    Q = p[None, :] - s[:, None] * U
    qn = np.linalg.norm(Q, axis=1)
    qn = np.where(qn == 0, 1.0, qn)
    Q = Q / qn[:, None]
    in_arc = (np.einsum("ij,ij->i", Q, np.cross(U, A)) >= 0) & (
        np.einsum("ij,ij->i", Q, np.cross(B, U)) >= 0
    )
    d_arc = ((p[None, :] - Q) ** 2).sum(axis=1)
    d_a = ((p[None, :] - A) ** 2).sum(axis=1)
    d_b = ((p[None, :] - B) ** 2).sum(axis=1)
    return np.where(in_arc, d_arc, np.minimum(d_a, d_b))


def polyline_length(vertices) -> float:
    """Sum of arc lengths (radians)."""
    total = 0.0
    for i in range(len(vertices) - 1):
        a, b = vertices[i], vertices[i + 1]
        total += math.atan2(math.sqrt(_dot(_cross(a, b), _cross(a, b))), _dot(a, b))
    return total


def polyline_interpolate(vertices, t: float):
    """Point at fraction t of the polyline's total length."""
    target = max(0.0, min(1.0, t)) * polyline_length(vertices)
    for i in range(len(vertices) - 1):
        a, b = vertices[i], vertices[i + 1]
        seg = math.atan2(math.sqrt(_dot(_cross(a, b), _cross(a, b))), _dot(a, b))
        if target <= seg or i == len(vertices) - 2:
            return interpolate_at_distance(a, b, min(target, seg))
        target -= seg
    return vertices[-1]
