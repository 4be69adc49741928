"""The S2 coordinate ladder, vectorized with numpy.

(lat,lng) <-> (x,y,z) unit vector <-> (face,u,v) cube <-> (face,s,t)
<-> (face,i,j) ints <-> 64-bit Hilbert cell id (see cellid.py).

Semantics studied from the reference (vnayar/s2geometry-d
src/s2/s2coords.d:100-260,420-450: quadratic ST<->UV projection, face
selection by largest absolute component, STtoIJ clamped lround).  All
functions below are numpy re-expressions operating on whole columns.
"""

from __future__ import annotations

import numpy as np

MAX_CELL_LEVEL = 30
LIMIT_IJ = 1 << MAX_CELL_LEVEL  # 2^30, aka MAX_SIZE
MAX_SI_TI = 1 << (MAX_CELL_LEVEL + 1)  # 2^31


# ---------------------------------------------------------------- lat/lng

def latlng_to_xyz(lat_deg, lng_deg):
    """Degrees lat/lng -> unit direction vectors (3 float64 arrays)."""
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    theta = np.radians(np.asarray(lng_deg, dtype=np.float64))
    cosphi = np.cos(phi)
    return np.cos(theta) * cosphi, np.sin(theta) * cosphi, np.sin(phi)


def xyz_to_latlng(x, y, z):
    """Unit vectors -> degrees lat/lng.

    lat = atan2(z, sqrt(x^2+y^2)) as in the reference's S2LatLng(S2Point)
    (s2latlng.d:112-121).
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    lat = np.arctan2(z, np.sqrt(x * x + y * y))
    lng = np.arctan2(y, x)
    return np.degrees(lat), np.degrees(lng)


# ---------------------------------------------------------------- face/u/v

def xyz_to_face_uv(x, y, z):
    """Direction vectors -> (face, u, v).

    Face = axis of largest |component|; equal components resolve to the
    LATER axis (z wins ties over y over x, from the strict ax>ay / ax>az
    comparisons — matching the reference's largestAbsComponent).  Negated
    axes are faces 3..5.
    """
    x = np.atleast_1d(np.asarray(x, dtype=np.float64))
    y = np.atleast_1d(np.asarray(y, dtype=np.float64))
    z = np.atleast_1d(np.asarray(z, dtype=np.float64))
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    # largestAbsComponent: x wins ties vs y and z; y wins ties vs z.
    axis = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    comp = np.choose(axis, [x, y, z])
    face = np.where(comp < 0, axis + 3, axis).astype(np.int64)

    u = np.empty_like(x)
    v = np.empty_like(x)
    # Per-face (u,v) from the fixed face frames (s2coords.d:193-206).
    for f, (ue, ve, we) in enumerate(_FACE_UV_EXPRS):
        m = face == f
        if not m.any():
            continue
        xf, yf, zf = x[m], y[m], z[m]
        w = we(xf, yf, zf)
        u[m] = ue(xf, yf, zf) / w
        v[m] = ve(xf, yf, zf) / w
    return face, u, v


# numerator/denominator lambdas per face for ValidFaceXYZtoUV
_FACE_UV_EXPRS = (
    (lambda x, y, z: y, lambda x, y, z: z, lambda x, y, z: x),          # 0
    (lambda x, y, z: -x, lambda x, y, z: z, lambda x, y, z: y),         # 1
    (lambda x, y, z: -x, lambda x, y, z: -y, lambda x, y, z: z),        # 2
    (lambda x, y, z: z, lambda x, y, z: y, lambda x, y, z: x),          # 3
    (lambda x, y, z: z, lambda x, y, z: -x, lambda x, y, z: y),         # 4
    (lambda x, y, z: -y, lambda x, y, z: -x, lambda x, y, z: z),        # 5
)


def face_uv_to_xyz(face, u, v):
    """(face,u,v) -> direction vectors (NOT normalized)."""
    face = np.atleast_1d(np.asarray(face, dtype=np.int64))
    u = np.atleast_1d(np.asarray(u, dtype=np.float64))
    v = np.atleast_1d(np.asarray(v, dtype=np.float64))
    one = np.ones_like(u)
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    for f, (xe, ye, ze) in enumerate(
        (
            (lambda u, v, o: o, lambda u, v, o: u, lambda u, v, o: v),
            (lambda u, v, o: -u, lambda u, v, o: o, lambda u, v, o: v),
            (lambda u, v, o: -u, lambda u, v, o: -v, lambda u, v, o: o),
            (lambda u, v, o: -o, lambda u, v, o: -v, lambda u, v, o: -u),
            (lambda u, v, o: v, lambda u, v, o: -o, lambda u, v, o: -u),
            (lambda u, v, o: v, lambda u, v, o: u, lambda u, v, o: -o),
        )
    ):
        m = face == f
        if not m.any():
            continue
        uf, vf, of = u[m], v[m], one[m]
        x[m] = xe(uf, vf, of)
        y[m] = ye(uf, vf, of)
        z[m] = ze(uf, vf, of)
    return x, y, z


# ---------------------------------------------------------------- s/t <-> u/v
# Quadratic projection (the library default).

def st_to_uv(s):
    s = np.asarray(s, dtype=np.float64)
    return np.where(
        s >= 0.5,
        (1.0 / 3.0) * (4.0 * s * s - 1.0),
        (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)),
    )


def uv_to_st(u):
    u = np.asarray(u, dtype=np.float64)
    # np.where evaluates both branches; clip each sqrt argument at 0 (the
    # clipped branch is never selected) to avoid NaN warnings.
    pos = 0.5 * np.sqrt(np.maximum(1.0 + 3.0 * u, 0.0))
    neg = 1.0 - 0.5 * np.sqrt(np.maximum(1.0 - 3.0 * u, 0.0))
    return np.where(u >= 0, pos, neg)


# ---------------------------------------------------------------- s/t <-> i/j

def st_to_ij(s):
    """Clamped lround(LIMIT_IJ * s - 0.5); lround = floor(x+0.5) here."""
    s = np.asarray(s, dtype=np.float64)
    ij = np.floor(LIMIT_IJ * s - 0.5 + 0.5)
    return np.clip(ij, 0, LIMIT_IJ - 1).astype(np.int64)


def si_ti_to_st(si):
    return np.asarray(si, dtype=np.float64) * (1.0 / MAX_SI_TI)


def st_to_si_ti(s):
    return np.floor(np.asarray(s, dtype=np.float64) * MAX_SI_TI + 0.5).astype(np.int64)


# ----------------------------------------------------- scalar fast paths
# Pure-python variants for driver-side loops (coverer, cell geometry) where
# 1-element numpy arrays would dominate the cost.

def st_to_uv_scalar(s: float) -> float:
    if s >= 0.5:
        return (1.0 / 3.0) * (4.0 * s * s - 1.0)
    return (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))


_FACE_XYZ_SCALAR = (
    lambda u, v: (1.0, u, v),
    lambda u, v: (-u, 1.0, v),
    lambda u, v: (-u, -v, 1.0),
    lambda u, v: (-1.0, -v, -u),
    lambda u, v: (v, -1.0, -u),
    lambda u, v: (v, u, -1.0),
)


def face_uv_to_xyz_scalar(face: int, u: float, v: float) -> tuple[float, float, float]:
    return _FACE_XYZ_SCALAR[face](u, v)
