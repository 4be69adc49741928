"""S2 cell ids: 64-bit Hilbert-curve cell identifiers.

Two implementations sharing one set of lookup tables:

* vectorized numpy functions (``*_vec`` semantics, plain function names) —
  the hot kernels used inside Arrow/pandas UDFs, operating on whole columns;
* a scalar :class:`CellId` over python ints — used driver-side by the
  region coverer and in tests as an independent cross-check.

Semantics studied from the reference library (vnayar/s2geometry-d):
id layout + encode/decode ``src/s2/s2cell_id.d:44-66,995-1084``, center
``:282-313``, tokens ``:749-797``, neighbors ``:872-986``, wrap
``fromFaceIJWrap``.  This file is an independent re-expression in
numpy/python, not a port.

Spark storage convention: Spark ``LongType`` is signed, S2 ids are unsigned
(faces 4-5 set the top bit), so ids are stored *sign-flipped*
(``id XOR 2^63`` reinterpreted as int64), which preserves Hilbert order for
range predicates (SURVEY.md §1.4).
"""

from __future__ import annotations

import numpy as np

from . import coords
from .hilbert import (
    INVERT_MASK,
    LOOKUP_BITS,
    LOOKUP_IJ,
    LOOKUP_IJ_PY,
    LOOKUP_POS,
    LOOKUP_POS_PY,
    POS_TO_IJ,
    SWAP_MASK,
)

MAX_LEVEL = 30
POS_BITS = 2 * MAX_LEVEL + 1  # 61
MAX_SIZE = 1 << MAX_LEVEL
_U64 = np.uint64
_ONE = _U64(1)
_TWO = _U64(2)
_SIGN = 1 << 63
_MASK64 = (1 << 64) - 1

# ======================================================================
# Vectorized (numpy) layer
# ======================================================================


def from_face_ij(face, i, j) -> np.ndarray:
    """Leaf cell ids (uint64) from (face, i, j) arrays."""
    face = np.asarray(face).astype(np.uint64)
    i = np.asarray(i).astype(np.uint64)
    j = np.asarray(j).astype(np.uint64)
    n = face << _U64(POS_BITS - 1)
    bits = face & _U64(SWAP_MASK)
    mask = _U64((1 << LOOKUP_BITS) - 1)
    for k in range(7, -1, -1):
        kb = _U64(k * LOOKUP_BITS)
        bits = bits + (((i >> kb) & mask) << _U64(LOOKUP_BITS + 2))
        bits = bits + (((j >> kb) & mask) << _U64(2))
        bits = LOOKUP_POS[bits]
        n = n | ((bits >> _TWO) << _U64(k * 2 * LOOKUP_BITS))
        bits = bits & _U64(SWAP_MASK | INVERT_MASK)
    return n * _TWO + _ONE


def to_face_ij(ids) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(face, i, j) of the leaf cell nearest each cell's center."""
    ids = np.asarray(ids, dtype=np.uint64)
    face = (ids >> _U64(POS_BITS)).astype(np.int64)
    i = np.zeros(ids.shape, dtype=np.uint64)
    j = np.zeros(ids.shape, dtype=np.uint64)
    bits = (face.astype(np.uint64)) & _U64(SWAP_MASK)
    for k in range(7, -1, -1):
        nbits = (MAX_LEVEL - 7 * LOOKUP_BITS) if k == 7 else LOOKUP_BITS
        bits = bits + (
            ((ids >> _U64(k * 2 * LOOKUP_BITS + 1)) & _U64((1 << (2 * nbits)) - 1)) << _TWO
        )
        bits = LOOKUP_IJ[bits]
        i = i + ((bits >> _U64(LOOKUP_BITS + 2)) << _U64(k * LOOKUP_BITS))
        j = j + (((bits >> _TWO) & _U64((1 << LOOKUP_BITS) - 1)) << _U64(k * LOOKUP_BITS))
        bits = bits & _U64(SWAP_MASK | INVERT_MASK)
    return face, i.astype(np.int64), j.astype(np.int64)


def from_latlng(lat_deg, lng_deg) -> np.ndarray:
    """Leaf cell ids (uint64) for lat/lng degree columns — the hot kernel."""
    x, y, z = coords.latlng_to_xyz(lat_deg, lng_deg)
    return from_xyz(x, y, z)


def from_xyz(x, y, z) -> np.ndarray:
    face, u, v = coords.xyz_to_face_uv(x, y, z)
    i = coords.st_to_ij(coords.uv_to_st(u))
    j = coords.st_to_ij(coords.uv_to_st(v))
    return from_face_ij(face, i, j)


def lsb(ids) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids & (~ids + _ONE)


def level(ids) -> np.ndarray:
    """Level 0..30; exact via log2 of the lsb (a power of two <= 2^60)."""
    tz = np.log2(lsb(ids).astype(np.float64)).astype(np.int64)
    return MAX_LEVEL - (tz >> 1)


def lsb_for_level(lvl) -> np.ndarray:
    lvl = np.asarray(lvl, dtype=np.int64)
    return (_ONE << (_TWO * (_U64(MAX_LEVEL) - lvl.astype(np.uint64)))).astype(np.uint64)


def parent(ids, lvl) -> np.ndarray:
    """Ancestor at the given level (must be <= each id's level)."""
    ids = np.asarray(ids, dtype=np.uint64)
    nl = lsb_for_level(lvl)
    return (ids & (~(nl - _ONE))) | nl


def range_min(ids) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids - (lsb(ids) - _ONE)


def range_max(ids) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids + (lsb(ids) - _ONE)


def center_si_ti(ids) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    ids = np.asarray(ids, dtype=np.uint64)
    face, i, j = to_face_ij(ids)
    is_leaf = (ids & _ONE).astype(bool)
    second_case = ((i ^ (ids >> _TWO).astype(np.int64)) & 1).astype(bool)
    delta = np.where(is_leaf, 1, np.where(second_case, 2, 0)).astype(np.int64)
    return face, 2 * i + delta, 2 * j + delta


def to_xyz(ids) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Unit-vector centers of cells."""
    face, si, ti = center_si_ti(ids)
    u = coords.st_to_uv(coords.si_ti_to_st(si))
    v = coords.st_to_uv(coords.si_ti_to_st(ti))
    x, y, z = coords.face_uv_to_xyz(face, u, v)
    norm = np.sqrt(x * x + y * y + z * z)
    return x / norm, y / norm, z / norm


def to_latlng(ids) -> tuple[np.ndarray, np.ndarray]:
    """Degree lat/lng of cell centers."""
    x, y, z = to_xyz(ids)
    return coords.xyz_to_latlng(x, y, z)


def to_signed(ids) -> np.ndarray:
    """uint64 id -> order-preserving signed storage form (id XOR 2^63)."""
    ids = np.asarray(ids, dtype=np.uint64)
    return (ids ^ _U64(_SIGN)).view(np.int64)


def from_signed(signed) -> np.ndarray:
    signed = np.asarray(signed, dtype=np.int64)
    return signed.view(np.uint64) ^ _U64(_SIGN)


def from_face_ij_wrap_vec(face, i, j) -> np.ndarray:
    """Vectorized fromFaceIJWrap: leaf ids for (face, i, j) coords up to one
    leaf beyond the face boundary — clamp, project linearly through xyz,
    land on the adjacent face (mirrors _scalar_from_face_ij_wrap)."""
    face = np.asarray(face, dtype=np.int64)
    i = np.clip(np.asarray(i, dtype=np.int64), -1, MAX_SIZE)
    j = np.clip(np.asarray(j, dtype=np.int64), -1, MAX_SIZE)
    scale = 1.0 / MAX_SIZE
    limit = np.nextafter(1.0, 2.0)
    u = np.clip(scale * (2 * (i - MAX_SIZE // 2) + 1), -limit, limit)
    v = np.clip(scale * (2 * (j - MAX_SIZE // 2) + 1), -limit, limit)
    x, y, z = coords.face_uv_to_xyz(face, u, v)
    nf, nu, nv = coords.xyz_to_face_uv(x, y, z)
    ni = coords.st_to_ij(0.5 * (nu + 1.0))
    nj = coords.st_to_ij(0.5 * (nv + 1.0))
    return from_face_ij(nf, ni, nj)


def from_face_ij_same_vec(face, i, j, same) -> np.ndarray:
    """Vectorized fromFaceIJSame: direct encode where ``same`` (coords in
    face range), wrap projection elsewhere."""
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    same = np.asarray(same, dtype=bool)
    out = np.empty(face.shape, dtype=np.uint64)
    if same.any():
        out[same] = from_face_ij(face[same], i[same], j[same])
    w = ~same
    if w.any():
        out[w] = from_face_ij_wrap_vec(face[w], i[w], j[w])
    return out


def vertex_neighbors(ids, lvl) -> np.ndarray:
    """Vectorized appendVertexNeighbors: the (n, 4) neighbors at level
    ``lvl`` (< each id's level; scalar or per-row array) around each cell's
    nearest vertex — the column-kernel form of
    CellId.append_vertex_neighbors (s2cell_id.d:872-930).  At cube corners
    (only 3 distinct neighbors) the 4th entry duplicates the first;
    consumers dedupe."""
    ids = np.asarray(ids, dtype=np.uint64)
    lvl = np.broadcast_to(np.asarray(lvl, dtype=np.int64), ids.shape)
    face, i, j = to_face_ij(ids)
    halfsize = np.int64(1) << (np.int64(MAX_LEVEL) - (lvl + 1))
    size = halfsize << 1
    ihalf = (i & halfsize) != 0
    ioffset = np.where(ihalf, size, -size)
    isame = np.where(ihalf, (i + size) < MAX_SIZE, (i - size) >= 0)
    jhalf = (j & halfsize) != 0
    joffset = np.where(jhalf, size, -size)
    jsame = np.where(jhalf, (j + size) < MAX_SIZE, (j - size) >= 0)
    n0 = parent(ids, lvl)
    n1 = parent(from_face_ij_same_vec(face, i + ioffset, j, isame), lvl)
    n2 = parent(from_face_ij_same_vec(face, i, j + joffset, jsame), lvl)
    n3 = np.where(
        isame | jsame,
        parent(from_face_ij_same_vec(face, i + ioffset, j + joffset, isame & jsame), lvl),
        n0,
    )
    return np.stack([n0, n1, n2, n3], axis=1)


def cells_vertices(ids) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(n, 4, 3) unit vertices per cell, CCW — vectorized from the uv
    bounds; arranged as (x, y, z) arrays of shape (n, 4)."""
    ids = np.asarray(ids, dtype=np.uint64)
    face, i, j = to_face_ij(ids)
    lvl = level(ids)
    size = (np.int64(1) << (np.int64(MAX_LEVEL) - lvl)).astype(np.int64)
    ilo = i & -size
    jlo = j & -size
    scale = 1.0 / MAX_SIZE
    u_lo = coords.st_to_uv(scale * ilo)
    u_hi = coords.st_to_uv(scale * (ilo + size))
    v_lo = coords.st_to_uv(scale * jlo)
    v_hi = coords.st_to_uv(scale * (jlo + size))
    # CCW vertex order: (u0,v0),(u1,v0),(u1,v1),(u0,v1)
    us = np.stack([u_lo, u_hi, u_hi, u_lo], axis=1)
    vs = np.stack([v_lo, v_lo, v_hi, v_hi], axis=1)
    f4 = np.repeat(face, 4)
    x, y, z = coords.face_uv_to_xyz(f4, us.reshape(-1), vs.reshape(-1))
    n = np.sqrt(x * x + y * y + z * z)
    return (
        (x / n).reshape(-1, 4),
        (y / n).reshape(-1, 4),
        (z / n).reshape(-1, 4),
    )


def _tri_area_vec(ax, ay, az, bx, by, bz, cx, cy, cz) -> np.ndarray:
    """|signed spherical triangle excess| = |2 atan2(det, 1+ab+bc+ca)|."""
    det = (
        ax * (by * cz - bz * cy)
        + ay * (bz * cx - bx * cz)
        + az * (bx * cy - by * cx)
    )
    denom = (
        1.0
        + (ax * bx + ay * by + az * bz)
        + (bx * cx + by * cy + bz * cz)
        + (cx * ax + cy * ay + cz * az)
    )
    return np.abs(2.0 * np.arctan2(det, denom))


def cells_exact_area(ids) -> np.ndarray:
    """Exact spherical area per cell (two triangle excesses), vectorized —
    the column-kernel form of Cell.exact_area (s2cell.d:268-292)."""
    x, y, z = cells_vertices(ids)
    return _tri_area_vec(
        x[:, 0], y[:, 0], z[:, 0], x[:, 1], y[:, 1], z[:, 1], x[:, 2], y[:, 2], z[:, 2]
    ) + _tri_area_vec(
        x[:, 0], y[:, 0], z[:, 0], x[:, 2], y[:, 2], z[:, 2], x[:, 3], y[:, 3], z[:, 3]
    )


def cells_average_area(ids) -> np.ndarray:
    """AVG_AREA metric per cell's level, vectorized."""
    from . import metrics

    return np.ldexp(metrics.AVG_AREA.deriv, (-2 * level(ids)).astype(np.int32))


def expanded_by_distance_uv(
    uv: tuple[tuple[float, float], tuple[float, float]], distance_radians: float
) -> tuple[tuple[float, float], tuple[float, float]]:
    """Expand a face uv rect so it contains all points within ``distance``
    of the original (buffered tile bounds; semantics studied from
    s2cell_id.d:243-274 expandedByDistanceUV / expandEndpoint — spherical
    right-triangle construction, re-expressed).  Distance must be < 45deg
    (a face plane covers at most one hemisphere); negative distances shrink
    conservatively."""
    import math

    (u0, u1), (v0, v1) = uv
    max_u = max(abs(u0), abs(u1))
    max_v = max(abs(v0), abs(v1))
    sin_dist = math.sin(distance_radians)

    def expand_endpoint(u: float, mv: float, sd: float) -> float:
        sin_shift = sd * math.sqrt((1.0 + u * u + mv * mv) / (1.0 + u * u))
        cos_shift = math.sqrt(max(0.0, 1.0 - sin_shift * sin_shift))
        return (cos_shift * u + sin_shift) / (cos_shift - sin_shift * u)

    return (
        (expand_endpoint(u0, max_v, -sin_dist), expand_endpoint(u1, max_v, sin_dist)),
        (expand_endpoint(v0, max_u, -sin_dist), expand_endpoint(v1, max_u, sin_dist)),
    )


# ======================================================================
# Scalar (python int) layer
# ======================================================================


def token_of(cid: int) -> str:
    if cid == 0:
        return "X"
    tz_nibbles = ((cid & -cid).bit_length() - 1) // 4
    return format(cid >> (4 * tz_nibbles), f"0{16 - tz_nibbles}x")


def token_to_id(token: str) -> int:
    if not token or len(token) > 16 or token in ("X", "x"):
        return 0
    try:
        return int(token, 16) << (4 * (16 - len(token)))
    except ValueError:
        return 0


def _scalar_to_face_ij(cid: int) -> tuple[int, int, int]:
    """Pure-python (face, i, j) decode — avoids 1-element numpy overhead in
    driver-side loops (coverer, cell geometry)."""
    face = cid >> POS_BITS
    i = 0
    j = 0
    bits = face & SWAP_MASK
    for k in range(7, -1, -1):
        nbits = (MAX_LEVEL - 7 * LOOKUP_BITS) if k == 7 else LOOKUP_BITS
        bits += ((cid >> (k * 2 * LOOKUP_BITS + 1)) & ((1 << (2 * nbits)) - 1)) << 2
        bits = LOOKUP_IJ_PY[bits]
        i += (bits >> (LOOKUP_BITS + 2)) << (k * LOOKUP_BITS)
        j += ((bits >> 2) & ((1 << LOOKUP_BITS) - 1)) << (k * LOOKUP_BITS)
        bits &= SWAP_MASK | INVERT_MASK
    return face, i, j


def _scalar_from_face_ij(face: int, i: int, j: int) -> int:
    n = face << (POS_BITS - 1)
    bits = face & SWAP_MASK
    mask = (1 << LOOKUP_BITS) - 1
    for k in range(7, -1, -1):
        bits += ((i >> (k * LOOKUP_BITS)) & mask) << (LOOKUP_BITS + 2)
        bits += ((j >> (k * LOOKUP_BITS)) & mask) << 2
        bits = LOOKUP_POS_PY[bits]
        n |= (bits >> 2) << (k * 2 * LOOKUP_BITS)
        bits &= SWAP_MASK | INVERT_MASK
    return ((n * 2 + 1) & _MASK64)


def _scalar_from_face_ij_wrap(face: int, i: int, j: int) -> int:
    # Clamp to one leaf beyond the face, project through xyz to land on the
    # adjacent face (linear projection suffices, see reference fromFaceIJWrap).
    i = max(-1, min(MAX_SIZE, i))
    j = max(-1, min(MAX_SIZE, j))
    scale = 1.0 / MAX_SIZE
    limit = np.nextafter(1.0, 2.0)
    u = max(-limit, min(limit, scale * (2 * (i - MAX_SIZE // 2) + 1)))
    v = max(-limit, min(limit, scale * (2 * (j - MAX_SIZE // 2) + 1)))
    x, y, z = coords.face_uv_to_xyz(np.array([face]), np.array([u]), np.array([v]))
    nf, nu, nv = coords.xyz_to_face_uv(x, y, z)
    ni = int(coords.st_to_ij(0.5 * (nu + 1))[0])
    nj = int(coords.st_to_ij(0.5 * (nv + 1))[0])
    return _scalar_from_face_ij(int(nf[0]), ni, nj)


def _scalar_from_face_ij_same(face: int, i: int, j: int, same: bool) -> int:
    if same:
        return _scalar_from_face_ij(face, i, j)
    return _scalar_from_face_ij_wrap(face, i, j)


class CellId:
    """Scalar S2 cell id over a python int (unsigned 64-bit semantics)."""

    __slots__ = ("id",)

    def __init__(self, cid: int):
        self.id = cid & _MASK64

    # -- constructors ---------------------------------------------------
    @staticmethod
    def from_face_ij(face: int, i: int, j: int) -> "CellId":
        return CellId(_scalar_from_face_ij(face, i, j))

    @staticmethod
    def from_face(face: int) -> "CellId":
        return CellId((face << POS_BITS) + (1 << (POS_BITS - 1)))

    @staticmethod
    def from_latlng(lat_deg: float, lng_deg: float) -> "CellId":
        # accept 0-d/1-element array-likes: ndarray->scalar conversion is a
        # hard error in future numpy
        lat = float(np.asarray(lat_deg, dtype=np.float64).ravel()[0])
        lng = float(np.asarray(lng_deg, dtype=np.float64).ravel()[0])
        arr = from_latlng(np.array([lat]), np.array([lng]))
        return CellId(int(arr[0]))

    @staticmethod
    def from_point(x: float, y: float, z: float) -> "CellId":
        x = float(np.asarray(x, dtype=np.float64).ravel()[0])
        y = float(np.asarray(y, dtype=np.float64).ravel()[0])
        z = float(np.asarray(z, dtype=np.float64).ravel()[0])
        arr = from_xyz(np.array([x]), np.array([y]), np.array([z]))
        return CellId(int(arr[0]))

    @staticmethod
    def from_token(token: str) -> "CellId":
        return CellId(token_to_id(token))

    @staticmethod
    def begin(level: int) -> "CellId":
        return CellId.from_face(0).child_begin(level)

    @staticmethod
    def end(level: int) -> "CellId":
        return CellId.from_face(5).child_end(level)

    # -- basic properties ----------------------------------------------
    def lsb(self) -> int:
        return self.id & -self.id & _MASK64

    def level(self) -> int:
        if self.id & 1:
            return MAX_LEVEL
        return MAX_LEVEL - ((self.lsb().bit_length() - 1) >> 1)

    def face(self) -> int:
        return self.id >> POS_BITS

    def pos(self) -> int:
        return self.id & (_MASK64 >> 3)

    def is_leaf(self) -> bool:
        return bool(self.id & 1)

    def is_valid(self) -> bool:
        return self.face() < 6 and bool(self.lsb() & 0x1555555555555555)

    def is_face(self) -> bool:
        return (self.id & ((1 << POS_BITS) - 1)) == (1 << (POS_BITS - 1))

    # -- hierarchy -------------------------------------------------------
    def parent(self, level: int | None = None) -> "CellId":
        nl = (1 << (2 * (MAX_LEVEL - level))) if level is not None else (self.lsb() << 2)
        return CellId((self.id & -nl) | nl)

    def child(self, pos: int) -> "CellId":
        nl = self.lsb() >> 2
        return CellId(self.id + (2 * pos + 1 - 4) * nl)

    def children(self) -> list["CellId"]:
        return [self.child(p) for p in range(4)]

    def child_begin(self, level: int | None = None) -> "CellId":
        ol = self.lsb()
        nl = (1 << (2 * (MAX_LEVEL - level))) if level is not None else (ol >> 2)
        return CellId(self.id - ol + nl)

    def child_end(self, level: int | None = None) -> "CellId":
        ol = self.lsb()
        nl = (1 << (2 * (MAX_LEVEL - level))) if level is not None else (ol >> 2)
        return CellId(self.id + ol + nl)

    def next(self) -> "CellId":
        return CellId(self.id + (self.lsb() << 1))

    def prev(self) -> "CellId":
        return CellId(self.id - (self.lsb() << 1))

    def range_min(self) -> "CellId":
        return CellId(self.id - (self.lsb() - 1))

    def range_max(self) -> "CellId":
        return CellId(self.id + (self.lsb() - 1))

    def contains(self, other: "CellId") -> bool:
        return self.range_min().id <= other.id <= self.range_max().id

    def intersects(self, other: "CellId") -> bool:
        return (
            other.range_min().id <= self.range_max().id
            and other.range_max().id >= self.range_min().id
        )

    def child_position(self, level: int) -> int:
        return (self.id >> (2 * (MAX_LEVEL - level) + 1)) & 3

    # -- geometry ---------------------------------------------------------
    def to_face_ij(self) -> tuple[int, int, int]:
        return _scalar_to_face_ij(self.id)

    def to_face_ij_orientation(self) -> tuple[int, int, int, int]:
        """(face, i, j, hilbert orientation) — the orientation accumulates
        POS_TO_ORIENTATION over the child positions from the face root
        (toFaceIJOrientation, s2cell_id.d)."""
        from .hilbert import POS_TO_ORIENTATION

        face, i, j = _scalar_to_face_ij(self.id)
        orient = face & SWAP_MASK
        for lvl in range(1, self.level() + 1):
            orient ^= POS_TO_ORIENTATION[self.child_position(lvl)]
        return face, i, j, orient

    def get_size_ij(self) -> int:
        return 1 << (MAX_LEVEL - self.level())

    def to_point(self) -> tuple[float, float, float]:
        face, i, j = self.to_face_ij()
        if self.is_leaf():
            delta = 1
        else:
            delta = 2 if ((i ^ (self.id >> 2)) & 1) else 0
        si, ti = 2 * i + delta, 2 * j + delta
        u = coords.st_to_uv_scalar(si / coords.MAX_SI_TI)
        v = coords.st_to_uv_scalar(ti / coords.MAX_SI_TI)
        x, y, z = coords.face_uv_to_xyz_scalar(face, u, v)
        import math

        n = math.sqrt(x * x + y * y + z * z)
        return x / n, y / n, z / n

    def to_latlng(self) -> tuple[float, float]:
        lat, lng = to_latlng(np.array([self.id], dtype=np.uint64))
        return float(lat[0]), float(lng[0])

    def token(self) -> str:
        return token_of(self.id)

    def get_bound_uv(self) -> tuple[tuple[float, float], tuple[float, float]]:
        """[[u_lo,u_hi],[v_lo,v_hi]] bound of this cell on its face."""
        _, i, j = self.to_face_ij()
        size = self.get_size_ij()
        ilo = i & -size
        jlo = j & -size
        scale = 1.0 / coords.LIMIT_IJ
        u_lo = coords.st_to_uv_scalar(scale * ilo)
        u_hi = coords.st_to_uv_scalar(scale * (ilo + size))
        v_lo = coords.st_to_uv_scalar(scale * jlo)
        v_hi = coords.st_to_uv_scalar(scale * (jlo + size))
        return ((u_lo, u_hi), (v_lo, v_hi))

    # -- neighbors ---------------------------------------------------------
    def get_edge_neighbors(self) -> list["CellId"]:
        lvl = self.level()
        size = self.get_size_ij()
        face, i, j = self.to_face_ij()
        return [
            CellId(_scalar_from_face_ij_same(face, i, j - size, j - size >= 0)).parent(lvl),
            CellId(_scalar_from_face_ij_same(face, i + size, j, i + size < MAX_SIZE)).parent(lvl),
            CellId(_scalar_from_face_ij_same(face, i, j + size, j + size < MAX_SIZE)).parent(lvl),
            CellId(_scalar_from_face_ij_same(face, i - size, j, i - size >= 0)).parent(lvl),
        ]

    def append_vertex_neighbors(self, level: int) -> list["CellId"]:
        assert level < self.level()
        face, i, j = self.to_face_ij()
        halfsize = 1 << (MAX_LEVEL - (level + 1))
        size = halfsize << 1
        if i & halfsize:
            ioffset, isame = size, (i + size) < MAX_SIZE
        else:
            ioffset, isame = -size, (i - size) >= 0
        if j & halfsize:
            joffset, jsame = size, (j + size) < MAX_SIZE
        else:
            joffset, jsame = -size, (j - size) >= 0
        out = [
            self.parent(level),
            CellId(_scalar_from_face_ij_same(face, i + ioffset, j, isame)).parent(level),
            CellId(_scalar_from_face_ij_same(face, i, j + joffset, jsame)).parent(level),
        ]
        if isame or jsame:
            out.append(
                CellId(
                    _scalar_from_face_ij_same(face, i + ioffset, j + joffset, isame and jsame)
                ).parent(level)
            )
        return out

    def append_all_neighbors(self, nbr_level: int) -> list["CellId"]:
        assert nbr_level >= self.level()
        face, i, j = self.to_face_ij()
        size = self.get_size_ij()
        i &= -size
        j &= -size
        nbr_size = 1 << (MAX_LEVEL - nbr_level)
        out: list[CellId] = []
        k = -nbr_size
        while True:
            if k < 0:
                same_face = (j + k) >= 0
            elif k >= size:
                same_face = (j + k) < MAX_SIZE
            else:
                same_face = True
                out.append(
                    CellId(
                        _scalar_from_face_ij_same(face, i + k, j - nbr_size, j - size >= 0)
                    ).parent(nbr_level)
                )
                out.append(
                    CellId(
                        _scalar_from_face_ij_same(face, i + k, j + size, j + size < MAX_SIZE)
                    ).parent(nbr_level)
                )
            out.append(
                CellId(
                    _scalar_from_face_ij_same(face, i - nbr_size, j + k, same_face and i - size >= 0)
                ).parent(nbr_level)
            )
            out.append(
                CellId(
                    _scalar_from_face_ij_same(face, i + size, j + k, same_face and i + size < MAX_SIZE)
                ).parent(nbr_level)
            )
            if k >= size:
                break
            k += nbr_size
        return out

    # -- dunder -----------------------------------------------------------
    def __eq__(self, other) -> bool:
        return isinstance(other, CellId) and self.id == other.id

    def __lt__(self, other) -> bool:
        return self.id < other.id

    def __le__(self, other) -> bool:
        return self.id <= other.id

    def __hash__(self) -> int:
        return hash(self.id)

    def __repr__(self) -> str:
        return f"CellId({self.token()})"
