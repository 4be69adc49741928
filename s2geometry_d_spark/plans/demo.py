"""Shared demo regions + SQL-oracle fragments for the driver contract.

Every region here has BOTH a Spark execution path (covering join) and an
ANSI-SQL predicate form so DuckDB can verify the join output row-for-row.
"""

from __future__ import annotations

import math

from ..s2core.loops import Loop, Polygon
from ..s2core.regions import Cap, LatLngRect

# -- caps ---------------------------------------------------------------
CAPS = [
    ("cap_paris", 48.85, 2.35, 25.0),
    ("cap_sydney", -33.86, 151.21, 18.0),
    ("cap_andes", -20.0, -65.0, 12.0),
]

# -- rects (one crossing the dateline) -----------------------------------
RECTS = [
    ("rect_dateline", -20.0, 25.0, 160.0, -160.0),
    ("rect_europe", 35.0, 60.0, -10.0, 30.0),
]

# -- convex polygon (regular loop => CCW, interior-left) -------------------
POLY_SPEC = ("poly_andes", -20.0, -65.0, 12.0, 12)  # id, lat, lng, radius, n

# -- large polygon (10k edges): exercises the per-cell clipped-edge index --
POLY_BIG_SPEC = ("poly_big", 37.0, 127.0, 20.0, 10000)
_BIGPOLY = None


def cap_regions() -> list[tuple[str, Cap]]:
    return [(rid, Cap.from_latlng_radius(lat, lng, r)) for rid, lat, lng, r in CAPS]


def rect_regions() -> list[tuple[str, LatLngRect]]:
    return [
        (rid, LatLngRect.from_degrees(a, b, c, d)) for rid, a, b, c, d in RECTS
    ]


def poly_region() -> tuple[str, Polygon]:
    rid, lat, lng, r, n = POLY_SPEC
    return rid, Polygon([Loop.make_regular(lat, lng, r, n)], rid)


def bigpoly_region() -> tuple[str, Polygon]:
    """Memoized so the polygon's cell-index cache survives across query
    invocations in one process (index-once-reuse-everywhere)."""
    global _BIGPOLY
    if _BIGPOLY is None:
        rid, lat, lng, r, n = POLY_BIG_SPEC
        _BIGPOLY = (rid, Polygon([Loop.make_regular(lat, lng, r, n)], rid))
    return _BIGPOLY


def all_regions():
    return cap_regions() + rect_regions() + [poly_region()]


# ---------------------------------------------------------------- SQL forms

def points_cte() -> str:
    """Deterministic (point_id, lat, lng) derivation — identical to
    sources.tables.spatial_points (uses e0 literals => DOUBLE everywhere)."""
    return (
        "SELECT o_orderkey AS point_id, "
        "degrees(asin(2e0*(((o_orderkey * 2654435761 + 12345) % 1000003) / 1000003e0) - 1e0)) AS lat, "
        "360e0*(((o_orderkey * 2246822519 + 678901) % 1000003) / 1000003e0) - 180e0 AS lng "
        "FROM orders"
    )


def xyz_sql(lat: str = "lat", lng: str = "lng") -> tuple[str, str, str]:
    return (
        f"cos(radians({lng}))*cos(radians({lat}))",
        f"sin(radians({lng}))*cos(radians({lat}))",
        f"sin(radians({lat}))",
    )


def cap_predicate_sql(lat_c: float, lng_c: float, radius_deg: float) -> str:
    """chord^2(point, center) <= chord^2(radius) over (lat,lng) columns."""
    cap = Cap.from_latlng_radius(lat_c, lng_c, radius_deg)
    cx, cy, cz = cap.center
    px, py, pz = xyz_sql()
    return (
        f"(({px})-({cx!r}))*(({px})-({cx!r})) + "
        f"(({py})-({cy!r}))*(({py})-({cy!r})) + "
        f"(({pz})-({cz!r}))*(({pz})-({cz!r})) <= {cap.radius2!r}"
    )


def rect_predicate_sql(lat_lo, lat_hi, lng_lo, lng_hi) -> str:
    lat_ok = f"(lat >= {float(lat_lo)!r} AND lat <= {float(lat_hi)!r})"
    if lng_lo <= lng_hi:
        lng_ok = f"(lng >= {float(lng_lo)!r} AND lng <= {float(lng_hi)!r})"
    else:  # dateline wrap
        lng_ok = f"(lng >= {float(lng_lo)!r} OR lng <= {float(lng_hi)!r})"
    return f"({lat_ok} AND {lng_ok})"


def poly_predicate_sql() -> str:
    """Convex CCW loop: inside iff dot(edge_normal_i, p) > 0 for all edges;
    normals precomputed in python and inlined as double literals."""
    _, poly = poly_region()
    loop = poly.loops[0]
    v = loop.vertices
    px, py, pz = xyz_sql()
    conds = []
    for i in range(len(v)):
        a, b = v[i], v[(i + 1) % len(v)]
        nx = a[1] * b[2] - a[2] * b[1]
        ny = a[2] * b[0] - a[0] * b[2]
        nz = a[0] * b[1] - a[1] * b[0]
        conds.append(f"(({nx!r})*({px}) + ({ny!r})*({py}) + ({nz!r})*({pz}) > 0)")
    return "(" + " AND ".join(conds) + ")"


def bigpoly_predicate_sql() -> str:
    """Sector test for the regular n-gon, O(1) per point in SQL.

    A point with azimuth phi (in the loop's construction frame) lies in the
    spherical wedge between the meridians through vertices k and k+1 where
    k = floor(phi / (2*pi/n)); within that wedge the polygon boundary is
    exactly edge k, so containment is the single half-space test
    det(v_k, v_{k+1}, p) > 0.  Vertices are restated from the same closed
    form make_regular evaluates (unnormalized: sign tests are
    scale-invariant).  Returns a full query body (expects a ``points`` CTE).
    """
    import numpy as np

    from ..s2core.regions import latlng_point

    _, lat, lng, r_deg, n = POLY_BIG_SPEC
    zv = np.array(latlng_point(lat, lng))
    a = np.array([1.0, 0.0, 0.0]) if abs(zv[0]) < 0.9 else np.array([0.0, 1.0, 0.0])
    xv = np.cross(zv, a)
    xv /= np.linalg.norm(xv)
    yv = np.cross(zv, xv)
    r = math.radians(r_deg)
    cr, sr = math.cos(r), math.sin(r)
    px, py, pz = xyz_sql()
    return f"""
pts AS (SELECT point_id, {px} AS px, {py} AS py, {pz} AS pz FROM points),
verts AS (
  SELECT k,
    {cr!r}*{zv[0]!r} + {sr!r}*(cos(2*pi()*k/{n})*{xv[0]!r} + sin(2*pi()*k/{n})*{yv[0]!r}) AS vx,
    {cr!r}*{zv[1]!r} + {sr!r}*(cos(2*pi()*k/{n})*{xv[1]!r} + sin(2*pi()*k/{n})*{yv[1]!r}) AS vy,
    {cr!r}*{zv[2]!r} + {sr!r}*(cos(2*pi()*k/{n})*{xv[2]!r} + sin(2*pi()*k/{n})*{yv[2]!r}) AS vz
  FROM (SELECT unnest(generate_series(0, {n - 1})) AS k)
),
edges AS (
  SELECT a.k AS k,
         a.vy*b.vz - a.vz*b.vy AS nx,
         a.vz*b.vx - a.vx*b.vz AS ny,
         a.vx*b.vy - a.vy*b.vx AS nz
  FROM verts a JOIN verts b ON b.k = (a.k + 1) % {n}
),
sect AS (
  SELECT point_id, px, py, pz,
    least(CAST(floor(
      ((atan2(px*{yv[0]!r} + py*{yv[1]!r} + pz*{yv[2]!r},
              px*{xv[0]!r} + py*{xv[1]!r} + pz*{xv[2]!r}) + 2*pi()) % (2*pi()))
      / (2*pi()/{n})) AS BIGINT), {n - 1}) AS k
  FROM pts
)
SELECT point_id FROM sect s JOIN edges e USING (k)
WHERE e.nx*s.px + e.ny*s.py + e.nz*s.pz > 0
"""


# -- polygon-overlay pair fixture ------------------------------------------
# Deterministic CONVEX pairs (regular n-gons, offset centers => proper
# overlap, generic position): convexity is what makes the DuckDB oracle
# closed-form (vertex-in-polygon = all edge-determinant signs positive),
# while the engine's overlay kernel uses the parity PIP — two independent
# methods that must agree on the boundary vertex multiset.
OVERLAY_N_A = 12
OVERLAY_N_B = 16
OVERLAY_PAIRS = 12


def overlay_pair_specs():
    out = []
    for k in range(OVERLAY_PAIRS):
        lat_a = -33.0 + 6.0 * k
        lng_a = 15.0 * k - 80.0
        r_a = 6.0 + (k % 3)
        lat_b = lat_a + 0.6 * r_a
        lng_b = lng_a + 0.7 * r_a
        r_b = 5.0 + (k % 4)
        out.append((k, (lat_a, lng_a, r_a, OVERLAY_N_A), (lat_b, lng_b, r_b, OVERLAY_N_B)))
    return out


def overlay_pairs():
    """[(pair_id, a_vertices_xyz, b_vertices_xyz)] — vertex lists shared
    verbatim (as literals) with the SQL oracle."""
    return [
        (k, Loop.make_regular(*a).vertices, Loop.make_regular(*b).vertices)
        for k, a, b in overlay_pair_specs()
    ]


def overlay_sql(op: str) -> str:
    """Vertex multiset of op(A, B) per pair, derived INDEPENDENTLY of the
    engine's overlay walk: retained vertices by convex det-sign containment
    (∩ keeps A-verts inside B + B-verts inside A; ∪ keeps outside/outside;
    A−B keeps A-outside + B-inside), crossing points from the two
    great-circle normals (same expression order as
    s2core.boolean.edge_intersection, so doubles agree bitwise).

    symmetric_difference keeps EVERY original vertex (each lies on the
    boundary of exactly one of the A−B / B−A pieces) and every crossing
    point TWICE (both piece boundaries pass through it) — so the det-sign
    filter degenerates to tautologies and the crossing CTE is emitted
    twice."""
    cmp_a, cmp_b = {
        "intersection": ("> 0", "> 0"),
        "union": ("< 0", "< 0"),
        "difference": ("< 0", "> 0"),
        # min(det) over real operands is always finite: keep-all
        "symmetric_difference": ("IS NOT NULL", "IS NOT NULL"),
    }[op]
    def lit(x: float) -> str:
        # exponent form forces DOUBLE (plain decimals parse as DECIMAL in
        # DuckDB and poison downstream arithmetic); .17e round-trips exactly
        return format(x, ".17e")

    av_rows, bv_rows = [], []
    for k, averts, bverts in overlay_pairs():
        for j, v in enumerate(averts):
            av_rows.append(f"({k}, {j}, {lit(v[0])}, {lit(v[1])}, {lit(v[2])})")
        for j, v in enumerate(bverts):
            bv_rows.append(f"({k}, {j}, {lit(v[0])}, {lit(v[1])}, {lit(v[2])})")
    na, nb = OVERLAY_N_A, OVERLAY_N_B
    return f"""
WITH av(pair_id, j, x, y, z) AS (VALUES {", ".join(av_rows)}),
bv(pair_id, j, x, y, z) AS (VALUES {", ".join(bv_rows)}),
ae AS (
  SELECT p.pair_id, p.j, p.x AS ax, p.y AS ay, p.z AS az,
         q.x AS bx, q.y AS by, q.z AS bz
  FROM av p JOIN av q ON q.pair_id = p.pair_id AND q.j = (p.j + 1) % {na}
),
be AS (
  SELECT p.pair_id, p.j, p.x AS cx, p.y AS cy, p.z AS cz,
         q.x AS dx, q.y AS dy, q.z AS dz
  FROM bv p JOIN bv q ON q.pair_id = p.pair_id AND q.j = (p.j + 1) % {nb}
),
a_keep AS (
  SELECT v.pair_id, v.x, v.y, v.z
  FROM av v JOIN be e ON e.pair_id = v.pair_id
  GROUP BY v.pair_id, v.j, v.x, v.y, v.z
  HAVING min((e.cy*e.dz - e.cz*e.dy)*v.x + (e.cz*e.dx - e.cx*e.dz)*v.y + (e.cx*e.dy - e.cy*e.dx)*v.z) {cmp_a}
),
b_keep AS (
  SELECT v.pair_id, v.x, v.y, v.z
  FROM bv v JOIN ae e ON e.pair_id = v.pair_id
  GROUP BY v.pair_id, v.j, v.x, v.y, v.z
  HAVING min((e.ay*e.bz - e.az*e.by)*v.x + (e.az*e.bx - e.ax*e.bz)*v.y + (e.ax*e.by - e.ay*e.bx)*v.z) {cmp_b}
),
pairs AS (
  SELECT ae.pair_id,
         ae.ax, ae.ay, ae.az, ae.bx, ae.by, ae.bz,
         be.cx, be.cy, be.cz, be.dx, be.dy, be.dz,
         ae.ay*ae.bz - ae.az*ae.by AS n1x,
         ae.az*ae.bx - ae.ax*ae.bz AS n1y,
         ae.ax*ae.by - ae.ay*ae.bx AS n1z,
         be.cy*be.dz - be.cz*be.dy AS n2x,
         be.cz*be.dx - be.cx*be.dz AS n2y,
         be.cx*be.dy - be.cy*be.dx AS n2z
  FROM ae JOIN be ON be.pair_id = ae.pair_id
),
crossing AS (
  SELECT *,
         n1x*cx + n1y*cy + n1z*cz AS d1,
         n1x*dx + n1y*dy + n1z*dz AS d2,
         n2x*ax + n2y*ay + n2z*az AS d3,
         n2x*bx + n2y*by + n2z*bz AS d4
  FROM pairs
),
xpt AS (
  SELECT pair_id,
         n1y*n2z - n1z*n2y AS xx,
         n1z*n2x - n1x*n2z AS xy,
         n1x*n2y - n1y*n2x AS xz,
         ax, ay, az, bx, by, bz
  FROM crossing
  WHERE d1*d2 < 0 AND d1*d3 < 0 AND d1*d4 > 0
),
xsigned AS (
  SELECT pair_id,
         CASE WHEN xx*(ax+bx) + xy*(ay+by) + xz*(az+bz) < 0 THEN -xx ELSE xx END AS sx,
         CASE WHEN xx*(ax+bx) + xy*(ay+by) + xz*(az+bz) < 0 THEN -xy ELSE xy END AS sy,
         CASE WHEN xx*(ax+bx) + xy*(ay+by) + xz*(az+bz) < 0 THEN -xz ELSE xz END AS sz
  FROM xpt
),
allv AS (
  SELECT pair_id, x, y, z FROM a_keep
  UNION ALL
  SELECT pair_id, x, y, z FROM b_keep
  UNION ALL
  SELECT pair_id, sx / sqrt(sx*sx + sy*sy + sz*sz),
         sy / sqrt(sx*sx + sy*sy + sz*sz),
         sz / sqrt(sx*sx + sy*sy + sz*sz)
  FROM xsigned{_SYMDIFF_SECOND_CROSSING if op == "symmetric_difference" else ""}
)
SELECT pair_id, round(x, 6) AS vx, round(y, 6) AS vy, round(z, 6) AS vz FROM allv
"""


# second copy of each crossing point for the symmetric difference: both
# result-piece boundaries pass through every crossing vertex
_SYMDIFF_SECOND_CROSSING = """
  UNION ALL
  SELECT pair_id, sx / sqrt(sx*sx + sy*sy + sz*sz),
         sy / sqrt(sx*sx + sy*sy + sz*sz),
         sz / sqrt(sx*sx + sy*sy + sz*sz)
  FROM xsigned"""


# -- polygon-overlay WITH HOLES fixture ------------------------------------
# Annulus (convex shell + convex CW hole) vs disc pairs across the distinct
# topological configurations: disc straddling the shell only, straddling
# shell AND hole, disc fully inside the ring, disc fully inside the hole
# (empty intersection), and disc containing the whole annulus (multi-loop
# result).  Convex loops keep the DuckDB oracle closed-form — hole-loop
# containment uses the REVERSED det sign (max over CW hole edges) while the
# engine runs the interior-left parity walk: two independent derivations.
# Reference semantics: s2polygon.d:129+ loop-depth nesting over
# s2boolean_operation.d:225-481.
HOLES_N_OUT = 10
HOLES_N_HOLE = 7
HOLES_N_DISC = 9


def overlay_holes_pair_specs():
    """[(pair_id, annulus_spec, disc_spec)] with
    annulus_spec = (outer(lat,lng,r), hole(lat,lng,r)), disc = (lat,lng,r).
    Latitude offsets keep center distances exactly angular."""
    return [
        # disc straddles the outer shell only
        (0, ((0.0, 20.0, 8.0), (0.3, 20.2, 3.0)), (7.5, 20.1, 4.0)),
        # disc straddles shell AND hole
        (1, ((0.0, 50.0, 8.0), (-0.1, 50.3, 3.5)), (5.0, 50.0, 4.0)),
        # disc fully inside the ring (no crossings; A∩B = disc)
        (2, ((0.0, 80.0, 8.0), (0.3, 80.2, 3.0)), (5.5, 80.0, 1.2)),
        # disc fully inside the hole (A∩B = empty)
        (3, ((0.0, 110.0, 8.0), (0.3, 110.2, 3.0)), (0.5, 110.2, 1.0)),
        # disc contains the whole annulus (A∩B = annulus, 2 result loops)
        (4, ((0.0, 140.0, 8.0), (0.3, 140.2, 3.0)), (0.0, 140.1, 12.0)),
        # second straddle-both at a different latitude/size for variety
        (5, ((-25.0, -60.0, 7.0), (-25.2, -59.8, 3.2)), (-20.5, -60.0, 3.8)),
    ]


def _annulus_loops(outer, hole):
    """[outer CCW vertices, hole CW vertices] (interior-left)."""
    out = Loop.make_regular(outer[0], outer[1], outer[2], HOLES_N_OUT).vertices
    h = Loop.make_regular(hole[0], hole[1], hole[2], HOLES_N_HOLE).vertices
    return [out, list(reversed(h))]


def overlay_holes_pairs(flip: bool = False):
    """[(pair_id, a_loops, b_loops)] as xyz vertex lists per loop; loop 0 is
    the shell, loop 1 (when present) the CW hole.  ``flip=True`` swaps the
    sides (disc first) — the fixture for disc − annulus."""
    out = []
    for k, ann, disc in overlay_holes_pair_specs():
        a_loops = _annulus_loops(*ann)
        b_loops = [Loop.make_regular(disc[0], disc[1], disc[2], HOLES_N_DISC).vertices]
        out.append((k, b_loops, a_loops) if flip else (k, a_loops, b_loops))
    return out


def overlay_holes_sql(op: str, flip: bool = False) -> str:
    """Vertex multiset of op(A, B) for the holes fixture, derived
    independently of the engine walk.  Containment in a convex-shell +
    convex-CW-hole region: min(shell-edge det) > 0 AND max(hole-edge det)
    > 0 (the hole's CW orientation flips the sign test); crossings use the
    same closed-form expression order as the clean-pair oracle."""
    cmp_pairs = {
        "intersection": (True, True),   # keep A-verts inside B, B-verts inside A
        "union": (False, False),
        "difference": (False, True),    # A-verts outside B, B-verts inside A
        # symmetric difference keeps EVERY original vertex (each bounds
        # exactly one of the A-B / B-A pieces) and every crossing TWICE
        "symmetric_difference": (None, None),
    }
    want_a_inside, want_b_inside = cmp_pairs[op]

    def lit(x: float) -> str:
        return format(x, ".17e")

    pairs = overlay_holes_pairs(flip=flip)
    av_rows, bv_rows = [], []
    for k, a_loops, b_loops in pairs:
        for l, vs in enumerate(a_loops):
            for j, v in enumerate(vs):
                av_rows.append(
                    f"({k}, {l}, {j}, {len(vs)}, {lit(v[0])}, {lit(v[1])}, {lit(v[2])})"
                )
        for l, vs in enumerate(b_loops):
            for j, v in enumerate(vs):
                bv_rows.append(
                    f"({k}, {l}, {j}, {len(vs)}, {lit(v[0])}, {lit(v[1])}, {lit(v[2])})"
                )

    def keep_having(det: str, inside) -> str:
        if inside is None:  # symmetric difference: keep all
            return "count(*) >= 0"
        shell = f"min(CASE WHEN e.l = 0 THEN {det} END)"
        hole = f"max(CASE WHEN e.l = 1 THEN {det} END)"
        if inside:
            return f"{shell} > 0 AND coalesce({hole} > 0, TRUE)"
        return f"{shell} < 0 OR coalesce({hole} < 0, FALSE)"

    det_b = "(e.cy*e.dz - e.cz*e.dy)*v.x + (e.cz*e.dx - e.cx*e.dz)*v.y + (e.cx*e.dy - e.cy*e.dx)*v.z"
    det_a = "(e.ay*e.bz - e.az*e.by)*v.x + (e.az*e.bx - e.ax*e.bz)*v.y + (e.ax*e.by - e.ay*e.bx)*v.z"

    return f"""
WITH av(pair_id, l, j, n, x, y, z) AS (VALUES {", ".join(av_rows)}),
bv(pair_id, l, j, n, x, y, z) AS (VALUES {", ".join(bv_rows)}),
ae AS (
  SELECT p.pair_id, p.l, p.j, p.x AS ax, p.y AS ay, p.z AS az,
         q.x AS bx, q.y AS by, q.z AS bz
  FROM av p JOIN av q
    ON q.pair_id = p.pair_id AND q.l = p.l AND q.j = (p.j + 1) % p.n
),
be AS (
  SELECT p.pair_id, p.l, p.j, p.x AS cx, p.y AS cy, p.z AS cz,
         q.x AS dx, q.y AS dy, q.z AS dz
  FROM bv p JOIN bv q
    ON q.pair_id = p.pair_id AND q.l = p.l AND q.j = (p.j + 1) % p.n
),
a_keep AS (
  SELECT v.pair_id, v.x, v.y, v.z
  FROM av v JOIN be e ON e.pair_id = v.pair_id
  GROUP BY v.pair_id, v.l, v.j, v.x, v.y, v.z
  HAVING {keep_having(det_b, want_a_inside)}
),
b_keep AS (
  SELECT v.pair_id, v.x, v.y, v.z
  FROM bv v JOIN ae e ON e.pair_id = v.pair_id
  GROUP BY v.pair_id, v.l, v.j, v.x, v.y, v.z
  HAVING {keep_having(det_a, want_b_inside)}
),
epairs AS (
  SELECT ae.pair_id,
         ae.ax, ae.ay, ae.az, ae.bx, ae.by, ae.bz,
         be.cx, be.cy, be.cz, be.dx, be.dy, be.dz,
         ae.ay*ae.bz - ae.az*ae.by AS n1x,
         ae.az*ae.bx - ae.ax*ae.bz AS n1y,
         ae.ax*ae.by - ae.ay*ae.bx AS n1z,
         be.cy*be.dz - be.cz*be.dy AS n2x,
         be.cz*be.dx - be.cx*be.dz AS n2y,
         be.cx*be.dy - be.cy*be.dx AS n2z
  FROM ae JOIN be ON be.pair_id = ae.pair_id
),
crossing AS (
  SELECT *,
         n1x*cx + n1y*cy + n1z*cz AS d1,
         n1x*dx + n1y*dy + n1z*dz AS d2,
         n2x*ax + n2y*ay + n2z*az AS d3,
         n2x*bx + n2y*by + n2z*bz AS d4
  FROM epairs
),
xpt AS (
  SELECT pair_id,
         n1y*n2z - n1z*n2y AS xx,
         n1z*n2x - n1x*n2z AS xy,
         n1x*n2y - n1y*n2x AS xz,
         ax, ay, az, bx, by, bz
  FROM crossing
  WHERE d1*d2 < 0 AND d1*d3 < 0 AND d1*d4 > 0
),
xsigned AS (
  SELECT pair_id,
         CASE WHEN xx*(ax+bx) + xy*(ay+by) + xz*(az+bz) < 0 THEN -xx ELSE xx END AS sx,
         CASE WHEN xx*(ax+bx) + xy*(ay+by) + xz*(az+bz) < 0 THEN -xy ELSE xy END AS sy,
         CASE WHEN xx*(ax+bx) + xy*(ay+by) + xz*(az+bz) < 0 THEN -xz ELSE xz END AS sz
  FROM xpt
),
allv AS (
  SELECT pair_id, x, y, z FROM a_keep
  UNION ALL
  SELECT pair_id, x, y, z FROM b_keep
  UNION ALL
  SELECT pair_id, sx / sqrt(sx*sx + sy*sy + sz*sz),
         sy / sqrt(sx*sx + sy*sy + sz*sz),
         sz / sqrt(sx*sx + sy*sy + sz*sz)
  FROM xsigned{_SYMDIFF_SECOND_CROSSING if op == "symmetric_difference" else ""}
)
SELECT pair_id, round(x, 6) AS vx, round(y, 6) AS vy, round(z, 6) AS vz FROM allv
"""


# -- many-polygon PIP fixture ----------------------------------------------
# 1000 hash-placed convex hexagons: the many-region covering join at 100x
# the demo-region cardinality (north-rule broadcast-vs-SMJ evidence), with
# a closed-form per-polygon predicate for the oracle.
MANY_POLY_COUNT = 1000
MANY_POLY_RADIUS = 1.5
MANY_POLY_N = 6
_MANY_POLYS = None


def many_poly_specs():
    out = []
    for i in range(MANY_POLY_COUNT):
        # multipliers DIFFERENT from the point placement's: with the same
        # (multiplier, modulus) both sets sample the same rank-1 lattice
        # with a constant shift, anti-correlating points and polygons
        # (subsets of polygons saw ZERO points at fixture scale)
        u = ((i * 1566083941 + 97) % 1000003) / 1000003
        v = ((i * 1812433253 + 131) % 1000003) / 1000003
        lat = math.degrees(math.asin(2 * u - 1)) * 0.95  # keep off the poles
        lng = 360.0 * v - 180.0
        out.append((f"mp{i:04d}", lat, lng, MANY_POLY_RADIUS, MANY_POLY_N))
    return out


def many_poly_regions():
    """Memoized (cell-index reuse across invocations, like bigpoly)."""
    global _MANY_POLYS
    if _MANY_POLYS is None:
        _MANY_POLYS = [
            (rid, Polygon([Loop.make_regular(lat, lng, r, n)], rid))
            for rid, lat, lng, r, n in many_poly_specs()
        ]
    return _MANY_POLYS


def many_poly_sql() -> str:
    """Per-polygon convex predicate over inlined edge normals: one VALUES
    row per polygon with all 6 normals, cross-joined against the points
    CTE — 15M x 6 determinant tests, closed form."""

    def lit(x: float) -> str:
        return format(x, ".17e")

    rows = []
    for rid, poly in many_poly_regions():
        v = poly.loops[0].vertices
        cols = []
        for i in range(len(v)):
            a, b = v[i], v[(i + 1) % len(v)]
            cols.extend(
                (
                    lit(a[1] * b[2] - a[2] * b[1]),
                    lit(a[2] * b[0] - a[0] * b[2]),
                    lit(a[0] * b[1] - a[1] * b[0]),
                )
            )
        rows.append(f"('{rid}', {', '.join(cols)})")
    n_cols = ", ".join(
        f"n{k}x, n{k}y, n{k}z" for k in range(MANY_POLY_N)
    )
    px, py, pz = xyz_sql("p.lat", "p.lng")
    conds = " AND ".join(
        f"(n{k}x*px + n{k}y*py + n{k}z*pz > 0)" for k in range(MANY_POLY_N)
    )
    return f"""
WITH points AS ({points_cte()}),
pxyz AS (SELECT point_id, {px} AS px, {py} AS py, {pz} AS pz FROM points p),
poly(poly_id, {n_cols}) AS (VALUES {", ".join(rows)})
SELECT poly.poly_id AS region_id, pxyz.point_id
FROM pxyz CROSS JOIN poly
WHERE {conds}
"""


# -- polygon relation pairs ------------------------------------------------
# the overlay pairs (all properly overlapping) plus disjoint / contained /
# far configurations so every relation outcome is exercised


def relation_pair_specs():
    out = [(k, a, b) for k, a, b in overlay_pair_specs()]
    extra = [
        # disjoint, same latitude band
        ((20.0, -60.0, 5.0, OVERLAY_N_A), (20.0, -30.0, 5.0, OVERLAY_N_B)),
        # B contained in A
        ((-10.0, 80.0, 10.0, OVERLAY_N_A), (-10.0, 80.0, 3.0, OVERLAY_N_B)),
        # A contained in B
        ((45.0, 150.0, 2.5, OVERLAY_N_A), (45.0, 151.0, 9.0, OVERLAY_N_B)),
        # disjoint across hemispheres
        ((60.0, 10.0, 6.0, OVERLAY_N_A), (-60.0, -170.0, 6.0, OVERLAY_N_B)),
    ]
    base = len(out)
    out.extend((base + i, a, b) for i, (a, b) in enumerate(extra))
    return out


def relation_pairs():
    return [
        (k, Loop.make_regular(*a).vertices, Loop.make_regular(*b).vertices)
        for k, a, b in relation_pair_specs()
    ]


def polygon_relations_sql() -> str:
    """Relations re-derived by the CONVEX characterization (independent of
    the engine's generic boundary sweep): intersects iff any vertex of one
    lies in the other or any edge pair properly crosses; X contains Y iff
    every Y vertex lies in X (convexity closes the edges)."""

    def lit(x: float) -> str:
        return format(x, ".17e")

    av_rows, bv_rows = [], []
    for k, averts, bverts in relation_pairs():
        for j, v in enumerate(averts):
            av_rows.append(f"({k}, {j}, {lit(v[0])}, {lit(v[1])}, {lit(v[2])})")
        for j, v in enumerate(bverts):
            bv_rows.append(f"({k}, {j}, {lit(v[0])}, {lit(v[1])}, {lit(v[2])})")
    na, nb = OVERLAY_N_A, OVERLAY_N_B
    return f"""
WITH av(pair_id, j, x, y, z) AS (VALUES {", ".join(av_rows)}),
bv(pair_id, j, x, y, z) AS (VALUES {", ".join(bv_rows)}),
ae AS (
  SELECT p.pair_id, p.x AS ax, p.y AS ay, p.z AS az, q.x AS bx, q.y AS by, q.z AS bz,
         p.y*q.z - p.z*q.y AS nx, p.z*q.x - p.x*q.z AS ny, p.x*q.y - p.y*q.x AS nz
  FROM av p JOIN av q ON q.pair_id = p.pair_id AND q.j = (p.j + 1) % {na}
),
be AS (
  SELECT p.pair_id, p.x AS cx, p.y AS cy, p.z AS cz, q.x AS dx, q.y AS dy, q.z AS dz,
         p.y*q.z - p.z*q.y AS mx, p.z*q.x - p.x*q.z AS my, p.x*q.y - p.y*q.x AS mz
  FROM bv p JOIN bv q ON q.pair_id = p.pair_id AND q.j = (p.j + 1) % {nb}
),
a_in_b AS (
  SELECT v.pair_id, count(*) AS n_in
  FROM (
    SELECT v.pair_id, v.j, min(e.mx*v.x + e.my*v.y + e.mz*v.z) AS mind
    FROM av v JOIN be e ON e.pair_id = v.pair_id
    GROUP BY v.pair_id, v.j
  ) v WHERE v.mind > 0 GROUP BY v.pair_id
),
b_in_a AS (
  SELECT v.pair_id, count(*) AS n_in
  FROM (
    SELECT v.pair_id, v.j, min(e.nx*v.x + e.ny*v.y + e.nz*v.z) AS mind
    FROM bv v JOIN ae e ON e.pair_id = v.pair_id
    GROUP BY v.pair_id, v.j
  ) v WHERE v.mind > 0 GROUP BY v.pair_id
),
crossings AS (
  SELECT e1.pair_id, count(*) AS n_x
  FROM ae e1 JOIN be e2 ON e2.pair_id = e1.pair_id
  WHERE (e1.nx*e2.cx + e1.ny*e2.cy + e1.nz*e2.cz)*(e1.nx*e2.dx + e1.ny*e2.dy + e1.nz*e2.dz) < 0
    AND (e1.nx*e2.cx + e1.ny*e2.cy + e1.nz*e2.cz)*(e2.mx*e1.ax + e2.my*e1.ay + e2.mz*e1.az) < 0
    AND (e1.nx*e2.cx + e1.ny*e2.cy + e1.nz*e2.cz)*(e2.mx*e1.bx + e2.my*e1.by + e2.mz*e1.bz) > 0
  GROUP BY e1.pair_id
),
ids AS (SELECT DISTINCT pair_id FROM av)
SELECT i.pair_id,
       (coalesce(a.n_in, 0) > 0 OR coalesce(b.n_in, 0) > 0 OR coalesce(x.n_x, 0) > 0) AS intersects,
       (coalesce(b.n_in, 0) = {nb}) AS a_contains_b,
       (coalesce(a.n_in, 0) = {na}) AS b_contains_a
FROM ids i
LEFT JOIN a_in_b a USING (pair_id)
LEFT JOIN b_in_a b USING (pair_id)
LEFT JOIN crossings x USING (pair_id)
"""


# -- n-way union groups ----------------------------------------------------
UNION_GROUPS = 8
UNION_POLYS = 4
UNION_N = 12


def union_group_specs():
    out = []
    for g in range(UNION_GROUPS):
        base_lat = -35.0 + 9.0 * g
        base_lng = -140.0 + 30.0 * g
        polys = [
            (base_lat + 2.5 * i, base_lng + 4.0 * i, 5.0 + ((g + i) % 3), UNION_N)
            for i in range(UNION_POLYS)
        ]
        out.append((g, polys))
    return out


def union_groups():
    """[(group_id, [poly_vertices, ...])] — chains of overlapping convex
    12-gons; vertex lists shared verbatim (as literals) with the oracle."""
    return [
        (g, [Loop.make_regular(*spec).vertices for spec in specs])
        for g, specs in union_group_specs()
    ]


def union_many_sql() -> str:
    """Union-boundary vertex multiset derived INDEPENDENTLY of the overlay
    fold: a point is on the boundary of ∪P_i iff it lies on some ∂P_i and
    strictly inside no other — retained original vertices (outside every
    other polygon: every other's min edge-det < 0) plus pairwise crossing
    points outside every third polygon."""

    def lit(x: float) -> str:
        return format(x, ".17e")

    uv_rows = []
    for g, polys in union_groups():
        for p, verts in enumerate(polys):
            for j, v in enumerate(verts):
                uv_rows.append(f"({g}, {p}, {j}, {lit(v[0])}, {lit(v[1])}, {lit(v[2])})")
    n = UNION_N
    return f"""
WITH uv(g, p, j, x, y, z) AS (VALUES {", ".join(uv_rows)}),
ed AS (
  SELECT a.g, a.p, a.j,
         a.x AS ax, a.y AS ay, a.z AS az, b.x AS bx, b.y AS by, b.z AS bz,
         a.y*b.z - a.z*b.y AS nx, a.z*b.x - a.x*b.z AS ny, a.x*b.y - a.y*b.x AS nz
  FROM uv a JOIN uv b ON b.g = a.g AND b.p = a.p AND b.j = (a.j + 1) % {n}
),
-- original vertices outside every OTHER polygon of the group
vq AS (
  SELECT v.g, v.p, v.j, v.x, v.y, v.z, e.p AS q,
         min(e.nx*v.x + e.ny*v.y + e.nz*v.z) AS mind
  FROM uv v JOIN ed e ON e.g = v.g AND e.p <> v.p
  GROUP BY v.g, v.p, v.j, v.x, v.y, v.z, e.p
),
keepv AS (
  SELECT g, x, y, z FROM vq GROUP BY g, p, j, x, y, z HAVING max(mind) < 0
),
-- pairwise proper crossings
pairs AS (
  SELECT e1.g, e1.p AS p1, e2.p AS p2,
         e1.ax, e1.ay, e1.az, e1.bx, e1.by, e1.bz,
         e1.nx AS n1x, e1.ny AS n1y, e1.nz AS n1z,
         e2.nx AS n2x, e2.ny AS n2y, e2.nz AS n2z,
         e2.ax AS cx, e2.ay AS cy, e2.az AS cz,
         e2.bx AS dx, e2.by AS dy, e2.bz AS dz
  FROM ed e1 JOIN ed e2 ON e2.g = e1.g AND e1.p < e2.p
),
xr AS (
  SELECT g, p1, p2,
         n1y*n2z - n1z*n2y AS xx, n1z*n2x - n1x*n2z AS xy, n1x*n2y - n1y*n2x AS xz,
         ax, ay, az, bx, by, bz
  FROM pairs
  WHERE (n1x*cx + n1y*cy + n1z*cz)*(n1x*dx + n1y*dy + n1z*dz) < 0
    AND (n1x*cx + n1y*cy + n1z*cz)*(n2x*ax + n2y*ay + n2z*az) < 0
    AND (n1x*cx + n1y*cy + n1z*cz)*(n2x*bx + n2y*by + n2z*bz) > 0
),
xs AS (
  SELECT g, p1, p2,
         CASE WHEN xx*(ax+bx) + xy*(ay+by) + xz*(az+bz) < 0 THEN -xx ELSE xx END AS sx,
         CASE WHEN xx*(ax+bx) + xy*(ay+by) + xz*(az+bz) < 0 THEN -xy ELSE xy END AS sy,
         CASE WHEN xx*(ax+bx) + xy*(ay+by) + xz*(az+bz) < 0 THEN -xz ELSE xz END AS sz
  FROM xr
),
xn AS (
  SELECT row_number() OVER () AS xid, g, p1, p2,
         sx / sqrt(sx*sx + sy*sy + sz*sz) AS x,
         sy / sqrt(sx*sx + sy*sy + sz*sz) AS y,
         sz / sqrt(sx*sx + sy*sy + sz*sz) AS z
  FROM xs
),
-- crossings outside every THIRD polygon (none exist when the group has
-- only the two crossing polygons touching that point)
xq AS (
  SELECT xn.xid, xn.g, xn.x, xn.y, xn.z, e.p AS r,
         min(e.nx*xn.x + e.ny*xn.y + e.nz*xn.z) AS mind
  FROM xn JOIN ed e ON e.g = xn.g AND e.p <> xn.p1 AND e.p <> xn.p2
  GROUP BY xn.xid, xn.g, xn.x, xn.y, xn.z, e.p
),
keepx AS (
  SELECT g, x, y, z FROM xq GROUP BY xid, g, x, y, z HAVING max(mind) < 0
),
allv AS (
  SELECT g, x, y, z FROM keepv
  UNION ALL
  SELECT g, x, y, z FROM keepx
)
SELECT g AS group_id, round(x, 6) AS vx, round(y, 6) AS vy, round(z, 6) AS vz FROM allv
"""


# -- polyline fixture (a Paris -> Tokyo "route") ---------------------------
POLYLINE_WAYPOINTS = [
    (48.85, 2.35),
    (52.52, 13.41),
    (55.75, 37.62),
    (51.17, 71.43),
    (43.25, 76.95),
    (39.90, 116.40),
    (31.23, 121.47),
    (35.68, 139.69),
]
POLYLINE_RADIUS_DEG = 6.0


def polyline_edges_values_sql() -> str:
    rows = ", ".join(
        f"({a!r}, {b!r}, {c!r}, {d!r})"
        for (a, b), (c, d) in zip(POLYLINE_WAYPOINTS, POLYLINE_WAYPOINTS[1:])
    )
    return f"(VALUES {rows}) AS e(alat, alng, blat, blng)"


def knn_queries() -> list[tuple[str, float, float]]:
    return [
        ("q1", 48.85, 2.35),
        ("q2", -33.86, 151.21),
        ("q3", 0.0, 0.0),
        ("q4", 89.0, 10.0),
        ("q5", 10.0, 179.9),
        ("q6", -89.0, -10.0),
        ("q7", 35.68, 139.69),
        ("q8", -1.29, 36.82),
    ]


def knn_queries_values_sql() -> str:
    rows = []
    for qid, lat, lng in knn_queries():
        lat_r = math.radians(lat)
        lng_r = math.radians(lng)
        qx = math.cos(lng_r) * math.cos(lat_r)
        qy = math.sin(lng_r) * math.cos(lat_r)
        qz = math.sin(lat_r)
        rows.append(f"('{qid}', {qx!r}, {qy!r}, {qz!r})")
    return "(VALUES " + ", ".join(rows) + ") AS q(query_id, qx, qy, qz)"


# -- dirty-polygon snap fixture (builder v2) -------------------------------
# Regular loops polluted with NEAR-DUPLICATE vertices (1e-8 deg offsets —
# far below the E4 snap resolution, so each duplicate rounds to the same
# snap site and must merge).  Centers stay below |lat| 40 so adjacent E4
# grid sites are separated by more than the snap radius (lng grid spacing
# shrinks by cos(lat); at high latitude site selection would merge
# neighboring grid points and the closed-form oracle would no longer
# predict the site set).
SNAP_POLYS = 10
SNAP_EXPONENT = 4


def snap_fixture_polys():
    """[(poly_id, [loop_vertices_xyz])] dirty inputs for snap_polygons."""
    out = []
    for k in range(SNAP_POLYS):
        lat = -35.0 + 7.5 * k
        lng = 30.0 * k - 150.0
        base = Loop.make_regular(lat, lng, 4.0 + (k % 3), 9 + (k % 4)).vertices
        dirty = []
        for j, v in enumerate(base):
            dirty.append(v)
            if j % 3 == 0:  # inject a near-duplicate after every 3rd vertex
                la = math.degrees(math.asin(max(-1.0, min(1.0, v[2])))) + 1e-8
                lo = math.degrees(math.atan2(v[1], v[0])) - 1e-8
                lar, lor = math.radians(la), math.radians(lo)
                dirty.append(
                    (
                        math.cos(lar) * math.cos(lor),
                        math.cos(lar) * math.sin(lor),
                        math.sin(lar),
                    )
                )
        out.append((k, [dirty]))
    return out


def snap_polygons_sql() -> str:
    """Distinct E4 snap sites per dirty polygon, derived INDEPENDENTLY:
    round-half-away(lat * 1e4) / 1e4 on the same vertex literals the
    engine ingests (builder-v2 IntLatLngSnapFunction semantics; merging of
    near-duplicates falls out of DISTINCT because duplicates round to the
    same grid point)."""
    rows = []
    for pid, loops in snap_fixture_polys():
        for loop in loops:
            for v in loop:
                la = math.degrees(math.asin(max(-1.0, min(1.0, v[2]))))
                lo = math.degrees(math.atan2(v[1], v[0]))
                rows.append(f"({pid}, {format(la, '.17e')}, {format(lo, '.17e')})")
    e = 10 ** SNAP_EXPONENT
    return f"""
WITH v(poly_id, lat, lng) AS (VALUES {", ".join(rows)})
SELECT DISTINCT poly_id,
       round(round(lat * {e}e0) / {e}e0, 6) + 0e0 AS vlat,
       round(round(lng * {e}e0) / {e}e0, 6) + 0e0 AS vlng
FROM v
"""


def snap_fixture_lines():
    """[(line_id, [vertex_xyz])] dirty polylines for the builder POLYLINE
    layer: near-duplicate consecutive vertices (merge to one E4 site), an
    A->B->A spike (KEPT — the polyline layer keeps sibling pairs), and one
    line whose vertices all fall in a single E4 cell (collapses, vanishes).
    All latitudes stay below 30 deg so distinct E4 grid points are farther
    apart than the snap radius (lng pitch shrinks by cos(lat)) — per-vertex
    rounding and greedy site selection then provably agree."""

    def xyz(lat, lng):
        la, lo = math.radians(lat), math.radians(lng)
        return (
            math.cos(la) * math.cos(lo),
            math.cos(la) * math.sin(lo),
            math.sin(la),
        )

    out = []
    # 0: clean 5-vertex path, well separated
    out.append((0, [xyz(1.0 + 0.5 * j, 10.0 + 1.2 * j) for j in range(5)]))
    # 1: consecutive near-duplicates (within one E4 cell) merge
    out.append(
        (
            1,
            [
                xyz(5.000040, 20.000040),
                xyz(5.000020, 20.000010),  # same E4 cell as previous
                xyz(5.400040, 20.500040),
                xyz(5.400010, 20.500020),  # same E4 cell as previous
                xyz(6.000040, 21.000040),
            ],
        )
    )
    # 2: A->B->A spike — polyline layer keeps sibling pairs (PATH type)
    out.append((2, [xyz(-3.0, 40.0), xyz(-3.5, 40.5), xyz(-3.0, 40.0)]))
    # 3: all vertices inside one E4 cell -> line collapses and vanishes
    out.append(
        (
            3,
            [
                xyz(12.000010, -50.000010),
                xyz(12.000030, -50.000030),
                xyz(12.000040, -50.000020),
            ],
        )
    )
    # 4: zigzag with two merge points
    verts = []
    for j in range(6):
        verts.append(xyz(-8.0 + 0.3 * j, 70.0 + 0.7 * ((-1) ** j)))
        if j % 2 == 1:
            la = -8.0 + 0.3 * j + 2.0e-6
            lo = 70.0 + 0.7 * ((-1) ** j) - 2.0e-6
            verts.append(xyz(la, lo))
    out.append((4, verts))
    return out


def snap_polylines_sql() -> str:
    """Independent re-derivation of the builder polyline layer on the same
    vertex literals: E4 round-half-away snap, consecutive-duplicate
    removal via lag(), seq renumbering, lines with <2 surviving vertices
    dropped."""
    rows = []
    for lid, verts in snap_fixture_lines():
        for seq, v in enumerate(verts):
            la = math.degrees(math.asin(max(-1.0, min(1.0, v[2]))))
            lo = math.degrees(math.atan2(v[1], v[0]))
            rows.append(
                f"({lid}, {seq}, {format(la, '.17e')}, {format(lo, '.17e')})"
            )
    e = 10**SNAP_EXPONENT
    return f"""
WITH v(line_id, seq0, lat, lng) AS (VALUES {", ".join(rows)}),
s AS (
  SELECT line_id, seq0,
         round(round(lat * {e}e0) / {e}e0, 6) + 0e0 AS vlat,
         round(round(lng * {e}e0) / {e}e0, 6) + 0e0 AS vlng
  FROM v
),
d AS (
  SELECT line_id, seq0, vlat, vlng,
         lag(vlat) OVER w AS plat, lag(vlng) OVER w AS plng
  FROM s WINDOW w AS (PARTITION BY line_id ORDER BY seq0)
),
k AS (
  SELECT line_id, vlat, vlng,
         CAST(row_number() OVER (PARTITION BY line_id ORDER BY seq0) - 1 AS INT) AS seq
  FROM d WHERE plat IS NULL OR plat <> vlat OR plng <> vlng
),
n AS (SELECT line_id, count(*) AS nv FROM k GROUP BY line_id)
SELECT k.line_id, k.seq, k.vlat, k.vlng
FROM k JOIN n ON k.line_id = n.line_id WHERE n.nv >= 2
"""


# -- multi-line fixture for the composed snap + PATH-assembly pipeline ------
def graph_fixture_lines():
    """snap_fixture_lines() plus lines that interact ACROSS line ids once
    snapped to the shared site set: lines 4+5 meet end-to-start at one
    site (degree 1/1 — they merge into ONE chain), lines 6/7/8 meet at a
    fan-out site (outdegree 2 — chains split there).  Endpoint literals
    repeat exactly so the shared E4 site is bit-identical."""

    def xyz(lat, lng):
        la, lo = math.radians(lat), math.radians(lng)
        return (
            math.cos(la) * math.cos(lo),
            math.cos(la) * math.sin(lo),
            math.sin(la),
        )

    out = list(snap_fixture_lines())  # line ids 0-4
    # 10: C->D, 11: D->E->F  — D interior, merge across lines
    out.append((10, [xyz(0.0, -30.0), xyz(1.0, -29.0)]))
    out.append((11, [xyz(1.0, -29.0), xyz(2.0, -28.0), xyz(3.0, -27.0)]))
    # 12: G->H, 13: H->I, 14: H->J — H has outdegree 2, split
    out.append((12, [xyz(10.0, -40.0), xyz(11.0, -39.0)]))
    out.append((13, [xyz(11.0, -39.0), xyz(12.0, -38.0)]))
    out.append((14, [xyz(11.0, -39.0), xyz(12.0, -40.0)]))
    return out


def build_polyline_graph_sql() -> str:
    """Independent re-derivation of the composed builder pipeline on the
    same vertex literals: E4 snap + duplicate collapse per line (as
    snap_polylines_sql), integer site keys, consecutive-vertex edges,
    then the recursive PATH walk (as assemble_polylines_sql) over the
    derived edge soup, decoding sites back to degrees at the end."""
    rows = []
    for lid, verts in graph_fixture_lines():
        for seq, v in enumerate(verts):
            la = math.degrees(math.asin(max(-1.0, min(1.0, v[2]))))
            lo = math.degrees(math.atan2(v[1], v[0]))
            rows.append(
                f"({lid}, {seq}, {format(la, '.17e')}, {format(lo, '.17e')})"
            )
    e = 10**SNAP_EXPONENT
    width = 360 * e + 1
    return f"""
WITH RECURSIVE
v(line_id, seq0, lat, lng) AS (VALUES {", ".join(rows)}),
s AS (
  SELECT line_id, seq0,
         round(round(lat * {e}e0) / {e}e0, 6) + 0e0 AS vlat,
         round(round(lng * {e}e0) / {e}e0, 6) + 0e0 AS vlng
  FROM v
),
d AS (
  SELECT line_id, seq0, vlat, vlng,
         lag(vlat) OVER w AS plat, lag(vlng) OVER w AS plng
  FROM s WINDOW w AS (PARTITION BY line_id ORDER BY seq0)
),
k AS (
  SELECT line_id, vlat, vlng,
         CAST(row_number() OVER (PARTITION BY line_id ORDER BY seq0) - 1 AS INT) AS seq
  FROM d WHERE plat IS NULL OR plat <> vlat OR plng <> vlng
),
n AS (SELECT line_id, count(*) AS nv FROM k GROUP BY line_id),
sv AS (
  SELECT k.line_id, k.seq,
         (CAST(round(k.vlat * {e}e0) AS BIGINT) + {90 * e}) * {width}
         + (CAST(round(k.vlng * {e}e0) AS BIGINT) + {180 * e}) AS site
  FROM k JOIN n ON k.line_id = n.line_id WHERE n.nv >= 2
),
e(eid, src, dst) AS (
  SELECT eid, src, dst FROM (
    SELECT line_id * 1000000 + seq AS eid, site AS src,
           lead(site) OVER (PARTITION BY line_id ORDER BY seq) AS dst
    FROM sv
  ) WHERE dst IS NOT NULL
),
deg AS (
  SELECT vv, sum(i) AS ind, sum(o) AS outd FROM (
    SELECT src AS vv, 0 AS i, 1 AS o FROM e
    UNION ALL SELECT dst AS vv, 1 AS i, 0 AS o FROM e
  ) GROUP BY vv
),
interior AS (SELECT vv FROM deg WHERE ind = 1 AND outd = 1),
walk(root, eid, dst, seq) AS (
  SELECT eid, eid, dst, 0 FROM e WHERE src NOT IN (SELECT vv FROM interior)
  UNION ALL
  SELECT w.root, e2.eid, e2.dst, w.seq + 1
  FROM walk w JOIN e e2 ON e2.src = w.dst
  WHERE w.dst IN (SELECT vv FROM interior)
),
cyc(root, rootsrc, eid, dst, seq) AS (
  SELECT eid, src, eid, dst, 0 FROM e
  WHERE eid NOT IN (SELECT eid FROM walk)
  UNION ALL
  SELECT c.root, c.rootsrc, e2.eid, e2.dst, c.seq + 1
  FROM cyc c JOIN e e2 ON e2.src = c.dst
  WHERE e2.src <> c.rootsrc
),
ckeep AS (SELECT root FROM cyc GROUP BY root HAVING root = min(eid)),
allw AS (
  SELECT root, eid, seq FROM walk
  UNION ALL
  SELECT c.root, c.eid, c.seq FROM cyc c JOIN ckeep USING (root)
),
pid AS (SELECT root, min(eid) AS polyline_id FROM allw GROUP BY root)
SELECT CAST(pid.polyline_id AS BIGINT) AS polyline_id,
       CAST(a.seq AS INT) AS seq,
       CAST(e.src // {width} - {90 * e} AS DOUBLE) / {e}e0 AS src_lat,
       CAST(e.src % {width} - {180 * e} AS DOUBLE) / {e}e0 AS src_lng,
       CAST(e.dst // {width} - {90 * e} AS DOUBLE) / {e}e0 AS dst_lat,
       CAST(e.dst % {width} - {180 * e} AS DOUBLE) / {e}e0 AS dst_lng
FROM allw a JOIN pid ON a.root = pid.root JOIN e ON a.eid = e.eid
"""


# -- edge-soup fixture for PolylineVectorLayer PATH assembly ----------------
def chain_fixture_edges():
    """[(edge_id, src_vertex, dst_vertex)] directed edge soup exercising
    every buildPaths case (builder/graph.d:1453-1487): a clean chain, a
    fan-out junction (splits), a lollipop (stem + attached loop), a pure
    cycle (all-interior — canonicalized to start at min edge id), exact
    duplicate edges (DuplicateEdges::KEEP — two one-edge chains), an
    isolated edge, and a loop that returns to its non-interior start
    vertex (the ``v == start`` break)."""
    return [
        # clean chain 0->1->2->3->4
        (0, 0, 1), (1, 1, 2), (2, 2, 3), (3, 3, 4),
        # junction: 11 has outdegree 2 -> three separate chains
        (10, 10, 11), (11, 11, 12), (12, 11, 13),
        # lollipop: stem 20->21 + loop 21->22->21
        (20, 20, 21), (21, 21, 22), (22, 22, 21),
        # pure cycle 30->31->32->30 (ids chosen so min id is NOT first)
        (32, 30, 31), (31, 31, 32), (30, 32, 30),
        # duplicate edges kept as two chains
        (40, 40, 41), (41, 40, 41),
        # isolated edge
        (50, 50, 51),
        # loop returning to a non-interior start: 73->70, 70->71->72->70
        (60, 73, 70), (61, 70, 71), (62, 71, 72), (63, 72, 70),
    ]


def assemble_polylines_sql() -> str:
    """Independent PATH-assembly re-derivation over the same edge
    literals: degree-based interior test, recursive walk from every
    non-interior source, cycle walks from every leftover edge keeping only
    the min-edge-id root, polyline_id = min edge id per chain."""
    vals = ", ".join(f"({e}, {s}, {d})" for e, s, d in chain_fixture_edges())
    return f"""
WITH RECURSIVE
e(eid, src, dst) AS (VALUES {vals}),
deg AS (
  SELECT v, sum(i) AS ind, sum(o) AS outd FROM (
    SELECT src AS v, 0 AS i, 1 AS o FROM e
    UNION ALL SELECT dst AS v, 1 AS i, 0 AS o FROM e
  ) GROUP BY v
),
interior AS (SELECT v FROM deg WHERE ind = 1 AND outd = 1),
walk(root, eid, dst, seq) AS (
  SELECT eid, eid, dst, 0 FROM e WHERE src NOT IN (SELECT v FROM interior)
  UNION ALL
  SELECT w.root, e2.eid, e2.dst, w.seq + 1
  FROM walk w JOIN e e2 ON e2.src = w.dst
  WHERE w.dst IN (SELECT v FROM interior)
),
cyc(root, rootsrc, eid, dst, seq) AS (
  SELECT eid, src, eid, dst, 0 FROM e
  WHERE eid NOT IN (SELECT eid FROM walk)
  UNION ALL
  SELECT c.root, c.rootsrc, e2.eid, e2.dst, c.seq + 1
  FROM cyc c JOIN e e2 ON e2.src = c.dst
  WHERE e2.src <> c.rootsrc
),
ckeep AS (SELECT root FROM cyc GROUP BY root HAVING root = min(eid)),
allw AS (
  SELECT root, eid, seq FROM walk
  UNION ALL
  SELECT c.root, c.eid, c.seq FROM cyc c JOIN ckeep USING (root)
),
pid AS (SELECT root, min(eid) AS polyline_id FROM allw GROUP BY root)
SELECT CAST(pid.polyline_id AS BIGINT) AS polyline_id,
       CAST(a.seq AS INT) AS seq,
       CAST(a.eid AS BIGINT) AS edge_id,
       CAST(e.src AS BIGINT) AS src,
       CAST(e.dst AS BIGINT) AS dst
FROM allw a JOIN pid ON a.root = pid.root JOIN e ON a.eid = e.eid
"""


# -- validation fixture: clean polys + bowties + multi-crossing zigzags ----
def validation_fixture_polys():
    """[(poly_id, [loop_vertices_xyz])]: ids 0-3 clean regular loops,
    4-7 bowties (1 self-crossing), 8-9 double-bowtie zigzags."""
    out = []
    for k in range(4):
        out.append((k, [Loop.make_regular(8.0 * k - 12.0, 25.0 * k - 70.0, 5.0, 9).vertices]))

    def xyz(lat, lng):
        la, lo = math.radians(lat), math.radians(lng)
        return (
            math.cos(la) * math.cos(lo),
            math.cos(la) * math.sin(lo),
            math.sin(la),
        )

    for k in range(4, 8):
        o = 22.0 * k
        out.append((k, [[xyz(0, o), xyz(5, o + 5), xyz(0, o + 5), xyz(5, o)]]))
    for k in (8, 9):
        o = 20.0 * k - 140.0
        # W-shaped zigzag closed loop: multiple proper crossings
        out.append(
            (
                k,
                [[
                    xyz(0, o), xyz(6, o + 2), xyz(0, o + 4), xyz(6, o + 6),
                    xyz(0, o + 8), xyz(3, o - 1),
                ]],
            )
        )
    return out


def validation_sql() -> str:
    """Self-crossing count per polygon, derived independently with the
    det-product proper-crossing form (s1*s2<0, s2*s3>0, s3*s4<0) over the
    same vertex literals; count of unordered edge pairs i<j."""
    rows = []
    for pid, loops in validation_fixture_polys():
        for vs in loops:
            n = len(vs)
            for j, v in enumerate(vs):
                rows.append(
                    f"({pid}, {j}, {n}, {format(v[0], '.17e')}, "
                    f"{format(v[1], '.17e')}, {format(v[2], '.17e')})"
                )
    return f"""
WITH v(poly_id, j, n, x, y, z) AS (VALUES {", ".join(rows)}),
e AS (
  SELECT p.poly_id, p.j, p.n, p.x AS ax, p.y AS ay, p.z AS az,
         q.x AS bx, q.y AS by, q.z AS bz
  FROM v p JOIN v q ON q.poly_id = p.poly_id AND q.j = (p.j + 1) % p.n
),
pairs AS (
  SELECT a.poly_id,
         (a.ay*a.bz - a.az*a.by)*b.ax + (a.az*a.bx - a.ax*a.bz)*b.ay + (a.ax*a.by - a.ay*a.bx)*b.az AS s3,
         (a.ay*a.bz - a.az*a.by)*b.bx + (a.az*a.bx - a.ax*a.bz)*b.by + (a.ax*a.by - a.ay*a.bx)*b.bz AS s4,
         (b.ay*b.bz - b.az*b.by)*a.ax + (b.az*b.bx - b.ax*b.bz)*a.ay + (b.ax*b.by - b.ay*b.bx)*a.az AS s1,
         (b.ay*b.bz - b.az*b.by)*a.bx + (b.az*b.bx - b.ax*b.bz)*a.by + (b.ax*b.by - b.ay*b.bx)*a.bz AS s2
  -- exclude ADJACENT pairs: a shared vertex makes the dets exact
  -- zeros that floating arithmetic renders as +-1e-17 noise
  FROM e a JOIN e b ON b.poly_id = a.poly_id AND b.j > a.j
    AND b.j <> a.j + 1 AND NOT (a.j = 0 AND b.j = a.n - 1)
)
SELECT v.poly_id,
       coalesce(c.n_self_crossings, 0) = 0 AS is_valid_by_crossings,
       CAST(coalesce(c.n_self_crossings, 0) AS INT) AS n_self_crossings
FROM (SELECT DISTINCT poly_id FROM v) v
LEFT JOIN (
  SELECT poly_id, count(*) AS n_self_crossings
  FROM pairs WHERE s1*s2 < 0 AND s2*s3 > 0 AND s3*s4 < 0
  GROUP BY poly_id
) c USING (poly_id)
"""
