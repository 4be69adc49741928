"""Closed-form point-to-edge squared-chord distance as ANSI SQL fragments.

ONE expression text defines the distance.  The DuckDB oracles embed it
(:func:`dist2_select_sql`), and the Spark brute-force test oracles and the
within-distance join evaluate it via ``F.expr`` (:func:`with_dist2`).  The
kNN ring search scores with ``edgepair._point_edge_dist2_np``, a numpy
twin of the same IEEE operation tree, term for term.  Every op is IEEE
+,-,*,/ ,sqrt (all correctly rounded), so all three agree bit-for-bit and
rankings match (tests/test_edge_twins.py).

Geometry (reference s2edge_distances.d:45-235, re-derived):
for unit point q and edge (a, b) with great-circle normal n = a x b,

* the closest point of the FULL circle to q is qp = q - ((q.n)/(n.n)) n
  (projection into the circle plane), and the squared chord distance to it
  is  2 - 2*sqrt(1 - (q.n)^2/(n.n));
* qp lies on the minor arc iff qp.(n x a) >= 0 AND qp.(b x n) >= 0
  (scale-invariant, so qp need not be normalized);
* otherwise the distance is to the nearer endpoint.

The interior-arc test frames are expanded inline from n so the fragment
needs only the 9 endpoint/point coordinate columns.
"""

from __future__ import annotations

# intermediate column definitions, in dependency order; each is a pure
# expression over (qx,qy,qz, ax,ay,az, bx,by,bz) and earlier intermediates
INTERMEDIATES: list[tuple[str, str]] = [
    ("nx", "ay*bz - az*by"),
    ("ny", "az*bx - ax*bz"),
    ("nz", "ax*by - ay*bx"),
    ("nn", "greatest(nx*nx + ny*ny + nz*nz, 1e-300)"),
    ("qdn", "qx*nx + qy*ny + qz*nz"),
    ("qpx", "qx - (qdn/nn)*nx"),
    ("qpy", "qy - (qdn/nn)*ny"),
    ("qpz", "qz - (qdn/nn)*nz"),
    ("darc", "2e0 - 2e0*sqrt(greatest(0e0, 1e0 - qdn*qdn/nn))"),
    ("c1", "qpx*(ny*az - nz*ay) + qpy*(nz*ax - nx*az) + qpz*(nx*ay - ny*ax)"),
    ("c2", "qpx*(by*nz - bz*ny) + qpy*(bz*nx - bx*nz) + qpz*(bx*ny - by*nx)"),
    ("d_a", "(qx-ax)*(qx-ax) + (qy-ay)*(qy-ay) + (qz-az)*(qz-az)"),
    ("d_b", "(qx-bx)*(qx-bx) + (qy-by)*(qy-by) + (qz-bz)*(qz-bz)"),
]

# nn > 1e-60 guards degenerate edges (a == b or antipodal): their great
# circle is undefined, so distance falls through to the endpoints
DIST2 = "CASE WHEN nn > 1e-60 AND c1 >= 0 AND c2 >= 0 THEN darc ELSE least(d_a, d_b) END"


def dist2_select_sql(inner: str, keep: str) -> str:
    """Wrap ``inner`` (a query providing qx..qz, ax..bz and the ``keep``
    columns) in nested selects computing dist2 — ANSI, runs in both
    engines.  ``keep`` is a comma-separated passthrough column list."""
    q = f"({inner})"
    cols = "qx, qy, qz, ax, ay, az, bx, by, bz"
    for name, expr in INTERMEDIATES:
        q = f"(SELECT {keep}, {cols}, {expr} AS {name} FROM {q})"
        cols += f", {name}"
    return f"SELECT {keep}, {DIST2} AS dist2 FROM {q}"


def with_dist2(df):
    """Spark mirror: add the same intermediates + dist2 to a DataFrame that
    has qx..qz, ax..bz columns (identical expression text via F.expr)."""
    from pyspark.sql import functions as F

    for name, expr in INTERMEDIATES:
        df = df.withColumn(name, F.expr(expr))
    df = df.withColumn("dist2", F.expr(DIST2))
    return df.drop(*[n for n, _ in INTERMEDIATES])


XYZ_FROM_LATLNG = {
    "x": "cos(radians({lng}))*cos(radians({lat}))",
    "y": "sin(radians({lng}))*cos(radians({lat}))",
    "z": "sin(radians({lat}))",
}


def xyz_exprs(lat: str, lng: str, prefix: str) -> list[str]:
    """['<expr> AS <prefix>x', ...] — the engine-shared lat/lng -> xyz."""
    return [
        XYZ_FROM_LATLNG[axis].format(lat=lat, lng=lng) + f" AS {prefix}{axis}"
        for axis in ("x", "y", "z")
    ]


def xyz_columns(lat: str, lng: str) -> tuple:
    """(x, y, z) Columns of the same lat/lng -> xyz: the expression tree of
    ``cos(radians(lng)) * cos(radians(lat))`` etc. built from Columns."""
    from pyspark.sql import functions as F

    return tuple(
        F.expr(XYZ_FROM_LATLNG[axis].format(lat=f"`{lat}`", lng=f"`{lng}`"))
        for axis in ("x", "y", "z")
    )
