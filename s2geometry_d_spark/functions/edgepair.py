"""Edge-PAIR min squared-chord distance as engine-shared ANSI SQL.

Same discipline as functions/edgedist.py: ONE expression text, embedded
verbatim in the DuckDB oracle, with Spark mirrors (``with_pair_dist2``,
``with_cell_dist2``) and the numpy twins every kNN round scores with
inside its Arrow kernel: ``_point_edge_dist2_np``, ``_pair_dist2_np`` and
``cell_dist2_np``, behind the per-query scorers ``point_edge_scorer``,
``pair_scorer`` and ``cell_scorer`` of the driver-list variants, and
``_pair_dist2_np`` over both edges' columns in the table-to-table join
(``knn._table_round``).  No Python UDF wraps them.  All evaluate
identical IEEE trees, so rankings agree bit-for-bit
(tests/test_edge_twins.py).

Semantics (reference s2edge_distances.d:280-283, mirrored by
s2core.measures.edge_pair_min_dist2): the distance between two geodesic
edges is 0 when they properly cross, else the min of the four
endpoint-to-other-edge distances (an interior-interior minimum of the
distance function between non-crossing arcs does not exist).

The proper-crossing test is the det-sign-product form (generic position —
the same condition crossingSign's triage evaluates; fixtures assert their
dets clear the triage band, tests/test_crossing.py).
"""

from __future__ import annotations

import re

import numpy as np

from . import edgedist

# edge columns: first edge (ax..bz) = the TABLE edge; second (cx..dz) = the
# QUERY edge.  Names chosen so the four point-edge instances can't collide.
_P = ("x", "y", "z")


def _renamed(text: str, mapping: dict[str, str]) -> str:
    # ONE simultaneous pass — sequential substitution would re-rewrite
    # freshly inserted names (qx -> ax followed by ax -> cx)
    pat = re.compile(r"\b(" + "|".join(sorted(mapping, key=len, reverse=True)) + r")\b")
    return pat.sub(lambda m: mapping[m.group(1)], text)


def point_edge_exprs(point: str, ea: str, eb: str, tag: str) -> tuple[list[tuple[str, str]], str]:
    """(intermediates, dist2_expr) computing the point-to-edge squared
    chord for point columns ``{point}x..`` against edge ``{ea}*``->``{eb}*``,
    with every intermediate name prefixed by ``tag`` (instance isolation)."""
    mapping = {}
    for ax in _P:
        mapping[f"q{ax}"] = f"{point}{ax}"
        mapping[f"a{ax}"] = f"{ea}{ax}"
        mapping[f"b{ax}"] = f"{eb}{ax}"
    for name, _ in edgedist.INTERMEDIATES:
        mapping[name] = f"{tag}_{name}"
    for extra in ("d_a", "d_b"):
        mapping[extra] = f"{tag}_{extra}"
    inters = [
        (f"{tag}_{name}", _renamed(expr, mapping)) for name, expr in edgedist.INTERMEDIATES
    ]
    dist2 = _renamed(edgedist.DIST2, mapping)
    return inters, dist2


def _pair_parts(c: str, d: str, tag: str) -> tuple[list[tuple[str, str]], str]:
    """(intermediates, expr) for the pair distance between the table edge
    (ax..bz) and the edge ``{c}* -> {d}*``; all instance names prefixed by
    ``tag`` so several query edges can score in one projection."""
    inters: list[tuple[str, str]] = []
    dists = []
    for point, ea, eb, ptag in (
        ("a", c, d, f"{tag}p1"),
        ("b", c, d, f"{tag}p2"),
        (c, "a", "b", f"{tag}p3"),
        (d, "a", "b", f"{tag}p4"),
    ):
        i, dd = point_edge_exprs(point, ea, eb, ptag)
        inters.extend(i)
        dists.append(dd)
    # proper-crossing dets (raw cross products, generic position)
    inters.extend(
        [
            (f"{tag}x_n1x", "ay*bz - az*by"),
            (f"{tag}x_n1y", "az*bx - ax*bz"),
            (f"{tag}x_n1z", "ax*by - ay*bx"),
            (f"{tag}x_n2x", f"{c}y*{d}z - {c}z*{d}y"),
            (f"{tag}x_n2y", f"{c}z*{d}x - {c}x*{d}z"),
            (f"{tag}x_n2z", f"{c}x*{d}y - {c}y*{d}x"),
            (f"{tag}x_d1", f"{tag}x_n1x*{c}x + {tag}x_n1y*{c}y + {tag}x_n1z*{c}z"),
            (f"{tag}x_d2", f"{tag}x_n1x*{d}x + {tag}x_n1y*{d}y + {tag}x_n1z*{d}z"),
            (f"{tag}x_d3", f"{tag}x_n2x*ax + {tag}x_n2y*ay + {tag}x_n2z*az"),
            (f"{tag}x_d4", f"{tag}x_n2x*bx + {tag}x_n2y*by + {tag}x_n2z*bz"),
        ]
    )
    least = "least(" + ", ".join(f"({d})" for d in dists) + ")"
    expr = (
        f"CASE WHEN {tag}x_d1*{tag}x_d2 < 0 AND {tag}x_d1*{tag}x_d3 < 0 "
        f"AND {tag}x_d1*{tag}x_d4 > 0 THEN 0e0 ELSE {least} END"
    )
    return inters, expr


def pair_dist2_parts() -> tuple[list[tuple[str, str]], str]:
    """(intermediates, expr) for the edge-pair distance over columns
    (ax..bz = table edge, cx..dz = query edge)."""
    return _pair_parts("c", "d", "")


def cell_dist2_parts() -> tuple[list[tuple[str, str]], str]:
    """(intermediates, expr) for table-edge-to-CELL min squared chord over
    columns (ax..bz = table edge; v0x..v3z = cell vertices in CCW order;
    n0x..n3z = the cell's INWARD boundary-edge normals).

    Semantics (s2cell.d getDistance(v0, v1) via
    s2min_distance_targets.d:184-208 CellTarget): 0 when either endpoint
    lies inside the cell (covers edge-fully-inside; a boundary crossing
    zeroes its pair term anyway), else the min pair distance against the
    four boundary edges."""
    inters: list[tuple[str, str]] = []
    dists = []
    for k in range(4):
        i, e = _pair_parts(f"v{k}", f"v{(k + 1) % 4}", f"c{k}")
        inters.extend(i)
        dists.append(e)
    def inside(p: str) -> str:
        return " AND ".join(
            f"({p}x*n{k}x + {p}y*n{k}y + {p}z*n{k}z >= 0e0)" for k in range(4)
        )
    least = "least(" + ", ".join(f"({d})" for d in dists) + ")"
    expr = f"CASE WHEN ({inside('a')}) OR ({inside('b')}) THEN 0e0 ELSE {least} END"
    return inters, expr


def _with_parts(df, inters, expr):
    """Add dist2 from (intermediates, expr) in dependency LAYERS (~6
    selects) rather than chained withColumns — chained single-column
    projections hit the analyzer's quadratic plan-rewrite cost and
    dominated the per-round wall time of the edge-target kNN loop.
    Expression text is unchanged, so oracle hash parity is unaffected."""
    from pyspark.sql import functions as F

    level: dict[str, int] = {}
    layers: list[list[tuple[str, str]]] = []
    for name, e in inters:
        deps = [n for n in level if re.search(rf"\b{n}\b", e)]
        lvl = 1 + max((level[d] for d in deps), default=0)
        level[name] = lvl
        while len(layers) < lvl:
            layers.append([])
        layers[lvl - 1].append((name, e))
    for layer in layers:
        df = df.select("*", *[F.expr(e).alias(n) for n, e in layer])
    df = df.select("*", F.expr(expr).alias("dist2"))
    return df.drop(*[n for n, _ in inters])


def with_pair_dist2(df):
    """Spark mirror: add dist2 = edge-pair min squared chord to a DataFrame
    carrying (ax..bz, cx..dz)."""
    inters, expr = pair_dist2_parts()
    return _with_parts(df, inters, expr)


def with_cell_dist2(df):
    """Spark mirror: add dist2 = edge-to-cell min squared chord to a
    DataFrame carrying (ax..bz, v0x..v3z, n0x..n3z)."""
    inters, expr = cell_dist2_parts()
    return _with_parts(df, inters, expr)


def _point_edge_dist2_np(qx, qy, qz, ax, ay, az, bx, by, bz):
    """Vectorized numpy twin of edgedist.INTERMEDIATES + DIST2 — the SAME
    IEEE operation tree, term for term and in the same association order,
    so results are bit-identical to the SQL fragment (every op is a
    correctly-rounded +,-,*,/ ,sqrt,max; no dot/norm library calls whose
    summation order could differ)."""
    import numpy as np

    nx = ay * bz - az * by
    ny = az * bx - ax * bz
    nz = ax * by - ay * bx
    nn = np.maximum(nx * nx + ny * ny + nz * nz, 1e-300)
    qdn = qx * nx + qy * ny + qz * nz
    qpx = qx - (qdn / nn) * nx
    qpy = qy - (qdn / nn) * ny
    qpz = qz - (qdn / nn) * nz
    darc = 2e0 - 2e0 * np.sqrt(np.maximum(0e0, 1e0 - qdn * qdn / nn))
    c1 = qpx * (ny * az - nz * ay) + qpy * (nz * ax - nx * az) + qpz * (nx * ay - ny * ax)
    c2 = qpx * (by * nz - bz * ny) + qpy * (bz * nx - bx * nz) + qpz * (bx * ny - by * nx)
    d_a = (qx - ax) * (qx - ax) + (qy - ay) * (qy - ay) + (qz - az) * (qz - az)
    d_b = (qx - bx) * (qx - bx) + (qy - by) * (qy - by) + (qz - bz) * (qz - bz)
    return np.where(
        (nn > 1e-60) & (c1 >= 0) & (c2 >= 0), darc, np.minimum(d_a, d_b)
    )


def _pair_dist2_np(ax, ay, az, bx, by, bz, cx, cy, cz, dx, dy, dz):
    """Numpy twin of _pair_parts: edge-pair min squared chord, same IEEE
    tree as the SQL (crossing dets included)."""
    import numpy as np

    p1 = _point_edge_dist2_np(ax, ay, az, cx, cy, cz, dx, dy, dz)
    p2 = _point_edge_dist2_np(bx, by, bz, cx, cy, cz, dx, dy, dz)
    p3 = _point_edge_dist2_np(cx, cy, cz, ax, ay, az, bx, by, bz)
    p4 = _point_edge_dist2_np(dx, dy, dz, ax, ay, az, bx, by, bz)
    n1x = ay * bz - az * by
    n1y = az * bx - ax * bz
    n1z = ax * by - ay * bx
    n2x = cy * dz - cz * dy
    n2y = cz * dx - cx * dz
    n2z = cx * dy - cy * dx
    d1 = n1x * cx + n1y * cy + n1z * cz
    d2 = n1x * dx + n1y * dy + n1z * dz
    d3 = n2x * ax + n2y * ay + n2z * az
    d4 = n2x * bx + n2y * by + n2z * bz
    least = np.minimum(np.minimum(p1, p2), np.minimum(p3, p4))
    return np.where((d1 * d2 < 0) & (d1 * d3 < 0) & (d1 * d4 > 0), 0e0, least)


def cell_dist2_np(ax, ay, az, bx, by, bz, verts, norms):
    """Numpy twin of cell_dist2_parts for ONE cell target: table-edge
    arrays against the cell's 4 vertices/4 inward normals (python floats).
    Bit-identical to the SQL fragment by construction (same op tree)."""
    import numpy as np

    dists = None
    for k in range(4):
        vx, vy, vz = verts[k]
        wx, wy, wz = verts[(k + 1) % 4]
        pk = _pair_dist2_np(ax, ay, az, bx, by, bz, vx, vy, vz, wx, wy, wz)
        dists = pk if dists is None else np.minimum(dists, pk)

    def inside(px, py, pz):
        ok = None
        for k in range(4):
            nx_, ny_, nz_ = norms[k]
            t = px * nx_ + py * ny_ + pz * nz_ >= 0e0
            ok = t if ok is None else (ok & t)
        return ok

    return np.where(
        inside(ax, ay, az) | inside(bx, by, bz), 0e0, dists
    )


# Per-query scorers: ``score(q, ax, ay, az, bx, by, bz) -> dist2`` scores
# table-edge arrays against query ``q`` (an int array indexing the query
# geometry held in the closure) with the twins above, so every kNN ring
# round, the brute round included, stays bit-identical to the SQL fragments.


def point_edge_scorer(points):
    """Point queries: ``points`` is the (n, 3) xyz of query 0..n-1."""
    px, py, pz = np.asarray(points, dtype=np.float64).reshape(-1, 3).T

    def score(q, ax, ay, az, bx, by, bz):
        return _point_edge_dist2_np(px[q], py[q], pz[q], ax, ay, az, bx, by, bz)

    return score


def pair_scorer(edges):
    """Edge queries: ``edges`` is the (n, 6) xyz of each query edge's two
    endpoints (c, d)."""
    cols = np.asarray(edges, dtype=np.float64).reshape(-1, 6).T

    def score(q, ax, ay, az, bx, by, bz):
        return _pair_dist2_np(ax, ay, az, bx, by, bz, *(c[q] for c in cols))

    return score


def cell_scorer(cells):
    """Cell queries: ``cells[q]`` is the cell's (verts, norms), scored per
    query group by cell_dist2_np (the 992-intermediate SQL form of this
    fragment failed whole-stage codegen)."""

    def score(q, *edge):
        out = np.zeros(q.shape[0], dtype=np.float64)
        for i in np.unique(q):
            m = q == i
            out[m] = cell_dist2_np(*[c[m] for c in edge], *cells[i])
        return out

    return score


def pair_dist2_select_sql(inner: str, keep: str) -> str:
    """Nested-select SQL computing dist2 over ``inner`` (which must provide
    ax..bz, cx..dz and the ``keep`` columns)."""
    inters, expr = pair_dist2_parts()
    q = f"({inner})"
    cols = "ax, ay, az, bx, by, bz, cx, cy, cz, dx, dy, dz"
    for name, e in inters:
        q = f"(SELECT {keep}, {cols}, {e} AS {name} FROM {q})"
        cols += f", {name}"
    return f"SELECT {keep}, {expr} AS dist2 FROM {q}"


def cell_dist2_select_sql(inner: str, keep: str) -> str:
    """SQL computing the edge-to-cell dist2 over ``inner`` (must provide
    ax..bz, v0x..v3z, n0x..n3z and the ``keep`` columns).

    Uses DuckDB's LATERAL column aliases (each intermediate referencing
    earlier ones in the SAME select) instead of the nested-select chain the
    pair fragment uses — with 248 intermediates the nested form's repeated
    column lists grow quadratically (~350 KB) and exhaust the parser."""
    inters, expr = cell_dist2_parts()
    alias_list = ",\n       ".join(f"{e} AS {name}" for name, e in inters)
    vn = ", ".join(
        f"{p}{k}{ax}" for p in ("v", "n") for k in range(4) for ax in ("x", "y", "z")
    )
    return (
        f"SELECT {keep}, {expr} AS dist2 FROM (\n"
        f"SELECT {keep}, ax, ay, az, bx, by, bz, {vn},\n       {alias_list}\n"
        f"FROM ({inner})\n)"
    )
