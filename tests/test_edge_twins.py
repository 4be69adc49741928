"""The numpy distance twins against their Spark-SQL mirrors, bit for bit.

Ring-search scorers run ``edgepair._point_edge_dist2_np``,
``_pair_dist2_np`` and ``cell_dist2_np`` where the DuckDB oracles
evaluate the engine-shared SQL fragments, so every oracle hash rests on the
twins reproducing the SQL's IEEE operation tree exactly.  Each twin is
compared with its Spark mirror (``edgedist.with_dist2``,
``edgepair.with_pair_dist2``, ``edgepair.with_cell_dist2``) as raw int64
bit patterns over a seeded edge set carrying the degenerate cases: a == b,
antipodal endpoints, queries on an endpoint, on the arc interior and at a
pole.  The ring-round kernel (``knn.round_kernel``) is pinned the same
way, plus its per-partition top-k rows against a per-row reference.
"""

import numpy as np
import pandas as pd

from s2geometry_d_spark.functions import edgedist, edgepair
from s2geometry_d_spark.s2core.cellid import CellId
from s2geometry_d_spark.s2core.regions import Cell

_A, _B, _Q = ("ax", "ay", "az"), ("bx", "by", "bz"), ("qx", "qy", "qz")
_N = 200  # seeded rows ahead of the degenerate ones


def _unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def _cases(seed=7, n=_N):
    """(a, b, q) rows: seeded random long and short edges with random
    queries, plus one row per degenerate case."""
    rng = np.random.default_rng(seed)
    a = _unit(rng.normal(size=(n, 3)))
    # half long edges, half within ~1e-3 of a
    b = _unit(np.where(np.arange(n)[:, None] < n // 2, rng.normal(size=(n, 3)),
                       a + 1e-3 * rng.normal(size=(n, 3))))
    q = _unit(rng.normal(size=(n, 3)))
    p, r = a[0], b[0]
    mid = _unit(p + r)
    pole = np.array([0.0, 0.0, 1.0])
    special = [
        (p, p, q[1]),        # a == b
        (p, p, p),           # a == b, query on it
        (p, -p, q[2]),       # antipodal endpoints
        (p, -p, pole),
        (p, r, p),           # query on endpoint a
        (p, r, r),           # query on endpoint b
        (p, r, mid),         # query on the arc interior
        (p, r, -mid),        # its antipode
        (p, r, pole),        # query at a pole
        (pole, r, pole),     # edge from the pole, query on it
        (-pole, pole, q[3]), # pole-to-pole (antipodal) edge
    ]
    a = np.vstack([a, [s[0] for s in special]])
    b = np.vstack([b, [s[1] for s in special]])
    q = np.vstack([q, [s[2] for s in special]])
    return a, b, q


def _frame(spark, **cols):
    pdf = pd.DataFrame({"row": np.arange(len(next(iter(cols.values()))))})
    for name, arr in cols.items():
        pdf[name] = np.asarray(arr, dtype=np.float64)
    return spark.createDataFrame(pdf)


def _sql_dist2(df) -> np.ndarray:
    out = df.select("row", "dist2").toPandas().sort_values("row")
    return out["dist2"].to_numpy(dtype=np.float64)


def _assert_bits(got, want):
    got, want = np.asarray(got, dtype=np.float64), np.asarray(want, dtype=np.float64)
    assert got.shape == want.shape
    bad = np.nonzero(got.view(np.int64) != want.view(np.int64))[0]
    assert bad.size == 0, [(int(i), got[i], want[i]) for i in bad[:10]]


def _named(prefix_names, arr):
    return {n: arr[:, i] for i, n in enumerate(prefix_names)}


def test_point_edge_twin_is_bit_identical(spark):
    a, b, q = _cases()
    df = _frame(spark, **_named(_Q, q), **_named(_A, a), **_named(_B, b))
    want = _sql_dist2(edgedist.with_dist2(df))
    got = edgepair._point_edge_dist2_np(*q.T, *a.T, *b.T)
    _assert_bits(got, want)
    # the degenerate rows are exercised, not skipped: a query on a
    # zero-length edge or on an endpoint is at distance exactly 0
    assert got[_N + 1] == 0.0 and got[_N + 4] == 0.0 and got[_N + 5] == 0.0


def test_pair_twin_is_bit_identical(spark):
    a, b, q = _cases()
    # the query edge runs from q to the next row's a: long, short, shared
    # endpoints and degenerate edges on both sides
    c, d = q, np.roll(a, 1, axis=0)
    d[-1] = c[-1]  # one zero-length query edge
    cols = ("cx", "cy", "cz"), ("dx", "dy", "dz")
    df = _frame(
        spark, **_named(_A, a), **_named(_B, b), **_named(cols[0], c), **_named(cols[1], d)
    )
    want = _sql_dist2(edgepair.with_pair_dist2(df))
    got = edgepair._pair_dist2_np(*a.T, *b.T, *c.T, *d.T)
    _assert_bits(got, want)
    # both crossing (0.0) and non-crossing rows are exercised
    assert (got == 0.0).any() and (got > 0.0).any()


def test_cell_twin_is_bit_identical(spark):
    a, b, _ = _cases()
    cells = [
        CellId.from_latlng(0.0, 0.0).parent(3),
        CellId.from_latlng(89.9, 10.0).parent(2),  # touches the pole region
        CellId.from_point(*a[0]).parent(10),       # holds endpoint a of row 0
        CellId.from_face(5),
    ]
    for cid in cells:
        cell = Cell(cid)
        verts = [cell.get_vertex(k) for k in range(4)]
        norms = [cell.get_edge_raw(k) for k in range(4)]
        geom = {}
        for k in range(4):
            for ax, v in zip("xyz", verts[k]):
                geom[f"v{k}{ax}"] = np.full(len(a), v)
            for ax, v in zip("xyz", norms[k]):
                geom[f"n{k}{ax}"] = np.full(len(a), v)
        df = _frame(spark, **_named(_A, a), **_named(_B, b), **geom)
        want = _sql_dist2(edgepair.with_cell_dist2(df))
        got = edgepair.cell_dist2_np(*a.T, *b.T, verts, norms)
        _assert_bits(got, want)


def _cell_geom(cid):
    cell = Cell(cid)
    return [cell.get_vertex(k) for k in range(4)], [cell.get_edge_raw(k) for k in range(4)]


def _kernel_dist2(spark, a, b, score):
    """Runs the ring-round kernel through Spark with row i registered under
    its own leaf cell and covered only by query i (infinite r2): one hit
    per query, (row, dist2) sorted by row."""
    from s2geometry_d_spark.operators import knn
    from s2geometry_d_spark.operators.spatial_join import RegionCovering
    from s2geometry_d_spark.s2core import cellid as ci

    n = len(a)
    leaf = (2 * np.arange(n) + 1).astype(np.uint64)  # distinct face-0 leaves
    coverings = [RegionCovering(i, None, [(int(leaf[i]), False)]) for i in range(n)]
    pdf = pd.DataFrame({"row": np.arange(n), "ecell": ci.to_signed(leaf)})
    for name, col in {**_named(_A, a), **_named(_B, b)}.items():
        pdf[name] = col
    out = (
        knn._plan_round(
            spark.createDataFrame(pdf).repartition(3),
            coverings,
            np.full(n, np.inf),
            score,
            cell_col="ecell",
            geom=(*_A, *_B),
            cols=["row"],
            k=1,
            tie="row",
            two_way=True,
        )
        .frame()
        .toPandas()
        .sort_values("row")
    )
    assert out["row"].tolist() == list(range(n)) and (out["q"] == out["row"]).all()
    return out["dist2"].to_numpy(dtype=np.float64)


def test_fused_kernel_dist2_is_bit_identical(spark):
    """The round kernel's dist2 equals the SQL fragment bit for bit for the
    point, pair and cell scorers, Arrow round trip included."""
    a, b, q = _cases(seed=9)
    df = _frame(spark, **_named(_Q, q), **_named(_A, a), **_named(_B, b))
    want = _sql_dist2(edgedist.with_dist2(df))
    _assert_bits(_kernel_dist2(spark, a, b, edgepair.point_edge_scorer(q)), want)

    c, d = q, np.roll(a, 1, axis=0)
    cols = ("cx", "cy", "cz"), ("dx", "dy", "dz")
    df = _frame(
        spark, **_named(_A, a), **_named(_B, b), **_named(cols[0], c), **_named(cols[1], d)
    )
    want = _sql_dist2(edgepair.with_pair_dist2(df))
    got = _kernel_dist2(spark, a, b, edgepair.pair_scorer(np.hstack([c, d])))
    _assert_bits(got, want)
    assert (got == 0.0).any() and (got > 0.0).any()

    cells = [
        _cell_geom(CellId.from_latlng(0.0, 0.0).parent(3)),
        _cell_geom(CellId.from_point(*a[0]).parent(10)),
        _cell_geom(CellId.from_face(5)),
    ]
    pick = np.arange(len(a)) % len(cells)
    geom = {}
    for k in range(4):
        for i, ax in enumerate("xyz"):
            geom[f"v{k}{ax}"] = np.array([cells[j][0][k][i] for j in pick])
            geom[f"n{k}{ax}"] = np.array([cells[j][1][k][i] for j in pick])
    df = _frame(spark, **_named(_A, a), **_named(_B, b), **geom)
    want = _sql_dist2(edgepair.with_cell_dist2(df))
    got = _kernel_dist2(spark, a, b, edgepair.cell_scorer([cells[j] for j in pick]))
    _assert_bits(got, want)
    assert (got == 0.0).any() and (got > 0.0).any()


def test_fused_kernel_lists_match_per_row_reference():
    """The kernel's rows equal a per-row reference: zero-hit rows, rows
    hitting several queries, a (row, query) pair reached through two
    covering cells (emitted once), the r2 cut, the per-query top-k across
    batches of one partition, and an empty batch."""
    import pyarrow as pa

    from s2geometry_d_spark.operators import knn
    from s2geometry_d_spark.operators.spatial_join import RegionCovering
    from s2geometry_d_spark.s2core import cellid as ci

    coarse = CellId.from_latlng(10.0, 20.0).parent(10)
    kids = [coarse.child(0).child(1), coarse.child(2).child(3)]  # level 12
    coverings = [
        RegionCovering("in", None, [(k.id, False) for k in kids]),
        RegionCovering("up", None, [(coarse.parent(5).id, True)]),
        RegionCovering("none", None, [(CellId.from_latlng(-60.0, -100.0).parent(8).id, False)]),
    ]
    row_cells = [
        coarse,                                  # holds both kids and sits under "up"
        CellId.from_latlng(10.0, 20.0),          # a leaf: under "up", maybe a kid
        kids[0].child(1).child(2),               # under kid 0 and "up"
        CellId.from_latlng(45.0, -170.0).parent(7),  # nothing
        coarse.parent(5).child(3).child(0),      # under "up" only
    ]
    rng = np.random.default_rng(5)
    edge = [_unit(rng.normal(size=(len(row_cells), 3))) for _ in range(2)]
    xyz = [*edge[0].T, *edge[1].T]
    points = _unit(rng.normal(size=(10, 3)))
    score = edgepair.point_edge_scorer(points)
    gidx = np.array([7, 2, 4])

    def hits(cell, cov):
        lo, hi = cell.range_min().id, cell.range_max().id
        return any(
            CellId(c).range_min().id <= hi and lo <= CellId(c).range_max().id
            for c, _ in cov.cells
        )

    def d2(i, g):
        return score(np.array([g]), *[np.array([c[i]]) for c in xyz])[0]

    up = [d2(i, gidx[1]) for i, c in enumerate(row_cells) if hits(c, coverings[1])]
    r2 = np.array([np.inf, sorted(up)[1], np.inf])  # "up" keeps its two nearest rows
    want = [
        {"q": s, "row": i, "dist2": d2(i, g)}
        for i, cell in enumerate(row_cells)
        for s, (cov, g, r) in enumerate(zip(coverings, gidx, r2))
        if hits(cell, cov) and d2(i, g) <= r
    ]
    want.sort(key=lambda h: (h["q"], h["dist2"], h["row"]))
    assert not any(h["row"] == 3 for h in want) and len(up) > 2
    assert sum(h["row"] == 0 and h["q"] == 0 for h in want) == 1  # two cells, one hit

    ecell = ci.to_signed(np.array([c.id for c in row_cells], dtype=np.uint64))
    names = ["ax", "ay", "az", "bx", "by", "bz"]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(np.arange(len(row_cells))), pa.array(ecell), *map(pa.array, xyz)],
        names=["row", "ecell", *names],
    )

    def run(batches, k):
        kernel = knn.round_kernel(
            coverings, r2, lambda s, *g: score(gidx[s], *g), cell_col="ecell",
            geom=names, cols=["row"], k=k, tie="row", two_way=True,
        )
        out = list(kernel(iter(batches)))
        return pa.Table.from_batches(out) if out else None

    got = run([batch], k=10)
    assert got.schema.types == [pa.int32(), pa.int64(), pa.float64()]
    assert got.to_pylist() == want
    # one partition's batches fold into ONE running top-k per query
    best = [h for h in want if not any(
        o["q"] == h["q"] and (o["dist2"], o["row"]) < (h["dist2"], h["row"]) for o in want
    )]
    assert run([batch.slice(0, 2), batch.slice(2, 0), batch.slice(2)], k=1).to_pylist() == best
    # an empty batch and an empty partition send nothing
    assert run([batch.slice(0, 0)], k=5) is None and run([], k=5) is None
