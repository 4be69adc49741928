"""The numpy distance twins against their Spark-SQL mirrors, bit for bit.

Ring-search scorers run ``edgepair._point_edge_dist2_np``,
``_pair_dist2_np`` and ``cell_dist2_np`` where the DuckDB oracles
evaluate the engine-shared SQL fragments, so every oracle hash rests on the
twins reproducing the SQL's IEEE operation tree exactly.  Each twin is
compared with its Spark mirror (``edgedist.with_dist2``,
``edgepair.with_pair_dist2``, ``edgepair.with_cell_dist2``) as raw int64
bit patterns over a seeded edge set carrying the degenerate cases: a == b,
antipodal endpoints, queries on an endpoint, on the arc interior and at a
pole.
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


def test_point_edge_udf_is_bit_identical(spark):
    """The operator's scorer (the twin behind a pandas UDF) returns the same
    bits as the SQL fragment, Arrow round trip included."""
    from pyspark.sql import functions as F

    a, b, q = _cases(seed=8)
    df = _frame(spark, **_named(_Q, q), **_named(_A, a), **_named(_B, b))
    want = _sql_dist2(edgedist.with_dist2(df))
    got = _sql_dist2(df.withColumn("dist2", edgepair.point_edge_dist2_udf()(*_Q, *_A, *_B)))
    _assert_bits(got, want)
    assert np.isfinite(want).all()


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
