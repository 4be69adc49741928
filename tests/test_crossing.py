"""Crossing-edge join vs brute-force crossingSign over random edge sets."""

import numpy as np

from s2geometry_d_spark.operators.crossing import crossing_edges_join
from s2geometry_d_spark.s2core import predicates as pred
from s2geometry_d_spark.s2core.regions import latlng_point


def _random_edges(n, seed, spread=8.0, lat0=20.0, lng0=30.0):
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        la, ln = rng.uniform(-spread, spread, 2)
        lb, lnb = rng.uniform(-spread, spread, 2)
        out.append(
            (i, float(lat0 + la), float(lng0 + ln), float(lat0 + lb), float(lng0 + lnb))
        )
    return out


def test_crossing_join_matches_bruteforce(spark):
    table = _random_edges(300, seed=1)
    targets_raw = _random_edges(6, seed=2)
    edges = spark.createDataFrame(table, ["edge_id", "alat", "alng", "blat", "blng"])
    targets = [
        (f"t{i}", (la, ln), (lb, lnb)) for i, la, ln, lb, lnb in targets_raw
    ]

    got = {
        (r.target_id, r.edge_id)
        for r in crossing_edges_join(edges, targets).select("target_id", "edge_id").collect()
    }

    want = set()
    for tid, (la, ln), (lb, lnb) in targets:
        c, d = latlng_point(la, ln), latlng_point(lb, lnb)
        for i, ea, el, eb, elb in table:
            a, b = latlng_point(ea, el), latlng_point(eb, elb)
            if pred.crossing_sign(a, b, c, d) > 0:
                want.add((tid, i))
    assert want, "fixture produced no crossings — not a useful test"
    assert got == want


def test_crossing_sign_pairs_matches_scalar():
    rng = np.random.default_rng(9)
    n = 2000
    def rand_pts():
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
        lng = rng.uniform(-180, 180, n)
        from s2geometry_d_spark.s2core import coords
        x, y, z = coords.latlng_to_xyz(lat, lng)
        return np.stack([x, y, z], axis=1)
    A, B, C, D = rand_pts(), rand_pts(), rand_pts(), rand_pts()
    # inject shared-vertex and degenerate rows
    C[0] = A[0]
    D[1] = B[1]
    B[2] = A[2]
    vec = pred.crossing_sign_pairs(A, B, C, D)
    for i in range(0, n, 97):
        assert vec[i] == pred.crossing_sign(
            tuple(A[i]), tuple(B[i]), tuple(C[i]), tuple(D[i])
        ), i
    for i in (0, 1, 2):
        assert vec[i] == pred.crossing_sign(
            tuple(A[i]), tuple(B[i]), tuple(C[i]), tuple(D[i])
        ), i


def test_fixture_dets_clear_triage_band():
    """ADVICE guard: the crossing oracle uses raw float det-sign products
    ('exact only in generic position') while the engine runs the
    triage->exact cascade.  Assert that NO (fixture edge, target) det falls
    inside the triage uncertainty band, so both methods provably agree on
    this data.  Uses the sf0.01 fixture edges (the driver's gate scale)."""
    import duckdb

    import __spark_entry__ as E
    from s2geometry_d_spark.s2core import coords

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/orders.parquet')"
    )
    from s2geometry_d_spark.plans import demo

    rows = con.execute(
        f"""WITH points AS ({demo.points_cte()}),
        edges_all AS (
          SELECT point_id AS edge_id, lat AS alat, lng AS alng,
                 lead(lat) OVER ({E._EDGE_ORDER}) AS blat,
                 lead(lng) OVER ({E._EDGE_ORDER}) AS blng
          FROM points)
        SELECT alat, alng, blat, blng FROM edges_all WHERE blat IS NOT NULL"""
    ).fetchdf()
    ax, ay, az = coords.latlng_to_xyz(rows["alat"].to_numpy(), rows["alng"].to_numpy())
    bx, by, bz = coords.latlng_to_xyz(rows["blat"].to_numpy(), rows["blng"].to_numpy())
    nx, ny, nz = ay * bz - az * by, az * bx - ax * bz, ax * by - ay * bx

    band = pred.MAX_DET_ERROR
    worst = np.inf
    for _, (la, ln), (lb, lnb) in [
        (f"t{i}", E.demo.POLYLINE_WAYPOINTS[i], E.demo.POLYLINE_WAYPOINTS[i + 1])
        for i in range(len(E.demo.POLYLINE_WAYPOINTS) - 1)
    ]:
        c = latlng_point(la, ln)
        d = latlng_point(lb, lnb)
        # dets the oracle's sign products evaluate
        d1 = nx * c[0] + ny * c[1] + nz * c[2]
        d2 = nx * d[0] + ny * d[1] + nz * d[2]
        m = np.cross(np.asarray(c), np.asarray(d))
        d3 = m[0] * ax + m[1] * ay + m[2] * az
        d4 = m[0] * bx + m[1] * by + m[2] * bz
        for arr in (d1, d2, d3, d4):
            nzr = np.abs(arr[arr != 0.0])
            if nzr.size:
                worst = min(worst, float(nzr.min()))
            assert not ((np.abs(arr) > 0) & (np.abs(arr) <= band)).any()
    # headroom report: smallest nonzero det vs the band
    assert worst > 10 * band


def test_crossing_pairs_self_matches_bruteforce(spark):
    """Single-table crossing sweep (visit_crossing_edge_pairs.d semantics):
    every properly-crossing unordered pair, each exactly once, vs the
    scalar all-pairs oracle.  Mix of short and long edges so registered
    cells span several levels (the ancestor-join path is exercised)."""
    from s2geometry_d_spark.operators.crossing import crossing_pairs_self

    short = _random_edges(120, seed=11, spread=4.0)
    long_ = [
        (200 + i, la, ln, lb, lnb)
        for i, la, ln, lb, lnb in _random_edges(15, seed=12, spread=45.0)
    ]
    table = short + long_
    edges = spark.createDataFrame(
        table, ["edge_id", "alat", "alng", "blat", "blng"]
    )

    got = {
        (r.id_a, r.id_b)
        for r in crossing_pairs_self(edges).collect()
    }

    want = set()
    for i, (ida, ala, aln, bla, bln) in enumerate(table):
        a, b = latlng_point(ala, aln), latlng_point(bla, bln)
        for idb, cla, cln, dla, dln in table[i + 1 :]:
            c, d = latlng_point(cla, cln), latlng_point(dla, dln)
            if pred.crossing_sign(a, b, c, d) > 0:
                want.add((min(ida, idb), max(ida, idb)))
    assert want, "fixture produced no self-crossings — not a useful test"
    assert got == want
    assert len(got) == len(set(got)), "pairs must be reported exactly once"


def test_crossing_pairs_self_reads_registered_stats(spark, monkeypatch):
    """The pair sweep reads its level set and its broadcast chooser's row
    count from the registered frame's one memoized stats aggregate; with
    the broadcast limit at 0 the shuffle-join side of the chooser returns
    the identical pair set."""
    from s2geometry_d_spark.operators import crossing
    from s2geometry_d_spark.operators.knn import register_edges

    table = _random_edges(120, seed=11, spread=4.0) + [
        (200 + i, la, ln, lb, lnb)
        for i, la, ln, lb, lnb in _random_edges(15, seed=12, spread=45.0)
    ]
    edges = spark.createDataFrame(table, ["edge_id", "alat", "alng", "blat", "blng"])
    reg = register_edges(edges)

    def pairs():
        return {tuple(r) for r in crossing.crossing_pairs_self(edges, registered_df=reg).collect()}

    try:
        broadcast = pairs()
        stats = reg._s2_reg_stats
        ecells = [r["ecell"] for r in reg.select("ecell").collect()]
        assert stats["rows"] == reg.count() == len(ecells)
        # level from the lowest set bit of the signed id, computed here in
        # Python rather than by the engine's column expression
        assert stats["levels"] == sorted(
            {30 - ((c & -c).bit_length() - 1) // 2 for c in ecells}
        )
        assert len(stats["levels"]) > 1, "fixture should register at several levels"

        monkeypatch.setattr(crossing, "BROADCAST_REG_ROWS", 0)
        assert broadcast and pairs() == broadcast
    finally:
        reg.unpersist()


def test_crossing_pairs_self_chain_reports_no_adjacent(spark):
    """A polyline chain's consecutive edges share a vertex — NOT a proper
    crossing (crossingSign==0 at shared vertices); an X pair IS reported."""
    from s2geometry_d_spark.operators.crossing import crossing_pairs_self

    chain = [
        (0, 10.0, 10.0, 12.0, 14.0),
        (1, 12.0, 14.0, 9.0, 17.0),   # shares (12,14) with edge 0
        (2, 9.0, 17.0, 13.0, 20.0),   # shares (9,17) with edge 1
        (10, 9.0, 11.0, 13.0, 13.0),  # crosses edge 0 in an X
    ]
    edges = spark.createDataFrame(
        chain, ["edge_id", "alat", "alng", "blat", "blng"]
    )
    got = {
        (r.id_a, r.id_b) for r in crossing_pairs_self(edges).collect()
    }
    assert got == {(0, 10)}


def test_crossing_pairs_join_matches_bruteforce(spark):
    """TABLE-to-TABLE crossing join vs the scalar all-pairs oracle, with
    mixed edge lengths on both sides and with/without the streaming-mode
    index prune (prune_b_by_a) — the prune must not change the answer."""
    from s2geometry_d_spark.operators.crossing import crossing_pairs_join

    ta = _random_edges(80, seed=21, spread=5.0) + [
        (900 + i, la, ln, lb, lnb)
        for i, la, ln, lb, lnb in _random_edges(8, seed=22, spread=40.0)
    ]
    tb = _random_edges(90, seed=23, spread=5.0) + [
        (900 + i, la, ln, lb, lnb)
        for i, la, ln, lb, lnb in _random_edges(8, seed=24, spread=40.0)
    ]
    a = spark.createDataFrame(ta, ["edge_id", "alat", "alng", "blat", "blng"])
    b = spark.createDataFrame(tb, ["edge_id", "alat", "alng", "blat", "blng"])

    want = set()
    for ida, ala, aln, bla, bln in ta:
        A, B = latlng_point(ala, aln), latlng_point(bla, bln)
        for idb, cla, cln, dla, dln in tb:
            C, D = latlng_point(cla, cln), latlng_point(dla, dln)
            if pred.crossing_sign(A, B, C, D) > 0:
                want.add((ida, idb))
    assert want, "fixture produced no cross-table crossings"

    for prune in (False, True):
        got = {
            (r.id_a, r.id_b)
            for r in crossing_pairs_join(a, b, prune_b_by_a=prune).collect()
        }
        assert got == want, f"prune_b_by_a={prune}"


def test_crossing_pairs_join_small_batch_vs_big_index(spark):
    """Streaming shape: a tiny 'batch' side against a big 'index' side with
    the prune on — answers must equal the self-sweep restricted to
    cross-table pairs."""
    from s2geometry_d_spark.operators.crossing import (
        crossing_pairs_join,
        crossing_pairs_self,
    )

    allt = _random_edges(200, seed=31, spread=6.0)
    batch_t = [r for r in allt if r[0] % 40 == 0]
    index_t = [r for r in allt if r[0] % 40 != 0]
    batch = spark.createDataFrame(
        batch_t, ["edge_id", "alat", "alng", "blat", "blng"]
    )
    index = spark.createDataFrame(
        index_t, ["edge_id", "alat", "alng", "blat", "blng"]
    )
    every = spark.createDataFrame(
        allt, ["edge_id", "alat", "alng", "blat", "blng"]
    )
    batch_ids = {r[0] for r in batch_t}
    want = {
        (p, q) if p in batch_ids else (q, p)
        for p, q in (
            (r.id_a, r.id_b) for r in crossing_pairs_self(every).collect()
        )
        if (p in batch_ids) != (q in batch_ids)
    }
    got = {
        (r.id_a, r.id_b)
        for r in crossing_pairs_join(batch, index, prune_b_by_a=True).collect()
    }
    assert got == want


def test_crossing_pairs_self_type_all_matches_edge_or_vertex(spark):
    """CrossingType::ALL parity: shared-vertex pairs are kept iff
    vertexCrossing says the edges cross AT the vertex (the reference's
    parity rule) — brute-checked with edge_or_vertex_crossing over a
    fixture rich in shared vertices (chains + fans + proper crossings)."""
    from s2geometry_d_spark.operators.crossing import crossing_pairs_self

    # a star fan around V, a chain through V, plus random edges
    V = (15.0, 40.0)
    table = []
    spokes = [(0.0, 3.0), (2.0, 1.0), (3.0, -2.0), (-1.0, -3.0), (-3.0, 0.5)]
    for i, (dla, dln) in enumerate(spokes):
        table.append((i, V[0], V[1], V[0] + dla, V[1] + dln))
    # edges THROUGH the area, some passing exactly through V's neighborhood
    table += [
        (100 + i, la, ln, lb, lnb)
        for i, la, ln, lb, lnb in _random_edges(60, seed=41, spread=4.0, lat0=15.0, lng0=40.0)
    ]
    edges = spark.createDataFrame(
        table, ["edge_id", "alat", "alng", "blat", "blng"]
    )

    got = {
        (r.id_a, r.id_b)
        for r in crossing_pairs_self(edges, crossing_type="all").collect()
    }
    want = set()
    for i, (ida, ala, aln, bla, bln) in enumerate(table):
        a, b = latlng_point(ala, aln), latlng_point(bla, bln)
        for idb, cla, cln, dla, dln in table[i + 1 :]:
            c, d = latlng_point(cla, cln), latlng_point(dla, dln)
            if pred.edge_or_vertex_crossing(a, b, c, d):
                want.add((min(ida, idb), max(ida, idb)))
    assert want, "fixture produced no crossings"
    assert got == want
    # the fan shares vertex V pairwise: at least one spoke pair must be a
    # vertex crossing (kept by ALL) and at least one must not be
    interior = {
        (r.id_a, r.id_b) for r in crossing_pairs_self(edges).collect()
    }
    vertex_only = got - interior
    assert any(p < 5 and q < 5 for p, q in vertex_only), (
        "expected a spoke pair kept only under CrossingType::ALL"
    )


def _star_and_random(n_random=60, seed=41):
    """Edges rich in shared vertices: a fan of spokes around V and random
    edges through the same area."""
    V = (15.0, 40.0)
    spokes = [(0.0, 3.0), (2.0, 1.0), (3.0, -2.0), (-1.0, -3.0), (-3.0, 0.5)]
    table = [(i, V[0], V[1], V[0] + a, V[1] + b) for i, (a, b) in enumerate(spokes)]
    return table + [
        (100 + i, la, ln, lb, lnb)
        for i, la, ln, lb, lnb in _random_edges(n_random, seed=seed, spread=4.0, lat0=15.0, lng0=40.0)
    ]


def test_kernel_path_equals_shuffle_path(spark, monkeypatch):
    """The fused broadcast kernel and the ancestor equi-join (the path
    above ``BROADCAST_REG_ROWS``, forced with the limit at 0) return the
    same pair sets: the table join with and without the index prune, with
    either side the smaller (broadcast) one, against a cell-only
    ``b_registered`` that gets its geometry from ``b_edges``, and the self
    sweep under ``crossing_type="all"`` on shared-vertex pairs.  The
    broadcast payload is memoized on its registered frame until
    ``release_payloads`` destroys it."""
    from s2geometry_d_spark.operators import crossing
    from s2geometry_d_spark.operators.knn import register_edges

    cols = ["edge_id", "alat", "alng", "blat", "blng"]
    ta = _random_edges(80, seed=21, spread=5.0) + [
        (900 + i, la, ln, lb, lnb)
        for i, la, ln, lb, lnb in _random_edges(8, seed=22, spread=40.0)
    ]
    tb = _random_edges(120, seed=23, spread=5.0) + [
        (900 + i, la, ln, lb, lnb)
        for i, la, ln, lb, lnb in _random_edges(8, seed=24, spread=40.0)
    ]
    a = spark.createDataFrame(ta, cols)
    b = spark.createDataFrame(tb, cols)
    star = spark.createDataFrame(_star_and_random(), cols)
    rega, regb, regs = register_edges(a), register_edges(b), register_edges(star)
    cells_b = regb.select("edge_id", "ecell")

    def runs():
        out = {}
        for prune in (False, True):
            out["ab", prune] = crossing.crossing_pairs_join(
                a, b, a_registered=rega, b_registered=regb, prune_b_by_a=prune
            )
            out["ba", prune] = crossing.crossing_pairs_join(
                b, a, a_registered=regb, b_registered=rega, prune_b_by_a=prune
            )
            out["cells", prune] = crossing.crossing_pairs_join(
                a, b, a_registered=rega, b_registered=cells_b, prune_b_by_a=prune
            )
        out["self_all"] = crossing.crossing_pairs_self(
            star, registered_df=regs, crossing_type="all"
        )
        return {k: {tuple(r) for r in df.collect()} for k, df in out.items()}

    try:
        kernel = runs()
        assert set(rega._s2_cross_payload) == {"edge_id"}
        monkeypatch.setattr(crossing, "BROADCAST_REG_ROWS", 0)
        shuffle = runs()
        assert kernel == shuffle
        assert all(kernel.values())
        assert len({frozenset(kernel[k, p]) for k in ("ab", "cells") for p in (False, True)}) == 1
        assert kernel["ba", False] == {(q, p) for p, q in kernel["ab", False]}
        # shared-vertex pairs kept under CrossingType::ALL
        assert any(p < 5 and q < 5 for p, q in kernel["self_all"])
    finally:
        for reg in (rega, regb, regs):
            crossing.release_payloads(reg)
            reg.unpersist()
    assert rega._s2_cross_payload == {}
