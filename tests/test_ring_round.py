"""One ring round of the shared kNN search against the window round it
replaced.

A round used to plan the candidate match, the scorer, a broadcast query
join, a (query, edge) dedup or per-polyline min, and a ``row_number``
window per query; the brute probe was a cross join with the same window.
Now every round, the brute round included, is one ``mapInArrow`` pass
that keeps each partition's top-k, reduced again on the driver by the same
``knn.topk_rows``; a covered round whose probe is small enough runs the
same kernel on the driver instead, over the probe's rows, and ranks the
same rows as its ``mapInArrow`` pass.  Each test below rebuilds the old
window round in Spark, with the engine's SQL distance fragments as its
scorers, for the exact coverings and acceptance radii of the new round
(or the whole brute table and the distance limit) and asserts the same
rows, ranks and ``dist2`` bits, for all five ring-search variants, and
for the round of the table-to-table join, whose second reduce runs after
an exchange by query id instead of on the driver.
"""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from s2geometry_d_spark.functions import edgedist, edgepair, kernels
from s2geometry_d_spark.functions.localdf import local_df
from s2geometry_d_spark.operators import knn, polyline_join
from s2geometry_d_spark.operators.spatial_join import candidate_match_kernel
from s2geometry_d_spark.s2core.cellid import CellId
from s2geometry_d_spark.s2core.regions import Cell, chord2_from_radians, latlng_point

K = 3
# two queries inside the data and one far from it: round 1 finds nothing
# for the far one
QUERIES = [("q0", -20.0, -65.0), ("q1", -18.5, -63.0), ("far", 60.0, 100.0)]
TARGET_EDGES = [
    ("t0", (-24.0, -69.0), (-16.0, -61.0)),
    ("t1", (-21.0, -66.0), (-20.5, -64.0)),
    ("tfar", (50.0, 90.0), (51.0, 92.0)),
]
TARGET_CELLS = [
    ("c0", CellId.from_latlng(-20.0, -65.0).parent(8)),
    ("c1", CellId.from_latlng(-17.0, -62.0).parent(6)),
    ("cfar", CellId.from_latlng(55.0, 95.0).parent(9)),
]


def _edges(spark, seed=3, n=40):
    """``n`` short random edges around (-20, -65), chained into polylines
    of 10."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        la, ln = rng.uniform(-6.0, 6.0, 2)
        da, dn = rng.uniform(-2.0, 2.0, 2)
        rows.append(
            (i, float(-20.0 + la), float(-65.0 + ln), float(-20.0 + la + da),
             float(-65.0 + ln + dn), i // 10)
        )
    return spark.createDataFrame(
        rows, ["edge_id", "alat", "alng", "blat", "blng", "polyline_id"]
    )


def _points(spark, seed=4, n=40):
    """``n`` random points around (-20, -65) plus two in one leaf cell next
    to q0, with a string name column; hashed on ``point_id % 2`` into 8
    partitions, so at least 6 of them are empty."""
    rng = np.random.default_rng(seed)
    rows = [
        (i, f"p{(7 * i) % n:03d}", float(-20.0 + la), float(-65.0 + ln))
        for i, (la, ln) in enumerate(rng.uniform(-6.0, 6.0, (n, 2)))
    ]
    rows += [(n, "leaf_a", -20.001, -65.001), (n + 1, "leaf_b", -20.001 + 1e-9, -65.001)]
    df = (
        spark.createDataFrame(rows, ["point_id", "name", "lat", "lng"])
        .withColumn("cell_id", kernels.cell_from_latlng(F.col("lat"), F.col("lng")))
        .repartition(8, F.col("point_id") % 2)
        .persist()
    )
    df._s2_cell_stored = True
    return df


def _geometry(spark, variant):
    """(query_id, <target columns>) of every query of ``variant``, as the
    engine's SQL distance fragments read them."""
    if variant.startswith("edge_targets"):
        rows = [(q, *latlng_point(*a), *latlng_point(*b)) for q, a, b in TARGET_EDGES]
        return local_df(spark, rows, ["query_id", "cx", "cy", "cz", "dx", "dy", "dz"])
    if variant == "cell_targets":
        rows = []
        for q, cid in TARGET_CELLS:
            cell = Cell(cid)
            verts = [cell.get_vertex(i) for i in range(4)]
            norms = [cell.get_edge_raw(i) for i in range(4)]
            rows.append((q, *(float(x) for v in verts + norms for x in v)))
        names = [f"{p}{i}{a}" for p in "vn" for i in range(4) for a in "xyz"]
        return local_df(spark, rows, ["query_id", *names])
    return local_df(spark, [(q, *knn._xyz(la, ln)) for q, la, ln in QUERIES],
                    ["query_id", "qx", "qy", "qz"])


def _score(variant, cand):
    """The variant's SQL ``dist2``: the point chord, or a fragment over the
    edge endpoints' SQL xyz.  The scored rows come back as a local
    relation: a filter planned over the pair and cell fragments' hundreds
    of intermediates exhausts the optimizer's constraint inference."""
    if variant.startswith("points"):
        scored = cand.withColumn("dist2", knn._chord2_to_query_expr("lat", "lng"))
    else:
        cand = knn._with_edge_xyz(cand)
        if variant.startswith("edge_targets"):
            scored = edgepair.with_pair_dist2(cand)
        elif variant == "cell_targets":
            scored = edgepair.with_cell_dist2(cand)
        else:
            scored = edgedist.with_dist2(cand)
        scored = scored.drop(*knn._EDGE_XYZ)
    return cand.sparkSession.createDataFrame(scored.toArrow())


def _window_round(probe, brute, cell_col, two_way, r, variant, limit, k):
    """The old round: candidate match (or, for the brute round, the brute
    table crossed with every query and cut at the distance limit only),
    broadcast query join, the SQL scorer, the r2 cut, the (query, edge)
    dedup or the polyline min, and a row_number window over (dist2, tie)."""
    spark = probe.sparkSession
    qrows = r["qrows"]
    qdf = local_df(spark, [(row[0], row[-1]) for row in qrows], ["query_id", "r2"]).join(
        _geometry(spark, variant), "query_id"
    )
    if r["coverings"] is None:
        scored = _score(variant, brute.crossJoin(F.broadcast(qdf)))
        if limit is not None:
            scored = scored.filter(
                F.col("dist2") <= F.lit(chord2_from_radians(np.radians(limit)))
            )
    else:
        cand = (
            candidate_match_kernel(probe, r["coverings"], cell_col=cell_col, two_way=two_way)
            .drop("is_interior")
            .withColumnRenamed("region_id", "query_id")
        )
        scored = _score(variant, cand.join(F.broadcast(qdf), "query_id"))
        scored = scored.filter(F.col("dist2") <= F.col("r2"))
    if variant == "polylines":
        scored = scored.groupBy("query_id", "polyline_id").agg(F.min("dist2").alias("dist2"))
    elif r.get("key") is not None:
        scored = scored.dropDuplicates(["query_id", r["key"]])
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col(r["tie_col"]).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _normal(rows, cols, tie):
    """(ranked keys, unranked rows) with dist2 as its int64 bit pattern:
    rows tied on (dist2, tie) may take either rank, in either round."""
    out = []
    for r in rows:
        d = dict(zip(cols, r))
        d["dist2"] = int(np.float64(d["dist2"]).view(np.int64))
        out.append(d)
    ranked = sorted((d["query_id"], d["rank"], d["dist2"], d[tie]) for d in out)
    rest = sorted(tuple(sorted((c, repr(v)) for c, v in d.items() if c != "rank")) for d in out)
    return ranked, rest


def _spied_rounds(monkeypatch):
    """Captures every round of every ring search: its hooks, coverings,
    query rows and planned round (``knn.Round``)."""
    rounds = []
    search = knn._ring_search

    def spy(*args, candidates, **hooks):
        def spied(coverings, qrows, **spec):
            rnd = candidates(coverings, qrows, **spec)
            rounds.append(dict(hooks, coverings=coverings, qrows=qrows, round=rnd))
            return rnd

        res = search(*args, candidates=spied, **hooks)
        for r in rounds:
            r["record"] = res._s2_ring
        return res

    monkeypatch.setattr(knn, "_ring_search", spy)
    monkeypatch.setattr(polyline_join, "_ring_search", spy)
    return rounds


VARIANTS = [
    "points_cell_tie",
    "points_string_tie",
    "edges",
    "edge_targets",
    "edge_targets_limit",
    "cell_targets",
    "polylines",
]


@pytest.mark.parametrize("variant", VARIANTS)
def test_round_matches_window_round(spark, monkeypatch, variant):
    rounds = _spied_rounds(monkeypatch)
    frames = []
    limit = None
    if variant.startswith("points"):
        probe = brute = _points(spark)
        frames.append(probe)
        leaf = probe.filter(F.col("name").startswith("leaf")).select("cell_id").distinct()
        assert leaf.count() == 1  # the two leaf points share their leaf
        tie = "name" if variant == "points_string_tie" else None
        knn.knn_join(probe, QUERIES, K, tie_col=tie)
        cell_col, two_way = "cell_id", False
    else:
        brute = _edges(spark)
        if variant != "polylines":
            brute = brute.drop("polyline_id")
        # the index hashed on its cell: an edge's registered cells land in
        # different partitions, so one (query, edge) may leave several
        reg = knn.register_edges(brute)
        probe = reg.repartition(4, "ecell").persist()
        probe._s2_cell_stored = True
        frames += [reg, probe]
        cell_col, two_way = "ecell", True
        if variant == "edges":
            knn.knn_edges_join(brute, QUERIES, K, registered_df=probe)
        elif variant.startswith("edge_targets"):
            # the limit sits between the near targets' k-th edge and the
            # far target's nearest: the brute round's cut leaves it nothing
            limit = 4.0 if variant == "edge_targets_limit" else None
            knn.knn_edges_to_edges(
                brute, TARGET_EDGES, K, registered_df=probe, max_distance_deg=limit
            )
        elif variant == "cell_targets":
            knn.knn_edges_to_cells(brute, TARGET_CELLS, K, registered_df=probe)
        else:
            polyline_join.nearest_polyline_join(brute, QUERIES, K, registered_df=probe)
    assert rounds
    # the far query goes to the brute round, the search's last round
    assert rounds[-1]["coverings"] is None and rounds[-1]["brute_df"] is brute
    assert all(r["coverings"] is not None for r in rounds[:-1])
    assert [row[0] for row in rounds[-1]["qrows"]] == rounds[0]["record"]["brute"]
    assert rounds[0]["record"]["brute"][-1] in {"far", "tfar", "cfar"}
    repeats = 0
    collected = []
    venues = rounds[0]["record"]["venues"]
    for r, venue in zip(rounds, venues):
        slots = [row[0] for row in r["qrows"]]

        def ranked(table):
            # (query_id, <cols>, rank) of the round's driver-side reduce
            best = knn.topk_rows(table, K, r["tie_col"], r.get("key"))
            slot = best.column("q").to_numpy()
            rank = np.arange(slot.size) - np.searchsorted(slot, slot) + 1
            return list(
                zip([slots[s] for s in slot],
                    *(best.column(c).to_pylist() for c in best.column_names[1:]),
                    rank.tolist())
            )

        # the executor venue: at most P x pending x k rows
        frame = r["round"].frame()
        raw = frame.toArrow()
        parts = frame.rdd.getNumPartitions()
        assert raw.num_rows <= parts * len(r["qrows"]) * K
        if r.get("key") is not None:
            pairs = list(zip(raw.column("q").to_pylist(), raw.column(r["key"]).to_pylist()))
            repeats += len(pairs) - len(set(pairs))
        cols = ["query_id", *raw.column_names[1:], "rank"]
        new = ranked(raw)
        collected.append(raw.num_rows)
        if venue == "driver":
            # the probe's one partition: at most pending x k rows, which
            # rank as the executor venue's do
            table, _, probed = knn._collect_round(r["round"])
            assert probed <= knn._DRIVER_ROUND_ROWS and table.num_rows <= len(slots) * K
            assert _normal(ranked(table), cols, r["tie_col"]) == _normal(new, cols, r["tie_col"])
            collected[-1] = table.num_rows
        old_df = _window_round(probe, brute, cell_col, two_way, r, variant, limit, K)
        old = [tuple(row[c] for c in cols) for row in old_df.collect()]
        assert _normal(new, cols, r["tie_col"]) == _normal(old, cols, r["tie_col"])
        # zero hits: the far query has no row in round 1
        if r is rounds[0]:
            assert slots[-1] not in {row[0] for row in new}
        if r is rounds[-1]:
            # the brute round finds the far query's rows, unless the
            # distance limit cuts them all
            assert (slots[-1] in {row[0] for row in new}) == (limit is None)
    # the decision record lists each round's venue and the rows it
    # returned to the driver merge; at this size every covered round
    # scores on the driver, and the brute round on the executors
    assert venues == ["driver"] * (len(rounds) - 1) + ["executors"]
    assert rounds[0]["record"]["round_rows"] == collected
    assert rounds[0]["record"]["rounds"] == len(rounds) - 1
    if variant == "edges":
        assert repeats > 0  # a (query, edge) did arrive from two partitions
    for df in frames:
        df.unpersist()


def test_topk_rows_orders_like_spark_window(spark):
    """``topk_rows`` against Spark's ``ORDER BY dist2, tie`` row_number
    window, nulls first: integer and string tie columns, dist2 ties, a
    null tie per query, and the per-(q, key) minimum."""
    rng = np.random.default_rng(11)
    n = 400
    q = rng.integers(0, 7, n).astype(np.int32)
    dist2 = rng.integers(0, 12, n) / 4.0  # many equal distances
    tie_i = np.arange(n)[rng.permutation(n)]  # distinct per row
    tie_s = [f"s{v:04d}" for v in tie_i]
    key = rng.integers(0, 40, n)
    null_at = {int(np.nonzero(q == g)[0][0]) for g in range(7)}
    tie_s = [None if i in null_at else v for i, v in enumerate(tie_s)]
    table = pa.table(
        {
            "q": pa.array(q),
            "key": pa.array(key),
            "tie_i": pa.array(tie_i),
            "tie_s": pa.array(tie_s, pa.string()),
            "dist2": pa.array(dist2),
        }
    )
    df = spark.createDataFrame(table.to_pandas())
    for tie in ("tie_i", "tie_s"):
        for k in (1, 4):
            for use_key in (False, True):
                scored = df
                if use_key:
                    w = Window.partitionBy("q", "key").orderBy("dist2", tie)
                    scored = scored.withColumn("_r", F.row_number().over(w)).filter("_r = 1")
                w = Window.partitionBy("q").orderBy(F.col("dist2").asc(), F.col(tie).asc())
                want = (
                    scored.withColumn("rank", F.row_number().over(w))
                    .filter(F.col("rank") <= k)
                    .orderBy("q", "rank")
                    .select("q", "key", "tie_i", "tie_s", "dist2")
                    .collect()
                )
                got = knn.topk_rows(table, k, tie, "key" if use_key else None)
                assert got.to_pylist() == [r.asDict() for r in want], (tie, k, use_key)


def test_brute_kernel_bounds_pairs_per_scorer_call(monkeypatch):
    """With no coverings the kernel pairs every row with every slot, in
    slices of at most ``knn._BRUTE_PAIRS`` (row, slot) pairs per scorer
    call, even when one row's slots alone exceed it; its rows equal an
    all-pairs reference with the r2 cut and the per-slot top-k."""
    monkeypatch.setattr(knn, "_BRUTE_PAIRS", 7)
    rng = np.random.default_rng(12)
    nq, k = 10, 2
    points = rng.normal(size=(nq, 3))
    xyz = rng.normal(size=(9, 3))
    r2 = np.full(nq, np.inf)
    r2[3] = 0.0  # a cut that leaves slot 3 nothing
    calls = []

    def score(slot, x, y, z):
        calls.append(slot.size)
        d = np.stack([x, y, z], axis=1) - points[slot]
        return (d * d).sum(axis=1)

    def batch(lo, hi):
        return pa.RecordBatch.from_arrays(
            [pa.array(np.arange(lo, hi)), *(pa.array(c) for c in xyz[lo:hi].T)],
            names=["row", "x", "y", "z"],
        )

    kernel = knn.round_kernel(
        None, r2, score, cell_col=None, geom=["x", "y", "z"], cols=["row"], k=k, tie="row"
    )
    got = pa.Table.from_batches(list(kernel(iter([batch(0, 5), batch(5, 5), batch(5, 9)]))))
    assert calls and max(calls) <= 7 and sum(calls) == 9 * nq
    want = []
    for s in range(nq):
        d = ((xyz - points[s]) ** 2).sum(axis=1)
        hits = sorted((float(d[i]), i) for i in range(9) if d[i] <= r2[s])[:k]
        want += [{"q": s, "row": i, "dist2": v} for v, i in hits]
    assert got.to_pylist() == want


def test_brute_round_with_more_queries_than_pairs_bound(spark, monkeypatch):
    """Every query of a ``max_rounds=0`` search takes the brute round; with
    the pairs bound below the query count, one row's pairs span several
    scorer calls, and the answers still equal the brute-force oracles."""
    monkeypatch.setattr(knn, "_BRUTE_PAIRS", 5)
    rng = np.random.default_rng(21)
    queries = [
        (f"b{i}", float(-20.0 + la), float(-65.0 + ln))
        for i, (la, ln) in enumerate(rng.uniform(-8.0, 8.0, (8, 2)))
    ]
    edges = _edges(spark)
    res = knn.knn_edges_join(edges, queries, K, max_rounds=0)
    assert res._s2_ring["brute"] == [q for q, _, _ in queries]
    assert res._s2_ring["rounds"] == 0 and len(res._s2_ring["round_rows"]) == 1
    got = sorted((r["query_id"], r["rank"], r["edge_id"], r["dist2"]) for r in res.collect())
    want = sorted(
        (r["query_id"], r["rank"], r["edge_id"], r["dist2"])
        for r in knn.knn_edges_brute_force(edges, queries, K).collect()
    )
    assert got == want and len(got) == 8 * K

    points = _points(spark)
    res = knn.knn_join(points, queries, K, tie_col="point_id", max_rounds=0)
    got = sorted((r["query_id"], r["rank"], r["point_id"], r["dist2"]) for r in res.collect())
    want = sorted(
        (r["query_id"], r["rank"], r["point_id"], r["dist2"])
        for r in knn.knn_brute_force(points, queries, K, tie_col="point_id").collect()
    )
    assert got == want and len(got) == 8 * K
    points.unpersist()


def _table_pairs(spark):
    """Candidate pairs of the table-to-table join in two branches, one
    partition each: branch 1 pairs every query with every edge, branch 2
    (a coarse-level join) again with every third edge, so those pairs
    arrive twice, from two partitions.  String query ids; ``sparse`` lies
    west of the cluster with one edge (id 99) near it."""
    rng = np.random.default_rng(14)
    edges = []
    for i in range(30):
        la, ln = rng.uniform(-6.0, 6.0, 2)
        da, dn = rng.uniform(-1.0, 1.0, 2)
        ends = (-20.0 + la, -65.0 + ln, -20.0 + la + da, -65.0 + ln + dn)
        edges.append((i, *map(float, ends)))
    edges.append((99, -20.0, -79.5, -20.5, -79.0))
    queries = [
        ("q0", -20.0, -65.0, -19.0, -64.0),
        ("q1", -23.0, -61.0, -23.5, -60.0),
        ("sparse", -20.0, -80.0, -20.2, -80.5),
    ]
    names = ["query_id", "qalat", "qalng", "qblat", "qblng",
             "edge_id", "alat", "alng", "blat", "blng"]

    def branch(keep):
        rows = [(*q, *e) for q in queries for e in edges if keep(e[0])]
        return spark.sparkContext.parallelize(rows, 1).toDF(names)

    return branch(lambda e: True).unionByName(branch(lambda e: e % 3 == 0))


@pytest.mark.parametrize("ring_deg", [3.0, None])
def test_table_round_matches_window_round(spark, ring_deg):
    """``knn._table_round``, the table-to-table join's round (the straggler
    round with no cut), against the window round it replaced: the SQL pair
    fragment over the SQL xyz, the r2 cut, the (query, edge) dedup, a
    ``row_number`` window over (dist2, edge_id) and each query's row count.
    Same rows, ranks, counts and ``dist2`` bits; a pair arriving from both
    branches is kept once, and ``sparse`` keeps its fewer than k rows."""
    k = 3
    cand = _table_pairs(spark)
    assert cand.rdd.getNumPartitions() == 2
    r2 = np.inf if ring_deg is None else chord2_from_radians(np.radians(ring_deg))
    got = knn._table_round(cand, r2, k, "edge_id").collect()

    scored = edgepair.with_pair_dist2(
        knn._with_edge_xyz(
            cand.selectExpr(
                "*",
                *edgedist.xyz_exprs("qalat", "qalng", "c"),
                *edgedist.xyz_exprs("qblat", "qblng", "d"),
            )
        )
    ).select("query_id", "edge_id", "dist2")
    # a local relation, as in _score: the fragment's intermediates exhaust
    # the optimizer's constraint inference under a filter
    scored = spark.createDataFrame(scored.toArrow())
    best = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col("edge_id").asc())
    want = (
        scored.filter(F.col("dist2") <= F.lit(float(r2)))
        .dropDuplicates(["query_id", "edge_id"])
        .withColumn("rank", F.row_number().over(best))
        .filter(F.col("rank") <= k)
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("query_id")))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    n = {r["query_id"]: r["n"] for r in want}
    assert n["q0"] == n["q1"] == k
    assert n["sparse"] == (k if ring_deg is None else 1)
    # a pair of both branches is in the answer
    assert any(r["edge_id"] % 3 == 0 for r in want)
