"""One ring round of the shared kNN search against the window round it
replaced.

A round used to plan the candidate match, the scorer, a broadcast query
join, a (query, edge) dedup or per-polyline min, and a ``row_number``
window per query.  Now it is one ``mapInArrow`` pass that keeps each
partition's top-k, reduced again on the driver by the same
``knn.topk_rows``.  Each test below rebuilds the old window round in
Spark for the exact coverings and acceptance radii of the new round and
asserts the same rows, ranks and ``dist2`` bits, for all five ring-search
variants.
"""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from s2geometry_d_spark.functions import kernels
from s2geometry_d_spark.functions.localdf import local_df
from s2geometry_d_spark.operators import knn, polyline_join
from s2geometry_d_spark.operators.spatial_join import candidate_match_kernel
from s2geometry_d_spark.s2core.cellid import CellId

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


def _window_round(probe, cell_col, two_way, coverings, qrows, hooks, k):
    """The old round: candidate match, broadcast query join, the variant's
    scorer, the r2 cut, the (query, edge) dedup or the polyline min, and a
    row_number window over (dist2, tie)."""
    spark = probe.sparkSession
    cand = (
        candidate_match_kernel(probe, coverings, cell_col=cell_col, two_way=two_way)
        .drop("is_interior")
        .withColumnRenamed("region_id", "query_id")
    )
    qdf = local_df(spark, qrows, ["query_id", *hooks["target_cols"], "r2"])
    scored = hooks["score"](cand.join(F.broadcast(qdf), "query_id"))
    scored = scored.filter(F.col("dist2") <= F.col("r2"))
    if hooks.get("collapse") is not None:
        scored = hooks["collapse"](scored)
    elif hooks.get("key") is not None:
        scored = scored.dropDuplicates(["query_id", hooks["key"]])
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col(hooks["tie_col"]).asc())
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    return ranked.drop(*hooks["target_cols"], "r2", "ecell")


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
    query rows, round frame and collected table."""
    rounds = []
    search = knn._ring_search

    def spy(*args, candidates, **hooks):
        def spied(coverings, qrows, **spec):
            frame = candidates(coverings, qrows, **spec)
            rounds.append(dict(hooks, coverings=coverings, qrows=qrows, frame=frame))
            return frame

        res = search(*args, candidates=spied, **hooks)
        for r in rounds:
            r["record"] = res._s2_ring
        return res

    monkeypatch.setattr(knn, "_ring_search", spy)
    monkeypatch.setattr(polyline_join, "_ring_search", spy)
    return rounds


VARIANTS = ["points_cell_tie", "points_string_tie", "edges", "edge_targets", "cell_targets", "polylines"]


@pytest.mark.parametrize("variant", VARIANTS)
def test_round_matches_window_round(spark, monkeypatch, variant):
    rounds = _spied_rounds(monkeypatch)
    frames = []
    if variant.startswith("points"):
        probe = _points(spark)
        frames.append(probe)
        leaf = probe.filter(F.col("name").startswith("leaf")).select("cell_id").distinct()
        assert leaf.count() == 1  # the two leaf points share their leaf
        tie = "name" if variant == "points_string_tie" else None
        knn.knn_join(probe, QUERIES, K, tie_col=tie)
        cell_col, two_way = "cell_id", False
    else:
        edges = _edges(spark)
        if variant != "polylines":
            edges = edges.drop("polyline_id")
        # the index hashed on its cell: an edge's registered cells land in
        # different partitions, so one (query, edge) may leave several
        reg = knn.register_edges(edges)
        probe = reg.repartition(4, "ecell").persist()
        probe._s2_cell_stored = True
        frames += [reg, probe]
        cell_col, two_way = "ecell", True
        if variant == "edges":
            knn.knn_edges_join(edges, QUERIES, K, registered_df=probe)
        elif variant == "edge_targets":
            knn.knn_edges_to_edges(edges, TARGET_EDGES, K, registered_df=probe)
        elif variant == "cell_targets":
            knn.knn_edges_to_cells(edges, TARGET_CELLS, K, registered_df=probe)
        else:
            polyline_join.nearest_polyline_join(edges, QUERIES, K, registered_df=probe)
    assert rounds
    repeats = 0
    collected = []
    for r in rounds:
        raw = r["frame"].toArrow()
        collected.append(raw.num_rows)
        # the round's one collect: at most P x pending x k rows
        parts = r["frame"].rdd.getNumPartitions()
        assert raw.num_rows <= parts * len(r["coverings"]) * K
        if r.get("key") is not None:
            pairs = list(zip(raw.column("q").to_pylist(), raw.column(r["key"]).to_pylist()))
            repeats += len(pairs) - len(set(pairs))
        best = knn.topk_rows(raw, K, r["tie_col"], r.get("key"))
        slot = best.column("q").to_numpy()
        rank = np.arange(slot.size) - np.searchsorted(slot, slot) + 1
        slots = [row[0] for row in r["qrows"]]
        cols = ["query_id", *best.column_names[1:], "rank"]
        new = list(
            zip([slots[s] for s in slot], *(best.column(c).to_pylist() for c in cols[1:-1]),
                rank.tolist())
        )
        old_df = _window_round(probe, cell_col, two_way, r["coverings"], r["qrows"], r, K)
        old = [tuple(row[c] for c in cols) for row in old_df.collect()]
        assert _normal(new, cols, r["tie_col"]) == _normal(old, cols, r["tie_col"])
        # zero hits: the far query has no row in round 1
        if r is rounds[0]:
            assert slots[-1] not in {row[0] for row in new}
    # the decision record lists each round's collected rows
    assert rounds[0]["record"]["round_rows"] == collected
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
