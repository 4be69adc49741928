"""Regenerate docs/PLANS.md: executed physical plans of flagship queries
captured at sf0.001 (plan SHAPE is scale-invariant; the load-bearing
properties are additionally asserted by tests/test_plan_shapes.py on every
run).  Run:  python scripts/capture_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

SECTIONS = [
    (
        "pip_cap_join",
        "the flagship covering join, map-only on the fact side: the "
        "coarse-prefix InSet over the stored cell column, ONE explode of the "
        "cell's ancestors at the covering levels and ONE broadcast hash join "
        "on the signed cell id, with the accept predicate as its condition; "
        "no Python stage (plan-pinned)",
    ),
    (
        "pip_many_poly_join",
        "1000 hexagons, 60,161 covering cells (past PREFILTER_CELL_LIMIT): "
        "the candidates come from ONE evaluation of the Arrow match kernel "
        "(plan-pinned since round 4), decoded and joined to the broadcast "
        "region mapping; the boundary candidates run the pip_exact kernel",
    ),
    (
        "within_distance_join",
        "fixed-radius covering join through the match kernel; dist2 and its "
        "cut are SQL texts whose optimized plan equals the Column-built tree",
    ),
    (
        "group_rect_bounds",
        "binned gap scan: single fact scan (lat stats folded into the same "
        "aggregate), no Window; round-5 rewrite folds the driver phase with "
        "numpy and sizes bins so refinement never scans twice at this "
        "density — the result is a LocalRelation select",
    ),
    (
        "dedup_minhash_lsh",
        "one (band, sig) exchange shared by cap window and bucket groupBy",
    ),
    (
        "knn_join",
        "driver-assembled result: LocalRelation, no live probe lineage",
    ),
    (
        "pip_many_poly_table",
        "index-table PIP: prefix equi-join + row-payload parity, no driver "
        "geometry",
    ),
    (
        "tile_assignment",
        "map-only: per-tile area level (pure expressions, no lookup join) "
        "and ONE ArrowEvalPython for tile_cells, which returns each tile's "
        "cells deduplicated, so no exchange follows it; the explode consumes "
        "the UDF call inline, so InferFiltersFromGenerate cannot split it "
        "into a doubled kernel (the round-4 finding)",
    ),
    (
        "tile_containment_check",
        "map-only, one projection per tile row: the probe_misses kernel "
        "reads the tile_cells list in place (two chained ArrowEvalPython "
        "nodes) and counts the 81 lattice probes no cell of the tile "
        "covers; no exchange, no join, no explode",
    ),
    (
        "edge_face_span",
        "round-5: struct-returning pandas UDF projected into two fields via "
        "the explode-inline pattern — ONE ArrowEvalPython even though "
        "CollapseProject would clone the UDF per extracted field",
    ),
    (
        "index_region_check",
        "round-5: index-as-region contains/mayIntersect for a 3-level "
        "target-cell table — broadcast-hash index joins (the target side "
        "never exchanges), Arrow kernels only on the boundary slice; the "
        "coarse targets join ONE ancestor explode of the index cells over "
        "all coarse levels (spatial_join.ancestor_keys), made distinct",
    ),
    (
        "knn_table_join",
        "round-5: table-to-table closest-edge join result — the round "
        "pipeline retires queries by anti-join with per-round lineage "
        "truncation, so the returned plan reads checkpointed round outputs, "
        "not a re-executable probe cascade; each round's candidates are the "
        "nested cell pairs of spatial_join.nesting_join (plan-pinned in "
        "tests/test_plan_shapes.py)",
    ),
    (
        "crossing_pairs_self",
        "single-TABLE crossing sweep (visit_crossing_edge_pairs) — at this "
        "scale the registered index is the broadcast side of ONE fused "
        "crosses kernel scanning the same index, then one hash exchange of "
        "crossings; above BROADCAST_REG_ROWS the candidates come from the "
        "ancestor equi-join of spatial_join.ancestor_keys.  No cartesian or "
        "nested-loop pair join anywhere",
    ),
    (
        "assemble_polylines",
        "round-5: builder POLYLINE layer PATH assembly by pointer-doubling "
        "list ranking — the final plan is checkpointed-round scans + "
        "equi-joins + one groupBy, NO Python evaluation node anywhere "
        "(plan-pinned); min-label propagation would instead burn rounds "
        "proportional to chain length",
    ),
]

# queries whose first ring round is captured in both venues: the bounded
# probe read of the driver venue and the executor venue's mapInArrow job
ROUND_SECTIONS = [
    (
        "knn_join",
        "the persisted points, the native coarse-prefix InSet over the "
        "stored cell column and the SQL point xyz",
    ),
    (
        "knn_edges_join",
        "the persisted registered-edge index, the two-way coarse-prefix "
        "InSet over ecell and the SQL endpoint xyz",
    ),
    (
        "knn_edge_targets",
        "edge targets: the same index probe under buffered-segment "
        "coverings; the last round is the brute round, always on the "
        "executors",
    ),
]


def _rounds(entry, spark, name):
    """The ``knn.Round`` of every round of one evaluation of ``name``."""
    from s2geometry_d_spark.operators import knn

    rounds = []
    search = knn._ring_search

    def spy(*args, candidates, **kwargs):
        def spied(*a, **kw):
            rounds.append(candidates(*a, **kw))
            return rounds[-1]

        return search(*args, candidates=spied, **kwargs)

    knn._ring_search = spy
    try:
        entry.queries()[name](spark, SF)
    finally:
        knn._ring_search = search
    return rounds


def _plan_lines(df, cached_plans: bool = True) -> list[str]:
    """The executed plan's lines, clipped (plans embed full literal
    lists); without ``cached_plans``, each InMemoryRelation's own build
    plan is left out."""
    lines, cut = [], None
    for ln in df._jdf.queryExecution().executedPlan().toString().splitlines():
        depth = len(ln) - len(ln.lstrip(" +-:"))
        if cut is not None and depth > cut:
            continue
        cut = None if cached_plans or "InMemoryRelation" not in ln else depth
        lines.append(ln[:160])
    return lines


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.python.unix.domain.socket.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    out = [
        "# PLANS — executed physical plans of flagship queries",
        "",
        "Captured with `explain` at sf0.001 (plans are scale-invariant in "
        "shape); tests/test_plan_shapes.py asserts the load-bearing "
        "properties on every run.  Regenerate with "
        "`python scripts/capture_plans.py`.",
        "",
    ]
    for name, note in SECTIONS:
        lines = _plan_lines(qs[name](spark, SF))
        out += [f"## {name}", f"*{note}*", "", "```", *lines, "```", ""]
    from s2geometry_d_spark.operators import knn

    bound = knn._DRIVER_ROUND_ROWS
    for name, note in ROUND_SECTIONS:
        first = _rounds(entry, spark, name)[0]
        out += [
            f"## {name} — ring round 1, both venues",
            f"*{note}.  Driver venue (a probe of at most {bound:,} rows): "
            f"one bounded JVM-only read, then the round kernel on the "
            f"driver.  Executor venue (a larger probe): the same kernel as "
            f"ONE MapInArrow over the same probe, no exchange.  The cached "
            f"tables' build plans are left out*",
            "",
            "Driver venue, `probe.limit(_DRIVER_ROUND_ROWS + 1)`:",
            "",
            "```",
            *_plan_lines(first.probe.limit(bound + 1), cached_plans=False),
            "```",
            "",
            "Executor venue, `Round.frame()`:",
            "",
            "```",
            *_plan_lines(first.frame(), cached_plans=False),
            "```",
            "",
        ]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote docs/PLANS.md")
    spark.stop()
    # os._exit skips the interpreter's stdout flush: a piped run would lose
    # the line above
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
