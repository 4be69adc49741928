"""Ring-search family against its DuckDB oracles: every kNN, furthest and
polyline query built on the shared ring search must hash-match its
``oracle_sql()`` at the test scale factor, with the same comparison the
oracle gate uses (``scripts/check_oracles.py``: row count plus the
order-insensitive value hash)."""

import pytest

from conftest import SF_DIR
from scripts.check_oracles import TABLES, value_hash

RING_QUERIES = [
    "knn_join",
    "knn_maxdist",
    "knn_maxerror",
    "knn_region",
    "knn_edges_join",
    "knn_unified_index",
    "knn_edges_maxdist",
    "knn_edges_maxerror",
    "knn_edge_targets",
    "knn_cell_targets",
    "knn_table_join",
    "furthest_join",
    "nearest_polyline_join",
    "polyline_within_distance",
]


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as e

    return e


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", RING_QUERIES)
def test_ring_search_query_matches_oracle(spark, entrymod, duck, name):
    sdf = entrymod.queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(entrymod.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    assert value_hash(srows, sdf.columns) == value_hash(orows, ocols)
