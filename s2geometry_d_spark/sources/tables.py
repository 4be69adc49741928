"""Load driver testdata tables and derive deterministic spatial columns.

The spatial fact table is derived from ``orders`` by a pure-integer hash
placement that any ANSI-SQL engine reproduces exactly (the DuckDB oracle
uses the same formulas), then made sphere-uniform via lat = asin(2u-1)
(mirroring the reference's S2Testing.randomPoint, test/s2/s2testing.d:320).

    u = ((key * 2654435761 + C) % 1000003) / 1000003.0
    lat = degrees(asin(2u - 1)) ; lng = 360*v - 180

At 100 TB the same derivation is a projection over the Iceberg fact table —
no shuffle, no UDF (all Catalyst-native trig/bit expressions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import kernels

# Knuth multiplicative constant + a large prime modulus: portable int math.
_MULT1 = 2654435761
_MULT2 = 2246822519
_MOD = 1000003
_C1 = 12345
_C2 = 678901

LAT_SQL = f"degrees(asin(2e0*(((o_orderkey * {_MULT1} + {_C1}) % {_MOD}) / {_MOD}e0) - 1e0))"
LNG_SQL = f"360e0*(((o_orderkey * {_MULT2} + {_C2}) % {_MOD}) / {_MOD}e0) - 180e0"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# derived-points cache: every spatial query starts from the same
# (point_id, lat, lng, cell_id) projection — persist it once per session so
# a query SUITE doesn't re-run the scan + cell kernel per query (at 100 TB
# this is "materialize the enriched fact table once", the standard move)
_POINTS_CACHE: dict = {}


def spatial_points(spark: SparkSession, sf_dir: str, with_cell: bool = True) -> DataFrame:
    """orders -> (point_id, lat, lng[, cell_id]) deterministic placement."""
    key = (spark.sparkContext.applicationId, sf_dir, with_cell)
    cached = _POINTS_CACHE.get(key)
    if cached is not None:
        return cached
    # the test parquet is a single small file => one input split; spread the
    # rows across the executor cores before the cell kernel (at production
    # scale the fact table arrives in thousands of splits and this is a no-op
    # — Spark would already give the scan full parallelism)
    n_parts = spark.sparkContext.defaultParallelism
    df = (
        load_table(spark, sf_dir, "orders")
        .repartition(n_parts)
        .select(
            F.col("o_orderkey").alias("point_id"),
            F.expr(LAT_SQL).alias("lat"),
            F.expr(LNG_SQL).alias("lng"),
        )
    )
    if with_cell:
        df = df.withColumn("cell_id", kernels.cell_from_latlng(F.col("lat"), F.col("lng")))
    df = df.persist()
    if with_cell:
        # cell_id is materialized IN the cache, so native filters on it can
        # never re-evaluate the cell kernel — probes may safely prepend the
        # coarse-prefix prefilter (spatial_join.coarse_prefix_filter)
        df._s2_cell_stored = True
    _POINTS_CACHE[key] = df
    return df

