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
    """The stored table ``name`` under ``sf_dir``, read once per session
    (``stored``)."""
    return stored(spark, f"{sf_dir}/{name}.parquet")


# The session store: every frame a session shares — the reads of stored
# tables, the derived points, the entry's edge and index fixtures, the
# registrations operators build for their callers — is owned here, under
# (application id, sf_dir or path or None, name), and ``__spark_entry__.release_caches`` frees what it holds (see
# ``free``).  Values are DataFrames only.  (The name predates the store:
# benchmark release code reads it.)
_POINTS_CACHE: dict = {}


def _app(spark: SparkSession) -> str:
    return spark.sparkContext.applicationId


def shared(spark: SparkSession, sf_dir: str | None, name, build) -> DataFrame:
    """The session's one copy of the frame ``name`` over ``sf_dir``: built
    by ``build()`` on first use, the same object on every later call.
    Frames that do not read ``sf_dir`` pass None and are shared across
    sf_dirs."""
    key = (_app(spark), sf_dir or None, name)
    df = _POINTS_CACHE.get(key)
    if df is None:
        df = _POINTS_CACHE[key] = build()
    return df


def stored(spark: SparkSession, path: str) -> DataFrame:
    """The session's one read of the stored parquet table at ``path``: its
    file listing and schema are resolved on first use, and every later call
    gets the same frame, held in the session store (so ``release_caches``
    drops it).  Only for tables that do not change within a session; a
    writer that replaces one calls ``forget`` first, and outputs that grow
    between reads (the streaming sinks) are read directly."""
    return shared(spark, path, "stored", lambda: spark.read.parquet(path))


def forget(spark: SparkSession, path: str) -> None:
    """Free and drop the store's read of the table at ``path``, if it holds
    one: its file listing no longer matches the files there."""
    df = _POINTS_CACHE.pop((_app(spark), path, "stored"), None)
    if df is not None:
        free(df)


def evict(spark: SparkSession | None = None) -> list[DataFrame]:
    """Remove and return the store's frames — only ``spark``'s application's
    when given.  The caller unpersists them."""
    app = None if spark is None else _app(spark)
    return [_POINTS_CACHE.pop(k) for k in list(_POINTS_CACHE) if app in (None, k[0])]


def free(df: DataFrame) -> None:
    """Release the storage ``df`` pins: its cache, or — for a frame made by
    ``localCheckpoint`` — the checkpointed RDD it reads, which
    ``DataFrame.unpersist`` leaves pinned for the application's lifetime.
    A freed checkpoint cannot be read again: its blocks are its only copy."""
    df.unpersist()
    plan = df._jdf.logicalPlan()
    if plan.nodeName() == "LogicalRDD" and plan.rdd().isLocallyCheckpointed():
        plan.rdd().unpersist(False)


def memo(obj, attr: str, build):
    """``obj.<attr>``, built by ``build()`` and attached on first use: how a
    measured size, a derived view or a payload rides on the (shared) frame
    it describes, so every later reader gets it for free.  An object that
    takes no attributes gets a fresh build per call."""
    value = getattr(obj, attr, None)
    if value is None:
        value = build()
        try:
            setattr(obj, attr, value)
        except AttributeError:
            pass
    return value


def spatial_points(spark: SparkSession, sf_dir: str, with_cell: bool = True) -> DataFrame:
    """orders -> (point_id, lat, lng[, cell_id]) deterministic placement,
    persisted once per session: every spatial query starts from it (at
    100 TB, "materialize the enriched fact table once")."""
    return shared(
        spark,
        sf_dir,
        "points" if with_cell else "points_bare",
        lambda: _spatial_points(spark, sf_dir, with_cell),
    )


def _spatial_points(spark: SparkSession, sf_dir: str, with_cell: bool) -> DataFrame:
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
    return df
