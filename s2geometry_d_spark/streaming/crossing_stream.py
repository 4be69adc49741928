"""Streaming crossing detection: each micro-batch of NEW edges is checked
for proper crossings against the ACCUMULATED edge artifact and within the
batch itself, then appended to the artifact — the reference's
incremental-ingestion validation loop (MutableS2ShapeIndex add,
mutable_s2shape_index.d:100-180, re-queried by S2CrossingEdgeQuery,
s2crossing_edge_query.d:78-160) as a Structured Streaming job.

Spark-first shape: the accumulated side is a parquet artifact carrying
BOTH the edge geometry (edges/) and its registered covering cells
(cells/), so no batch ever re-registers history; the batch-vs-index join
runs in crossing_pairs_join's prune mode — once the index outgrows a
batch, the batch's registered cells are the broadcast side of the fused
crossing kernel (the same payload its self sweep built), and the index is
scanned but never shuffled, its cells filtered by the batch's cell
prefixes before their geometry is joined (the partition-pruning key of a
cell-bucketed artifact at 100 TB).

Each unordered pair is found exactly once: within one batch by the self
sweep, across batches when the LATER edge's batch arrives.  Exactly-once
output has the same contract as index_stream: the foreachBatch appends
are idempotent per batch_id via the streaming checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EDGE_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("edge_id", T.LongType(), False),
        T.StructField("alat", T.DoubleType(), False),
        T.StructField("alng", T.DoubleType(), False),
        T.StructField("blat", T.DoubleType(), False),
        T.StructField("blng", T.DoubleType(), False),
    ]
)

_EDGE_COLS = ["edge_id", "alat", "alng", "blat", "blng"]


def crossing_pairs_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Start (unawaited) an availableNow stream over edge rows at
    ``src_dir`` (EDGE_STREAM_SCHEMA), emitting every proper-crossing pair
    to ``out_dir``/pairs as (id_a, id_b) with id_a < id_b and maintaining
    the accumulated artifact at ``out_dir``/{edges,cells}."""
    from ..operators.crossing import (
        crossing_pairs_join,
        crossing_pairs_self,
        release_payloads,
    )
    from ..operators.knn import register_edges

    reader = spark.readStream.schema(EDGE_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(*_EDGE_COLS).localCheckpoint(eager=True)
        reg = register_edges(batch)
        acc_cells = None
        try:
            pairs = crossing_pairs_self(batch, registered_df=reg)
            try:
                acc_edges = spark.read.parquet(f"{out_dir}/edges")
                acc_cells = spark.read.parquet(f"{out_dir}/cells")
            except Exception:
                acc_edges = None
                acc_cells = None
            if acc_edges is not None:
                cross = crossing_pairs_join(
                    batch,
                    acc_edges,
                    a_registered=reg,
                    b_registered=acc_cells,
                    prune_b_by_a=True,
                ).select(
                    F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                )
                pairs = pairs.unionByName(cross)
            pairs.write.mode("append").parquet(f"{out_dir}/pairs")
            batch.write.mode("append").parquet(f"{out_dir}/edges")
            reg.select("edge_id", "ecell").write.mode("append").parquet(
                f"{out_dir}/cells"
            )
        finally:
            # either registered side may hold the crossing kernel's payload
            for df in (reg, acc_cells):
                if df is not None:
                    release_payloads(df)
            reg.unpersist()

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_crossing_pairs(spark: SparkSession, out_dir: str) -> DataFrame:
    """All pairs emitted so far: (id_a, id_b), id_a < id_b, each once."""
    return spark.read.parquet(f"{out_dir}/pairs")
