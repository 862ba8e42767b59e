"""The drain loop shared by the maintained-index streaming twins
(postings.py, positional.py, vectors.py): ``readStream`` over a parquet
landing directory → ``foreachBatch`` → one availableNow run that
returns once the backlog present at start is processed.

Each sink owns its exactly-once contract (idempotent overwrite keyed by
the micro-batch id); the checkpoint records which landing files are
done, so a second drain with the same checkpoint picks up only files
that arrived since. The tombstone drain is one function for every
segmented layout: ``delete_segmented`` reads only the doclen sidecars,
tombstones and stats, which all three layouts share."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from dbt_osmosis_spark.operators.retrieval_ext import delete_segmented


def drain(
    spark: SparkSession,
    incoming_dir: str,
    schema: str,
    checkpoint: str,
    sink: Callable[[DataFrame, int], None],
    max_files_per_trigger: int = 1,
) -> None:
    """Feed every file in ``incoming_dir`` through ``sink(batch_df,
    batch_id)``, ``max_files_per_trigger`` files per micro-batch."""
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(incoming_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_segment_deletes(
    incoming_dir: str,
    index_dir: str,
    checkpoint: str,
    spark: SparkSession,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain a doc_id tombstone landing directory into a maintained
    segmented index (postings, positional or vector), micro-batch ``b``
    as delete batch ``b``. Use a checkpoint of its own: delete and ingest
    stats partitions are prefix-disjoint, so their batch ids never
    collide, and a replayed batch re-lands the same tombstones and a
    stats delta that subtracts each doc once."""

    def _sink(batch_df: DataFrame, bid: int) -> None:
        delete_segmented(batch_df.sparkSession, index_dir, batch_df, bid)

    drain(spark, incoming_dir, "doc_id bigint", checkpoint, _sink, max_files_per_trigger)
