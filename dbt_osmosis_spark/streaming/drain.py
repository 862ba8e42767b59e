"""The drain loop shared by the maintained-index streaming twins
(postings.py, positional.py, vectors.py): ``readStream`` over a parquet
landing directory → ``foreachBatch`` → one availableNow run that
returns once the backlog present at start is processed.

Each twin's sink owns its exactly-once contract (idempotent overwrite
keyed by the micro-batch id); the checkpoint records which landing
files are done, so a second drain with the same checkpoint picks up
only files that arrived since."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession


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
