"""Continuous vector-index maintenance: the streaming twin of s54.

Feeds the maintained vector layout of s54
(operators/similarity_ext5.py) from Structured Streaming: ``readStream``
over an embedding landing directory → ``foreachBatch`` → one immutable
cell-partitioned segment per micro-batch, assigned against the index's
persisted centroids. Tombstones arrive through
``streaming.drain.run_segment_deletes``. An exact serve over the
maintained index equals a brute-force scan of the live corpus at any
drain point, and ``compact_segments`` may run between batches without
changing an answer.

Invariants:
- exactly once by idempotent overwrite: micro-batch ``b`` lands as
  ``seg-<b>``, so a replay overwrites the same content;
- centroids are trained offline and resolved through the manifest: the
  stream only assigns against them, and a retrain publishes a new
  centroid generation that the next drain picks up;
- a re-embedded vector supersedes its prior version (ingest upserts).

Per batch the work is one map-side assignment against the broadcast
centroids and one partitioned write of the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dbt_osmosis_spark.operators.retrieval_ext import _view
from dbt_osmosis_spark.operators.similarity_ext5 import (
    _serve_vectors,
    index_centroids,
    ingest_vector_segment,
)
from dbt_osmosis_spark.streaming.drain import drain

_VECS_SCHEMA = "doc_id bigint, v array<double>, label int"


def run_vector_ingest(
    incoming_dir: str,
    index_dir: str,
    checkpoint: str,
    spark: SparkSession,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain the embedding landing directory into the maintained vector
    index (availableNow): one immutable cell-partitioned segment per
    micro-batch, assigned against the index's persisted centroids
    (manifest-resolved — a retrain's new centroid generation is picked
    up by the next drain)."""
    cents = index_centroids(spark, index_dir)

    def _sink(batch_df: DataFrame, bid: int) -> None:
        ingest_vector_segment(batch_df.sparkSession, batch_df, index_dir, bid, cents)

    drain(spark, incoming_dir, _VECS_SCHEMA, checkpoint, _sink, max_files_per_trigger)


def serve_vectors_live(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int,
    nprobe: int | None = None,
) -> DataFrame:
    """Cosine top-k over the maintained index MINUS its tombstones —
    exactly s54's serve plan (cell-pruned segment-union scan, broadcast
    tombstone anti-join, JVM-side folds, two-phase rank). Centroids and
    segments come from one manifest view, so the serve always probes with
    the cells the live segments were assigned under."""
    return _serve_vectors(spark, _view(index_dir), queries, k, nprobe)


__all__ = [
    "run_vector_ingest",
    "serve_vectors_live",
]
