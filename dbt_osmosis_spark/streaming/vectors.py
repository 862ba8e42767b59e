"""Continuous vector-index maintenance: the streaming twin of s54.

s54 (operators/similarity_ext5.py) proves the maintained vector index
(IVF-cell-partitioned segments + generation-scoped tombstones + upsert
at ingest) is maintainable with batch ingests; this module feeds the
SAME layout from Structured Streaming — ``readStream`` over an
embedding landing directory → ``foreachBatch`` → one immutable vector
segment per micro-batch, assigned against the PERSISTED centroids —
plus a tombstone stream. An exact serve over the maintained index is
byte-identical to a brute-force scan of the live corpus at any drain
point (twin equivalence tested), re-embedded vectors supersede their
prior versions, and the layout-agnostic ``compact_segments`` can run
between batches without changing any serve result.

Delivery semantics — exactly-once by idempotent overwrite, the same
contract as the positional twin (streaming/positional.py): each
micro-batch's segment is a pure function of the batch and lands under
``seg-<batch_id>``, so a crashed-and-replayed foreachBatch overwrites
byte-equivalent content. Centroids are TRAINED OFFLINE and persisted
(the s54 deployment shape) — the stream only assigns against them, so
cell ids are stable across the index's lifetime; retraining is a new
index generation, not a streaming concern.

At 100 TB: per-batch work is one map-side assignment against the
broadcast <= 16-row centroid array + one partitioned write of the
BATCH (never the corpus); serve reads only probed cells of live
segments plus the broadcast tombstone set.

Reference parity: the reference has no streaming plane; this extends
SURVEY §2 S26 with the maintained-vector-index pattern s54 documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dbt_osmosis_spark.operators.retrieval_ext import delete_segmented
from dbt_osmosis_spark.operators.similarity_ext5 import (
    index_centroids,
    ingest_vector_segment,
    query_vectors_segmented,
)
from dbt_osmosis_spark.streaming.drain import drain

_VECS_SCHEMA = "doc_id bigint, v array<double>, label int"
_DELETES_SCHEMA = "doc_id bigint"


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


def run_vector_deletes(
    incoming_dir: str,
    index_dir: str,
    checkpoint: str,
    spark: SparkSession,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain a tombstone landing directory into the maintained vector
    index (availableNow; its own checkpoint — the layout-generic
    delete_segmented works verbatim on vector segments because it only
    touches the doclen sidecars, tombstones, and stats)."""

    def _sink(batch_df: DataFrame, bid: int) -> None:
        delete_segmented(batch_df.sparkSession, index_dir, batch_df, bid)

    drain(spark, incoming_dir, _DELETES_SCHEMA, checkpoint, _sink, max_files_per_trigger)


def serve_vectors_live(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int,
    nprobe: int | None = None,
) -> DataFrame:
    """Cosine top-k over the maintained index MINUS its tombstones —
    exactly s54's serve plan (cell-pruned segment-union scan, broadcast
    tombstone anti-join, JVM-side folds, two-phase rank). Centroids are
    manifest-resolved, so the serve always probes with the cells the
    live segments were assigned under."""
    cents = index_centroids(spark, index_dir)
    return query_vectors_segmented(spark, index_dir, queries, cents, k, nprobe)


__all__ = [
    "run_vector_deletes",
    "run_vector_ingest",
    "serve_vectors_live",
]
