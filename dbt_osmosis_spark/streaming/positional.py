"""Continuous positional-index maintenance: the streaming twin of s47.

Feeds the segmented positional layout of s47
(operators/retrieval_ext.py) from Structured Streaming: ``readStream``
over a document landing directory → ``foreachBatch`` → one immutable
positional segment per micro-batch. Tombstones arrive through
``streaming.drain.run_segment_deletes``. A phrase serve over the
maintained index equals a from-scratch positional build over the live
corpus at any drain point, and ``compact_segments`` may run between
batches without changing an answer.

Invariants:
- exactly once by idempotent overwrite: micro-batch ``b`` lands as
  ``seg-<b>`` and the ``ingest-<b>`` stats partition, so a replay
  overwrites the same content;
- out-of-order arrival is defined: a tombstone that drains before its
  document's segment is stamped with the then-highest segment id, so it
  kills nothing and subtracts zero, and the later segment serves;
- a delete stream restarted with a fresh checkpoint reuses ids from 0;
  a reused id that a compaction retired is written one epoch higher;
- a revised document streamed as a new batch supersedes its prior
  version (ingest upserts).

Per batch the work is one tokenization of the batch, never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dbt_osmosis_spark.operators.retrieval_ext import (
    ingest_positional_segment,
    query_phrase_segmented,
)
from dbt_osmosis_spark.streaming.drain import drain

_DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def run_positional_ingest(
    incoming_dir: str,
    index_dir: str,
    checkpoint: str,
    spark: SparkSession,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain the landing directory into the maintained positional index
    (availableNow): one immutable segment per micro-batch."""

    def _sink(batch_df: DataFrame, bid: int) -> None:
        ingest_positional_segment(batch_df.sparkSession, batch_df, index_dir, bid)

    drain(spark, incoming_dir, _DOCS_SCHEMA, checkpoint, _sink, max_files_per_trigger)


def serve_phrases_live(
    spark: SparkSession,
    index_dir: str,
    phrases: tuple[tuple[str, tuple[str, ...]], ...],
    k: int,
) -> DataFrame:
    """Phrase top-k over the maintained index MINUS its tombstones —
    exactly s47's serve plan (bucket-pruned segment-union scan, broadcast
    tombstone anti-join, position-join chain, two-phase rank)."""
    return query_phrase_segmented(spark, index_dir, phrases, k)


__all__ = [
    "run_positional_ingest",
    "serve_phrases_live",
]
