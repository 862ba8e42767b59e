"""Continuous postings-index maintenance: the streaming twin of s36/s39.

Feeds the segmented bag-of-words layout of s36/s39
(operators/retrieval_ext.py) from Structured Streaming: ``readStream``
over a document landing directory → ``foreachBatch`` → one immutable
segment per micro-batch (``ingest_segment``). Tombstones arrive through
``streaming.drain.run_segment_deletes``. A BM25 serve over the
maintained index equals s31 over the live corpus at any drain point,
and ``compact_segments`` may run between batches without changing an
answer.

Invariants:
- exactly once by idempotent overwrite: micro-batch ``b`` lands as
  ``seg-<b>`` and the ``ingest-<b>`` stats partition, a pure function of
  the batch, so a replay overwrites the same content;
- a delete micro-batch ``b`` is delete batch ``b`` (user tombstone
  namespace [0, 1e6)); its stats delta is read with its own partition
  left out, so a replay subtracts each doc once;
- a revised document streamed as a new batch supersedes its prior
  version (ingest upserts).

Per batch the work is one tokenization of the batch, never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dbt_osmosis_spark.operators.retrieval_ext import (
    delete_segmented,
    ingest_segment,
    query_segmented_postings,
)
from dbt_osmosis_spark.streaming.drain import drain

_DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def write_batch_postings(docs: DataFrame, index_dir: str, batch_id: int) -> None:
    """Idempotently land one document micro-batch as segment
    ``seg-<batch_id>`` (overwrite of deterministic content)."""
    ingest_segment(docs.sparkSession, docs, index_dir, batch_id)


def run_postings_ingest(
    incoming_dir: str,
    index_dir: str,
    checkpoint: str,
    spark: SparkSession,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain the landing directory into the maintained index
    (availableNow): one immutable segment per micro-batch."""

    def _sink(batch_df: DataFrame, bid: int) -> None:
        write_batch_postings(batch_df, index_dir, bid)

    drain(spark, incoming_dir, _DOCS_SCHEMA, checkpoint, _sink, max_files_per_trigger)


def write_batch_deletes(doc_ids: DataFrame, index_dir: str, batch_id: int) -> None:
    """Idempotently apply one tombstone micro-batch to the maintained
    index as delete batch ``batch_id``."""
    delete_segmented(doc_ids.sparkSession, index_dir, doc_ids, batch_id)


def serve_postings(
    spark: SparkSession, index_dir: str, query_terms: tuple[tuple[str, str], ...]
) -> DataFrame:
    """BM25 top-k over the maintained index MINUS its tombstones —
    exactly s39's serve plan (bucket-pruned segment-union scan,
    broadcast tombstone anti-join, df from the surviving postings,
    two-phase rank)."""
    return query_segmented_postings(spark, index_dir, query_terms)


# one serve: a layout without a delete batch yet has no tombstones to apply
serve_postings_live = serve_postings

__all__ = [
    "run_postings_ingest",
    "serve_postings",
    "serve_postings_live",
    "write_batch_deletes",
    "write_batch_postings",
]
