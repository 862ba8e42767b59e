"""Continuous postings-index maintenance: the streaming twin of s36/s39.

s36/s39 (operators/retrieval.py, operators/retrieval_ext.py) maintain
the lexical index as a segmented layout with batch ingests and
tombstone batches; this module feeds the SAME layout from Structured
Streaming — ``readStream`` over a document landing directory →
``foreachBatch`` → one immutable segment per micro-batch
(``ingest_segment``) — plus a second stream of doc_id tombstones
(``delete_segmented``). A BM25 serve over the maintained index is
byte-identical to s31's full-corpus computation (minus the deleted
docs) at any drain point (twin equivalence tested), and the
layout-agnostic ``compact_segments`` can run between batches without
changing any serve result.

Delivery semantics — exactly-once by idempotent overwrite: each
micro-batch's segment (postings + doclen + stats delta) is a pure
function of the batch's documents and lands under ``seg-<batch_id>`` /
``stats/part=ingest-<batch_id>``, so a crashed-and-replayed
foreachBatch overwrites byte-equivalent content. Delete batches write
``deletes/delete=<id>`` + ``stats/part=delete-<id>``; their stats
delta is computed from current liveness excluding the batch's own
partition, so a replay re-lands the same delta and deletes subtract
exactly once. Ingest and delete stats partitions are disjoint by their
string prefixes. A document REVISION streamed as a new batch supersedes
its prior version (ingest upserts by default).

At 100 TB: per-batch work is one tokenization of the BATCH (never the
corpus); the serve reads only the probed term buckets of each live
segment plus the broadcast tombstone set and the 1-row stats deltas.

Reference parity: the reference has no streaming plane; this extends
SURVEY §2 S26 with the maintained-index pattern s36/s44 document.
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
_DELETES_SCHEMA = "doc_id bigint"


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


def run_postings_deletes(
    incoming_dir: str,
    index_dir: str,
    checkpoint: str,
    spark: SparkSession,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain a tombstone landing directory into the maintained index
    (availableNow; its own checkpoint — delete stats partitions are
    prefix-disjoint from ingest ones, so ids never collide)."""

    def _sink(batch_df: DataFrame, bid: int) -> None:
        write_batch_deletes(batch_df, index_dir, bid)

    drain(spark, incoming_dir, _DELETES_SCHEMA, checkpoint, _sink, max_files_per_trigger)


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
    "run_postings_deletes",
    "run_postings_ingest",
    "serve_postings",
    "serve_postings_live",
    "write_batch_deletes",
    "write_batch_postings",
]
