"""Continuous positional-index maintenance: the streaming twin of s47.

s47 (operators/retrieval_ext.py) proves the unified positional layout
is maintainable with batch segment ingests and layout-generic tombstone
deletes; this module feeds the SAME layout from Structured Streaming —
``readStream`` over a document landing directory → ``foreachBatch`` →
one immutable positional segment per micro-batch — plus a second stream
of doc_id tombstones. A phrase serve over the maintained index is
byte-identical to a from-scratch positional build over the live corpus
at any drain point (twin equivalence tested), and tiered compaction
(the layout-agnostic ``compact_segments``) can run between batches
without changing any serve result.

Delivery semantics — exactly-once by idempotent overwrite: each
micro-batch's segment (postings + doclen + stats delta) is a pure
function of the batch's documents and lands under ``seg-<batch_id>`` /
``stats/part=ingest-<batch_id>``, so a crashed-and-replayed
foreachBatch overwrites byte-equivalent content. Delete batches write
``deletes/delete=<id>`` + ``stats/part=delete-<id>`` — the ingest and
delete stats partitions are disjoint by their string prefixes, so no id
namespace offset is needed.

Out-of-order arrivals are DEFINED, not hazards (round 12, generation
scoping): a tombstone draining before its document's segment is stamped
with the then-current max segment generation, so it kills nothing,
subtracts zero from stats, and the later-arriving segment serves — a
delete stream restarted with a fresh checkpoint (batch ids restarting
at 0) is likewise safe because delete ids live in their own namespace
below the upsert/compaction ranges. A document REVISION streamed as a
new batch supersedes its prior version (ingest upserts by default).

At 100 TB: per-batch work is one tokenization + one position window of
the BATCH (never the corpus); phrase serve reads only the probed term
buckets of each live segment plus the broadcast tombstone set.

Reference parity: the reference has no streaming plane; this extends
SURVEY §2 S26 with the maintained-index pattern s43/s47 document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dbt_osmosis_spark.operators.retrieval_ext import (
    delete_segmented,
    ingest_positional_segment,
    query_phrase_segmented,
)
from dbt_osmosis_spark.streaming.drain import drain

_DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
_DELETES_SCHEMA = "doc_id bigint"


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


def run_positional_deletes(
    incoming_dir: str,
    index_dir: str,
    checkpoint: str,
    spark: SparkSession,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain a tombstone landing directory into the maintained positional
    index (availableNow; its own checkpoint — delete stats partitions are
    prefix-disjoint from ingest ones, so ids never collide)."""

    def _sink(batch_df: DataFrame, bid: int) -> None:
        delete_segmented(batch_df.sparkSession, index_dir, batch_df, bid)

    drain(spark, incoming_dir, _DELETES_SCHEMA, checkpoint, _sink, max_files_per_trigger)


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
    "run_positional_deletes",
    "run_positional_ingest",
    "serve_phrases_live",
]
