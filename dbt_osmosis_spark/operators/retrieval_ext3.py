"""Lexical retrieval, part 4: segment pruning + time travel.

- s52  termset segment pruning — every segment carries a tiny
       term-dictionary sidecar (distinct terms), and every segmented
       serve drops segments that provably contain NONE of the query
       terms BEFORE listing their posting files (the Lucene
       term-dictionary skip at segment granularity). At 100 TB with
       thousands of segments and a natural vocabulary, a selective term
       touches a handful of segments; the check reads only the
       vocabulary-sized sidecars. The registered lifecycle serves a
       rare-term query over a range-partitioned segment layout; the
       strong pruning guarantee (a segment with zero query terms is
       never read) is plan-tested with a controlled vocabulary in
       tests/test_round12b_ops.py.
- s53  time-travel serve — ``checkpoint_manifest`` cuts a
       snapshot-complete manifest (live segments + live tombstone
       partitions + stats partitions) without compacting, the
       Iceberg-commit / Lucene-commit-point analog; a serve pinned to
       that generation reproduces the index state at the checkpoint
       even after later upsert-ingests, deletes, and a compaction. The
       manifest pins the segment set, the tombstone partitions and the
       stats partitions, so the pinned BM25 answer is exact.

Reference parity: the reference ships SQL to a warehouse
(src/dbt_osmosis/core/sql_operations.py:69); maintained-index serving
is engine-side functionality this repo adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_osmosis_spark.operators import register
from dbt_osmosis_spark.operators.retrieval import _QUERY_TERMS, _QUERY_VALUES
from dbt_osmosis_spark.operators.retrieval_ext import (
    _S39_MOD,
    _S39_ORACLE,
    _S39_REM,
    _S48_ORACLE,
    _ingest_slices,
    _s47_layout_path,
    checkpoint_manifest,
    compact_segments,
    delete_segmented,
    ingest_positional_segment,
    query_bm25_segmented,
)
from dbt_osmosis_spark.sources.parquet import read_parquet, spread

# ---------------------------------------------------------------------------
# s52: termset segment pruning
# ---------------------------------------------------------------------------
# 'dup' is the corpus's one rare token (~5% of documents), so a
# range-partitioned segment layout gives segments with no 'dup' doc at
# all — those are skipped by the sidecar check. On a natural vocabulary
# the effect is far stronger (most terms live in few segments); the
# 31-term synthetic corpus makes common-term queries touch everything,
# which is exactly why the registered query is the rare term.
_S52_SEGMENTS = 4
_S52_MOD, _S52_REM = 9, 4  # delete set
_S52_TERMS: tuple[tuple[str, str], ...] = (("qDup", "dup"),)
_S52_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in _S52_TERMS)

_S52_ORACLE = _S39_ORACLE.replace(
    f"doc_id % {_S39_MOD} <> {_S39_REM}", f"doc_id % {_S52_MOD} <> {_S52_REM}"
).replace(_QUERY_VALUES, _S52_VALUES)
assert "'qDup'" in _S52_ORACLE and "% 9 <> 4" in _S52_ORACLE


@register("s52_termset_segment_pruning", oracle=_S52_ORACLE)
def s52_termset_segment_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partition the corpus into segments (doc_id spans, so the
    rare term is absent from some), delete one slice, then BM25-serve
    the rare-term query — the serve consults the termset sidecars and
    never lists a term-free segment's posting files. The one collect is
    the doc_id max (metadata-sized), which sizes the spans."""
    docs = spread(read_parquet(spark, f"{sf_dir}/documents.parquet"))
    path = _s47_layout_path(sf_dir, "ts")
    hi = docs.agg(F.max("doc_id")).first()[0]
    span = hi // _S52_SEGMENTS + 1
    _ingest_slices(
        spark,
        ingest_positional_segment,
        docs,
        path,
        *(f"doc_id >= {i * span} AND doc_id < {(i + 1) * span}" for i in range(_S52_SEGMENTS)),
    )
    delete_segmented(
        spark,
        path,
        docs.filter(F.col("doc_id") % _S52_MOD == _S52_REM).select("doc_id"),
        0,
    )
    return query_bm25_segmented(spark, path, _S52_TERMS)


# ---------------------------------------------------------------------------
# s53: time-travel serve at a checkpoint manifest
# ---------------------------------------------------------------------------
# Lifecycle: two ingests -> delete (doc_id % 7 == 2) -> CHECKPOINT ->
# upsert-ingest revisions -> second delete -> compaction. The registered
# serve is PINNED to the checkpoint generation and must hash-match a
# from-scratch BM25 build over the corpus state AT the checkpoint
# (documents minus the first delete set) — everything that happened
# after the snapshot (revisions, the second delete, the compaction's
# survivor consolidation) must be invisible to it. The pointer-view
# serve over the final state is asserted in tests.
_S53_REVISED = "doc_id % 10 = 5"
_S53_SUFFIX = " second edition"
_S53_DEL2_MOD, _S53_DEL2_REM = 10, 7

_S53_ORACLE = _S48_ORACLE  # state at the checkpoint: documents minus %7==2


@register("s53_time_travel_serve", oracle=_S53_ORACLE)
def s53_time_travel_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve the maintained positional index AS OF a checkpoint manifest
    (module comment): later upserts, deletes, and a compaction leave the
    pinned answer byte-identical to the snapshot state."""
    docs = spread(read_parquet(spark, f"{sf_dir}/documents.parquet"))
    path = _s47_layout_path(sf_dir, "tt")
    _ingest_slices(
        spark, ingest_positional_segment, docs, path, "doc_id % 10 < 8", "doc_id % 10 >= 8"
    )
    delete_segmented(
        spark, path, docs.filter(F.col("doc_id") % 7 == 2).select("doc_id"), 0
    )
    g1 = checkpoint_manifest(path)
    revised = docs.filter(F.expr(_S53_REVISED)).withColumn(
        "text", F.concat(F.col("text"), F.lit(_S53_SUFFIX))
    )
    ingest_positional_segment(spark, revised, path, 2)  # upserts prior versions
    delete_segmented(
        spark,
        path,
        docs.filter(F.col("doc_id") % _S53_DEL2_MOD == _S53_DEL2_REM).select("doc_id"),
        1,
    )
    compact_segments(spark, path)
    return query_bm25_segmented(spark, path, _QUERY_TERMS, mgen=g1)
