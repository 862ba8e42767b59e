"""Continuous positional-index maintenance (streaming/positional.py):
the streaming twin of s47 — twin equivalence against a from-scratch
positional build over the live corpus, replay idempotence, and
compaction invariance while the index is live."""

from __future__ import annotations

import pytest
import glob
import os
import shutil

from pyspark.sql import functions as F

from dbt_osmosis_spark.operators import load_all
from dbt_osmosis_spark.operators.retrieval_ext import (
    _S42_K,
    _S42_PHRASES,
    compact_segments,
    ingest_positional_segment,
    query_phrase_index,
    write_positional_index,
)
from dbt_osmosis_spark.sources.parquet import read_parquet
from dbt_osmosis_spark.streaming.drain import run_segment_deletes
from dbt_osmosis_spark.streaming.positional import (
    run_positional_ingest,
    serve_phrases_live,
)

load_all()

_DEL_MOD, _DEL_REM = 7, 2  # the s47 delete set


def _land_parquet(df, incoming, name, mtime):
    os.makedirs(incoming, exist_ok=True)
    stage = f"{incoming}.stage-{name}"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    dst = f"{incoming}/{name}.parquet"
    shutil.copy(part, dst)
    os.utime(dst, (mtime, mtime))


def _drive_lifecycle(spark, sf_dir, tmp_path):
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    doc_in = str(tmp_path / "docs_in")
    del_in = str(tmp_path / "dels_in")
    index_dir = str(tmp_path / "posindex")
    for k in range(3):
        _land_parquet(
            docs.filter(F.col("doc_id") % 3 == k), doc_in, f"b{k}", 1_000_000 + k
        )
    run_positional_ingest(doc_in, index_dir, str(tmp_path / "ckpt_i"), spark)
    _land_parquet(
        docs.filter(F.col("doc_id") % _DEL_MOD == _DEL_REM).select("doc_id"),
        del_in,
        "d0",
        1_000_100,
    )
    run_segment_deletes(del_in, index_dir, str(tmp_path / "ckpt_d"), spark)
    return docs, index_dir


def _expected_live_serve(spark, docs, tmp_path):
    """From-scratch positional build over the LIVE corpus — the twin's
    ground truth."""
    live = docs.filter(F.col("doc_id") % _DEL_MOD != _DEL_REM)
    ref_path = str(tmp_path / "refindex")
    write_positional_index(spark, live, ref_path)
    return [
        tuple(r)
        for r in query_phrase_index(spark, ref_path, _S42_PHRASES, _S42_K).collect()
    ]


def test_streamed_positional_serves_like_fresh_build(spark, sf_dir, tmp_path):
    docs, index_dir = _drive_lifecycle(spark, sf_dir, tmp_path)
    got = [
        tuple(r)
        for r in serve_phrases_live(spark, index_dir, _S42_PHRASES, _S42_K).collect()
    ]
    assert got == _expected_live_serve(spark, docs, tmp_path)
    # deleted docs never served
    assert all(r[2] % _DEL_MOD != _DEL_REM for r in got)


@pytest.mark.lifecycle_soak  # siblings: test_streamed_positional_serves_like_fresh_build (default) + test_streaming_postings replay tests
def test_replayed_segment_and_compaction_leave_serve_unchanged(
    spark, sf_dir, tmp_path
):
    docs, index_dir = _drive_lifecycle(spark, sf_dir, tmp_path)
    before = [
        tuple(r)
        for r in serve_phrases_live(spark, index_dir, _S42_PHRASES, _S42_K).collect()
    ]
    # crash-replay: segment 1 lands again (same id, same input slice) —
    # idempotent overwrite must leave serve and merged stats unchanged
    n_before = (
        spark.read.parquet(f"{index_dir}/stats").agg(F.sum("n_docs")).first()[0]
    )
    ingest_positional_segment(
        spark, docs.filter(F.col("doc_id") % 3 == 1), index_dir, 1
    )
    n_after = (
        spark.read.parquet(f"{index_dir}/stats").agg(F.sum("n_docs")).first()[0]
    )
    assert n_after == n_before
    mid = [
        tuple(r)
        for r in serve_phrases_live(spark, index_dir, _S42_PHRASES, _S42_K).collect()
    ]
    assert mid == before
    # tiered compaction between batches: serve invariant
    out = compact_segments(spark, index_dir)
    assert out["merged"] >= 1
    after = [
        tuple(r)
        for r in serve_phrases_live(spark, index_dir, _S42_PHRASES, _S42_K).collect()
    ]
    assert after == before


@pytest.mark.lifecycle_soak  # siblings: test_round12_ops upsert/re-add tests (default) + the s49 oracle window
def test_streamed_revision_upserts_and_readds(spark, sf_dir, tmp_path):
    """Round 12: a document REVISION streamed as a later batch supersedes
    the prior version (and re-adds docs the delete stream had removed) —
    the streaming path drives the s49 upsert contract; serve equals a
    from-scratch build over the FINAL corpus state."""
    docs, index_dir = _drive_lifecycle(spark, sf_dir, tmp_path)
    doc_in = str(tmp_path / "docs_in")
    revised = docs.filter(F.col("doc_id") % 10 == 5).withColumn(
        "text", F.concat(F.col("text"), F.lit(" streamed revision"))
    )
    _land_parquet(revised, doc_in, "b3", 1_000_200)
    # same checkpoint: availableNow drains ONLY the new file (batch 3)
    run_positional_ingest(doc_in, index_dir, str(tmp_path / "ckpt_i"), spark)
    got = [
        tuple(r)
        for r in serve_phrases_live(spark, index_dir, _S42_PHRASES, _S42_K).collect()
    ]
    final = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 5,
            F.concat(F.col("text"), F.lit(" streamed revision")),
        ).otherwise(F.col("text")),
    ).filter(
        (F.col("doc_id") % 10 == 5) | (F.col("doc_id") % _DEL_MOD != _DEL_REM)
    )
    ref_path = str(tmp_path / "refindex_rev")
    write_positional_index(spark, final, ref_path)
    assert got == [
        tuple(r)
        for r in query_phrase_index(spark, ref_path, _S42_PHRASES, _S42_K).collect()
    ]
