"""Continuous vector-index maintenance (streaming/vectors.py): the
streaming twin of s54 — twin equivalence against a from-scratch build
over the live corpus, re-embed upserts through the stream, and
mid-stream compaction invariance."""

from __future__ import annotations

import pytest
import glob
import os
import shutil

from pyspark.sql import functions as F

from dbt_osmosis_spark.operators import load_all
from dbt_osmosis_spark.operators.retrieval_ext import compact_segments
from dbt_osmosis_spark.operators.similarity_ext4 import lloyd_train
from dbt_osmosis_spark.operators.similarity_ext5 import (
    _S54_QUERY_IDS,
    _s54_emb,
    ingest_vector_segment,
    query_vectors_segmented,
)
from dbt_osmosis_spark.streaming.drain import run_segment_deletes
from dbt_osmosis_spark.streaming.vectors import (
    run_vector_ingest,
    serve_vectors_live,
)

load_all()

_DEL_MOD, _DEL_REM = 9, 5
_REV_MOD, _REV_REM = 12, 1


def _land_parquet(df, incoming, name, mtime):
    os.makedirs(incoming, exist_ok=True)
    stage = f"{incoming}.stage-{name}"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    dst = f"{incoming}/{name}.parquet"
    shutil.copy(part, dst)
    os.utime(dst, (mtime, mtime))


def _queries(emb):
    return emb.filter(F.col("doc_id").isin(*_S54_QUERY_IDS)).select(
        F.col("doc_id").alias("query_id"), F.col("v").alias("qv")
    )


def _drive(spark, sf_dir, tmp_path):
    emb = _s54_emb(spark, sf_dir)
    vec_in = str(tmp_path / "vecs_in")
    del_in = str(tmp_path / "dels_in")
    index_dir = str(tmp_path / "vecindex")
    # centroids trained offline, persisted with the index (s54 shape)
    lloyd_train(emb).write.mode("overwrite").parquet(f"{index_dir}/centroids")
    for k in range(3):
        _land_parquet(
            emb.filter(F.col("doc_id") % 3 == k), vec_in, f"b{k}", 1_000_000 + k
        )
    run_vector_ingest(vec_in, index_dir, str(tmp_path / "ckpt_i"), spark)
    _land_parquet(
        emb.filter(F.col("doc_id") % _DEL_MOD == _DEL_REM).select("doc_id"),
        del_in,
        "d0",
        1_000_100,
    )
    run_segment_deletes(del_in, index_dir, str(tmp_path / "ckpt_d"), spark)
    return emb, vec_in, index_dir


def _expected_final(spark, emb, tmp_path, revised: bool):
    """From-scratch single-segment build over the live corpus state."""
    state = emb
    if revised:
        state = state.withColumn(
            "v",
            F.when(
                F.col("doc_id") % _REV_MOD == _REV_REM,
                F.expr("transform(v, x -> x + CAST(1.0 AS DOUBLE))"),
            ).otherwise(F.col("v")),
        ).filter(
            (F.col("doc_id") % _REV_MOD == _REV_REM)
            | (F.col("doc_id") % _DEL_MOD != _DEL_REM)
        )
    else:
        state = state.filter(F.col("doc_id") % _DEL_MOD != _DEL_REM)
    ref = str(tmp_path / ("ref_rev" if revised else "ref"))
    shutil.rmtree(ref, ignore_errors=True)
    cents = spark.read.parquet(f"{tmp_path}/vecindex/centroids")
    cents.write.mode("overwrite").parquet(f"{ref}/centroids")
    ingest_vector_segment(spark, state, ref, 0, cents, upsert=False)
    return [
        tuple(r)
        for r in query_vectors_segmented(spark, ref, _queries(emb), cents).collect()
    ]


def test_streamed_vector_index_serves_like_fresh_build(spark, sf_dir, tmp_path):
    emb, _vec_in, index_dir = _drive(spark, sf_dir, tmp_path)
    got = [
        tuple(r)
        for r in serve_vectors_live(spark, index_dir, _queries(emb), 10).collect()
    ]
    assert got == _expected_final(spark, emb, tmp_path, revised=False)
    assert all(r[2] % _DEL_MOD != _DEL_REM for r in got)  # deleted never served


@pytest.mark.lifecycle_soak  # sibling: test_streamed_vector_index_serves_like_fresh_build (default)
def test_streamed_reembed_upserts_and_compaction_invariant(spark, sf_dir, tmp_path):
    emb, vec_in, index_dir = _drive(spark, sf_dir, tmp_path)
    revised = emb.filter(F.col("doc_id") % _REV_MOD == _REV_REM).withColumn(
        "v", F.expr("transform(v, x -> x + CAST(1.0 AS DOUBLE))")
    )
    _land_parquet(revised, vec_in, "b3", 1_000_200)
    # same checkpoint: availableNow drains ONLY the new file (batch 3)
    run_vector_ingest(vec_in, index_dir, str(tmp_path / "ckpt_i"), spark)
    got = [
        tuple(r)
        for r in serve_vectors_live(spark, index_dir, _queries(emb), 10).collect()
    ]
    assert got == _expected_final(spark, emb, tmp_path, revised=True)
    # mid-stream tiered compaction leaves the serve unchanged
    out = compact_segments(spark, index_dir)
    assert out["merged"] >= 1
    after = [
        tuple(r)
        for r in serve_vectors_live(spark, index_dir, _queries(emb), 10).collect()
    ]
    assert after == got
