"""Continuous postings-index maintenance (streaming/postings.py): the
streaming twin of s36/s39, with twin equivalence against s31/s39 and the
exactly-once-by-idempotent-overwrite replay contract exercised."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_osmosis_spark.operators import QUERIES, load_all
from dbt_osmosis_spark.operators.retrieval import _QUERY_TERMS
from dbt_osmosis_spark.sources.parquet import read_parquet
from dbt_osmosis_spark.streaming.postings import (
    run_postings_ingest,
    serve_postings,
    write_batch_postings,
)

load_all()


def _split_corpus(spark, sf_dir, incoming, tmp_path, n_files=3):
    import glob
    import os
    import shutil

    os.makedirs(incoming, exist_ok=True)
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    for k in range(n_files):
        stage = str(tmp_path / f"stage{k}")
        docs.filter(F.col("doc_id") % n_files == k).coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{incoming}/batch{k}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_000_000 + k, 1_000_000 + k))
    return docs


def test_streamed_index_serves_identically_to_s31(spark, sf_dir, tmp_path):
    """Drain the corpus through the stream in 3 micro-batches; a BM25
    serve over the maintained index must equal s31's full-corpus rows."""
    incoming = str(tmp_path / "incoming")
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    _split_corpus(spark, sf_dir, incoming, tmp_path)
    run_postings_ingest(incoming, index_dir, ckpt, spark)

    got = serve_postings(spark, index_dir, _QUERY_TERMS).collect()
    want = QUERIES["s31_bm25_topk"](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_replayed_batch_does_not_change_results(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: re-running a batch sink with the
    same batch_id must overwrite byte-equivalent content, leaving serve
    results and merged stats unchanged (exactly-once by idempotence)."""
    incoming = str(tmp_path / "incoming")
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    docs = _split_corpus(spark, sf_dir, incoming, tmp_path)
    run_postings_ingest(incoming, index_dir, ckpt, spark)

    before = serve_postings(spark, index_dir, _QUERY_TERMS).collect()
    n_docs_before = (
        spark.read.parquet(f"{index_dir}/stats").agg(F.sum("n_docs")).collect()[0][0]
    )

    # crash-replay: batch 1 runs again (same id, same input slice)
    replay = docs.filter(F.col("doc_id") % 3 == 1)
    write_batch_postings(replay, index_dir, 1)

    after = serve_postings(spark, index_dir, _QUERY_TERMS).collect()
    n_docs_after = (
        spark.read.parquet(f"{index_dir}/stats").agg(F.sum("n_docs")).collect()[0][0]
    )
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    assert n_docs_after == n_docs_before  # no double count
    assert n_docs_after == docs.count()


def test_incremental_growth_between_drains(spark, sf_dir, tmp_path):
    """Serving mid-stream reflects exactly the drained prefix: after one
    batch the index answers for that slice; after the rest arrive the
    answers converge to the full corpus. (The second drain reuses the
    same checkpoint, so already-processed files are not re-ingested.)"""
    import glob
    import os
    import shutil

    incoming = str(tmp_path / "incoming")
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(incoming, exist_ok=True)
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")

    staged = []
    for k in range(3):
        stage = str(tmp_path / f"stage{k}")
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1).write.parquet(stage)
        staged.append(glob.glob(f"{stage}/part-*.parquet")[0])

    shutil.copy(staged[0], f"{incoming}/batch0.parquet")
    os.utime(f"{incoming}/batch0.parquet", (1_000_000, 1_000_000))
    run_postings_ingest(incoming, index_dir, ckpt, spark)
    n1 = spark.read.parquet(f"{index_dir}/stats").agg(F.sum("n_docs")).collect()[0][0]
    assert n1 == docs.filter(F.col("doc_id") % 3 == 0).count()

    for k in (1, 2):
        shutil.copy(staged[k], f"{incoming}/batch{k}.parquet")
        os.utime(f"{incoming}/batch{k}.parquet", (1_000_000 + k, 1_000_000 + k))
    run_postings_ingest(incoming, index_dir, ckpt, spark)

    got = serve_postings(spark, index_dir, _QUERY_TERMS).collect()
    want = QUERIES["s31_bm25_topk"](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def _stage_delete_files(spark, sf_dir, incoming, tmp_path, n_files=2):
    import glob
    import os
    import shutil

    os.makedirs(incoming, exist_ok=True)
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    victims = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    for k in range(n_files):
        stage = str(tmp_path / f"dstage{k}")
        victims.filter(F.col("doc_id") % n_files == k).coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{incoming}/del{k}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (2_000_000 + k, 2_000_000 + k))


def test_streamed_deletes_serve_identically_to_s39(spark, sf_dir, tmp_path):
    """Full LSM lifecycle through streams: drain the corpus in 3
    ingest micro-batches, then drain the s39 tombstone set (doc_id % 7
    == 3) in 2 delete micro-batches; the live serve must equal the
    registered batch lifecycle s39 row-for-row."""
    from dbt_osmosis_spark.streaming.drain import run_segment_deletes
    from dbt_osmosis_spark.streaming.postings import serve_postings_live

    incoming = str(tmp_path / "incoming")
    deletes_in = str(tmp_path / "deletes_in")
    index_dir = str(tmp_path / "index")
    _split_corpus(spark, sf_dir, incoming, tmp_path)
    run_postings_ingest(incoming, index_dir, str(tmp_path / "ckpt_i"), spark)
    _stage_delete_files(spark, sf_dir, deletes_in, tmp_path)
    run_segment_deletes(deletes_in, index_dir, str(tmp_path / "ckpt_d"), spark)

    got = serve_postings_live(spark, index_dir, _QUERY_TERMS).collect()
    want = QUERIES["s39_postings_tombstone_serve"](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_delete_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Crash-replay contract: re-running a delete micro-batch (same
    batch id) and even re-running it AFTER a later batch landed leaves
    the served results and the stats deltas byte-identical."""
    from dbt_osmosis_spark.streaming.postings import (
        serve_postings_live,
        write_batch_deletes,
    )

    incoming = str(tmp_path / "incoming")
    index_dir = str(tmp_path / "index")
    docs = _split_corpus(spark, sf_dir, incoming, tmp_path)
    run_postings_ingest(incoming, index_dir, str(tmp_path / "ckpt_i"), spark)
    victims = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    b0 = victims.filter(F.col("doc_id") % 2 == 0)
    b1 = victims.filter(F.col("doc_id") % 2 == 1)
    write_batch_deletes(b0, index_dir, 0)
    write_batch_deletes(b1, index_dir, 1)
    first = serve_postings_live(spark, index_dir, _QUERY_TERMS).collect()
    stats0 = sorted(
        map(tuple, spark.read.parquet(f"{index_dir}/stats/part=delete-0").collect())
    )
    write_batch_deletes(b0, index_dir, 0)  # replay batch 0 after batch 1
    again = serve_postings_live(spark, index_dir, _QUERY_TERMS).collect()
    stats0_replay = sorted(
        map(tuple, spark.read.parquet(f"{index_dir}/stats/part=delete-0").collect())
    )
    assert sorted(map(tuple, again)) == sorted(map(tuple, first))
    assert stats0_replay == stats0
