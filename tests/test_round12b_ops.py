"""Round-12b operator tests: termset segment pruning (s52), snapshot-
complete manifests / time-travel serve (s53), and the maintained vector
index (s54). Serve correctness against DuckDB is test_oracle_parity's
job; these pin the pruning, snapshot, and lifecycle contracts."""

from __future__ import annotations

import pytest
import os
import shutil

from pyspark.sql import functions as F

from dbt_osmosis_spark.operators import QUERIES, load_all
from dbt_osmosis_spark.operators.retrieval_ext import (
    _live_segments,
    _segments_with_terms,
    checkpoint_manifest,
    compact_segments,
    delete_segmented,
    ingest_positional_segment,
    query_bm25_segmented,
    vacuum_segments,
)

load_all()

_Q = (("q1", "beta"),)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# --------------------------------------------------------------------------
# s52: termset pruning — a segment with NONE of the query terms is
# dropped before its posting files are even listed.
# --------------------------------------------------------------------------
def _vocab_layout(spark, path):
    """Three segments with controlled vocabularies: only seg-0 contains
    'beta'; seg-1 and seg-2 are disjoint from the query."""
    ingest_positional_segment(
        spark, _docs(spark, [(1, "alpha beta beta"), (2, "beta alpha")]), path, 0
    )
    ingest_positional_segment(
        spark, _docs(spark, [(3, "gamma delta"), (4, "delta delta")]), path, 1
    )
    ingest_positional_segment(spark, _docs(spark, [(5, "gamma epsilon")]), path, 2)


def test_termset_pruning_selects_only_matching_segments(spark, tmp_path):
    path = str(tmp_path / "ts-prune")
    _vocab_layout(spark, path)
    segs = _live_segments(path)
    assert segs == ["seg-0", "seg-1", "seg-2"]
    assert _segments_with_terms(spark, path, segs, ["beta"]) == ["seg-0"]
    assert _segments_with_terms(spark, path, segs, ["gamma"]) == ["seg-1", "seg-2"]
    # a term nobody has prunes everything -> the serve returns empty
    assert _segments_with_terms(spark, path, segs, ["zzz"]) == []
    assert query_bm25_segmented(spark, path, (("q", "zzz"),)).count() == 0


def test_termset_pruned_serve_reads_no_termfree_segment_files(spark, tmp_path):
    from dbt_osmosis_spark.plans.audit import physical_plan

    path = str(tmp_path / "ts-plan")
    _vocab_layout(spark, path)
    serve = query_bm25_segmented(spark, path, _Q)
    # scan locations print cut to this many characters; print them whole
    # so the segment names below stay visible under any tmp_path
    key = "spark.sql.maxMetadataStringLength"
    prev = spark.conf.get(key)
    spark.conf.set(key, "100000")
    try:
        plan = physical_plan(serve)
    finally:
        spark.conf.set(key, prev)
    assert "/seg-0/" in plan  # the one segment holding 'beta'
    assert "/seg-1/" not in plan and "/seg-2/" not in plan


def test_termset_pruning_is_pure_optimization(spark, tmp_path):
    """Removing the sidecars (pre-round-12 layout) disables pruning but
    never changes the answer."""
    path = str(tmp_path / "ts-equal")
    _vocab_layout(spark, path)
    pruned = query_bm25_segmented(spark, path, _Q).collect()
    for s in _live_segments(path):
        shutil.rmtree(f"{path}/{s}/termset")
    unpruned = query_bm25_segmented(spark, path, _Q).collect()
    assert pruned == unpruned and len(pruned) > 0


def test_compacted_segment_carries_termset(spark, tmp_path):
    path = str(tmp_path / "ts-compact")
    _vocab_layout(spark, path)
    compact_segments(spark, path)  # merges the two smaller segments
    segs = _live_segments(path)
    assert all(os.path.isdir(f"{path}/{s}/termset") for s in segs)
    # pruning still exact across the mixed (base + compacted) layout
    assert query_bm25_segmented(spark, path, _Q).count() > 0


# --------------------------------------------------------------------------
# s53: checkpoint manifests pin segments AND tombstones AND stats — later
# activity is invisible to a pinned serve.
# --------------------------------------------------------------------------
def test_checkpoint_pin_ignores_later_activity(spark, tmp_path):
    path = str(tmp_path / "tt-pin")
    ingest_positional_segment(
        spark,
        _docs(spark, [(1, "alpha beta"), (2, "beta beta gamma"), (3, "alpha")]),
        path,
        0,
    )
    delete_segmented(spark, path, _docs(spark, [(3, "x")]).select("doc_id"), 0)
    g = checkpoint_manifest(path)
    snapshot = query_bm25_segmented(spark, path, (("q", "beta"),), mgen=g).collect()
    assert len(snapshot) > 0
    # later: a revision upsert, another delete, and a compaction
    ingest_positional_segment(
        spark, _docs(spark, [(1, "alpha beta beta beta")]), path, 1
    )
    delete_segmented(spark, path, _docs(spark, [(2, "x")]).select("doc_id"), 1)
    compact_segments(spark, path)
    assert (
        query_bm25_segmented(spark, path, (("q", "beta"),), mgen=g).collect()
        == snapshot
    )
    # the pointer view DOES see the later activity: doc 2 is gone and
    # doc 1 serves its revision's tf
    now = {
        r.doc_id: r.score_micros
        for r in query_bm25_segmented(spark, path, (("q", "beta"),)).collect()
    }
    assert 2 not in now and 1 in now
    assert now[1] != {r.doc_id: r.score_micros for r in snapshot}[1]


def test_s53_pointer_view_serves_final_state(spark, sf_dir, tmp_path):
    """After the registered s53 lifecycle (checkpoint + revision upsert +
    second delete + compaction), the POINTER view equals a from-scratch
    maintained build over the final corpus state."""
    from dbt_osmosis_spark.operators.retrieval import _QUERY_TERMS
    from dbt_osmosis_spark.operators.retrieval_ext import _s47_layout_path
    from dbt_osmosis_spark.operators.retrieval_ext3 import (
        _S53_DEL2_MOD,
        _S53_DEL2_REM,
        _S53_REVISED,
        _S53_SUFFIX,
    )
    from dbt_osmosis_spark.sources.parquet import read_parquet

    QUERIES["s53_time_travel_serve"](spark, sf_dir).collect()
    path = _s47_layout_path(sf_dir, "tt")
    pointer = query_bm25_segmented(spark, path, _QUERY_TERMS).collect()

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    final = (
        docs.withColumn(
            "text",
            F.when(
                F.expr(_S53_REVISED), F.concat(F.col("text"), F.lit(_S53_SUFFIX))
            ).otherwise(F.col("text")),
        )
        .filter(F.expr(_S53_REVISED) | (F.col("doc_id") % 7 != 2))
        .filter(F.col("doc_id") % _S53_DEL2_MOD != _S53_DEL2_REM)
    )
    fresh = str(tmp_path / "tt-fresh")
    ingest_positional_segment(spark, final, fresh, 0, upsert=False)
    assert pointer == query_bm25_segmented(spark, fresh, _QUERY_TERMS).collect()


def test_vacuum_drops_pinned_history_but_not_pointer_view(spark, tmp_path):
    path = str(tmp_path / "tt-vacuum")
    ingest_positional_segment(
        spark, _docs(spark, [(1, "alpha beta"), (2, "beta gamma")]), path, 0
    )
    ingest_positional_segment(spark, _docs(spark, [(3, "beta beta")]), path, 1)
    delete_segmented(spark, path, _docs(spark, [(2, "x")]).select("doc_id"), 0)
    compact_segments(spark, path)
    before = query_bm25_segmented(spark, path, (("q", "beta"),)).collect()
    removed = vacuum_segments(path)
    assert removed["removed_segments"] >= 1
    assert query_bm25_segmented(spark, path, (("q", "beta"),)).collect() == before


# --------------------------------------------------------------------------
# s54: maintained vector index — nprobe pruning + upsert/delete liveness.
# --------------------------------------------------------------------------
def _s54_layout(spark, sf_dir):
    from dbt_osmosis_spark.operators.similarity_ext5 import _s54_layout_path

    QUERIES["s54_maintained_vector_index"](spark, sf_dir).collect()
    path = _s54_layout_path(sf_dir)
    cents = spark.read.parquet(f"{path}/centroids")
    return path, cents


def test_s54_nprobe_prunes_cells_and_overlaps_exact(spark, sf_dir):
    from dbt_osmosis_spark.operators.similarity_ext5 import (
        _S54_QUERY_IDS,
        _s54_emb,
        query_vectors_segmented,
    )
    from dbt_osmosis_spark.plans.audit import physical_plan

    path, cents = _s54_layout(spark, sf_dir)
    emb = _s54_emb(spark, sf_dir)
    queries = emb.filter(F.col("doc_id").isin(*_S54_QUERY_IDS)).select(
        F.col("doc_id").alias("query_id"), F.col("v").alias("qv")
    )
    exact = query_vectors_segmented(spark, path, queries, cents)
    probed = query_vectors_segmented(spark, path, queries, cents, nprobe=2)
    # the probed plan pushes a strictly smaller tbkt IN-set to the scans
    # (ADVICE r12: parse the sets, don't just grep for the column name —
    # a regression probing ALL cells must fail here)
    import re

    def tbkt_in_set(plan: str) -> set[int]:
        # membership renders as `IN (a,b)` for short lists and
        # `INSET a, b, ...` past inSetConversionThreshold — parse both
        vals: set[int] = set()
        for m in re.finditer(
            r"tbkt#?\d*\w* (?:IN \(([^)]+)\)|INSET ([\d,\s]+))", plan
        ):
            vals.update(int(x) for x in re.findall(r"\d+", m.group(1) or m.group(2)))
        return vals

    n_cells = cents.count()
    probed_cells = tbkt_in_set(physical_plan(probed))
    exact_cells = tbkt_in_set(physical_plan(exact))
    assert probed_cells, "probed plan pushes no tbkt IN-set"
    assert len(probed_cells) <= 2 * len(_S54_QUERY_IDS)
    assert len(probed_cells) < len(exact_cells) <= n_cells
    ex = {(r.query_id, r.doc_id) for r in exact.collect()}
    pr = {(r.query_id, r.doc_id) for r in probed.collect()}
    assert len(pr) > 0 and n_cells > 2
    # IVF probing is approximate; on this corpus 2/16 cells must still
    # recover a meaningful share of the exact top-k
    assert len(ex & pr) / len(ex) >= 0.2


def test_s54_lifecycle_liveness(spark, sf_dir):
    """Deleted vectors stay gone, re-embedded ones serve the NEW vector:
    the exact serve's candidate set equals the final corpus state."""
    from dbt_osmosis_spark.operators.similarity_ext5 import (
        _S54_DEL_MOD,
        _S54_DEL_REM,
        _S54_REV_MOD,
        _S54_REV_REM,
        _S54_QUERY_IDS,
        _s54_emb,
        query_vectors_segmented,
    )
    from dbt_osmosis_spark.operators.retrieval_ext import (
        _apply_scoped_tombstones,
        _read_segments_tagged,
        _scoped_tombstones,
        _view,
    )

    path, cents = _s54_layout(spark, sf_dir)
    live = _apply_scoped_tombstones(
        _read_segments_tagged(spark, path, _live_segments(path), "postings"),
        _scoped_tombstones(spark, _view(path)),
    )
    live_ids = {r.doc_id for r in live.select("doc_id").distinct().collect()}
    emb_ids = {r.doc_id for r in _s54_emb(spark, sf_dir).select("doc_id").collect()}
    expect = {
        i
        for i in emb_ids
        if i % _S54_REV_MOD == _S54_REV_REM or i % _S54_DEL_MOD != _S54_DEL_REM
    }
    assert live_ids == expect
    # one live version per doc — the upsert supersede invariant
    assert live.select("doc_id", "seg_gen").distinct().groupBy("doc_id").count().filter(
        "count > 1"
    ).count() == 0


# --------------------------------------------------------------------------
# round-12b closures: sloppy phrases on the maintained layout, manifest
# pins for the phrase query class, vector-layout compaction invariance.
# --------------------------------------------------------------------------
def test_sloppy_segmented_equals_monolithic_live(spark, sf_dir, tmp_path):
    """n-term sloppy phrases over the maintained layout == the s50
    monolithic serve over the live corpus."""
    from dbt_osmosis_spark.operators.retrieval_ext2 import (
        _S50_K,
        _S50_QUERIES,
        query_sloppy_phrase_segmented,
    )
    from dbt_osmosis_spark.operators.retrieval_ext import write_positional_index
    from dbt_osmosis_spark.operators.retrieval_ext2 import query_sloppy_phrase_index
    from dbt_osmosis_spark.sources.parquet import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "sloppy-seg")
    ingest_positional_segment(spark, docs.filter(F.col("doc_id") % 10 < 8), path, 0)
    ingest_positional_segment(spark, docs.filter(F.col("doc_id") % 10 >= 8), path, 1)
    delete_segmented(spark, path, docs.filter(F.col("doc_id") % 7 == 2).select("doc_id"), 0)
    got = query_sloppy_phrase_segmented(spark, path, _S50_QUERIES, _S50_K).collect()

    mono = str(tmp_path / "sloppy-mono")
    write_positional_index(spark, docs.filter(F.col("doc_id") % 7 != 2), mono)
    assert got == query_sloppy_phrase_index(spark, mono, _S50_QUERIES, _S50_K).collect()


def test_phrase_serve_pins_to_checkpoint(spark, tmp_path):
    """The mgen pin works for the phrase query class too, not just BM25."""
    from dbt_osmosis_spark.operators.retrieval_ext import query_phrase_segmented

    path = str(tmp_path / "tt-phrase")
    ingest_positional_segment(
        spark,
        _docs(spark, [(1, "alpha beta alpha beta"), (2, "alpha beta"), (3, "beta")]),
        path,
        0,
    )
    g = checkpoint_manifest(path)
    phr = (("p", ("alpha", "beta")),)
    snapshot = query_phrase_segmented(spark, path, phr, 5, mgen=g).collect()
    delete_segmented(spark, path, _docs(spark, [(1, "x")]).select("doc_id"), 0)
    ingest_positional_segment(spark, _docs(spark, [(2, "gamma only")]), path, 1)
    assert query_phrase_segmented(spark, path, phr, 5, mgen=g).collect() == snapshot
    now = {r.doc_id for r in query_phrase_segmented(spark, path, phr, 5).collect()}
    assert now == set()  # doc1 deleted, doc2 revised away, doc3 never matched
    assert {r.doc_id for r in snapshot} == {1, 2}


def test_vector_layout_compaction_and_vacuum_invariant(spark, sf_dir):
    """compact_segments / vacuum_segments are layout-agnostic: on the
    VECTOR layout (tbkt = IVF cell) they leave the exact serve
    byte-identical."""
    from dbt_osmosis_spark.operators.similarity_ext5 import (
        _S54_QUERY_IDS,
        _s54_emb,
        _s54_layout_path,
        query_vectors_segmented,
    )

    QUERIES["s54_maintained_vector_index"](spark, sf_dir).collect()
    path = _s54_layout_path(sf_dir)
    cents = spark.read.parquet(f"{path}/centroids")
    emb = _s54_emb(spark, sf_dir)
    queries = emb.filter(F.col("doc_id").isin(*_S54_QUERY_IDS)).select(
        F.col("doc_id").alias("query_id"), F.col("v").alias("qv")
    )
    before = query_vectors_segmented(spark, path, queries, cents).collect()
    out = compact_segments(spark, path)
    assert out["merged"] >= 1
    assert query_vectors_segmented(spark, path, queries, cents).collect() == before
    vacuum_segments(path)
    assert query_vectors_segmented(spark, path, queries, cents).collect() == before


def test_bm25_phrases_segmented_equals_monolithic_live(spark, sf_dir, tmp_path):
    """BM25-weighted phrases over the maintained layout == the s51
    monolithic serve over the live corpus (the last cell of the
    layout x query-class matrix)."""
    from dbt_osmosis_spark.operators.retrieval_ext import write_positional_index
    from dbt_osmosis_spark.operators.retrieval_ext2 import (
        _S51_K,
        _S51_PHRASES,
        query_bm25_phrases,
        query_bm25_phrases_segmented,
    )
    from dbt_osmosis_spark.sources.parquet import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "bm25p-seg")
    ingest_positional_segment(spark, docs.filter(F.col("doc_id") % 10 < 8), path, 0)
    ingest_positional_segment(spark, docs.filter(F.col("doc_id") % 10 >= 8), path, 1)
    delete_segmented(
        spark, path, docs.filter(F.col("doc_id") % 7 == 2).select("doc_id"), 0
    )
    got = query_bm25_phrases_segmented(spark, path, _S51_PHRASES, _S51_K).collect()

    mono = str(tmp_path / "bm25p-mono")
    write_positional_index(spark, docs.filter(F.col("doc_id") % 7 != 2), mono)
    assert got == query_bm25_phrases(spark, mono, _S51_PHRASES, _S51_K).collect()
    assert len(got) > 0


@pytest.mark.lifecycle_soak  # siblings: s55 oracle parity (retrain result-invariance) + test_vector_serve_zero_norm_and_post_retrain_lifecycle (default)
def test_retrain_is_result_invariant_and_atomic(spark, sf_dir):
    """Retraining re-partitions the index onto new cells without changing
    any serve result; the manifest carries the centroid pointer through
    checkpoints and compactions; vacuum reclaims the old generation."""
    from dbt_osmosis_spark.operators.similarity_ext5 import (
        _S54_QUERY_IDS,
        _s54_emb,
        _s54_layout_path,
        index_centroids,
        ingest_vector_segment,
        query_vectors_segmented,
        retrain_vector_index,
    )
    from dbt_osmosis_spark.operators.retrieval_ext import _read_manifest

    QUERIES["s54_maintained_vector_index"](spark, sf_dir).collect()
    path = _s54_layout_path(sf_dir)
    emb = _s54_emb(spark, sf_dir)
    queries = emb.filter(F.col("doc_id").isin(*_S54_QUERY_IDS)).select(
        F.col("doc_id").alias("query_id"), F.col("v").alias("qv")
    )
    before = query_vectors_segmented(
        spark, path, queries, index_centroids(spark, path)
    ).collect()
    g_pre = checkpoint_manifest(path)
    out = retrain_vector_index(spark, path)
    assert out["retrained"] is True
    new_cents = index_centroids(spark, path)
    after = query_vectors_segmented(spark, path, queries, new_cents).collect()
    assert after == before
    # the pinned pre-retrain view resolves the OLD centroids and still
    # serves the identical exact answer over the old segment set
    old_cents = index_centroids(spark, path, mgen=g_pre)
    pinned = query_vectors_segmented(
        spark, path, queries, old_cents, mgen=g_pre
    ).collect()
    assert pinned == before
    # a later ingest + compaction must NOT revert the centroid pointer
    extra = emb.filter(F.col("doc_id") % 50 == 7).withColumn(
        "v", F.expr("transform(v, x -> x + CAST(2.0 AS DOUBLE))")
    )
    ingest_vector_segment(spark, extra, path, 9, new_cents)
    compact_segments(spark, path)
    m = _read_manifest(path)
    assert m.get("centroids", "").startswith("centroids-g")
    # vacuum reclaims the pre-retrain segments; pointer serve unchanged
    final = query_vectors_segmented(
        spark, path, queries, index_centroids(spark, path)
    ).collect()
    vacuum_segments(path)
    assert (
        query_vectors_segmented(
            spark, path, queries, index_centroids(spark, path)
        ).collect()
        == final
    )
    assert not os.path.isdir(f"{path}/seg-0")  # merged + vacuumed away


def test_vector_serve_zero_norm_and_post_retrain_lifecycle(spark, tmp_path):
    """Zero-norm vectors (failed embeds — real at 100 TB) are excluded
    from cosine serving instead of tripping ANSI DIVIDE_BY_ZERO, and the
    delete/upsert machinery keeps working on a RETRAINED layout (cseg
    generation reuse): deletes kill cseg rows, revisions supersede them."""
    from dbt_osmosis_spark.operators.similarity_ext4 import lloyd_train
    from dbt_osmosis_spark.operators.similarity_ext5 import (
        index_centroids,
        ingest_vector_segment,
        query_vectors_segmented,
        retrain_vector_index,
    )

    def vec(i):
        return [float((i * (d + 3)) % 11) for d in range(64)]

    emb = spark.createDataFrame(
        [(i, vec(i), 0) for i in range(40)],  # doc 0 is the all-zero vector
        "doc_id bigint, v array<double>, label int",
    )
    path = str(tmp_path / "idx")
    lloyd_train(emb, 1).write.mode("overwrite").parquet(f"{path}/centroids")
    cents = spark.read.parquet(f"{path}/centroids")
    ingest_vector_segment(spark, emb, path, 0, cents)
    retrain_vector_index(spark, path, rounds=1)
    cents2 = index_centroids(spark, path)
    delete_segmented(spark, path, spark.createDataFrame([(3,), (4,)], "doc_id bigint"), 0)
    rev = emb.filter("doc_id = 5").withColumn(
        "v", F.expr("transform(v, x -> x + CAST(9.0 AS DOUBLE))")
    )
    ingest_vector_segment(spark, rev, path, 1, cents2)
    q = spark.createDataFrame(
        [(0, [x + 9.0 for x in vec(5)])], "query_id bigint, qv array<double>"
    )
    got = {
        r.doc_id: r.cosine
        for r in query_vectors_segmented(spark, path, q, cents2, k=40).collect()
    }
    assert 3 not in got and 4 not in got  # post-retrain deletes apply
    assert 0 not in got  # zero-norm excluded, not a crash
    assert max(got, key=got.get) == 5 and abs(got[5] - 1.0) < 1e-9  # revision serves
