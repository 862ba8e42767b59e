"""Round-12 operator tests: generation-scoped tombstones (update /
re-add on the maintained index), the upsert ingest discipline,
manifest-published non-destructive compaction + vacuum, delete-id reuse
across a compaction, and the empty-layout serve guards.

All four ADVICE r11 items and VERDICT r11 items 2-3 are pinned here."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dbt_osmosis_spark.operators import QUERIES, load_all

load_all()


def _stats(spark, path):
    n, s = (
        spark.read.parquet(f"{path}/stats")
        .agg(F.sum("n_docs"), F.sum("sum_dl"))
        .first()
    )
    return int(n), int(s)


def _mini(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha delta"),
            (3, "beta beta epsilon"),
            (4, "gamma"),
        ],
        "doc_id bigint, text string",
    )


# --------------------------------------------------------------------------
# update: re-ingesting a revised doc supersedes the old version — the
# old text stops serving, the new text serves, stats stay exact.
# --------------------------------------------------------------------------
def test_upsert_update_supersedes_old_version(spark, tmp_path):
    from dbt_osmosis_spark.operators.retrieval_ext import (
        ingest_positional_segment,
        query_phrase_segmented,
    )

    path = str(tmp_path / "upsert-update")
    ingest_positional_segment(spark, _mini(spark), path, 0)
    assert _stats(spark, path) == (4, 9)
    rev = spark.createDataFrame(
        [(1, "zeta eta")], "doc_id bigint, text string"
    )
    ingest_positional_segment(spark, rev, path, 1)
    # n_docs unchanged (update, not add); sum_dl reflects the revision
    assert _stats(spark, path) == (4, 9 - 3 + 2)
    old = query_phrase_segmented(spark, path, (("p", ("alpha", "beta")),), 5)
    assert old.count() == 0  # old version's phrase gone
    new = query_phrase_segmented(spark, path, (("p", ("zeta", "eta")),), 5)
    assert [r.doc_id for r in new.collect()] == [1]


# --------------------------------------------------------------------------
# re-add: delete, then re-ingest a new version — it serves again
# (VERDICT r11 item 2's headline case), and stats are exact throughout.
# --------------------------------------------------------------------------
def test_delete_then_reingest_readds_doc(spark, tmp_path):
    from dbt_osmosis_spark.operators.retrieval_ext import (
        delete_segmented,
        ingest_positional_segment,
        query_bm25_segmented,
    )

    path = str(tmp_path / "readd")
    ingest_positional_segment(spark, _mini(spark), path, 0)
    delete_segmented(spark, path, spark.createDataFrame([(2,)], "doc_id bigint"), 0)
    assert _stats(spark, path) == (3, 7)
    served = {
        r.doc_id
        for r in query_bm25_segmented(spark, path, (("q", "alpha"),)).collect()
    }
    assert served == {1}  # doc 2 deleted
    repost = spark.createDataFrame(
        [(2, "alpha alpha")], "doc_id bigint, text string"
    )
    ingest_positional_segment(spark, repost, path, 1)
    assert _stats(spark, path) == (4, 9)  # re-added: 3+1 docs, 7+2 tokens
    served = {
        r.doc_id
        for r in query_bm25_segmented(spark, path, (("q", "alpha"),)).collect()
    }
    assert served == {1, 2}  # the new version serves


# --------------------------------------------------------------------------
# double-delete still subtracts once under the generation-scoped scheme.
# --------------------------------------------------------------------------
def test_segmented_double_delete_subtracts_once(spark, tmp_path):
    from dbt_osmosis_spark.operators.retrieval_ext import (
        delete_segmented,
        ingest_positional_segment,
    )

    path = str(tmp_path / "seg-double-delete")
    ingest_positional_segment(spark, _mini(spark), path, 0)
    gone = spark.createDataFrame([(3,)], "doc_id bigint")
    delete_segmented(spark, path, gone, 0)
    delete_segmented(spark, path, gone, 1)
    assert _stats(spark, path) == (3, 6)


# --------------------------------------------------------------------------
# ADVICE r11 (low): a tombstone landing BEFORE any document batch is
# defined — it kills nothing, subtracts zero, and the later ingest
# serves with exact stats (out-of-order streams).
# --------------------------------------------------------------------------
def test_delete_before_ingest_is_defined(spark, tmp_path):
    from dbt_osmosis_spark.operators.retrieval_ext import (
        delete_segmented,
        ingest_positional_segment,
        query_bm25_segmented,
    )

    path = str(tmp_path / "delete-first")
    delete_segmented(spark, path, spark.createDataFrame([(1,)], "doc_id bigint"), 0)
    assert _stats(spark, path) == (0, 0)
    ingest_positional_segment(spark, _mini(spark), path, 0)
    assert _stats(spark, path) == (4, 9)
    served = {
        r.doc_id
        for r in query_bm25_segmented(spark, path, (("q", "alpha"),)).collect()
    }
    assert served == {1, 2}  # the pre-ingest tombstone (gen -1) kills nothing


# --------------------------------------------------------------------------
# ADVICE r11 (low): every segmented serve on a NOT-YET-INGESTED layout
# returns empty instead of raising.
# --------------------------------------------------------------------------
def test_empty_layout_serves_empty(spark, tmp_path):
    from dbt_osmosis_spark.operators.retrieval_ext import (
        query_bm25_segmented,
        query_phrase_segmented,
        query_proximity_segmented,
        query_segmented_postings,
    )

    path = str(tmp_path / "empty-layout")
    assert query_segmented_postings(spark, path, (("q", "alpha"),)).count() == 0
    assert query_bm25_segmented(spark, path, (("q", "alpha"),)).count() == 0
    assert query_phrase_segmented(spark, path, (("p", ("a", "b")),), 5).count() == 0
    assert query_proximity_segmented(spark, path, (("n", "a", "b", 2),), 5).count() == 0


# --------------------------------------------------------------------------
# ADVICE r11 (medium): compaction survivors live in a reserved partition
# namespace AND retired ids are epoch-bumped on reuse — a delete stream
# restarted with a fresh checkpoint (ids restarting at 0) can neither
# clobber survivors nor write into an invisible retired partition.
# Previously-deleted docs stay dead; the new delete works; stats exact.
# --------------------------------------------------------------------------
@pytest.mark.lifecycle_soak  # sibling: test_round13_opt.test_pinned_snapshot_tombstones_survive_delete_id_reuse (default)
def test_delete_id_reuse_after_compaction_safe(spark, tmp_path):
    from dbt_osmosis_spark.operators.retrieval_ext import (
        compact_segments,
        delete_segmented,
        ingest_positional_segment,
        query_bm25_segmented,
    )

    path = str(tmp_path / "id-reuse")
    ingest_positional_segment(spark, _mini(spark), path, 0)
    ingest_positional_segment(
        spark,
        spark.createDataFrame([(5, "alpha omega")], "doc_id bigint, text string"),
        path,
        1,
    )
    delete_segmented(spark, path, spark.createDataFrame([(1,)], "doc_id bigint"), 0)
    out = compact_segments(spark, path)
    assert out["merged"] >= 1
    # fresh checkpoint: delete id 0 again, different doc
    delete_segmented(spark, path, spark.createDataFrame([(5,)], "doc_id bigint"), 0)
    served = {
        r.doc_id
        for r in query_bm25_segmented(spark, path, (("q", "alpha"),)).collect()
    }
    assert 1 not in served  # survivor tombstone intact — doc 1 stays dead
    assert 5 not in served  # the reused-id delete applied
    assert served == {2}
    assert _stats(spark, path) == (3, 11 - 3 - 2)


# --------------------------------------------------------------------------
# VERDICT r11 item 3: manifest-published compaction is atomic and
# non-destructive. Any manifest generation serves a consistent segment
# set; pre-compaction segments are retained (byte-untouched) until
# vacuum; vacuum reclaims exactly the unreferenced artifacts.
# --------------------------------------------------------------------------
@pytest.mark.lifecycle_soak  # sibling: test_round12b_ops.test_checkpoint_pin_ignores_later_activity (default)
def test_manifest_generations_serve_consistently(spark, sf_dir):
    from dbt_osmosis_spark.operators.retrieval import _QUERY_TERMS
    from dbt_osmosis_spark.operators.retrieval_ext import (
        _list_segments,
        _live_segments,
        _manifest_gen,
        _read_manifest,
        compact_segments,
        query_segmented_postings,
        vacuum_segments,
    )
    from tests.test_round11_ops import _s44_lifecycle

    path = _s44_lifecycle(spark, sf_dir)
    pre = [tuple(r) for r in query_segmented_postings(spark, path, _QUERY_TERMS).collect()]
    out1 = compact_segments(spark, path)
    assert _manifest_gen(path) == 1
    g1 = [tuple(r) for r in query_segmented_postings(spark, path, _QUERY_TERMS).collect()]
    assert g1 == pre
    # compact AGAIN: a second manifest generation with a different
    # segment set; generation 1's segments stay on disk, so a reader
    # pinned to manifest 1 still serves the same (consistent) answer.
    out2 = compact_segments(spark, path)
    assert _manifest_gen(path) == 2
    assert out2["manifest"] == 2
    v1 = _live_segments(path, mgen=1)
    v2 = _live_segments(path)
    assert v1 != v2  # genuinely different views
    assert out1["new_seg"] in v1
    pinned = [
        tuple(r)
        for r in query_segmented_postings(spark, path, _QUERY_TERMS, mgen=1).collect()
    ]
    head = [tuple(r) for r in query_segmented_postings(spark, path, _QUERY_TERMS).collect()]
    assert pinned == pre
    assert head == pre
    # vacuum reclaims everything manifest 2 doesn't reference; the
    # pointer view still serves identically afterwards
    rep = vacuum_segments(path)
    assert rep["removed_segments"] >= 1
    assert set(_live_segments(path)) <= set(
        _list_segments(path) + _read_manifest(path)["segments"]
    )
    after_vac = [
        tuple(r) for r in query_segmented_postings(spark, path, _QUERY_TERMS).collect()
    ]
    assert after_vac == pre


# --------------------------------------------------------------------------
# s49 lifecycle invariants beyond the oracle: compaction after the
# re-ingest lifecycle never resurfaces superseded versions, and the
# from-scratch equivalence holds through it.
# --------------------------------------------------------------------------
@pytest.mark.lifecycle_soak  # siblings: test_delete_then_reingest_readds_doc + test_upsert_update_supersedes_old_version (default)
def test_s49_compaction_never_resurfaces_old_versions(spark, sf_dir):
    from dbt_osmosis_spark.operators.retrieval import _QUERY_TERMS
    from dbt_osmosis_spark.operators.retrieval_ext import (
        _s47_layout_path,
        compact_segments,
        query_bm25_segmented,
    )

    QUERIES["s49_reingest_upsert_serve"](spark, sf_dir).collect()
    path = _s47_layout_path(sf_dir, "up")
    before = [
        tuple(r) for r in query_bm25_segmented(spark, path, _QUERY_TERMS).collect()
    ]
    compact_segments(spark, path)
    after = [
        tuple(r) for r in query_bm25_segmented(spark, path, _QUERY_TERMS).collect()
    ]
    assert before == after


def test_s49_phrase_serve_sees_revisions_not_originals(spark, tmp_path):
    """The revised text's phrases serve; the superseded version's
    phrases do not — checked via the positional phrase path on a corpus
    where both versions contain distinguishable phrases."""
    from dbt_osmosis_spark.operators.retrieval_ext import (
        delete_segmented,
        ingest_positional_segment,
        query_phrase_segmented,
    )

    path = str(tmp_path / "s49-phrases")
    v1 = spark.createDataFrame(
        [(1, "old phrase here"), (2, "stable doc")], "doc_id bigint, text string"
    )
    ingest_positional_segment(spark, v1, path, 0)
    delete_segmented(spark, path, spark.createDataFrame([(1,)], "doc_id bigint"), 0)
    v2 = spark.createDataFrame([(1, "new phrase here")], "doc_id bigint, text string")
    ingest_positional_segment(spark, v2, path, 1)
    gone = query_phrase_segmented(spark, path, (("p", ("old", "phrase")),), 5)
    assert gone.count() == 0
    back = query_phrase_segmented(spark, path, (("p", ("new", "phrase")),), 5)
    assert [r.doc_id for r in back.collect()] == [1]


# --------------------------------------------------------------------------
# s50 n-term sloppy phrase: slop = 0 degenerates to the exact adjacent
# phrase — byte-identical to s43's answer for the same 3-term phrase.
# --------------------------------------------------------------------------
def test_s50_slop_zero_equals_exact_phrase(spark, sf_dir):
    from dbt_osmosis_spark.operators.retrieval_ext import (
        _s43_index_path,
        query_phrase_index,
        write_positional_index,
    )
    from dbt_osmosis_spark.operators.retrieval_ext2 import (
        query_sloppy_phrase_index,
    )
    from dbt_osmosis_spark.sources.parquet import read_parquet, spread

    docs = spread(read_parquet(spark, f"{sf_dir}/documents.parquet"))
    path = _s43_index_path(sf_dir)
    write_positional_index(spark, docs, path)
    words = ("stream", "batch", "vector")
    sloppy = [
        tuple(r)[1:]  # drop the id column
        for r in query_sloppy_phrase_index(
            spark, path, (("x", words, 0),), 5
        ).collect()
    ]
    exact = [
        tuple(r)[1:]
        for r in query_phrase_index(spark, path, (("x", words),), 5).collect()
    ]
    assert sloppy == exact


def test_s50_s51_plans_pruned_bounded_no_corpus(spark, sf_dir):
    from dbt_osmosis_spark.operators.retrieval_ext import (
        _s43_index_path,
        write_positional_index,
    )
    from dbt_osmosis_spark.operators.retrieval_ext2 import (
        _S50_K,
        _S50_QUERIES,
        _S51_K,
        _S51_PHRASES,
        query_bm25_phrases,
        query_sloppy_phrase_index,
    )
    from dbt_osmosis_spark.plans.audit import (
        exchange_count,
        has_cartesian,
        partition_filters,
        physical_plan,
    )
    from dbt_osmosis_spark.sources.parquet import read_parquet, spread

    docs = spread(read_parquet(spark, f"{sf_dir}/documents.parquet"))
    path = _s43_index_path(sf_dir)
    write_positional_index(spark, docs, path)
    for serve in (
        query_sloppy_phrase_index(spark, path, _S50_QUERIES, _S50_K),
        query_bm25_phrases(spark, path, _S51_PHRASES, _S51_K),
    ):
        assert not has_cartesian(serve)
        assert any("tbkt" in f and " IN " in f for f in partition_filters(serve))
        plan = physical_plan(serve)
        assert "documents.parquet" not in plan  # never re-tokenizes
        assert exchange_count(serve) <= 20


# --------------------------------------------------------------------------
# s51 equality against a direct computation: a 4-doc corpus small enough
# to BM25 by hand (python floats, same integer-micros quantization).
# --------------------------------------------------------------------------
def test_s51_matches_direct_python_bm25(spark, tmp_path):
    import math

    from dbt_osmosis_spark.operators.retrieval_ext import write_positional_index
    from dbt_osmosis_spark.operators.retrieval_ext2 import query_bm25_phrases

    path = str(tmp_path / "s51-direct")
    rows = [
        (1, "big data big data pipeline"),
        (2, "big data lake"),
        (3, "data big swamp"),  # reversed: no phrase match
        (4, "unrelated words entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    write_positional_index(spark, docs, path)
    got = [
        tuple(r)
        for r in query_bm25_phrases(
            spark, path, (("p", ("big", "data")),), 5
        ).collect()
    ]
    # direct: tf = adjacent "big data" count, df = docs with >= 1 match
    n_docs, dls = 4, {1: 5, 2: 3, 3: 3, 4: 3}
    tfs = {1: 2, 2: 1}
    df = len(tfs)
    avgdl = sum(dls.values()) / n_docs
    def score(doc):
        tf, dl = tfs[doc], dls[doc]
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        s = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
        return math.floor(s * 1e6 + 0.5)
    expected = sorted(
        (("p", doc, score(doc)) for doc in tfs),
        key=lambda t: (-t[2], t[1]),
    )
    expected = [("p", i + 1, d, s) for i, (_, d, s) in enumerate(expected)]
    assert got == expected
