"""Round-13 (optimization round) contract tests.

Pins the behavior the r13 optimizations changed internals of:
- termset sidecars are now derived from the IN-FLIGHT postings relation
  (no read-back of the segment just written) — content must stay exactly
  the written segment's term dictionary;
- empty-relation bucket writes (all-tombstoned compaction, empty
  micro-batch ingest) must leave a READABLE layout instead of a
  schema-less directory (ADVICE r12 medium);
- the tombstone anti-join broadcast hint is size-conditional
  (VERDICT r12 item 2);
- delete-partition values referenced by a published manifest's
  live_deletes are immutable under id reuse (ADVICE r12);
- empty-layout checkpoint and pinned-empty stats guards (ADVICE r12).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dbt_osmosis_spark.operators import load_all, retrieval_ext
from dbt_osmosis_spark.operators.retrieval_ext import (
    _live_segments,
    _scoped_tombstones,
    _stats_agg,
    _view,
    checkpoint_manifest,
    compact_segments,
    delete_segmented,
    ingest_positional_segment,
    ingest_segment,
    query_bm25_segmented,
)
from dbt_osmosis_spark.plans.audit import physical_plan

load_all()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id bigint")


# --------------------------------------------------------------------------
# termset from the in-flight relation: content must equal the written
# segment's physical term dictionary (the read-back derivation it replaced).
# --------------------------------------------------------------------------
def test_termset_sidecar_equals_written_postings_terms(spark, tmp_path):
    path = str(tmp_path / "r13-ts-eq")
    ingest_segment(spark, _docs(spark, [(1, "alpha beta beta"), (2, "beta gamma")]), path, 0)
    ingest_positional_segment(spark, _docs(spark, [(3, "delta delta epsilon")]), path, 1)
    for seg in _live_segments(path):
        sidecar = sorted(
            r.term for r in spark.read.parquet(f"{path}/{seg}/termset").collect()
        )
        written = sorted(
            r.term
            for r in spark.read.parquet(f"{path}/{seg}/postings")
            .select("term")
            .distinct()
            .collect()
        )
        assert sidecar == written and len(sidecar) > 0


def test_compacted_termset_equals_written_postings_terms(spark, tmp_path):
    path = str(tmp_path / "r13-ts-compact")
    # seg-0 must be the size-tiered BASE (largest on disk): at toy scale
    # per-file parquet overhead rivals data bytes, so make its data
    # unambiguously dominate rather than assume 3 tiny docs outweigh 1.
    ingest_positional_segment(
        spark,
        _docs(
            spark,
            [(1, "alpha beta " * 40), (2, "beta gamma " * 40), (3, "alpha " * 80)],
        ),
        path,
        0,
    )
    ingest_positional_segment(spark, _docs(spark, [(4, "delta")]), path, 1)
    ingest_positional_segment(spark, _docs(spark, [(5, "epsilon")]), path, 2)
    delete_segmented(spark, path, _ids(spark, [4]), 0)  # kill part of the merge set
    compact_segments(spark, path)
    cseg = [s for s in _live_segments(path) if s.startswith("cseg-")]
    assert cseg
    for seg in cseg:
        sidecar = sorted(
            r.term for r in spark.read.parquet(f"{path}/{seg}/termset").collect()
        )
        written = sorted(
            r.term
            for r in spark.read.parquet(f"{path}/{seg}/postings")
            .select("term")
            .distinct()
            .collect()
        )
        assert sidecar == written == ["epsilon"]  # doc 4's terms compacted away


# --------------------------------------------------------------------------
# empty-relation writes: all-tombstoned compaction and empty micro-batch
# ingest complete and leave a readable, serveable layout (ADVICE r12).
# --------------------------------------------------------------------------
def test_compaction_with_every_merged_row_tombstoned_completes(spark, tmp_path):
    path = str(tmp_path / "r13-empty-compact")
    # seg-0 is the (largest) base; seg-1/seg-2 merge and are fully dead
    ingest_positional_segment(
        spark,
        _docs(spark, [(1, "alpha beta gamma delta epsilon zeta eta theta"),
                      (2, "alpha beta beta gamma gamma delta")]),
        path,
        0,
    )
    ingest_positional_segment(spark, _docs(spark, [(3, "iota")]), path, 1)
    ingest_positional_segment(spark, _docs(spark, [(4, "kappa")]), path, 2)
    delete_segmented(spark, path, _ids(spark, [3, 4]), 0)
    before = query_bm25_segmented(spark, path, (("q", "beta"),)).collect()
    res = compact_segments(spark, path)  # merged rows: all tombstoned
    assert res["merged"] == 2
    after = query_bm25_segmented(spark, path, (("q", "beta"),)).collect()
    assert after == before and len(after) > 0
    # the dead docs stay gone through the (empty) compacted segment
    assert query_bm25_segmented(spark, path, (("q", "iota"),)).count() == 0
    assert query_bm25_segmented(spark, path, (("q", "kappa"),)).count() == 0


def test_empty_micro_batch_ingest_leaves_readable_layout(spark, tmp_path):
    path = str(tmp_path / "r13-empty-ingest")
    ingest_positional_segment(spark, _docs(spark, [(1, "alpha beta")]), path, 0)
    ingest_positional_segment(spark, _docs(spark, []), path, 1)  # empty batch
    ingest_segment(spark, _docs(spark, []), path, 2)  # empty bag-of-words batch
    got = query_bm25_segmented(spark, path, (("q", "beta"),)).collect()
    assert len(got) == 1 and got[0].doc_id == 1


# --------------------------------------------------------------------------
# VERDICT r12 item 2: the tombstone anti-join broadcast hint is gated on
# live tombstone bytes. Below the bound the hint forces a broadcast
# anti-join even with auto-broadcast off; above it the un-hinted plan
# degrades to a shuffled (sort-merge) anti-join. Results identical.
# --------------------------------------------------------------------------
def test_tombstone_broadcast_is_size_conditional(spark, monkeypatch, tmp_path):
    path = str(tmp_path / "r13-tomb-bcast")
    ingest_positional_segment(
        spark, _docs(spark, [(1, "alpha beta"), (2, "beta gamma"), (3, "beta")]), path, 0
    )
    delete_segmented(spark, path, _ids(spark, [2]), 0)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = query_bm25_segmented(spark, path, (("q", "beta"),))
        small_plan = physical_plan(small)
        assert "BroadcastHashJoin" in small_plan and "LeftAnti" in small_plan
        monkeypatch.setattr(retrieval_ext, "_TOMB_BCAST_BYTES", 0)
        big = query_bm25_segmented(spark, path, (("q", "beta"),))
        big_plan = physical_plan(big)
        assert "SortMergeJoin" in big_plan and "LeftAnti" in big_plan
        assert small.collect() == big.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


# --------------------------------------------------------------------------
# ADVICE r12: a delete-partition value referenced by a published
# manifest's live_deletes is never overwritten — a restarted delete
# stream reusing id 0 lands in a bumped epoch and the pinned snapshot's
# tombstones stay immutable.
# --------------------------------------------------------------------------
def test_pinned_snapshot_tombstones_survive_delete_id_reuse(spark, tmp_path):
    path = str(tmp_path / "r13-pin-reuse")
    ingest_positional_segment(
        spark,
        _docs(spark, [(1, "alpha beta"), (2, "beta gamma"), (3, "beta delta")]),
        path,
        0,
    )
    delete_segmented(spark, path, _ids(spark, [1]), 0)
    gen = checkpoint_manifest(path)  # pins live_deletes = [0]
    pinned_before = query_bm25_segmented(spark, path, (("q", "beta"),), mgen=gen).collect()
    assert {r.doc_id for r in pinned_before} == {2, 3}
    # restarted stream reuses id 0 with DIFFERENT content (delete doc 2)
    delete_segmented(spark, path, _ids(spark, [2]), 0)
    # the reused id landed in a bumped partition, not over delete=0
    parts = sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(f"{path}/deletes")
        if d.startswith("delete=")
    )
    assert parts == [0, 10_000_000]
    # pinned snapshot is unchanged; the pointer view sees both deletes
    assert query_bm25_segmented(spark, path, (("q", "beta"),), mgen=gen).collect() == pinned_before
    assert {
        r.doc_id for r in query_bm25_segmented(spark, path, (("q", "beta"),)).collect()
    } == {3}


# --------------------------------------------------------------------------
# ADVICE r12: empty-layout checkpoint + pinned-empty stats guards.
# --------------------------------------------------------------------------
def test_checkpoint_on_never_ingested_layout(spark, tmp_path):
    path = str(tmp_path / "r13-ckpt-empty")
    gen = checkpoint_manifest(path)  # directory did not exist
    assert gen == 1
    assert query_bm25_segmented(spark, path, (("q", "beta"),), mgen=gen).count() == 0


def test_stats_agg_on_pinned_empty_manifest_is_zero_not_null(spark, tmp_path):
    path = str(tmp_path / "r13-stats-empty")
    gen = checkpoint_manifest(path)
    row = _stats_agg(spark, _view(path, gen)).collect()[0]
    assert row.n_docs == 0 and row.avgdl is None
    # fully-deleted corpus: n_docs nets to 0, avgdl guarded to NULL
    ingest_positional_segment(spark, _docs(spark, [(1, "alpha beta")]), path, 0)
    delete_segmented(spark, path, _ids(spark, [1]), 0)
    row = _stats_agg(spark, _view(path)).collect()[0]
    assert row.n_docs == 0 and row.avgdl is None


def test_scoped_tombstones_empty_layout_unhinted_schema(spark, tmp_path):
    path = str(tmp_path / "r13-tombs-empty")
    t = _scoped_tombstones(spark, _view(path))
    assert t.columns == ["doc_id", "gen"] and t.count() == 0
