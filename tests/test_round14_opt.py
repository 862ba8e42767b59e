"""Round-14 (optimization round 2) contract tests.

Pins the behavior round-14 optimizations changed internals of:
- VERDICT r13 item 3: every tombstone broadcast hint is size-gated
  through the on-disk bound (`_scoped_tombstones`), covering the
  segmented serve (query_segmented_postings), the delete apply
  (delete_segmented) and the s34-format bake (bake_postings_index) —
  BHJ below the bound, shuffled join above it, results identical.
"""

from __future__ import annotations

from dbt_osmosis_spark.operators import load_all, retrieval_ext
from dbt_osmosis_spark.operators.retrieval import query_postings_index
from dbt_osmosis_spark.operators.retrieval_ext import (
    bake_postings_index,
    delete_segmented,
    ingest_segment,
    query_segmented_postings,
)
from dbt_osmosis_spark.plans.audit import physical_plan

load_all()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id bigint")


def _build_layout(spark, path):
    ingest_segment(
        spark,
        _docs(spark, [(1, "alpha beta"), (2, "beta gamma"), (3, "beta beta")]),
        path,
        0,
    )
    ingest_segment(spark, _docs(spark, [(4, "beta delta")]), path, 1)
    delete_segmented(spark, path, _ids(spark, [2]), 0)


def test_incremental_serve_tombstone_broadcast_is_size_conditional(
    spark, monkeypatch, tmp_path
):
    path = str(tmp_path / "r14-tomb-incr")
    _build_layout(spark, path)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = query_segmented_postings(spark, path, (("q", "beta"),))
        small_plan = physical_plan(small)
        assert "BroadcastHashJoin" in small_plan and "LeftAnti" in small_plan
        monkeypatch.setattr(retrieval_ext, "_TOMB_BCAST_BYTES", 0)
        big = query_segmented_postings(spark, path, (("q", "beta"),))
        big_plan = physical_plan(big)
        assert "SortMergeJoin" in big_plan and "LeftAnti" in big_plan
        assert small.collect() == big.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_delete_apply_and_compaction_gated_results_identical(
    spark, monkeypatch, tmp_path
):
    """delete_segmented and bake_postings_index run their internal
    tombstone joins; the gate must not change what either writes. Build
    the same layout twice — broadcast-hinted vs gate forced off — and
    require byte-identical serve results and stats from the baked
    layouts."""
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        results = {}
        for mode in ("bcast", "shuffle"):
            if mode == "shuffle":
                monkeypatch.setattr(retrieval_ext, "_TOMB_BCAST_BYTES", 0)
            path = str(tmp_path / f"r14-tomb-compact-{mode}")
            _build_layout(spark, path)
            out = str(tmp_path / f"r14-tomb-out-{mode}")
            bake_postings_index(spark, path, out)
            serve = query_postings_index(spark, out, (("q", "beta"),))
            stats = spark.read.parquet(f"{out}/stats").collect()
            results[mode] = (serve.collect(), stats)
        assert results["bcast"] == results["shuffle"]
        assert len(results["bcast"][0]) == 3  # docs 1, 3, 4 survive
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_termset_probe_skipped_below_segment_bound(spark, monkeypatch, tmp_path):
    """With fewer live segments than
    ``_TERMSET_PROBE_MIN_SEGS`` (3) the termset probe
    job is skipped — _segments_with_terms returns the segments unchanged
    — and the serve result is identical to the probed serve (pruning is
    a pure optimization either way)."""
    from dbt_osmosis_spark.operators.retrieval_ext import (
        _live_segments,
        _segments_with_terms,
    )

    path = str(tmp_path / "r14-probe-skip")
    ingest_segment(spark, _docs(spark, [(1, "alpha beta"), (2, "alpha")]), path, 0,
                   upsert=False)
    ingest_segment(spark, _docs(spark, [(3, "gamma")]), path, 1, upsert=False)
    segs = _live_segments(path)
    assert segs == ["seg-0", "seg-1"]
    # default bound (3): 2 segments -> probe skipped, nothing pruned
    assert _segments_with_terms(spark, path, segs, ["beta"]) == segs
    skipped = query_segmented_postings(spark, path, (("q", "beta"),)).collect()
    # bound lowered to 2: the probe runs and prunes the beta-free segment
    monkeypatch.setattr(retrieval_ext, "_TERMSET_PROBE_MIN_SEGS", 2)
    assert _segments_with_terms(spark, path, segs, ["beta"]) == ["seg-0"]
    probed = query_segmented_postings(spark, path, (("q", "beta"),)).collect()
    assert skipped == probed and len(probed) == 1


def test_upsert_supersede_sinks_empty_without_prior_segments(spark, tmp_path):
    """The supersede builder degenerates to (no sinks, no-op cleanup) on
    a fresh layout — the overlapped submission adds no work to a first
    ingest."""
    from dbt_osmosis_spark.operators.retrieval_ext import _upsert_supersede_sinks, _view

    path = str(tmp_path / "r14-supersede-empty")
    sinks, cleanup = _upsert_supersede_sinks(
        spark, _docs(spark, [(1, "alpha")]), _view(path), 0
    )
    assert sinks == []
    cleanup()  # must be callable and harmless
