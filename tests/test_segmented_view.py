"""One manifest generation per operation on the segmented index.

Every lifecycle operation (serve, upsert ingest, delete, compaction,
checkpoint) reads ``_MANIFEST`` once and works from that one view, so a
compaction published while an operation runs cannot pair one
generation's segment list with another generation's tombstone filter.
"""

from __future__ import annotations

import builtins
import collections
import os

from dbt_osmosis_spark.operators import load_all, retrieval_ext
from dbt_osmosis_spark.operators.retrieval_ext import (
    _manifest_gen,
    checkpoint_manifest,
    compact_segments,
    delete_segmented,
    ingest_positional_segment,
    query_bm25_segmented,
    query_phrase_segmented,
    query_proximity_segmented,
)

load_all()

# seg-0 holds many distinct terms, so it is the largest segment and the
# compaction base; doc 21 lives only in seg-1, which a compaction merges
_SEG0 = [(i, " ".join(f"w{i}x{j}" for j in range(12)) + " alpha") for i in range(1, 9)]
_SEG1 = [(21, "omega alpha"), (22, "beta")]
_SEG2 = [(31, "gamma omega"), (32, "alpha beta")]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id bigint")


def _three_segments_doc21_deleted(spark, path):
    for seg, rows in enumerate((_SEG0, _SEG1, _SEG2)):
        ingest_positional_segment(spark, _docs(spark, rows), path, seg, upsert=False)
    delete_segmented(spark, path, _ids(spark, [21]), 0)


def _served(df):
    return sorted(r.doc_id for r in df.collect())


def test_serve_keeps_its_generation_when_a_compaction_publishes_mid_serve(
    spark, tmp_path, monkeypatch
):
    """A compaction published right after a pointer-view serve's first
    manifest read retires delete partition 0, which the serve's segment
    set (seg-1 still holds doc 21) needs. The serve must answer as the
    generation it started from: doc 21 stays deleted."""
    path = str(tmp_path / "race")
    _three_segments_doc21_deleted(spark, path)
    q = (("q", "omega"),)
    before = _served(query_bm25_segmented(spark, path, q))
    assert before == [31]

    read_manifest = retrieval_ext._read_manifest
    published = []

    def compact_after_first_read(p, mgen=None):
        m = read_manifest(p, mgen)
        if not published:
            published.append(None)  # the compaction's own reads pass through
            published[0] = compact_segments(spark, path)
        return m

    monkeypatch.setattr(retrieval_ext, "_read_manifest", compact_after_first_read)
    during = _served(query_bm25_segmented(spark, path, q))
    monkeypatch.setattr(retrieval_ext, "_read_manifest", read_manifest)

    assert published and published[0]["merged"] == 2
    assert _manifest_gen(path) == 1
    assert during == before
    assert _served(query_bm25_segmented(spark, path, q)) == before


def test_each_operation_reads_the_manifest_once(spark, tmp_path, monkeypatch):
    """Counted opens of ``_MANIFEST``: one per serve, upsert ingest,
    delete, compaction and checkpoint; a pinned serve opens only its
    ``manifest-<G>.json``, once."""
    path = str(tmp_path / "opens")
    _three_segments_doc21_deleted(spark, path)
    compact_segments(spark, path)
    ingest_positional_segment(spark, _docs(spark, [(41, "omega beta")]), path, 3)
    gen = checkpoint_manifest(path)

    real_open = builtins.open
    counts: collections.Counter = collections.Counter()

    def counting_open(f, *a, **k):
        counts[os.path.basename(str(f))] += 1
        return real_open(f, *a, **k)

    def opens(fn, *args, **kwargs):
        counts.clear()
        monkeypatch.setattr(builtins, "open", counting_open)
        try:
            fn(*args, **kwargs)
        finally:
            monkeypatch.setattr(builtins, "open", real_open)
        return counts["_MANIFEST"], counts[f"manifest-{gen}.json"]

    q = (("q", "omega"),)
    assert opens(query_bm25_segmented, spark, path, q)[0] == 1
    assert opens(query_phrase_segmented, spark, path, (("p", ("omega", "alpha")),), 5)[0] == 1
    assert opens(query_proximity_segmented, spark, path, (("x", "omega", "beta", 3),), 5)[0] == 1
    assert opens(query_bm25_segmented, spark, path, q, mgen=gen) == (0, 1)
    revised = _docs(spark, [(31, "gamma omega omega"), (41, "beta")])
    assert opens(ingest_positional_segment, spark, revised, path, 4)[0] == 1
    assert opens(delete_segmented, spark, path, _ids(spark, [32]), 1)[0] == 1
    assert opens(compact_segments, spark, path)[0] == 1
    assert opens(checkpoint_manifest, path)[0] == 1


def test_live_vector_serve_probes_with_its_own_generations_centroids(
    spark, sf_dir, monkeypatch
):
    """``serve_vectors_live`` takes its centroids and its segments from one
    manifest read. A retrain published right after that read re-partitions
    the index onto new cells; a one-cell probe must still answer as the
    generation it started from."""
    from dbt_osmosis_spark.operators.similarity_ext5 import (
        _build_s54_layout,
        retrain_vector_index,
    )
    from dbt_osmosis_spark.streaming.vectors import serve_vectors_live

    path, _, queries = _build_s54_layout(spark, sf_dir, "view")
    before = serve_vectors_live(spark, path, queries, 10, nprobe=1).collect()
    assert before

    read_manifest = retrieval_ext._read_manifest
    state = {"serve_reads": 0, "retraining": False, "retrained": None}

    def retrain_after_first_read(p, mgen=None):
        m = read_manifest(p, mgen)
        if not state["retraining"]:  # the retrain's own reads are not counted
            state["serve_reads"] += 1
            if state["serve_reads"] == 1:
                state["retraining"] = True
                state["retrained"] = retrain_vector_index(spark, path)
                state["retraining"] = False
        return m

    monkeypatch.setattr(retrieval_ext, "_read_manifest", retrain_after_first_read)
    during = serve_vectors_live(spark, path, queries, 10, nprobe=1)
    monkeypatch.setattr(retrieval_ext, "_read_manifest", read_manifest)

    assert state["retrained"]["retrained"] is True
    assert state["serve_reads"] == 1
    assert during.collect() == before
