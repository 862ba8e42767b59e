"""Maintained vector index: the ANN analog of the document index
lifecycle — immutable vector segments partitioned by trained IVF cell,
generation-scoped tombstones, upsert-at-ingest, and a cell-pruned cosine
serve. It runs on the segmented-index machinery of ``retrieval_ext``:
one manifest view per operation (``_view``), the shared ingest body,
segment sinks, tombstone writer and manifest cut. Deletes and upserts
touch only the doc-keyed ``doclen`` sidecar (dl = 1 per vector), the
tombstone partitions and the stats deltas, so they are the same code
for postings and vectors.

Layout: ``seg-<id>/postings`` holds (doc_id, v, label) partitioned by
``tbkt`` = the vector's nearest trained centroid (Lloyd over the base
batch, persisted under ``centroids/``), so serve probes prune to the
queries' nearest cells via partition pruning — the s40 IVF discipline
on a maintained layout. The registered serve probes ALL cells (exact,
hash-matched against a DuckDB brute-force oracle over the final corpus
state); the nprobe < cells path and its file-level pruning are pinned
in tests/test_round12b_ops.py.

Scale shape: ingest is one map-side assignment against the broadcast
<= 16-row packed centroid array + one partitioned write of the BATCH;
serve reads only probed cells of live segments, anti-joins the
broadcast tombstones, folds the dot products JVM-side (zip_with /
aggregate — no Python in the hot path), and ranks with the two-phase
bucketed top-k. The only collects are the <= 16-row centroid relation
and the fixed query batch — both metadata-sized.

Reference parity: the reference ships SQL to a warehouse
(src/dbt_osmosis/core/sql_operations.py:69); vector serving is
engine-side functionality this repo adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dbt_osmosis_spark.operators import register
from dbt_osmosis_spark.operators.retrieval import _BUCKETS
from dbt_osmosis_spark.operators.sinks import run_sinks
from dbt_osmosis_spark.operators.retrieval_ext import (
    _apply_scoped_tombstones,
    _cut_manifest,
    _ingest,
    _live_delete_parts,
    _read_segments_tagged,
    _scoped_tombstones,
    _seg_id,
    _segment_sinks,
    _View,
    _view,
    delete_segmented,
)
from dbt_osmosis_spark.operators.similarity import (
    _DIM,
    _DUCK_DOT,
    _DUCK_NORM2,
    _SPARK_DOT,
    _SPARK_NORM2,
)
from dbt_osmosis_spark.operators.similarity_ext4 import _assign, lloyd_train
from dbt_osmosis_spark.sources.parquet import _scratch_path, read_layout, read_parquet, spread

_S54_K = 10
_S54_QUERY_IDS = (1, 2, 3)
_S54_DEL_MOD, _S54_DEL_REM = 9, 5
_S54_REV_MOD, _S54_REV_REM = 12, 1

_S54_EMPTY = (
    "query_id bigint, rnk bigint, doc_id bigint, label int, cosine double"
)


def _s54_layout_path(sf_dir: str, op: str = "") -> str:
    return _scratch_path(".vector_segments", sf_dir, op)


def ingest_vector_segment(
    spark: SparkSession,
    vecs_batch: DataFrame,
    path: str,
    seg_id: int,
    cents: DataFrame,
    upsert: bool = True,
) -> None:
    """One vector batch as an immutable segment: (doc_id, v, label)
    partitioned by trained-centroid cell (``tbkt``), a doclen sidecar
    with dl = 1 per vector (the row the layout-generic delete and upsert
    key on) and its stats delta. Idempotent overwrite per segment id.
    With ``upsert`` (default), prior versions of the batch's vectors are
    superseded: re-embedding a document serves the new vector, also
    after a delete."""
    assigned = _assign(vecs_batch, cents).withColumn(
        "tbkt", F.col("cell").cast("int")
    )
    _ingest(
        spark, vecs_batch, path, seg_id, upsert,
        assigned.select("doc_id", "v", "label", "tbkt"),
        vecs_batch.select("doc_id").withColumn("dl", F.lit(1).cast("bigint")),
        vecs_batch.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")).withColumn(
            "sum_dl", F.col("n_docs")
        ),
    )


def query_vectors_segmented(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    cents: DataFrame,
    k: int = _S54_K,
    nprobe: int | None = None,
    mgen: int | None = None,
) -> DataFrame:
    """Cosine top-k per query over the live vectors: probe each query's
    ``nprobe`` nearest cells (None = all cells, exact), read only those
    partitions of the live segments, drop tombstoned/superseded
    versions, score JVM-side, two-phase rank. Empty layout serves
    empty. ``mgen`` pins to a manifest snapshot like the text serves.
    ``cents`` must be the centroids of the same generation; s55 and
    ``streaming.vectors.serve_vectors_live`` take both from one view."""
    return _serve_vectors(spark, _view(path, mgen), queries, k, nprobe, cents)


def _serve_vectors(
    spark: SparkSession,
    view: _View,
    queries: DataFrame,
    k: int = _S54_K,
    nprobe: int | None = None,
    cents: DataFrame | None = None,
) -> DataFrame:
    """The vector serve over one manifest view. Without ``cents`` it
    probes with the view's own centroids, so the cells and the segments
    assigned under them come from one generation even when a retrain
    publishes mid-serve."""
    if cents is None:
        cents = _view_centroids(spark, view)
    path, segs = view.path, view.segments
    if not segs:
        return spark.createDataFrame([], _S54_EMPTY)
    cent_rows = cents.collect()  # <= 16 rows — the s40 broadcast side
    q_rows = queries.collect()  # fixed query batch (s04 discipline)
    probes = []
    for qr in q_rows:
        d2s = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qr.qv, cr.cv)), cr.cell)
            for cr in cent_rows
        )
        for _, c in d2s[: (nprobe if nprobe is not None else len(d2s))]:
            probes.append((int(qr.query_id), int(c)))
    probes_df = spark.createDataFrame(probes, "query_id bigint, tbkt int")
    pos = _read_segments_tagged(spark, path, segs, "postings").filter(
        F.col("tbkt").isin(sorted({c for _, c in probes}))
    )
    live = _apply_scoped_tombstones(
        pos, _scoped_tombstones(spark, view)
    ).select("doc_id", "v", "label", "tbkt")
    dot = F.expr(_SPARK_DOT.format(a="v", b="qv"))
    n_v = F.expr(_SPARK_NORM2.format(a="v"))
    n_q = F.expr(_SPARK_NORM2.format(a="qv"))
    # zero-norm vectors (failed embeds, padding rows — real at 100 TB)
    # have no defined cosine: excluded on BOTH sides, engine and oracle,
    # instead of tripping ANSI DIVIDE_BY_ZERO mid-serve
    scored = (
        live.join(F.broadcast(probes_df), "tbkt")
        .join(F.broadcast(queries.filter(n_q > 0)), "query_id")
        .withColumn("_nv", n_v)
        .filter(F.col("_nv") > 0)
        .select(
            "query_id",
            "doc_id",
            "label",
            (dot / (F.sqrt(F.col("_nv")) * F.sqrt(n_q))).alias("cosine"),
        )
    )
    final_w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("doc_id"))
    return (
        scored.withColumn("bkt", F.expr(f"pmod(hash(doc_id), {_BUCKETS})"))
        .withColumn(
            "lr",
            F.row_number().over(
                W.partitionBy("query_id", "bkt").orderBy(
                    F.col("cosine").desc(), F.col("doc_id")
                )
            ),
        )
        .filter(F.col("lr") <= k)
        .withColumn("rnk", F.row_number().over(final_w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "rnk", "doc_id", "label", "cosine")
        .orderBy("query_id", "rnk")
    )


def index_centroids(
    spark: SparkSession, path: str, mgen: int | None = None
) -> DataFrame:
    """The centroid relation the layout is CURRENTLY partitioned by:
    the manifest's centroid pointer when a retrain has published one,
    else the original ``centroids/`` artifact. A pinned read (mgen=G)
    resolves the pointer recorded in THAT manifest, so a time-travel
    serve probes with the centroids its segments were assigned under."""
    return _view_centroids(spark, _view(path, mgen))


def _view_centroids(spark: SparkSession, view: _View) -> DataFrame:
    return read_layout(spark, view.path, view.centroids or "centroids")


def retrain_vector_index(
    spark: SparkSession, path: str, rounds: int = 2
) -> dict[str, object]:
    """Retrain centroids on the live vectors and re-partition the index
    onto the new cells, for centroid drift after upsert churn or an
    embedding-model upgrade. Like compact_segments: the re-partitioned
    segment lands under an unlisted ``cseg-`` name with the highest live
    id, the new centroids under ``centroids-g<G>``, every tombstone
    retires (all surviving rows are live), and one manifest publishes
    the segment set and the centroid pointer together, so a serve never
    pairs new cells with old segments. Pre-retrain artifacts stay for
    pinned readers until ``vacuum_segments``. An exact serve answers the
    same before and after."""
    view = _view(path)
    segs = view.segments
    if not segs:
        return {"retrained": False}
    tombs = _scoped_tombstones(spark, view)
    # the live vectors feed the Lloyd seed pass, every Lloyd round and
    # the re-partition write: persisted once for the retrain
    live = (
        _apply_scoped_tombstones(
            _read_segments_tagged(spark, path, segs, "postings"), tombs
        )
        .select("doc_id", "v", "label")
        .persist()
    )
    new_mgen = view.gen + 1
    new_seg = f"cseg-{new_mgen}-{max(_seg_id(s) for s in segs)}"
    cents_dir = f"centroids-g{new_mgen}"
    try:
        lloyd_train(live, rounds).write.mode("overwrite").parquet(
            f"{path}/{cents_dir}"
        )
        cents = read_layout(spark, path, cents_dir)
        assigned = _assign(live, cents).withColumn("tbkt", F.col("cell").cast("int"))
        doclen = _apply_scoped_tombstones(
            _read_segments_tagged(spark, path, segs, "doclen"), tombs
        ).select("doc_id", "dl")
        run_sinks(
            *_segment_sinks(
                spark, f"{path}/{new_seg}", assigned.select("doc_id", "v", "label", "tbkt"),
                doclen,
            )
        )
    finally:
        live.unpersist()
    retired = sorted(set(_live_delete_parts(view)) | set(view.retired))
    _cut_manifest(view, [new_seg], retired, [], cents_dir)
    return {"retrained": True, "new_seg": new_seg, "manifest": new_mgen}


_S54_QUERY_IN = ", ".join(str(q) for q in _S54_QUERY_IDS)

_S54_ORACLE = f"""
WITH state0 AS (
  SELECT vec_id AS doc_id, label,
         CASE WHEN vec_id % {_S54_REV_MOD} = {_S54_REV_REM}
              THEN list_transform(embedding::DOUBLE[], x -> x + 1.0)
              ELSE embedding::DOUBLE[] END AS v
  FROM embeddings
  WHERE vec_id % {_S54_REV_MOD} = {_S54_REV_REM}
     OR vec_id % {_S54_DEL_MOD} <> {_S54_DEL_REM}
),
-- zero-norm vectors have no defined cosine (engine parity: the serve
-- excludes them too instead of dividing by zero)
state AS (
  SELECT * FROM state0 WHERE {_DUCK_NORM2.format(a="v")} > 0
),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings
  WHERE vec_id IN ({_S54_QUERY_IN})
    AND {_DUCK_NORM2.format(a="embedding::DOUBLE[]")} > 0
),
scored AS (
  SELECT q.query_id, s.doc_id, s.label,
         {_DUCK_DOT.format(a="s.v", b="q.qv", n=_DIM)}
           / (sqrt({_DUCK_NORM2.format(a="s.v")})
              * sqrt({_DUCK_NORM2.format(a="q.qv")})) AS cosine
  FROM state s CROSS JOIN q
),
ranked AS (
  SELECT query_id, doc_id, label, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id) AS rnk
  FROM scored
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, label, cosine
FROM ranked WHERE rnk <= {_S54_K}
ORDER BY query_id, rnk
"""


def _s54_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(read_parquet(spark, f"{sf_dir}/embeddings.parquet")).select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("v"),
        "label",
    )


def _build_s54_layout(
    spark: SparkSession, sf_dir: str, op: str = ""
) -> tuple[str, DataFrame, DataFrame]:
    """The s54 lifecycle layout: centroids trained on the base batch and
    persisted under ``centroids/``, two disjoint base ingests (no prior
    versions, so no upsert pass, run concurrently), one tombstone batch
    (vec_id % 9 == 5) and one re-embed upsert (vec_id % 12 == 1, every
    component + 1.0). Returns (path, centroids, the query batch)."""
    import shutil

    emb = _s54_emb(spark, sf_dir)
    path = _s54_layout_path(sf_dir, op)
    shutil.rmtree(path, ignore_errors=True)
    base = emb.filter(F.col("doc_id") % 10 < 8)
    lloyd_train(base).write.mode("overwrite").parquet(f"{path}/centroids")
    cents = read_layout(spark, path, "centroids")
    run_sinks(
        lambda: ingest_vector_segment(spark, base, path, 0, cents, upsert=False),
        lambda: ingest_vector_segment(
            spark, emb.filter(F.col("doc_id") % 10 >= 8), path, 1, cents, upsert=False
        ),
    )
    delete_segmented(
        spark,
        path,
        emb.filter(F.col("doc_id") % _S54_DEL_MOD == _S54_DEL_REM).select("doc_id"),
        0,
    )
    revised = emb.filter(F.col("doc_id") % _S54_REV_MOD == _S54_REV_REM).withColumn(
        "v", F.expr("transform(v, x -> x + CAST(1.0 AS DOUBLE))")
    )
    ingest_vector_segment(spark, revised, path, 2, cents)  # upserts prior versions
    queries = emb.filter(F.col("doc_id").isin(*_S54_QUERY_IDS)).select(
        F.col("doc_id").alias("query_id"), F.col("v").alias("qv")
    )
    return path, cents, queries


@register("s54_maintained_vector_index", oracle=_S54_ORACLE)
def s54_maintained_vector_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The s54 layout served exactly (all cells) for three fixed queries.
    Must hash-match the DuckDB brute-force oracle over the final state:
    revised vectors score as revised, re-added ones resurface,
    still-deleted ones stay gone."""
    path, cents, queries = _build_s54_layout(spark, sf_dir)
    return query_vectors_segmented(spark, path, queries, cents)


@register("s55_vector_index_retrain", oracle=_S54_ORACLE)
def s55_vector_index_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The s54 layout, a centroid retrain on the live vectors, then the
    exact serve with the manifest-resolved centroids. It must match the
    same oracle as s54: retraining changes the cell layout, never a
    result."""
    path, _, queries = _build_s54_layout(spark, sf_dir, "rt")
    retrain_vector_index(spark, path)
    return _serve_vectors(spark, _view(path), queries)
