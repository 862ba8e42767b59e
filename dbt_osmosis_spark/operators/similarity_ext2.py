"""Similarity extensions II: radius (range) search and hard-negative mining.

Reference analog: none (dbt-osmosis has no vector plane); these extend the
engine's ANN family (similarity.py) with the two retrieval shapes a
training-data pipeline needs beyond top-k:

- **s22 radius search** — "everything within cosine >= tau of the query
  batch", the primitive behind near-duplicate audit trails and
  contrastive-pair mining where the NUMBER of neighbors matters, not a
  fixed k. The query batch is a broadcast scalar side; the corpus scan is
  one map-side pass (filter fuses into the scan projection), and only
  rows inside the radius ever leave an executor — output-bound, not
  corpus-bound. At 10^9 vectors the same plan holds; to also cut the
  SCANNED set you put s15's LSH bucket bound in front (the composition is
  exactly s15 with the top-k window replaced by this filter).
- **s23 hard-negative mining** — per query, the k nearest vectors with a
  DIFFERENT label: the standard negative-sampling step for contrastive /
  metric learning (highest-similarity wrong-label examples are the
  gradient-richest negatives). Same broadcast-scan shape; the per-query
  top-k is a window over query-batch-sized partitions (8 keys), never the
  corpus.

Numeric determinism: both scores use the sequential left-fold dot product
(similarity.py's _SPARK_DOT / _DUCK_DOT), bit-identical across engines, so
no rounding is needed for the radius FILTER or the rank ORDER; the emitted
cosine is rounded to 1e-6 for display-hash stability only after all
decisions are made.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dbt_osmosis_spark.operators import register
from dbt_osmosis_spark.operators.similarity import (
    _DIM,
    _DUCK_DOT,
    _DUCK_NORM2,
    _SPARK_DOT,
    _SPARK_NORM2,
)
from dbt_osmosis_spark.sources.parquet import _scratch_path, read_layout, read_parquet, spread

_N_QUERIES = 8  # vec_id < 8 is the fixed query batch (s04/s15 convention)
_TAU = 0.3  # radius: sf0.01 yields ~33 pairs, sf0.1 proportionally more
_K_NEG = 5  # hard negatives per query

_SPARK_COS = (
    f"{_SPARK_DOT.format(a='v', b='qv')}"
    f" / (sqrt({_SPARK_NORM2.format(a='v')}) * sqrt({_SPARK_NORM2.format(a='qv')}))"
)
_DUCK_COS = (
    f"{_DUCK_DOT.format(a='e.v', b='q.qv', n=_DIM)}"
    f" / (sqrt({_DUCK_NORM2.format(a='e.v')}) * sqrt({_DUCK_NORM2.format(a='q.qv')}))"
)


def _batch_scan(spark: SparkSession, sf_dir: str):
    """(corpus df with v, broadcast query df with query_id/qv/qlabel).

    spread(): the per-row work is an 8-query x 64-dim fold — fold-heavy
    map compute, the exact case the small-file repartition exists for
    (5.6x at the 30x probe corpus; a no-op on well-partitioned
    production inputs)."""
    emb = spread(
        read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    ).withColumn("v", F.col("embedding").cast("array<double>"))
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    return emb, q


# ---- s22: cosine radius search ---------------------------------------------

_S22_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {_N_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id, e.label, {_DUCK_COS} AS cos
  FROM e, q WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, label,
       round(cos, 6) AS cosine
FROM scored
WHERE cos >= {_TAU}
ORDER BY query_id, vec_id
"""


@register("s22_radius_search", oracle=_S22_ORACLE)
def s22_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, q = _batch_scan(spark, sf_dir)
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id", "label", F.expr(_SPARK_COS).alias("cos")
        )
    )
    return (
        scored.filter(F.col("cos") >= _TAU)
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round("cos", 6).alias("cosine"),
        )
        .orderBy("query_id", "vec_id")
    )


# ---- s23: hard-negative mining ---------------------------------------------

_S23_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, label AS qlabel, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {_N_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id, e.label, {_DUCK_COS} AS cos
  FROM e, q
  WHERE e.label <> q.qlabel
),
ranked AS (
  SELECT query_id, vec_id, label, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rk
  FROM scored
)
SELECT query_id, vec_id, label, CAST(rk AS INT) AS rank,
       round(cos, 6) AS cosine
FROM ranked
WHERE rk <= {_K_NEG}
ORDER BY query_id, rank
"""


@register("s23_hard_negatives", oracle=_S23_ORACLE)
def s23_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb, q = _batch_scan(spark, sf_dir)
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "query_id", "vec_id", "label", F.expr(_SPARK_COS).alias("cos")
        )
    )
    rk = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    )
    return (
        scored.withColumn("rank", rk)
        .filter(F.col("rank") <= _K_NEG)
        .select(
            "query_id",
            "vec_id",
            "label",
            F.col("rank").cast("int").alias("rank"),
            F.round("cos", 6).alias("cosine"),
        )
        .orderBy("query_id", "rank")
    )


# ---- s24: tombstone-aware IVF serving (deletes without rebuild) ------------
# Production vector indexes take deletions continuously (GDPR erasure,
# retracted documents, recrawled pages) but rebuild rarely — the standard
# contract is a TOMBSTONE set consulted at serve time: the scan still
# prunes to the probed cells, deleted ids are anti-joined out BEFORE
# ranking, and a periodic compaction folds tombstones into the index.
# s24 is s17's build/serve split plus that serve-time exclusion; the
# deleted set here is the deterministic ~1/7th (vec_id % 7 == 3) so the
# oracle can name the same set with a predicate.
#
# Scale shape: identical to s17 (cell-pruned scan, broadcast query
# relation, qid-window top-k) plus ONE broadcast left-anti join — the
# tombstone set is deletes-since-compaction, orders of magnitude smaller
# than the corpus by construction, so it never shuffles the candidates.
# Ranking runs AFTER exclusion, so every query still returns a full k
# survivors (excluding first, then ranking, is what makes tombstones
# semantically equal to a rebuild).

from dbt_osmosis_spark.operators.similarity import _DUCK_CELL, _DUCK_PROBE, _K  # noqa: E402
from dbt_osmosis_spark.operators.similarity_ext import (  # noqa: E402
    probe_cells,
    write_ivf_index,
)

_S24_DEL_MOD = 7  # tombstones: vec_id % 7 == 3 (~14% of the corpus)
_S24_DEL_REM = 3

_S24_ORACLE = f"""
WITH vecs AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
assigned AS (
  SELECT vec_id, label, v, {_DUCK_CELL.format(a="v")} AS cell FROM vecs
  WHERE vec_id % {_S24_DEL_MOD} <> {_S24_DEL_REM}
),
q AS (
  SELECT vec_id AS qid, v AS qv, {_DUCK_PROBE.format(a="v")} AS probe
  FROM vecs WHERE vec_id < {_N_QUERIES}
),
cand AS (
  SELECT q.qid, a.vec_id, a.label, a.v, q.qv
  FROM assigned a JOIN q
    ON list_contains(q.probe, a.cell) AND a.vec_id <> q.qid
),
scored AS (
  SELECT qid, vec_id, label,
         {_DUCK_DOT.format(a="v", b="qv", n=_DIM)}
           / (sqrt({_DUCK_NORM2.format(a="v")}) * sqrt({_DUCK_NORM2.format(a="qv")}))
           AS cosine
  FROM cand
),
ranked AS (
  SELECT qid, vec_id, label, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
  FROM scored
)
SELECT qid, CAST(rn AS INT) AS rnk, vec_id, label, cosine
FROM ranked WHERE rn <= {_K}
ORDER BY qid, rnk
"""


def _s24_index_path(sf_dir: str) -> str:
    return _scratch_path(".ivf_index", sf_dir, "s24")


@register("s24_ivf_serve_with_deletes", oracle=_S24_ORACLE)
def s24_ivf_serve_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read_parquet(spark, f"{sf_dir}/embeddings.parquet")).withColumn(
        "v", F.col("embedding").cast("array<double>")
    )
    path = _s24_index_path(sf_dir)
    write_ivf_index(emb, path)
    # Tombstones arrive as a TABLE (deletes since the last compaction),
    # not a predicate — the serve path must treat them as data.
    tombstones = emb.filter(
        F.col("vec_id") % _S24_DEL_MOD == _S24_DEL_REM
    ).select(F.col("vec_id").alias("del_id"))
    qrows = emb.filter(F.col("vec_id") < _N_QUERIES).select("vec_id", "v").collect()
    batch = [
        (int(r.vec_id), [float(x) for x in r.v], probe_cells(list(r.v)))
        for r in sorted(qrows, key=lambda r: r.vec_id)
    ]
    all_cells = sorted({c for _, _, cells in batch for c in cells})
    qdf = spark.createDataFrame(batch, "qid bigint, qv array<double>, probe array<int>")
    idx = (
        read_layout(spark, path)
        .filter(F.col("cell").isin(all_cells))
        .join(F.broadcast(tombstones), F.col("vec_id") == F.col("del_id"), "left_anti")
    )
    dot = F.expr(_SPARK_DOT.format(a="v", b="qv"))
    n_v = F.expr(_SPARK_NORM2.format(a="v"))
    n_q = F.expr(_SPARK_NORM2.format(a="qv"))
    scored = idx.join(
        F.broadcast(qdf),
        F.expr("array_contains(probe, cell)") & (F.col("vec_id") != F.col("qid")),
    ).select(
        "qid", "vec_id", "label", (dot / (F.sqrt(n_v) * F.sqrt(n_q))).alias("cosine")
    )
    win = W.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= _K)
        .select("qid", "rnk", "vec_id", "label", "cosine")
        .orderBy("qid", "rnk")
    )


# ---- s25: approximate kNN graph (LSH-bucketed, exact in-bucket rerank) ------
# The all-corpus neighbor graph behind SemDeDup-style clustering, kNN
# label propagation, and graph-based diversity sampling: for EVERY vector,
# its k nearest same-bucket neighbors by exact cosine. Candidate generation
# is d05's random-hyperplane bucket chain (bucket + corpus-adaptive
# sub-key, shared constants — the formulas can't drift), so the graph
# build is one shuffle on the bucket key and an O(bucket^2) in-bucket
# rerank — never an all-pairs corpus join; the per-vector top-k window
# partitions on vec_id (bucket-bounded candidate lists, not the corpus).
# Honest approximation: neighbors on the wrong side of a hyperplane are
# missed — s12's recall harness quantifies exactly this family.

from dbt_osmosis_spark.operators.dedup import _D05_REF_N as _S25_REF_N  # noqa: E402
from dbt_osmosis_spark.operators.similarity import (  # noqa: E402
    ADAPTIVE_SUB_SQL as _S25_ASUB,
    _DUCK_BUCKET,
    _DUCK_SIGNWORD,
    _SPARK_BUCKET,
    _SPARK_SIGNWORD,
    adaptive_xbits_agg_sql as _s25_ax,
)

_S25_K = 5


def _s25_oracle() -> str:
    return f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cnt AS (
  SELECT {_s25_ax(_S25_REF_N)} AS xbits FROM vecs
),
bucketed AS (
  SELECT vec_id, v, {_DUCK_BUCKET} AS bucket,
         {_S25_ASUB.format(w=_DUCK_SIGNWORD.format(a="v", base=0), xbits="(SELECT xbits FROM cnt)")} AS sub
  FROM vecs
),
cand AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         {_DUCK_DOT.format(a="a.v", b="b.v", n=_DIM)}
           / (sqrt({_DUCK_NORM2.format(a="a.v")}) * sqrt({_DUCK_NORM2.format(a="b.v")})) AS cosine
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.sub = b.sub AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT vec_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS nn_rank
  FROM cand
)
SELECT vec_id, nn_rank, neighbor_id, round(cosine, 6) AS cosine
FROM ranked
WHERE nn_rank <= {_S25_K}
ORDER BY vec_id, nn_rank
"""


@register("s25_knn_graph", oracle=_s25_oracle())
def s25_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read_parquet(spark, f"{sf_dir}/embeddings.parquet")).withColumn(
        "v", F.col("embedding").cast("array<double>")
    )
    xbits = emb.agg(F.expr(_s25_ax(_S25_REF_N)).alias("xbits"))
    # Round 13 (guide §5): `bucketed` is BOTH sides of the self-join;
    # left lazy, the embedding scan + 16-dim signword/bucket fold ran
    # twice (once per side). Persist it once for the operator's span —
    # the join's two exchanges then read the cached relation instead of
    # recomputing the hash fold per side.
    from dbt_osmosis_spark.operators.caching import keep_cached

    bucketed = (
        emb.select(
            "vec_id",
            "v",
            F.expr(_SPARK_BUCKET).alias("bucket"),
            F.expr(_SPARK_SIGNWORD.format(a="v", base=0)).alias("w0"),
        )
        .crossJoin(F.broadcast(xbits))
        .select(
            "vec_id", "v", "bucket",
            F.expr(_S25_ASUB.format(w="w0", xbits="xbits")).alias("sub"),
        )
        .transform(keep_cached)
    )
    a = bucketed.select(
        F.col("vec_id").alias("vec_id"), F.col("v").alias("va"),
        F.col("bucket").alias("ba"), F.col("sub").alias("sa"),
    )
    b = bucketed.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("vb"),
        F.col("bucket").alias("bb"), F.col("sub").alias("sb"),
    )
    cosine = F.expr(_SPARK_DOT.format(a="va", b="vb")) / (
        F.sqrt(F.expr(_SPARK_NORM2.format(a="va"))) * F.sqrt(F.expr(_SPARK_NORM2.format(a="vb")))
    )
    cand = (
        a.join(
            b,
            (F.col("ba") == F.col("bb"))
            & (F.col("sa") == F.col("sb"))
            & (F.col("vec_id") != F.col("neighbor_id")),
        )
        .select("vec_id", "neighbor_id", cosine.alias("cosine"))
    )
    win = W.partitionBy("vec_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        cand.withColumn("nn_rank", F.row_number().over(win).cast("bigint"))
        .filter(F.col("nn_rank") <= _S25_K)
        .select("vec_id", "nn_rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
        .orderBy("vec_id", "nn_rank")
    )


# ---- s26: embedding centroid drift between corpus snapshots ------------------
# The ML-ops drift check: has the embedding distribution MOVED between two
# snapshots? Per label, the squared L2 distance between the snapshot
# centroids (here the deterministic vec_id-parity split stands in for
# time-ordered snapshots — the plan is identical for a real snapshot
# column). Centroids use s16's exact-decimal recipe (quantize components
# BEFORE summation — order-independent under any partitioning); the
# per-label drift sum quantizes each squared component difference the
# same way, so the emitted number is engine-exact. Scale: one posexplode
# aggregate per (label, half, pos) — dimension-sized output; the
# centroid join and the drift rollup never touch the corpus again.
# Labels present in only one snapshot are reported with NULL drift (new
# or vanished classes are exactly what the report must surface).

from dbt_osmosis_spark.operators.similarity import _DIM as _S26_DIM  # noqa: E402

_S26_ORACLE = f"""
WITH comp AS (
  SELECT label, vec_id % 2 AS half, d AS pos, (embedding::DOUBLE[])[d + 1] AS x
  FROM embeddings, (SELECT unnest(range(0, {_S26_DIM})) AS d)
),
cent AS (
  SELECT label, half, pos,
         CAST(SUM(CAST(floor(x * 1e9 + 0.5) AS DECIMAL(28,0))) AS DOUBLE)
           / COUNT(*) / 1e9 AS m
  FROM comp GROUP BY label, half, pos
),
counts AS (
  SELECT label,
         CAST(COUNT(DISTINCT CASE WHEN vec_id % 2 = 0 THEN vec_id END) AS BIGINT) AS n_a,
         CAST(COUNT(DISTINCT CASE WHEN vec_id % 2 = 1 THEN vec_id END) AS BIGINT) AS n_b
  FROM embeddings GROUP BY label
),
drift AS (
  SELECT a.label,
         CAST(SUM(CAST(floor((a.m - b.m) * (a.m - b.m) * 1e12 + 0.5) AS DECIMAL(28,0))) AS DOUBLE)
           / 1e12 AS drift2
  FROM cent a JOIN cent b
    ON b.label = a.label AND b.pos = a.pos AND a.half = 0 AND b.half = 1
  GROUP BY a.label
)
SELECT c.label, c.n_a, c.n_b, d.drift2
FROM counts c LEFT JOIN drift d ON d.label = c.label
ORDER BY c.label
"""


@register("s26_centroid_drift", oracle=_S26_ORACLE)
def s26_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(read_parquet(spark, f"{sf_dir}/embeddings.parquet"))
    comp = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    cent = comp.groupBy("label", "half", "pos").agg(
        (
            F.sum(F.expr("CAST(floor(x * 1e9 + 0.5) AS DECIMAL(28,0))")).cast("double")
            / F.count(F.lit(1))
            / F.lit(1e9)
        ).alias("m")
    )
    a = cent.filter(F.col("half") == 0).select("label", "pos", F.col("m").alias("ma"))
    b = cent.filter(F.col("half") == 1).select("label", "pos", F.col("m").alias("mb"))
    drift = (
        a.join(b, ["label", "pos"])
        .groupBy("label")
        .agg(
            (
                F.sum(
                    F.expr(
                        "CAST(floor((ma - mb) * (ma - mb) * 1e12 + 0.5) AS DECIMAL(28,0))"
                    )
                ).cast("double")
                / F.lit(1e12)
            ).alias("drift2")
        )
    )
    counts = emb.groupBy("label").agg(
        F.countDistinct(F.when(F.col("vec_id") % 2 == 0, F.col("vec_id"))).alias("n_a"),
        F.countDistinct(F.when(F.col("vec_id") % 2 == 1, F.col("vec_id"))).alias("n_b"),
    )
    return (
        counts.join(drift, "label", "left")
        .select("label", "n_a", "n_b", "drift2")
        .orderBy("label")
    )
