"""Lexical retrieval, part 2: the maintained segmented index and the
positional layout.

Registered entries: s39 (tombstone deletes), s41 (bake the live segments
into the s34 format), s42 (one-shot phrase search), s43/s45/s46 (phrase,
BM25 and proximity serves from the monolithic positional layout) and
s44/s47/s48/s49 (segmented-index lifecycles).

Two persisted layouts, each with ONE reader:
- monolithic (``write_positional_index``; the s34 postings index has
  the same shape): ``postings/tbkt=*``, ``doclen``, one-row ``stats``.
  ``_index_read`` returns its bucket-pruned, term-pushed postings scan
  and, when the scorer needs them, doclen and stats.
- segmented (``ingest_segment`` / ``ingest_positional_segment``):
  immutable ``seg-<id>`` segments, each with ``postings/tbkt=*``,
  ``doclen`` and a ``termset`` sidecar; generation-scoped tombstones
  under ``deletes/delete=<k>``; additive stats deltas under
  ``stats/part=*``; manifests that publish compactions and checkpoints.
  ``_segmented_read`` returns the live, tombstone-filtered relations.

Each query class has ONE scorer over the reader's relations: BM25
(``retrieval._bm25_tail``), exact phrase (``_phrase_match_counts``),
proximity (``_proximity_match_counts``), sloppy phrase
(``_sloppy_match_counts``) and BM25-phrase
(``retrieval_ext2._bm25_phrase_rank``). Each public ``query_*`` serve is
a reader call plus a scorer call; the monolithic serves are the
reference the maintained index is tested against.

Segmented-layout invariants:
- each document lives wholly in one segment, and a tombstone (doc_id,
  gen) kills the doc in every segment whose id is <= gen, so a later
  re-ingest (a higher segment id) serves the new version;
- a segment whose termset sidecar holds none of the query terms is never
  listed; pruning never changes an answer (sidecar-less segments are
  always kept);
- every operation reads the manifest once (``_view``) and serves or
  writes from that one generation: ``mgen=None`` is the current
  manifest's view, ``mgen=G`` exactly manifest G's segments, tombstone
  partitions and stats partitions, which stay on disk until
  ``vacuum_segments``; a vector serve takes its centroid pointer from
  the same view;
- each kind of state has one writer: segments ``_segment_sinks``,
  tombstones with their negative stats delta ``_tombstone_sinks``,
  manifests ``_cut_manifest``.

Reference parity: the reference ships SQL to a warehouse
(src/dbt_osmosis/core/sql_operations.py:69); the index-maintenance
surface is engine-side functionality this repo adds.
"""

from __future__ import annotations

from collections.abc import Iterable
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_osmosis_spark.operators import register
from dbt_osmosis_spark.operators.sinks import run_sinks
from dbt_osmosis_spark.operators.retrieval import (
    _CONTRIB,
    _K,
    _QUERY_TERMS,
    _QUERY_VALUES,
    _S31_ORACLE,
    _S34_SPARK_TBKT,
    _bm25_tail,
    _build_s36_layout,
    _doc_dl,
    _doc_dl_stats,
    _doc_tf,
    _s34_tbkt_py,
    _topn_two_phase,
)
from dbt_osmosis_spark.sources.parquet import _scratch_path, read_layout, read_parquet, spread

_S39_MOD = 7  # registered delete set: doc_id % 7 == 3
_S39_REM = 3

_S39_ORACLE = f"""
WITH live AS (
  SELECT * FROM documents WHERE doc_id % {_S39_MOD} <> {_S39_REM}
),
toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
  FROM live
),
toks_ne AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks_ne GROUP BY doc_id),
stats AS (
  SELECT (SELECT COUNT(*) FROM live) AS n_docs,
         (SELECT CAST(SUM(dl) AS DOUBLE) FROM dl)
           / (SELECT COUNT(*) FROM live) AS avgdl
),
qterms(query_id, term) AS (VALUES {_QUERY_VALUES}),
tf AS (
  SELECT doc_id, tok AS term, COUNT(*) AS tf
  FROM toks_ne
  WHERE tok IN (SELECT DISTINCT term FROM qterms)
  GROUP BY doc_id, tok
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT q.query_id, tf.doc_id,
         {_CONTRIB} AS c
  FROM tf
  JOIN df USING (term)
  JOIN qterms q USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
scores AS (
  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_micros
  FROM contrib GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score_micros,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_micros DESC, doc_id) AS rnk
  FROM scores
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, score_micros
FROM ranked WHERE rnk <= {_K}
ORDER BY query_id, rnk
"""


def _s39_index_path(sf_dir: str) -> str:
    return _scratch_path(".postings_tiered", sf_dir, "s39")


def _build_s39_layout(spark: SparkSession, sf_dir: str) -> str:
    """s36's two segments plus one tombstone batch (doc_id % 7 == 3),
    rebuilt from scratch; returns the layout path."""
    docs = spread(read_parquet(spark, f"{sf_dir}/documents.parquet"))
    path = _s39_index_path(sf_dir)
    _build_s36_layout(spark, docs, path)
    delete_segmented(
        spark,
        path,
        docs.filter(F.col("doc_id") % _S39_MOD == _S39_REM).select("doc_id"),
        0,
    )
    return path


@register("s39_postings_tombstone_serve", oracle=_S39_ORACLE)
def s39_postings_tombstone_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document deletes on the lexical index: s36's two segment ingests,
    one tombstone batch, one serve. The oracle is s31's SQL over the
    corpus MINUS the deleted docs: the tombstone anti-join, df counted
    from the surviving pruned postings and the negative stats delta
    must make the mutated index serve byte-identically to a
    from-scratch build on the live corpus."""
    return query_segmented_postings(
        spark, _build_s39_layout(spark, sf_dir), _QUERY_TERMS
    )


# ---------------------------------------------------------------------------
# s41: the live segments baked into the s34 format
# ---------------------------------------------------------------------------
# Serving from the segmented layout pays a per-query tax (the segment
# union, the tombstone anti-join, serve-side df derivation) that grows
# with maintenance history; baking pays ONE index-sized job to retire
# it: read the live segments, drop tombstoned rows, recount per-term df
# (the one vocabulary-keyed shuffle), rebake df into the rows, collapse
# the stat deltas to a single row, and rewrite term-bucket-partitioned.
# The result is byte-identical to an s34 build over the live corpus, so
# the EXISTING s34 serve path reads it unchanged — 4 serve exchanges,
# bucket-pruned scan, no anti-join — and the oracle stays s39's.
#
# Scale: baking reads/writes the INDEX (integer columns), never the
# corpus — no re-tokenization. Unlike s44's tiered compaction it
# rewrites everything, so it suits a layout that stops taking writes.

def _s41_out_path(sf_dir: str) -> str:
    return _scratch_path(".postings_index", sf_dir, "s41")


def bake_postings_index(spark: SparkSession, path: str, out_path: str) -> None:
    """Rewrite the live view of a segmented layout as a clean s34-format
    layout: live postings with df baked in, one-row stats (n_docs,
    avgdl, c_tot), term-bucket partitioning preserved."""
    # the tombstone-filtered postings feed both the df aggregate and the
    # join's probe side: persisted for the call so the segments are
    # scanned (and the anti-join run) once; the two sinks run concurrently
    view = _view(path)
    postings = (
        _apply_scoped_tombstones(
            _read_segments_tagged(spark, path, view.segments, "postings"),
            _scoped_tombstones(spark, view),
        )
        .drop("seg_gen")
        .persist()
    )
    try:
        df_rel = postings.groupBy("term").agg(
            F.count(F.lit(1)).cast("bigint").alias("df")
        )
        run_sinks(
            lambda: (
                postings.join(df_rel, "term")
                .select("term", "doc_id", "tf", "dl", "df", "tbkt")
                .repartition("tbkt")
                .write.partitionBy("tbkt")
                .mode("overwrite")
                .parquet(f"{out_path}/postings")
            ),
            lambda: (
                read_layout(spark, path, "stats")
                .agg(
                    F.sum("n_docs").cast("bigint").alias("n_docs"),
                    F.sum("sum_dl").cast("bigint").alias("sum_dl"),
                )
                .selectExpr(
                    "n_docs",
                    "CAST(sum_dl AS DOUBLE) / n_docs AS avgdl",
                    "CAST(sum_dl AS BIGINT) AS c_tot",
                )
                .write.mode("overwrite")
                .parquet(f"{out_path}/stats")
            ),
        )
    finally:
        postings.unpersist()


@register("s41_postings_compaction", oracle=_S39_ORACLE)
def s41_postings_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s39's lifecycle (two segments + one tombstone batch) baked into an
    s34-format layout and served THROUGH THE UNMODIFIED s34 path —
    proving the baked index is byte-identical to a fresh build over the
    live corpus."""
    import shutil

    from dbt_osmosis_spark.operators.retrieval import query_postings_index

    out = _s41_out_path(sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    bake_postings_index(spark, _build_s39_layout(spark, sf_dir), out)
    return query_postings_index(spark, out, _QUERY_TERMS)


# ---------------------------------------------------------------------------
# s42: phrase search — positional adjacency over pruned token positions
# ---------------------------------------------------------------------------
# The query class BM25's bag-of-words postings cannot answer: "these
# words, in this order, adjacent" (Manning, Raghavan & Schütze, IIR
# ch. 2 — positional postings). Token positions are assigned AFTER
# dropping empty tokens (row_number per doc over the raw split order,
# identical in both engines), a phrase match at position p means word_i
# sits at p + i for every i, and a doc scores the exact COUNT of its
# match positions.
#
# Scale shape: ONE corpus tokenization, pruned to the union of phrase
# terms IMMEDIATELY (the s31 discipline — only the phrase words'
# positions ever shuffle) and cached; each phrase resolves as a chain of
# |phrase|-1 equi-joins on (doc_id, pos) between term-filtered branches
# of that cached relation — position-list-sized joins, never
# corpus-sized. Top-k per phrase via the two-phase bucketed rank
# (_rank_phrase_matches). At 100 TB the cached prune is the persisted
# positional-postings layout — BUILT as s43 below: s42 keeps the
# index-free one-shot plan, s43 serves the same phrases from the
# term-bucketed layout without re-tokenizing the corpus per query.

_S42_PHRASES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("pA", ("spark", "window")),
    ("pB", ("hash", "join")),
    ("pC", ("stream", "batch", "vector")),
)
_S42_K = 5

_S42_TERMS = sorted({w for _, ws in _S42_PHRASES for w in ws})


def _phrase_matches_sql(phrases: tuple[tuple[str, tuple[str, ...]], ...]) -> str:
    """DuckDB UNION ALL of per-(phrase, doc) exact-match counts over a
    ``pos`` (doc_id, tok, pos) relation: the oracle side of
    ``_phrase_match_counts``."""
    phrase_sqls = []
    for pid, words in phrases:
        joins = "\n    ".join(
            f"JOIN pos w{i} ON w{i}.doc_id = w0.doc_id"
            f" AND w{i}.pos = w0.pos + {i} AND w{i}.tok = '{w}'"
            for i, w in enumerate(words)
            if i > 0
        )
        phrase_sqls.append(
            f"""SELECT '{pid}' AS phrase_id, w0.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM pos w0
    {joins}
    WHERE w0.tok = '{words[0]}'
    GROUP BY w0.doc_id"""
        )
    return "\n  UNION ALL\n  ".join(phrase_sqls)


def _s42_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _S42_TERMS)
    union = _phrase_matches_sql(_S42_PHRASES)
    return f"""
WITH raw AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
         generate_subscripts(string_split(lower(text), ' '), 1) AS rawpos
  FROM documents
),
pos_all AS (
  SELECT doc_id, tok,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rawpos)
              AS BIGINT) AS pos
  FROM raw WHERE tok <> ''
),
pos AS (SELECT * FROM pos_all WHERE tok IN ({terms})),
matches AS (
  {union}
),
ranked AS (
  SELECT phrase_id, doc_id, n_matches,
         ROW_NUMBER() OVER (PARTITION BY phrase_id
                            ORDER BY n_matches DESC, doc_id) AS rnk
  FROM matches
)
SELECT phrase_id, CAST(rnk AS BIGINT) AS rnk, doc_id, n_matches
FROM ranked WHERE rnk <= {_S42_K}
ORDER BY phrase_id, rnk
"""


def _positional_tokens(docs: DataFrame) -> DataFrame:
    """(term, doc_id, pos): pos = 1-based index among a doc's non-empty
    tokens — the s42/oracle position rule (positions assigned AFTER
    dropping empty tokens). Empties are dropped inside the token array
    before ``posexplode``, so the position is the array index and no
    per-doc window (an exchange and a sort) is needed; the result equals
    the oracle's row_number over the raw split order."""
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    return docs.select(
        "doc_id", F.posexplode(toks).alias("_p0", "term")
    ).select("term", "doc_id", (F.col("_p0") + 1).cast("bigint").alias("pos"))


@register("s42_phrase_search", oracle=_s42_oracle())
def s42_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k docs per phrase by exact adjacent-match count (module
    comment): one pruned cached position relation, |phrase|-1 chained
    (doc_id, pos) equi-joins per phrase."""
    from dbt_osmosis_spark.operators.caching import keep_cached

    docs = spread(read_parquet(spark, f"{sf_dir}/documents.parquet"))
    pos = keep_cached(
        _positional_tokens(docs)
        .filter(F.col("term").isin(_S42_TERMS))
        .select("doc_id", "term", "pos")
    )
    return _rank_phrase_matches(_phrase_match_counts(pos, _S42_PHRASES), _S42_K)


def _phrase_match_counts(
    pos: DataFrame, phrases: tuple[tuple[str, tuple[str, ...]], ...]
) -> DataFrame:
    """Exact-phrase scorer: per-(phrase, doc) adjacent-match counts from a
    positional relation (doc_id, term, pos). Each phrase is a chain of
    |phrase|-1 (doc_id, pos) equi-joins between term-filtered branches,
    always position-list-sized, never corpus-sized."""
    per_phrase = []
    for pid, words in phrases:
        cur = pos.filter(F.col("term") == words[0]).select(
            "doc_id", F.col("pos").alias("p0")
        )
        for i, w in enumerate(words[1:], start=1):
            nxt = pos.filter(F.col("term") == w).select(
                F.col("doc_id").alias("d_"), F.col("pos").alias("p_")
            )
            cur = cur.join(
                nxt,
                (F.col("doc_id") == F.col("d_")) & (F.col("p_") == F.col("p0") + i),
            ).select("doc_id", "p0")
        per_phrase.append(
            cur.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_matches"))
            .select(F.lit(pid).alias("phrase_id"), "doc_id", "n_matches")
        )
    return reduce(DataFrame.unionByName, per_phrase)


def _proximity_match_counts(
    pos: DataFrame, queries: tuple[tuple[str, str, str, int], ...]
) -> DataFrame:
    """Proximity scorer: per-(query, doc) counts of ordered position pairs
    (p1, p2), w1 at p1 and w2 at p2, with 0 < p2 - p1 <= slop. One
    doc_id equi-join per query with the slop window as the join filter."""
    per_query = []
    for qid, w1, w2, slop in queries:
        a = pos.filter(F.col("term") == w1).select("doc_id", F.col("pos").alias("p1"))
        b = pos.filter(F.col("term") == w2).select(
            F.col("doc_id").alias("d_"), F.col("pos").alias("p2")
        )
        pairs = a.join(
            b,
            (F.col("doc_id") == F.col("d_"))
            & (F.col("p2") > F.col("p1"))
            & (F.col("p2") <= F.col("p1") + slop),
        )
        per_query.append(
            pairs.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_matches"))
            .select(F.lit(qid).alias("phrase_id"), "doc_id", "n_matches")
        )
    return reduce(DataFrame.unionByName, per_query)


def _sloppy_match_counts(
    pos: DataFrame, queries: tuple[tuple[str, tuple[str, ...], int], ...]
) -> DataFrame:
    """Sloppy-phrase scorer: per-(query, doc) distinct-anchor counts for
    ordered n-term phrases under a total slop budget. A chain of
    |phrase|-1 per-doc equi-joins, each carrying the ordering bound
    (p_i > p_{i-1}) and the cumulative-gap bound (p_i - p_1 - i <= slop;
    the prefix bound is implied by the final one but prunes chains
    early)."""
    per_query = []
    for qid, words, slop in queries:
        cur = pos.filter(F.col("term") == words[0]).select(
            "doc_id", F.col("pos").alias("p1"), F.col("pos").alias("plast")
        )
        for i, w in enumerate(words[1:], start=1):
            nxt = pos.filter(F.col("term") == w).select(
                F.col("doc_id").alias("d_"), F.col("pos").alias("p_")
            )
            cur = cur.join(
                nxt,
                (F.col("doc_id") == F.col("d_"))
                & (F.col("p_") > F.col("plast"))
                & (F.col("p_") - F.col("p1") - i <= slop),
            ).select("doc_id", "p1", F.col("p_").alias("plast"))
        per_query.append(
            cur.groupBy("doc_id")
            .agg(F.countDistinct("p1").cast("bigint").alias("n_matches"))
            .select(F.lit(qid).alias("phrase_id"), "doc_id", "n_matches")
        )
    return reduce(DataFrame.unionByName, per_query)


def _rank_phrase_matches(matches: DataFrame, k: int, key: str = "phrase_id") -> DataFrame:
    """Two-phase bucketed top-k per phrase by match count, with the id
    column renamed to ``key``. Phase 1 ranks within (phrase_id, doc-hash
    bucket) and keeps each bucket's top-k; phase 2 ranks that bounded
    set, so a common phrase's unbounded match relation is never one
    reducer's partition."""
    out = _topn_two_phase(matches, "n_matches", k, key="phrase_id").orderBy(
        "phrase_id", "rnk"
    )
    return out if key == "phrase_id" else out.withColumnRenamed("phrase_id", key)


def _empty_ranked(spark: SparkSession, key: str, metric: str) -> DataFrame:
    """The empty answer of a serve whose result is (key, rnk, doc_id, metric)."""
    return spark.createDataFrame(
        [], f"{key} string, rnk bigint, doc_id bigint, {metric} bigint"
    )


# ---------------------------------------------------------------------------
# s43: persisted positional-postings layout — phrase serve without
# re-tokenizing the corpus
# ---------------------------------------------------------------------------
# s42 proves the position-join plan but pays one corpus tokenization per
# query batch; its module comment named the fix and s43 builds it: the
# s34 build/serve split applied to POSITIONAL postings (Manning,
# Raghavan & Schütze, IIR ch. 2). The build is the one corpus-sized job
# (tokenize + per-doc position window + term-bucket-partitioned write of
# (term, doc_id, pos)); phrase serve then reads back ONLY the buckets
# the phrase terms hash into — static partition pruning, and each
# term-filtered join branch pushes its term equality to the parquet
# reader, so a branch reads exactly one term's position list. At 100 TB
# a phrase query costs |phrase terms' postings|, independent of corpus
# size — the gap between a demo and an index.
#
# The layout is a strict superset of s34's information (positions
# instead of pre-aggregated tf: tf = COUNT(*) per (term, doc)), which is
# why real engines (Lucene proximity, ES match_phrase) store positions
# once and derive frequencies — noted here for parity, not built twice.

def _s43_index_path(sf_dir: str) -> str:
    return _scratch_path(".postings_positional", sf_dir)


def write_positional_index(spark: SparkSession, docs: DataFrame, path: str) -> None:
    """Build + persist the positional layout: one tokenization into
    (term, doc_id, pos) rows, written partitioned by the md5 term bucket (the s34 rule, so serve-side
    probe planning hashes terms identically in Python).

    Also persists the doc-keyed doclen sidecar (dl = 0 for zero-token
    docs) and the one-row corpus stats, making the layout a COMPLETE
    index: BM25 serves from it too (s45 below), since tf/df are
    derivable from positions — store positions once, derive frequencies
    (the Lucene discipline). Positions come from ``_positional_tokens``
    (array-index positions, no per-doc window); doclen and stats are
    map-only token-array-size scans of ``docs``."""
    pos = (
        _positional_tokens(docs).withColumn("tbkt", F.expr(_S34_SPARK_TBKT))
    ).persist()
    try:
        # three disjoint-directory sinks, submitted concurrently
        run_sinks(
            lambda: (
                pos.repartition("tbkt")
                .write.partitionBy("tbkt")
                .mode("overwrite")
                .parquet(f"{path}/postings")
            ),
            lambda: _doc_dl(docs).write.mode("overwrite").parquet(f"{path}/doclen"),
            lambda: (
                _doc_dl_stats(docs)
                .selectExpr(
                    "n_docs",
                    "CAST(sum_dl AS DOUBLE) / n_docs AS avgdl",
                    "CAST(sum_dl AS BIGINT) AS c_tot",
                )
                .write.mode("overwrite")
                .parquet(f"{path}/stats")
            ),
        )
    finally:
        pos.unpersist()


def query_phrase_index(
    spark: SparkSession,
    path: str,
    phrases: tuple[tuple[str, tuple[str, ...]], ...],
    k: int,
) -> DataFrame:
    """Exact-phrase serve from the monolithic positional layout: the
    reader's bucket-pruned, term-pushed position scan, the phrase scorer
    and the two-phase rank."""
    pos = _index_read(spark, path, (w for _, ws in phrases for w in ws), _POS)[0]
    return _rank_phrase_matches(_phrase_match_counts(pos, phrases), k)


def _build_s43_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (idempotent overwrite) the corpus's monolithic positional
    layout shared by s43, s45, s46, s50 and s51; returns its path."""
    path = _s43_index_path(sf_dir)
    write_positional_index(
        spark, spread(read_parquet(spark, f"{sf_dir}/documents.parquet")), path
    )
    return path


@register("s43_phrase_index_serve", oracle=_s42_oracle())
def s43_phrase_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One positional-index BUILD (term-bucketed parquet, idempotent
    overwrite) + one phrase-batch SERVE reading back only the probed
    term buckets (module comment). The oracle is s42's: the index is a
    reorganized copy of the corpus positions, so serving from it must
    produce byte-identical phrase top-ks."""
    return query_phrase_index(spark, _build_s43_index(spark, sf_dir), _S42_PHRASES, _S42_K)


# ---------------------------------------------------------------------------
# s44: tiered segment compaction — write amplification bounded by DELTA
# size, not index size
# ---------------------------------------------------------------------------
# s41 rewrites the ENTIRE layout per compaction; at 100 TB that full
# rewrite is the dominant maintenance cost. Real LSM/Lucene discipline
# merges only the small tail of segments and leaves the big base
# untouched. s44 is that discipline as a layout:
#
#   seg-<id>/postings/tbkt=*   per-segment postings (term, doc_id, tf, dl)
#   seg-<id>/doclen            per-segment doc-keyed (doc_id, dl) sidecar
#   (seg dirs deliberately avoid key=value naming so Spark's partition
#   discovery never tries to unify them across multi-path reads)
#   stats/part=*               additive 1-row (n_docs, sum_dl) deltas
#                              (ingests positive, deletes negative)
#   deletes/delete=<k>         tombstone doc_id sets
#
# Compaction policy (size-tiered): merge every segment EXCEPT the
# largest into one new segment, dropping tombstoned rows as they pass
# through; tombstones referencing merged docs are retired (each doc
# lives wholly in ONE segment — the s36 invariant — so membership in
# the merged doc set is exact), tombstones referencing the untouched
# base survive as live-docs filters, exactly Lucene's per-segment
# deleted-docs bitmap. Stats are NOT touched: they are already net
# (ingest positives + delete negatives), and physically dropping rows
# whose stats were already subtracted changes nothing. Rewritten bytes
# therefore scale with the merged DELTA segments + tombstones — the
# test asserts base-file mtimes are untouched and new bytes << base.
#
# Serve (query_segmented_postings, also s36's and s39's): the segmented
# reader (termset-pruned, bucket-pruned segment union, tombstone
# anti-join, delta-merged stats) and the BM25 tail with df counted from
# the surviving postings. df-derivation (not baked df) is the right call
# for a multi-segment layout — a baked df is global state that every
# merge would invalidate; Lucene likewise recomputes corpus stats across
# live segments at search time. Compactions publish through a manifest
# (below), so a reader never sees a half-merged segment set.

def _s44_layout_path(sf_dir: str, op: str = "") -> str:
    return _scratch_path(".postings_tiered", sf_dir, op)


def _seg_id(seg: str) -> int:
    return int(seg.rsplit("-", 1)[1])


def _list_segments(path: str) -> list[str]:
    """Every ingested ``seg-`` directory on disk, in id order. Compaction
    outputs use the ``cseg-`` prefix and are never listed here: only a
    published manifest makes a compacted segment live. After a compaction
    the listing still holds the merged-away segments until
    ``vacuum_segments``; readers want ``_view(path).segments``."""
    import os as _os

    if not _os.path.isdir(path):
        return []
    return sorted(
        (
            d
            for d in _os.listdir(path)
            if d.startswith("seg-") and _os.path.isdir(_os.path.join(path, d, "postings"))
        ),
        key=_seg_id,
    )


def _dir_bytes(path: str) -> int:
    import os as _os

    total = 0
    for root, _dirs, files in _os.walk(path):
        for f in files:
            total += _os.path.getsize(_os.path.join(root, f))
    return total


# --- tombstones, stats deltas and manifests -----------------------------------
# A tombstone row (doc_id, gen) deletes the doc from every segment whose id
# is <= gen. A delete stamps gen = the highest live segment id; an upsert
# ingest tombstones the prior versions of its batch's docs at gen =
# seg_id - 1. A later re-ingest (a higher segment id) therefore serves the
# new version, and each doc has at most one live version.
#
# Tombstone partitions (deletes/delete=<v>) have three writers in disjoint
# id namespaces, so none overwrites another:
#   [0, 1e6)    user delete batches: v = delete_id
#   [1e6, 2e6)  upsert supersede sets: v = 1e6 + seg_id
#   [2e6, ...)  compaction survivor sets: v = 2e6 + manifest gen
# A value that a manifest retired or lists in ``live_deletes`` is never
# written again: the writer bumps it by whole ``_DELETE_EPOCH_NS`` epochs
# (a delete stream restarted with a fresh checkpoint reuses id 0).
#
# Stats are additive one-row (n_docs, sum_dl) deltas, one partition per
# write: ingest-<seg_id> (positive), delete-<v> and upsert-<v> (negative).
# A negative delta subtracts the latest LIVE version of each doc, read with
# the writer's own partition left out. A replay of the same batch id
# therefore re-lands the same delta, and a replay whose id was bumped past
# a compaction finds its docs already dead and lands a zero delta: each
# version is subtracted once.
#
# Each operation reads the manifest once (``_view``) and works from that
# one generation, so a compaction published mid-operation can never pair
# one generation's segment list with another's tombstone filter. Writers
# publish a generation by writing manifest-<G>.json and then renaming the
# _MANIFEST pointer (``_cut_manifest``). Pre-compaction segments and
# partitions stay on disk until ``vacuum_segments``, so a reader of any
# older generation still serves a consistent set.
_UPSERT_TOMB_NS = 1_000_000
_COMPACT_TOMB_NS = 2_000_000
_DELETE_EPOCH_NS = 10_000_000
# A tombstone relation whose live partitions hold at most this many bytes
# on disk is broadcast-hinted (32 MiB of parquet fits executor memory
# after decompression); a larger one is left to a shuffled anti-join.
_TOMB_BCAST_BYTES = 32 * 1024 * 1024
# Fewest live segments for which a serve runs the termset probe.
_TERMSET_PROBE_MIN_SEGS = 3


def _manifest_gen(path: str) -> int | None:
    import os as _os

    ptr = _os.path.join(path, "_MANIFEST")
    if not _os.path.isfile(ptr):
        return None
    with open(ptr) as fh:
        return int(fh.read().strip())


def _read_manifest(path: str, mgen: int | None = None) -> dict | None:
    import json as _json
    import os as _os

    g = mgen if mgen is not None else _manifest_gen(path)
    if g is None:
        return None
    with open(_os.path.join(path, f"manifest-{g}.json")) as fh:
        return _json.load(fh)


class _View(NamedTuple):
    """A segmented layout as one manifest generation serves it."""

    path: str
    gen: int  # the manifest generation read; 0 before the first publish
    segments: list[str]
    retired: list[int]  # delete partitions a compaction consolidated
    live_deletes: list[int] | None = None  # pinned: delete partitions at cut
    stats_parts: list[str] | None = None  # pinned: stats partitions at cut
    centroids: str | None = None  # a retrain's centroid artifact


def _view(path: str, mgen: int | None = None) -> _View:
    """Read the manifest once and describe the layout as that generation
    serves it. Pointer view (``mgen=None``): the current manifest's
    segments plus every ``seg-`` directory above its watermark (ingests
    after the cut); without a manifest, every ``seg-`` directory. Pinned
    view (``mgen=G``): exactly manifest G's segments, delete partitions
    and stats partitions, which stay on disk until ``vacuum_segments``."""
    import os as _os

    m = _read_manifest(path, mgen)
    if m is None:
        return _View(path, 0, _list_segments(path), [])
    segs = {s for s in m["segments"] if _os.path.isdir(_os.path.join(path, s, "postings"))}
    pinned = mgen is not None
    if not pinned:
        segs |= {s for s in _list_segments(path) if _seg_id(s) > m["seg_watermark"]}
    return _View(
        path,
        m["gen"],
        sorted(segs, key=_seg_id),
        list(m["retired_deletes"]),
        list(m["live_deletes"]) if pinned else None,
        list(m["stats_parts"]) if pinned else None,
        m.get("centroids"),
    )


def _live_segments(path: str, mgen: int | None = None) -> list[str]:
    """The segment list of ``_view(path, mgen)``."""
    return _view(path, mgen).segments


def _manifest_referenced_delete_parts(path: str) -> set[int]:
    """Delete-partition values listed in any published manifest's
    ``live_deletes``: a pinned snapshot's tombstone set is immutable."""
    import glob as _glob
    import json as _json
    import os as _os

    vals: set[int] = set()
    for p in _glob.glob(_os.path.join(path, "manifest-*.json")):
        try:
            with open(p) as fh:
                m = _json.load(fh)
        except (OSError, ValueError):
            continue
        vals.update(int(v) for v in (m.get("live_deletes") or []))
    return vals


def _delete_partition_value(view: _View, base_id: int) -> int:
    """Physical partition value for a writer's logical delete id:
    ``base_id`` bumped by whole epochs past every value the view retired
    and every value a published manifest's ``live_deletes`` lists. A
    partition written under an earlier epoch stays on disk as applied
    history."""
    protected = set(view.retired) | _manifest_referenced_delete_parts(view.path)
    v = base_id
    while v in protected:
        v += _DELETE_EPOCH_NS
    return v


def _live_delete_parts(view: _View) -> list[int]:
    """The delete partitions the view reads: a pinned view's
    ``live_deletes``, else the values on disk minus the retired ones."""
    import os as _os

    if view.live_deletes is not None:
        return list(view.live_deletes)
    if not _os.path.isdir(f"{view.path}/deletes"):
        return []
    on_disk = sorted(
        int(d.split("=")[1])
        for d in _os.listdir(f"{view.path}/deletes")
        if d.startswith("delete=")
    )
    retired = set(view.retired)
    return [p for p in on_disk if p not in retired]


def _live_tombstone_bytes(view: _View) -> int:
    """On-disk bytes of the delete partitions the view reads (no job)."""
    return sum(_dir_bytes(f"{view.path}/deletes/delete={v}") for v in _live_delete_parts(view))


def _scoped_tombstones(
    spark: SparkSession, view: _View, exclude_delete_id: int | None = None
) -> DataFrame:
    """The live (doc_id, gen) tombstone relation of the view: a pinned
    view's ``live_deletes`` partitions, else every partition the view did
    not retire (a retired partition's content lives on in its
    compaction's survivor partition). A replay-safe writer leaves its own
    partition out with ``exclude_delete_id``. The relation is
    broadcast-hinted while its partitions hold at most
    ``_TOMB_BCAST_BYTES`` on disk; a larger one gets a shuffled anti-join
    instead of an executor-sized broadcast."""
    import os as _os

    if not _os.path.isdir(f"{view.path}/deletes"):
        # an in-memory empty relation Spark cannot prove empty: without
        # the hint every segment branch plans a shuffled anti-join
        return F.broadcast(spark.createDataFrame([], "doc_id bigint, gen bigint"))
    t = read_layout(spark, view.path, "deletes")
    if view.live_deletes is not None:
        live = view.live_deletes
        t = t.filter(F.col("delete").isin(live) if live else F.lit(False))
    elif view.retired:
        t = t.filter(~F.col("delete").isin(view.retired))
    if exclude_delete_id is not None:
        t = t.filter(F.col("delete") != exclude_delete_id)
    out = t.select("doc_id", "gen")
    if _live_tombstone_bytes(view) <= _TOMB_BCAST_BYTES:
        out = F.broadcast(out)
    return out


def _stats_parts(path: str) -> list[str]:
    """Partition values under stats/ (e.g. ``ingest-0``, ``delete-3``)."""
    import os as _os

    if not _os.path.isdir(f"{path}/stats"):
        return []
    return sorted(
        d.split("=", 1)[1]
        for d in _os.listdir(f"{path}/stats")
        if d.startswith("part=")
    )


def _stats_agg(spark: SparkSession, view: _View) -> DataFrame:
    """One-row (n_docs, avgdl) summed from the view's stats deltas: every
    partition for the pointer view, the partitions recorded at cut time
    for a pinned one. An empty sum (a snapshot cut before any ingest, a
    fully deleted corpus) is n_docs = 0 with NULL avgdl, never NULL
    n_docs."""
    import os as _os

    if not _os.path.isdir(f"{view.path}/stats"):
        # never-ingested layout: zero docs, undefined avgdl
        return spark.createDataFrame([(0, None)], "n_docs bigint, avgdl double")
    rel = read_layout(spark, view.path, "stats")
    if view.stats_parts is not None:
        parts = view.stats_parts
        rel = rel.filter(F.col("part").isin(parts) if parts else F.lit(False))
    return rel.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("sum_dl"), F.lit(0)).cast("bigint").alias("sum_dl"),
    ).selectExpr(
        "n_docs",
        "CASE WHEN n_docs > 0 THEN CAST(sum_dl AS DOUBLE) / n_docs END AS avgdl",
    )


def _read_segments_tagged(
    spark: SparkSession, path: str, segs: list[str], sub: str
) -> DataFrame:
    """Union per-segment reads tagged with the segment's generation
    (seg_gen = segment id). Per-root reads + unionByName keep per-branch
    partition pruning and filter pushdown intact (Spark refuses
    multi-root reads of tbkt-partitioned dirs: CONFLICTING_DIRECTORY_
    STRUCTURES)."""
    return reduce(
        DataFrame.unionByName,
        (
            read_layout(spark, path, f"{s}/{sub}").withColumn(
                "seg_gen", F.lit(_seg_id(s)).cast("bigint")
            )
            for s in segs
        ),
    )


def _segments_with_terms(
    spark: SparkSession, path: str, segs: list[str], terms: list[str]
) -> list[str]:
    """Termset-sidecar segment pruning (the Lucene term-dictionary skip
    at segment granularity): drop every segment whose tiny ``termset``
    sidecar proves it contains NONE of the query terms, so the serve
    never lists that segment's posting files. The check reads only the
    vocabulary-sized sidecars and collects one row per hit segment.
    Segments without a sidecar are always kept: pruning is an
    optimization, never a correctness dependency. Exactness: a pruned
    segment contributes no tf rows for any query term, so its docs are
    never candidates, and dropping its doclen rows is harmless because
    dl joins candidates on doc_id (inner).

    The probe is one scheduling round trip plus a sidecar scan, so it
    runs only with at least ``_TERMSET_PROBE_MIN_SEGS`` live segments:
    below that it could save at most one or two segment listings, less
    than its own cost. Skipping it is always correct."""
    import os as _os

    if not terms or len(segs) < _TERMSET_PROBE_MIN_SEGS:
        return segs
    keep = [s for s in segs if not _os.path.isdir(_os.path.join(path, s, "termset"))]
    check = [s for s in segs if s not in keep]
    if not check:
        return segs
    hits = {
        r[0]
        for r in (
            _read_segments_tagged(spark, path, check, "termset")
            .filter(F.col("term").isin(sorted(terms)))
            .select("seg_gen")
            .distinct()
            .collect()
        )
    }
    keep += [s for s in check if _seg_id(s) in hits]
    return sorted(keep, key=_seg_id)


def _apply_scoped_tombstones(rel: DataFrame, tombs: DataFrame) -> DataFrame:
    """Drop rows whose (doc_id, seg_gen) is covered by a tombstone
    (doc_id, gen >= seg_gen). Hash anti-join on doc_id with the
    generation bound as a join filter — never a nested loop; duplicate
    tombstones are harmless (anti-join is duplicate-insensitive). The
    join strategy follows the hint _scoped_tombstones attaches."""
    t = tombs.select(F.col("doc_id").alias("_t_doc"), F.col("gen").alias("_t_gen"))
    return rel.join(
        t,
        (F.col("doc_id") == F.col("_t_doc")) & (F.col("seg_gen") <= F.col("_t_gen")),
        "left_anti",
    )


# --- the two layout readers ---------------------------------------------------
_POS = ("doc_id", "term", "pos")  # the positional scorers' input columns


def _term_pruned(postings: DataFrame, terms: list[str]) -> DataFrame:
    """The postings rows of ``terms`` only: the md5 term-bucket filter
    prunes partitions statically, the term IN-list is pushed to the
    parquet reader."""
    probes = sorted({_s34_tbkt_py(t) for t in terms})
    return postings.filter(F.col("tbkt").isin(probes)).filter(F.col("term").isin(terms))


def _index_read(
    spark: SparkSession,
    path: str,
    terms: Iterable[str],
    cols: tuple[str, ...] | None = None,
    *,
    doclen: bool = False,
    stats: bool = False,
) -> tuple[DataFrame, DataFrame | None, DataFrame | None]:
    """The monolithic layout's reader: (postings, doclen, stats). The
    postings scan is term-pruned to ``terms`` and projected to ``cols``
    when given; doclen and the one-row stats are read only when the
    scorer asks for them (None otherwise)."""
    terms = sorted(set(terms))
    postings = _term_pruned(read_layout(spark, path, "postings"), terms)
    return (
        postings.select(*cols) if cols else postings,
        read_layout(spark, path, "doclen") if doclen else None,
        read_layout(spark, path, "stats") if stats else None,
    )


def _segmented_read(
    spark: SparkSession,
    view: _View,
    terms: Iterable[str],
    cols: tuple[str, ...] | None = None,
    *,
    doclen: bool = False,
    stats: bool = False,
) -> tuple[DataFrame, DataFrame | None, DataFrame | None] | None:
    """The segmented layout's reader: (postings, doclen, stats) of
    ``view``, or None when no segment can hold a query term (a
    never-ingested layout, or every segment termset-pruned).

    Segments are the view's list, termset-pruned to ``terms``. Postings are the tagged
    per-segment scans, term-pruned, minus every row a scoped tombstone
    covers, projected to ``cols`` (else all columns but ``seg_gen``).
    doclen (doc_id, dl) passes the same tombstone relation, so tf and dl
    both come from live versions only; stats are the delta-merged
    (n_docs, avgdl) of the same view. doclen and stats are read only
    when the scorer asks for them (None otherwise)."""
    terms = sorted(set(terms))
    segs = _segments_with_terms(spark, view.path, view.segments, terms)
    if not segs:
        return None
    agg = _stats_agg(spark, view) if stats else None
    tombs = _scoped_tombstones(spark, view)
    postings = _apply_scoped_tombstones(
        _term_pruned(_read_segments_tagged(spark, view.path, segs, "postings"), terms), tombs
    )
    dl = (
        _apply_scoped_tombstones(
            _read_segments_tagged(spark, view.path, segs, "doclen"), tombs
        ).select("doc_id", "dl")
        if doclen
        else None
    )
    return (postings.select(*cols) if cols else postings.drop("seg_gen")), dl, agg


def _has_parquet_files(d: str) -> bool:
    """True iff the directory tree contains at least one parquet data
    file — a pure os.walk, no Spark job."""
    import os as _os

    for _root, _dirs, files in _os.walk(d):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _write_bucketed(spark: SparkSession, rel: DataFrame, out: str) -> None:
    """Bucket-partitioned postings write that always leaves a readable
    directory: a ``partitionBy`` write of an empty relation lands no
    parquet file, and a later read of the directory would fail schema
    inference. In that case a schema-carrying empty flat file is written,
    with ``tbkt`` cast to the int that partition discovery infers, so
    per-segment reads see one schema either way."""
    rel.repartition("tbkt").write.partitionBy("tbkt").mode("overwrite").parquet(out)
    if not _has_parquet_files(out):
        (
            spark.createDataFrame([], rel.schema)
            .withColumn("tbkt", F.col("tbkt").cast("int"))
            .write.mode("overwrite")
            .parquet(out)
        )


def _segment_sinks(
    spark: SparkSession, seg_dir: str, postings: DataFrame, doclen: DataFrame
) -> list:
    """The sink thunks of one immutable segment under ``seg_dir``: the
    ``tbkt``-bucketed ``postings``, the termset sidecar of its distinct
    terms (lexical postings only; sidecar-less segments are never pruned)
    and the doc-keyed ``doclen`` (doc_id, dl). Every segment writer
    (the ingests, compaction, retrain) submits them with its other sinks."""
    sinks = [lambda: _write_bucketed(spark, postings, f"{seg_dir}/postings")]
    if "term" in postings.columns:
        sinks.append(
            lambda: postings.select("term")
            .distinct()
            .write.mode("overwrite")
            .parquet(f"{seg_dir}/termset")
        )
    sinks.append(lambda: doclen.write.mode("overwrite").parquet(f"{seg_dir}/doclen"))
    return sinks


def _tombstone_sinks(
    spark: SparkSession,
    view: _View,
    base_id: int,
    ids: DataFrame,
    gen: int,
    prior_dl: DataFrame | None,
    kind: str,
) -> list:
    """The two sink thunks of one tombstone batch with logical delete id
    ``base_id``, written under its physical partition value ``part``:
    ``ids`` stamped with ``gen`` into deletes/delete=<part>, and the
    negative (n_docs, sum_dl) delta of the latest live version of each
    doc in ``prior_dl`` (seg_gen-tagged doclen rows; None when no segment
    exists) into the ``<kind>-<part>`` stats partition. Liveness is read
    with ``part`` itself left out (the replay rule above), so the two
    sinks are independent and run concurrently. (doc_id, seg_gen) is
    unique, so ``max_by`` picks one version per doc."""
    part = _delete_partition_value(view, base_id)
    if prior_dl is None:
        latest = spark.createDataFrame([], "doc_id bigint, dl bigint")
    else:
        latest = (
            _apply_scoped_tombstones(
                prior_dl, _scoped_tombstones(spark, view, exclude_delete_id=part)
            )
            .groupBy("doc_id")
            .agg(F.expr("max_by(dl, seg_gen)").alias("dl"))
        )
    return [
        lambda: (
            ids.withColumn("gen", F.lit(gen).cast("bigint"))
            .write.mode("overwrite")
            .parquet(f"{view.path}/deletes/delete={part}")
        ),
        lambda: (
            latest.agg(
                (-F.count(F.lit(1))).cast("bigint").alias("n_docs"),
                (-F.coalesce(F.sum("dl"), F.lit(0))).cast("bigint").alias("sum_dl"),
            )
            .write.mode("overwrite")
            .parquet(f"{view.path}/stats/part={kind}-{part}")
        ),
    ]


def _upsert_supersede_sinks(
    spark: SparkSession, docs_batch: DataFrame, view: _View, seg_id: int
) -> tuple[list, object]:
    """The tombstone sinks that supersede every prior version of the
    batch's docs at gen = seg_id - 1, built but not run, so an ingest
    submits them with its segment sinks. Returns ``(sinks, cleanup)``;
    cleanup releases the persisted prior doclen rows after the sinks ran.
    Only segments below ``seg_id`` can hold a prior version, and they are
    immutable, so a replay of the same ``seg_id`` rewrites the same
    partitions. A layout with no lower segment gets no sinks."""
    prior_segs = [s for s in view.segments if _seg_id(s) < seg_id]
    if not prior_segs:
        return [], (lambda: None)
    prior_dl = (
        _read_segments_tagged(spark, view.path, prior_segs, "doclen")
        .join(docs_batch.select("doc_id").distinct(), "doc_id", "left_semi")
        .persist()
    )
    sinks = _tombstone_sinks(
        spark, view, _UPSERT_TOMB_NS + seg_id, prior_dl.select("doc_id").distinct(),
        seg_id - 1, prior_dl, "upsert",
    )
    return sinks, prior_dl.unpersist


def _ingest(
    spark: SparkSession,
    docs_batch: DataFrame,
    path: str,
    seg_id: int,
    upsert: bool,
    postings: DataFrame,
    doclen: DataFrame,
    stats: DataFrame,
) -> None:
    """Land one batch as segment ``seg-<seg_id>``: its segment sinks, the
    one-row positive ``stats`` delta in the ``ingest-<seg_id>`` stats
    partition and, with ``upsert``, the supersede sinks, all submitted in
    one run_sinks (they write disjoint directories, and every input is
    built first). Idempotent per ``seg_id``: a replay overwrites the same
    content."""
    sup_sinks, sup_cleanup = (
        _upsert_supersede_sinks(spark, docs_batch, _view(path), seg_id)
        if upsert
        else ([], lambda: None)
    )
    try:
        run_sinks(
            *_segment_sinks(spark, f"{path}/seg-{seg_id}", postings, doclen),
            lambda: stats.write.mode("overwrite").parquet(
                f"{path}/stats/part=ingest-{seg_id}"
            ),
            *sup_sinks,
        )
    finally:
        sup_cleanup()


def ingest_segment(
    spark: SparkSession, docs_batch: DataFrame, path: str, seg_id: int,
    upsert: bool = True,
) -> None:
    """Write one document batch as its own immutable bag-of-words segment
    (postings with tf and dl, termset, doclen) plus its stats delta. One
    map-side tokenize, persisted for the ingest, feeds the postings and
    the termset. With ``upsert`` (default), prior versions of the batch's
    docs are superseded, so re-ingesting a revised document serves the
    revision."""
    tf = _doc_tf(docs_batch).persist()
    try:
        _ingest(
            spark, docs_batch, path, seg_id, upsert,
            tf.withColumn("tbkt", F.expr(_S34_SPARK_TBKT))
            .select("term", "doc_id", "tf", "dl", "tbkt"),
            _doc_dl(docs_batch),
            _doc_dl_stats(docs_batch),
        )
    finally:
        tf.unpersist()


def delete_segmented(
    spark: SparkSession, path: str, doc_ids: DataFrame, delete_id: int
) -> None:
    """Tombstone batch ``delete_id`` against the segmented layout, stamped
    with gen = the highest live segment id: it kills every current version
    of the docs, and a later re-ingest serves again. The stats delta
    subtracts the latest live version of each doc, read from the doclen
    sidecars, so a double delete, or a delete of a never-ingested doc,
    subtracts zero. On a layout with no segment the tombstone gets gen -1
    and kills nothing."""
    assert 0 <= delete_id < _UPSERT_TOMB_NS, (
        f"user delete ids live in [0, {_UPSERT_TOMB_NS}); {delete_id} would "
        "collide with the upsert/compaction tombstone namespaces"
    )
    view = _view(path)
    ids = doc_ids.select("doc_id").distinct()
    mine = (
        _read_segments_tagged(spark, path, view.segments, "doclen").join(
            F.broadcast(ids), "doc_id", "left_semi"
        )
        if view.segments
        else None
    )
    run_sinks(
        *_tombstone_sinks(
            spark,
            view,
            delete_id,
            ids,
            max((_seg_id(s) for s in view.segments), default=-1),
            mine,
            "delete",
        )
    )


def compact_segments(spark: SparkSession, path: str) -> dict[str, int]:
    """Size-tiered merge: fold every live segment except the largest into
    one new segment, dropping the rows a tombstone covers, and consolidate
    the live tombstone partitions into one survivor partition holding only
    the tombstones of docs still in a kept segment. The base segment's
    files are not touched. The merged segment takes the highest merged
    id as its generation (its rows are all live, so they stay exactly as
    killable) and is named ``cseg-<G>-<id>``, unlisted until manifest G
    publishes it. Stats are already net and are not touched. Returns
    {merged, new_seg, manifest}."""
    import os as _os

    view = _view(path)
    segs = view.segments
    if len(segs) < 2:
        return {"merged": 0, "new_seg": -1, "manifest": view.gen}
    sizes = {s: _dir_bytes(_os.path.join(path, s)) for s in segs}
    base = max(sizes, key=lambda s: (sizes[s], s))
    merge = [s for s in segs if s != base]
    new_mgen = view.gen + 1
    new_seg = f"cseg-{new_mgen}-{max(_seg_id(s) for s in merge)}"

    tombs = _scoped_tombstones(spark, view)
    postings = _read_segments_tagged(spark, path, merge, "postings")
    doclen = _read_segments_tagged(spark, path, merge, "doclen")
    # the posting columns pass through whatever the layout is; the merged
    # doclen feeds its own sink and the survivor probe, so it is persisted
    merged_postings = _apply_scoped_tombstones(postings, tombs).drop("seg_gen")
    merged_doclen = (
        _apply_scoped_tombstones(doclen, tombs).drop("seg_gen").persist()
    )
    retired = sorted(set(_live_delete_parts(view)) | set(view.retired))
    sinks = _segment_sinks(spark, f"{path}/{new_seg}", merged_postings, merged_doclen)
    survivor_part = _COMPACT_TOMB_NS + new_mgen
    live_deletes: list[int] = []
    if _os.path.isdir(f"{path}/deletes"):
        # survivors: tombstones of docs still in the base or the merged
        # segment, probed against doc-sized doclen rows
        kept_docs = (
            _read_segments_tagged(spark, path, [base], "doclen")
            .select("doc_id")
            .unionByName(merged_doclen.select("doc_id"))
        )
        survivors = tombs.join(kept_docs, "doc_id", "left_semi")
        live_deletes = [survivor_part]
        sinks.append(
            lambda: survivors.write.mode("overwrite").parquet(
                f"{path}/deletes/delete={survivor_part}"
            )
        )
    try:
        run_sinks(*sinks)
    finally:
        merged_doclen.unpersist()
    _cut_manifest(view, [base, new_seg], retired, live_deletes)
    return {"merged": len(merge), "new_seg": new_seg, "manifest": new_mgen}


def _cut_manifest(
    view: _View,
    segments: list[str],
    retired: list[int],
    live_deletes: list[int],
    centroids: str | None = None,
) -> int:
    """Publish generation ``view.gen + 1`` with the given segment list,
    retired and live delete partitions, the stats partitions on disk now
    and a watermark at the view's highest segment id (later ``seg-``
    ingests lie above it). The view's centroid pointer is carried unless
    ``centroids`` replaces it. Returns the new generation."""
    manifest = {
        "gen": view.gen + 1,
        "segments": segments,
        "seg_watermark": max((_seg_id(s) for s in view.segments), default=-1),
        "retired_deletes": retired,
        "live_deletes": live_deletes,
        "stats_parts": _stats_parts(view.path),
    }
    if centroids or view.centroids:
        manifest["centroids"] = centroids or view.centroids
    _publish_manifest(view.path, manifest)
    return manifest["gen"]


def _publish_manifest(path: str, manifest: dict) -> None:
    """Write manifest-<gen>.json, then flip the _MANIFEST pointer — the
    one atomic publish step (os.replace on the same filesystem)."""
    import json as _json
    import os as _os

    g = manifest["gen"]
    with open(f"{path}/manifest-{g}.json", "w") as fh:
        _json.dump(manifest, fh)
    tmp = f"{path}/_MANIFEST.tmp"
    with open(tmp, "w") as fh:
        fh.write(str(g))
    _os.replace(tmp, f"{path}/_MANIFEST")


def checkpoint_manifest(path: str) -> int:
    """Cut a named snapshot of the layout without compacting: the live
    segments, delete partitions and stats partitions at cut time. A serve
    pinned to it (``mgen=``) reproduces this state after later ingests,
    deletes and compactions, until ``vacuum_segments`` reclaims what a
    newer manifest no longer references. A never-ingested layout
    checkpoints as an empty snapshot. Returns the new generation."""
    import os as _os

    _os.makedirs(path, exist_ok=True)
    view = _view(path)
    return _cut_manifest(view, view.segments, view.retired, _live_delete_parts(view))


def vacuum_segments(path: str) -> dict[str, int]:
    """Reclaim everything the current manifest no longer references:
    merged-away segments (id <= watermark and not in the live list),
    retired delete partitions, superseded manifest files and centroid
    artifacts. Stats partitions are net-additive history and are never
    touched. Safe whenever no reader is pinned to an older generation."""
    import os as _os
    import shutil as _sh

    m = _read_manifest(path)
    if m is None:
        return {"removed_segments": 0, "removed_delete_parts": 0}
    live = set(m["segments"])
    removed_s = 0
    for s in _os.listdir(path):
        if not (s.startswith("seg-") or s.startswith("cseg-")):
            continue
        if not _os.path.isdir(_os.path.join(path, s, "postings")):
            continue
        if s not in live and _seg_id(s) <= m["seg_watermark"]:
            _sh.rmtree(_os.path.join(path, s))
            removed_s += 1
    removed_d = 0
    for part in m["retired_deletes"]:
        d = f"{path}/deletes/delete={part}"
        if _os.path.isdir(d):
            _sh.rmtree(d)
            removed_d += 1
    for f in _os.listdir(path):
        if f.startswith("manifest-") and f.endswith(".json"):
            if int(f[len("manifest-") : -len(".json")]) < m["gen"]:
                _os.remove(_os.path.join(path, f))
    # retrained centroid artifacts the current manifest no longer points
    # at (the bare centroids/ fallback is never reclaimed — manifests
    # without a pointer resolve to it)
    for d in _os.listdir(path):
        if d.startswith("centroids-g") and d != m.get("centroids"):
            _sh.rmtree(_os.path.join(path, d))
    return {"removed_segments": removed_s, "removed_delete_parts": removed_d}


def _ingest_slices(
    spark: SparkSession, ingest, docs: DataFrame, path: str, *slices: str
) -> None:
    """Rebuild ``path`` from disjoint doc slices (SQL predicates over
    ``docs``): slice i becomes segment i via ``ingest``
    (``ingest_segment`` or ``ingest_positional_segment``). Disjoint slices
    hold no prior version of any doc, so the upsert pass is skipped, and
    the ingests write disjoint segment dirs and stats partitions, so they
    are submitted concurrently."""
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    run_sinks(
        *(
            lambda i=i, cond=cond: ingest(spark, docs.filter(cond), path, i, upsert=False)
            for i, cond in enumerate(slices)
        )
    )


# base segment (80% of docs) + two delta segments
_BASE_AND_DELTAS = ("doc_id % 10 < 8", "doc_id % 10 = 8", "doc_id % 10 = 9")


def query_segmented_postings(
    spark: SparkSession, path: str, query_terms: tuple[tuple[str, str], ...], k: int = _K,
    mgen: int | None = None,
) -> DataFrame:
    """BM25 serve from the segmented bag-of-words layout: the segmented
    reader's live postings (tf and dl in the rows) and delta-merged
    stats, scored by the BM25 tail with df counted from the surviving
    postings. ``mgen`` pins the serve to a manifest generation."""
    read = _segmented_read(spark, _view(path, mgen), (t for _, t in query_terms), stats=True)
    if read is None:
        return _empty_ranked(spark, "query_id", "score_micros")
    postings, _, stats = read
    qterms = spark.createDataFrame(list(query_terms), "query_id string, term string")
    return _bm25_tail(postings, qterms, stats, k)


@register("s44_tiered_compaction", oracle=_S39_ORACLE)
def s44_tiered_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full tiered lifecycle: one big base segment (80% of docs) + two
    small delta segments, one tombstone batch (doc_id % 7 == 3), one
    size-tiered compaction (merges ONLY the two deltas — the base's
    files stay byte-untouched, asserted in tests), then a serve over
    (base + compacted segment). Oracle is s39's: the corpus minus the
    deleted docs."""
    docs = spread(read_parquet(spark, f"{sf_dir}/documents.parquet"))
    path = _s44_layout_path(sf_dir)
    _ingest_slices(spark, ingest_segment, docs, path, *_BASE_AND_DELTAS)
    delete_segmented(
        spark,
        path,
        docs.filter(F.col("doc_id") % _S39_MOD == _S39_REM).select("doc_id"),
        0,
    )
    compact_segments(spark, path)
    return query_segmented_postings(spark, path, _QUERY_TERMS)


# ---------------------------------------------------------------------------
# s45: unified index serve — BM25 from the POSITIONAL layout
# ---------------------------------------------------------------------------
# Real engines (Lucene proximity, ES match_phrase) store positions ONCE
# and derive frequencies, instead of maintaining a bag-of-words index
# (s34) and a positional index (s43) side by side. s45 serves BM25 from
# the positional layout with results byte-identical to s31/s34 — tf =
# COUNT(*) of a (term, doc)'s positions in the pruned buckets, df = COUNT
# of (term, doc) groups, dl from the layout's doc-keyed doclen sidecar,
# stats from its one-row corpus stats. One persisted artifact answers
# every query class.
#
# Scale shape: the scan is the same bucket-pruned, term-pushed read as
# s43 (|query terms' position lists|, corpus-independent); tf/df are
# local aggregates of that pruned relation; the one doc-keyed cost is
# the dl join — doclen is doc-sized (far smaller than postings) and the
# join keys on candidate docs only, left to AQE to broadcast-or-shuffle
# by the actual candidate volume.

@register("s45_unified_index_serve", oracle=_S31_ORACLE)
def s45_unified_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One positional-index build + one BM25 serve FROM THE POSITIONS
    (module comment): the s31 query batch, scored from position counts,
    must hash-match the s31/s34 bag-of-words answer exactly."""
    return query_bm25_from_positional(spark, _build_s43_index(spark, sf_dir), _QUERY_TERMS)


def _position_tf(pos: DataFrame) -> DataFrame:
    """(term, doc_id, tf): tf = the count of a (term, doc)'s positions."""
    return pos.groupBy("term", "doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))


def query_bm25_from_positional(
    spark: SparkSession, path: str, query_terms: tuple[tuple[str, str], ...], k: int = _K
) -> DataFrame:
    """BM25 serve from the monolithic positional layout: the reader's
    pruned position scan, doclen and stats row; tf counted from the
    positions, then the BM25 tail (df from the tf groups, dl joined)."""
    qterms = spark.createDataFrame(list(query_terms), "query_id string, term string")
    pos, dl, stats = _index_read(
        spark, path, (t for _, t in query_terms), doclen=True, stats=True
    )
    return _bm25_tail(_position_tf(pos), qterms, stats, k, dl=dl)


# ---------------------------------------------------------------------------
# s46: proximity search (sloppy phrase) — ordered within-k pairs over
# the positional layout
# ---------------------------------------------------------------------------
# The third positional query class (IIR ch. 2 / Lucene's sloppy
# PhraseQuery): "w1 then w2, at most `slop` positions apart" — exact
# adjacency (s42/s43) is slop = 1. A doc scores the exact COUNT of
# ordered position pairs (p1, p2) with w1 at p1, w2 at p2, and
# 0 < p2 - p1 <= slop. Served from the SAME persisted positional layout
# as s43/s45: the scan reads only the probed term buckets, each branch
# pushes its term equality to the reader, and the pair join is an
# equi-join on doc_id with the slop window as a post-filter — always
# position-list-sized, never corpus-sized. Two-phase rank as everywhere.

_S46_QUERIES: tuple[tuple[str, str, str, int], ...] = (
    ("nA", "spark", "window", 3),
    ("nB", "hash", "join", 2),
    ("nC", "stream", "vector", 4),
)
_S46_K = 5


def _s46_oracle() -> str:
    terms = ", ".join(f"'{t}'" for q in _S46_QUERIES for t in (q[1], q[2]))
    branches = "\n  UNION ALL\n  ".join(
        f"""SELECT '{qid}' AS prox_id, a.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM pos a JOIN pos b ON b.doc_id = a.doc_id
     AND b.pos > a.pos AND b.pos <= a.pos + {slop}
    WHERE a.tok = '{w1}' AND b.tok = '{w2}'
    GROUP BY a.doc_id"""
        for qid, w1, w2, slop in _S46_QUERIES
    )
    return f"""
WITH raw AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
         generate_subscripts(string_split(lower(text), ' '), 1) AS rawpos
  FROM documents
),
pos_all AS (
  SELECT doc_id, tok,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rawpos)
              AS BIGINT) AS pos
  FROM raw WHERE tok <> ''
),
pos AS (SELECT * FROM pos_all WHERE tok IN ({terms})),
matches AS (
  {branches}
),
ranked AS (
  SELECT prox_id, doc_id, n_matches,
         ROW_NUMBER() OVER (PARTITION BY prox_id
                            ORDER BY n_matches DESC, doc_id) AS rnk
  FROM matches
)
SELECT prox_id, CAST(rnk AS BIGINT) AS rnk, doc_id, n_matches
FROM ranked WHERE rnk <= {_S46_K}
ORDER BY prox_id, rnk
"""


def query_proximity_index(
    spark: SparkSession,
    path: str,
    queries: tuple[tuple[str, str, str, int], ...],
    k: int,
) -> DataFrame:
    """Proximity serve from the monolithic positional layout: the
    reader's pruned position scan, the proximity scorer, two-phase
    rank."""
    pos = _index_read(spark, path, (t for q in queries for t in q[1:3]), _POS)[0]
    return _rank_phrase_matches(_proximity_match_counts(pos, queries), k, "prox_id")


@register("s46_proximity_search", oracle=_s46_oracle())
def s46_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index build (idempotent, shared with s43/s45) + one
    proximity-query serve (module comment)."""
    return query_proximity_index(spark, _build_s43_index(spark, sf_dir), _S46_QUERIES, _S46_K)


# ---------------------------------------------------------------------------
# s47: maintainable positional index — segment ingest + tombstone delete
# + phrase serve on the UNIFIED layout
# ---------------------------------------------------------------------------
# s43/s45/s46 prove the positional layout answers every query class; s47
# proves it is MAINTAINABLE: the s44 segment discipline applied to
# positions. Immutable per-segment positional postings (term, doc_id,
# pos) + per-segment doclen + additive stats deltas + global tombstones;
# phrase serve = the segmented reader feeding the s43 phrase scorer.
# Results must equal a from-scratch positional build over the live
# corpus (the oracle computes exactly that), no matter how the index was
# assembled — the same contract every maintained layout in this repo
# carries. Positions are per-document, so segment boundaries never
# affect them (each doc lives wholly in one segment).

_S47_MOD = 7  # delete set: doc_id % 7 == 2 (disjoint from phrase anchors)
_S47_REM = 2

_S47_ORACLE = _s42_oracle().replace(
    """WITH raw AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
         generate_subscripts(string_split(lower(text), ' '), 1) AS rawpos
  FROM documents
),""",
    f"""WITH live AS (
  SELECT * FROM documents WHERE doc_id % {_S47_MOD} <> {_S47_REM}
),
raw AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
         generate_subscripts(string_split(lower(text), ' '), 1) AS rawpos
  FROM live
),""",
)
assert "FROM live" in _S47_ORACLE  # the template replace must hit


def _s47_layout_path(sf_dir: str, op: str = "") -> str:
    return _scratch_path(".positional_tiered", sf_dir, op)


def ingest_positional_segment(
    spark: SparkSession, docs_batch: DataFrame, path: str, seg_id: int,
    upsert: bool = True,
) -> None:
    """One document batch as an immutable positional segment: postings
    (term, doc_id, pos) bucket-partitioned, termset, doclen, plus its
    stats delta. Positions are per document, so they do not depend on
    the segment. With ``upsert`` (default), prior versions of the batch's
    docs are superseded: re-ingesting a revised document serves the
    revision, also after a delete. The position relation is not cached:
    only the postings write and the vocabulary-sized termset read it."""
    pos = _positional_tokens(docs_batch).withColumn("tbkt", F.expr(_S34_SPARK_TBKT))
    _ingest(
        spark, docs_batch, path, seg_id, upsert, pos, _doc_dl(docs_batch),
        _doc_dl_stats(docs_batch),
    )


def query_phrase_segmented(
    spark: SparkSession,
    path: str,
    phrases: tuple[tuple[str, tuple[str, ...]], ...],
    k: int,
    mgen: int | None = None,
) -> DataFrame:
    """Exact-phrase serve over the segmented positional layout: the
    segmented reader's live positions, the phrase scorer, two-phase
    rank. ``mgen`` pins the serve to a manifest snapshot."""
    read = _segmented_read(spark, _view(path, mgen), (w for _, ws in phrases for w in ws), _POS)
    if read is None:
        return _empty_ranked(spark, "phrase_id", "n_matches")
    return _rank_phrase_matches(_phrase_match_counts(read[0], phrases), k)


def _build_s47_layout(spark: SparkSession, sf_dir: str, op: str = "") -> str:
    """The s47 lifecycle layout: a base segment (80% of docs) + two delta
    segments, then one tombstone batch (doc_id % 7 == 2); returns its
    path."""
    docs = spread(read_parquet(spark, f"{sf_dir}/documents.parquet"))
    path = _s47_layout_path(sf_dir, op)
    _ingest_slices(spark, ingest_positional_segment, docs, path, *_BASE_AND_DELTAS)
    delete_segmented(
        spark,
        path,
        docs.filter(F.col("doc_id") % _S47_MOD == _S47_REM).select("doc_id"),
        0,
    )
    return path


@register("s47_positional_lifecycle", oracle=_S47_ORACLE)
def s47_positional_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full lifecycle on the unified positional layout (the s47 layout,
    deleted via the layout-generic delete_segmented — the doclen sidecars
    make it layout-agnostic), then a phrase serve that must equal a
    from-scratch positional build over the live corpus."""
    return query_phrase_segmented(spark, _build_s47_layout(spark, sf_dir), _S42_PHRASES, _S42_K)


# ---------------------------------------------------------------------------
# s48: BM25 on the MAINTAINED positional index
# ---------------------------------------------------------------------------
# s45 serves BM25 from the monolithic positional layout; s47 serves
# phrases from the maintained (segmented + tombstoned) one. s48 serves
# BM25 ranked search over the segmented positional layout with live
# deletes. Plan: the segmented reader's live positions (the tombstone
# anti-join runs BEFORE tf aggregation — a deleted doc's positions must
# not count) and live doclen; tf = COUNT(positions) per (term, doc),
# df = COUNT of surviving (term, doc) groups, stats delta-merged (ingest
# positives + delete negatives). Results are byte-identical to s31 over
# the live corpus — the oracle computes exactly that.

_S48_ORACLE = _S39_ORACLE.replace(
    f"doc_id % {_S39_MOD} <> {_S39_REM}", f"doc_id % {_S47_MOD} <> {_S47_REM}"
)


def query_bm25_segmented(
    spark: SparkSession, path: str, query_terms: tuple[tuple[str, str], ...], k: int = _K,
    mgen: int | None = None,
) -> DataFrame:
    """BM25 serve from the segmented positional layout: the segmented
    reader's live positions, live doclen and delta-merged stats; tf
    counted from the positions, then the BM25 tail. A re-ingested doc's
    dead versions are excluded from tf AND dl (the upsert supersede
    tombstones leave exactly one live doclen row per doc). ``mgen`` pins
    the segment set, tombstones and stats to a snapshot-complete
    manifest: a time-travel serve."""
    read = _segmented_read(
        spark, _view(path, mgen), (t for _, t in query_terms), ("doc_id", "term"),
        doclen=True, stats=True,
    )
    if read is None:
        return _empty_ranked(spark, "query_id", "score_micros")
    pos, dl, stats = read
    qterms = spark.createDataFrame(list(query_terms), "query_id string, term string")
    return _bm25_tail(_position_tf(pos), qterms, stats, k, dl=dl)


@register("s48_bm25_maintained_positional", oracle=_S48_ORACLE)
def s48_bm25_maintained_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s47's lifecycle (3 positional segments + one tombstone batch)
    followed by a BM25 serve — must hash-match s31 over the live corpus."""
    return query_bm25_segmented(spark, _build_s47_layout(spark, sf_dir, "bm"), _QUERY_TERMS)


def query_proximity_segmented(
    spark: SparkSession,
    path: str,
    queries: tuple[tuple[str, str, str, int], ...],
    k: int,
    mgen: int | None = None,
) -> DataFrame:
    """Proximity serve over the segmented positional layout: the
    segmented reader's live positions, the proximity scorer, two-phase
    rank. Unregistered (s46 pins the scorer, s47 the reader); equality
    with the monolithic serve over the live corpus is tested. ``mgen``
    pins the serve to a manifest snapshot."""
    read = _segmented_read(spark, _view(path, mgen), (t for q in queries for t in q[1:3]), _POS)
    if read is None:
        return _empty_ranked(spark, "prox_id", "n_matches")
    return _rank_phrase_matches(_proximity_match_counts(read[0], queries), k, "prox_id")


# ---------------------------------------------------------------------------
# s49: document update / re-add on the maintained index — generation
# ordering makes delete-then-repost and revisions first-class
# ---------------------------------------------------------------------------
# Generation-scoped tombstones (kill versions in segments <= gen) plus
# upsert-at-ingest (prior versions of a batch's docs are superseded at
# gen = seg_id - 1 and their stats subtracted) — Lucene's delete+add
# update discipline on this repo's segment layout. s49 registers the
# full lifecycle: ingest -> delete -> RE-INGEST revised docs -> BM25
# serve, which must equal a from-scratch build over the FINAL corpus
# state (the oracle computes exactly that): revised docs serve their
# revision, re-added docs resurface, still-deleted docs stay gone, and
# n_docs/avgdl are exact throughout.
#
# Scale shape: the upsert adds one batch-semi-joined read of the
# doc-keyed doclen sidecars per ingest (doc-sized, never the postings);
# serve plans are unchanged except the tombstone anti-join carries the
# generation bound as a join filter on the same broadcast hash join.

# re-ingested (revised) docs: half of the deleted set re-added + a
# never-deleted slice updated in place. %14==2 implies %7==2 (re-add
# after delete); %10==5 is disjoint from %14==2 (parity) and mostly
# live (pure update), with the %7==2 overlap exercising delete->update.
_S49_REVISED = "(doc_id % 14 = 2 OR doc_id % 10 = 5)"
_S49_SUFFIX = " revised edition"

_S49_ORACLE = _S39_ORACLE.replace(
    f"""WITH live AS (
  SELECT * FROM documents WHERE doc_id % {_S39_MOD} <> {_S39_REM}
),""",
    f"""WITH live AS (
  SELECT doc_id,
         CASE WHEN {_S49_REVISED}
              THEN text || '{_S49_SUFFIX}' ELSE text END AS text
  FROM documents
  WHERE NOT (doc_id % 7 = 2 AND NOT {_S49_REVISED})
),""",
)
assert "revised edition" in _S49_ORACLE  # the template replace must hit


@register("s49_reingest_upsert_serve", oracle=_S49_ORACLE)
def s49_reingest_upsert_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained-index update/re-add lifecycle (module comment): two
    ingests, one tombstone batch (doc_id % 7 == 2), one RE-INGEST of
    revised documents (re-adds half the deleted set, updates a live
    slice), then a BM25 serve that must hash-match s31 over the final
    corpus state."""
    docs = spread(read_parquet(spark, f"{sf_dir}/documents.parquet"))
    path = _s47_layout_path(sf_dir, "up")
    # the two base loads are disjoint slices; the revision ingest below
    # is the one that exercises upsert
    _ingest_slices(
        spark, ingest_positional_segment, docs, path, "doc_id % 10 < 8", "doc_id % 10 >= 8"
    )
    delete_segmented(
        spark, path, docs.filter(F.col("doc_id") % 7 == 2).select("doc_id"), 0
    )
    revised = docs.filter(F.expr(_S49_REVISED)).withColumn(
        "text", F.concat(F.col("text"), F.lit(_S49_SUFFIX))
    )
    ingest_positional_segment(spark, revised, path, 2)  # upserts prior versions
    return query_bm25_segmented(spark, path, _QUERY_TERMS)
