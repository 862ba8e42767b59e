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
- ``mgen=None`` serves the current manifest's view; ``mgen=G`` serves
  exactly manifest G's segments, tombstone partitions and stats
  partitions, which stay on disk until ``vacuum_segments``.

Reference parity: the reference ships SQL to a warehouse
(src/dbt_osmosis/core/sql_operations.py:69); the index-maintenance
surface is engine-side functionality this repo adds.
"""

from __future__ import annotations

from collections.abc import Iterable
from functools import reduce

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
from dbt_osmosis_spark.sources.parquet import read_layout, read_parquet, spread

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


_SCRATCH_PATHS: set[str] = set()


def _scratch_path(root: str, sf_dir: str, op: str = "") -> str:
    """Per-process scratch directory ``<repo>/<root>/<sf tag>[-op]-<pid>``
    for a registered op's layout. These ops rebuild their layout on
    every call (rmtree + ingest), so two PROCESSES running them against
    the same sf_dir concurrently (e.g. a scale probe next to the test
    suite) would race on rmtree vs read; the pid suffix isolates them,
    and within one process every reader sees the same path. The
    directory is removed when the interpreter exits."""
    import atexit
    import os as _os
    import shutil

    repo = _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
    tag = _os.path.basename(sf_dir.rstrip("/")) or "sf"
    if op:
        tag = f"{tag}-{op}"
    path = _os.path.join(repo, root, f"{tag}-{_os.getpid()}")
    if path not in _SCRATCH_PATHS:
        _SCRATCH_PATHS.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


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
    # the tombstone-filtered postings feed BOTH the df aggregate and the
    # join's probe side — persisted for the call so the segments are
    # scanned (and the anti-join run) once; the two sinks run concurrently
    postings = (
        _apply_scoped_tombstones(
            _read_segments_tagged(spark, path, _live_segments(path), "postings"),
            _scoped_tombstones(spark, path),
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
    dropping empty tokens).

    Round 14 (guide §2.4, remove shuffles outright): empties are dropped
    INSIDE the token array (higher-order ``filter``) before posexplode,
    so the position is the array index directly. The r13 form assigned
    it with a row_number window partitioned by doc_id — a corpus-sized
    Exchange + Sort paid by EVERY positional build/ingest (s42/s43/s45/
    s46 builds, every s47–s53 lifecycle segment, the streaming twin).
    Output is byte-identical: row_number over the raw split order of the
    surviving tokens == 1 + index in the filtered array."""
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
    """Build + persist the positional layout: one tokenization, one
    per-doc position window (row_number over the raw split order AFTER
    dropping empty tokens — the s42/oracle position rule), written
    partitioned by the md5 term bucket (the s34 rule, so serve-side
    probe planning hashes terms identically in Python).

    Also persists the doc-keyed doclen sidecar (dl = 0 for zero-token
    docs) and the one-row corpus stats, making the layout a COMPLETE
    index: BM25 serves from it too (s45 below), since tf/df are
    derivable from positions — store positions once, derive frequencies
    (the Lucene discipline).

    Round 13 (guide §1.2, the ingest_positional_segment move): the
    positional relation is persisted for the span of the build and the
    doclen/stats sinks roll up from it (dl = count of a doc's position
    rows — exact: pos holds one row per non-empty token), so the
    tokenize+window runs once instead of three times (the r12 form
    re-tokenized for dl and again inside the stats write).

    Round 14 (guide §2.4): positions come from _positional_tokens —
    array-index positions, no per-doc window, one less corpus-sized
    shuffle+sort per build."""
    pos = (
        _positional_tokens(docs).withColumn("tbkt", F.expr(_S34_SPARK_TBKT))
    ).persist()
    try:
        # three disjoint-directory sinks, submitted concurrently (§2.6).
        # Round 14 (guide §2.4): doclen is a map-only token-array-size
        # scan (no pos groupBy, no left join — zero-token docs get dl = 0
        # from the empty array) and sum_dl is the cached relation's row
        # count, so the stats sink never re-aggregates per doc.
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
    """Every INGESTED segment directory on disk (numeric order).
    Compaction outputs use the ``cseg-`` prefix, deliberately invisible
    here: a reader on a layout with no manifest yet can never observe a
    half-published merge (the manifest pointer is the only thing that
    makes a compacted segment visible). After a compaction this listing
    still includes retained pre-compaction segments until
    ``vacuum_segments`` — readers want ``_live_segments``."""
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


# --- generation-scoped tombstones + manifest --------------------------------
# A tombstone row is (doc_id, gen): "this doc is deleted from every segment
# whose id is <= gen". Deleting always stamps gen = the highest live segment
# id, so a LATER re-ingest of the same doc (into a higher-id segment) serves
# its new version — delete-then-repost and document revisions both work
# (Lucene's deleted-docs + generation ordering). Re-ingest is safe because
# ingest itself upserts: it tombstones any prior version of the batch's
# docs at gen = seg_id - 1 (see _upsert_supersede), so the
# one-doc-one-LIVE-version invariant is enforced, not assumed.
#
# Tombstone partitions (deletes/delete=<id>) come from three writers in
# disjoint id namespaces, so none can ever overwrite another:
#   [0, 1e6)    user delete batches (delete_segmented asserts the bound)
#   [1e6, 2e6)  upsert supersede-sets: delete = 1e6 + seg_id
#   [2e6, ...)  compaction survivor sets: delete = 2e6 + manifest gen
#
# Compaction is non-destructive: it writes the merged segment plus a
# survivor tombstone partition, then publishes a manifest
# (manifest-<G>.json listing live segments + retired delete partitions)
# via an atomic pointer rename (_MANIFEST). Pre-compaction segments stay
# on disk until vacuum_segments, so a reader holding any manifest
# generation serves a consistent segment set.
_UPSERT_TOMB_NS = 1_000_000
_COMPACT_TOMB_NS = 2_000_000
# A compaction RETIRES partition values (consolidating their content into
# its survivor set). A client may still legitimately reuse a retired id —
# a delete stream restarted with a fresh checkpoint restarts batch ids at
# 0 — so writers bump colliding values by whole epochs instead of writing
# into (invisible) retired partitions. Stats deltas are keyed by the
# bumped PHYSICAL value too: a replay that crosses a compaction lands in
# a fresh partition, and because deltas are computed from current
# LIVENESS (not batch content), the re-landed delta is zero — deletes
# subtract exactly once under replay, reuse, and compaction interleaving.
_DELETE_EPOCH_NS = 10_000_000
# A tombstone relation whose live partitions hold at most this many bytes
# on disk is broadcast-hinted (32 MiB of parquet fits executor memory
# after decompression); a larger one is left to a shuffled anti-join.
_TOMB_BCAST_BYTES = 32 * 1024 * 1024
# Fewest live segments for which a serve runs the termset probe.
_TERMSET_PROBE_MIN_SEGS = 3


def _manifest_referenced_delete_parts(path: str) -> set[int]:
    """Delete-partition values referenced by ANY published manifest's
    ``live_deletes`` — a pinned snapshot's tombstone set must stay
    immutable (ADVICE r12), so writers may never overwrite them."""
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


def _delete_partition_value(path: str, base_id: int) -> int:
    """Physical partition value for a writer's logical delete id: bump by
    whole epochs past every RETIRED value (compaction consolidated its
    content — writing there would be invisible) and every value a
    published manifest's ``live_deletes`` references (ADVICE r12: a
    delete stream restarted with a fresh checkpoint reuses id 0; without
    this bound the overwrite would silently rewrite a pinned snapshot's
    tombstones). The prior partition's content stays on disk as applied
    history — overwriting it was dropping previously-applied deletes."""
    protected = set(_retired_delete_parts(path)) | _manifest_referenced_delete_parts(
        path
    )
    v = base_id
    while v in protected:
        v += _DELETE_EPOCH_NS
    return v


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


def _live_segments(path: str, mgen: int | None = None) -> list[str]:
    """The segment set a reader should serve. Pointer view (mgen=None):
    the current manifest's segments plus any segment ingested after its
    watermark (post-compaction ingests). Pinned view (mgen=G): exactly
    manifest G's segment list — a consistent historical snapshot (its
    segments are retained on disk until vacuum)."""
    import os as _os

    segs = _list_segments(path)
    m = _read_manifest(path, mgen)
    if m is None:
        return segs
    live = [
        s for s in m["segments"] if _os.path.isdir(_os.path.join(path, s, "postings"))
    ]
    if mgen is not None:
        return sorted(live, key=_seg_id)
    w = m["seg_watermark"]
    return sorted(set(live) | {s for s in segs if _seg_id(s) > w}, key=_seg_id)


def _retired_delete_parts(path: str, mgen: int | None = None) -> list[int]:
    m = _read_manifest(path, mgen)
    return list(m["retired_deletes"]) if m else []


def _scoped_tombstones(
    spark: SparkSession,
    path: str,
    exclude_delete_id: int | None = None,
    mgen: int | None = None,
) -> DataFrame:
    """The live (doc_id, gen) tombstone relation: every delete partition
    except the ones a compaction retired (their content was consolidated
    into that compaction's survivor partition) and, for replay-safe
    writers, the caller's own partition. A PINNED read (mgen=G) of a
    snapshot-complete manifest (one that records ``live_deletes``) reads
    exactly the partitions live at cut time, so tombstones written AFTER
    the snapshot never leak into a time-travel serve. The relation is
    broadcast-hinted while its live partitions hold at most
    ``_TOMB_BCAST_BYTES`` on disk."""
    import os as _os

    if not _os.path.isdir(f"{path}/deletes"):
        # an in-memory empty relation Spark cannot prove empty: without
        # the hint every segment branch plans a shuffled anti-join
        return F.broadcast(spark.createDataFrame([], "doc_id bigint, gen bigint"))
    t = read_layout(spark, path, "deletes")
    m = _read_manifest(path, mgen) if mgen is not None else None
    if m is not None and "live_deletes" in m:
        live = list(m["live_deletes"])
        t = t.filter(F.col("delete").isin(live) if live else F.lit(False))
    else:
        retired = _retired_delete_parts(path, mgen)
        if retired:
            t = t.filter(~F.col("delete").isin(retired))
    if exclude_delete_id is not None:
        t = t.filter(F.col("delete") != exclude_delete_id)
    out = t.select("doc_id", "gen")
    # broadcast-hint the tombstones only while their live partitions are
    # small ON DISK (a filesystem bound, no job): a mass takedown between
    # compactions can grow them past any broadcast size, and un-hinted,
    # AQE picks a shuffled anti-join instead of an executor-OOM broadcast
    if _live_tombstone_bytes(path, mgen) <= _TOMB_BCAST_BYTES:
        out = F.broadcast(out)
    return out


def _live_tombstone_bytes(path: str, mgen: int | None = None) -> int:
    """On-disk bytes of the delete partitions the current (or pinned)
    view actually reads — pure os.walk over the live partition dirs."""
    import os as _os

    base = f"{path}/deletes"
    if not _os.path.isdir(base):
        return 0
    m = _read_manifest(path, mgen) if mgen is not None else None
    if m is not None and "live_deletes" in m:
        parts = [int(v) for v in m["live_deletes"]]
    else:
        retired = set(_retired_delete_parts(path, mgen))
        parts = []
        for d in _os.listdir(base):
            if d.startswith("delete="):
                try:
                    v = int(d.split("=", 1)[1])
                except ValueError:
                    continue
                if v not in retired:
                    parts.append(v)
    return sum(_dir_bytes(_os.path.join(base, f"delete={v}")) for v in parts)


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


def _stats_agg(spark: SparkSession, path: str, mgen: int | None = None) -> DataFrame:
    """One-row (n_docs, avgdl) merged from the stats deltas. Stats are
    net-additive history, so the pointer view sums everything; a pinned
    view of a snapshot-complete manifest sums only the partitions that
    existed at cut time (partition-pruned by the ``part`` column), so
    later ingests/deletes don't skew a time-travel serve's n_docs/avgdl."""
    import os as _os

    if not _os.path.isdir(f"{path}/stats"):
        # never-ingested layout: zero docs, undefined avgdl
        return spark.createDataFrame([(0, None)], "n_docs bigint, avgdl double")
    rel = read_layout(spark, path, "stats")
    m = _read_manifest(path, mgen) if mgen is not None else None
    if m is not None and "stats_parts" in m:
        parts = list(m["stats_parts"])
        rel = rel.filter(F.col("part").isin(parts) if parts else F.lit(False))
    # Coalesce + guarded division: a pinned view whose
    # stats_parts is empty (checkpoint cut on an empty layout) or a
    # fully-deleted corpus must yield n_docs = 0 with NULL avgdl — not
    # NULL-poisoned BM25 contribs downstream.
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
    path: str,
    terms: Iterable[str],
    mgen: int | None = None,
    cols: tuple[str, ...] | None = None,
    *,
    doclen: bool = False,
    stats: bool = False,
) -> tuple[DataFrame, DataFrame | None, DataFrame | None] | None:
    """The segmented layout's reader: (postings, doclen, stats) of the
    live view, or None when no segment can hold a query term (a
    never-ingested layout, or every segment termset-pruned).

    Segments are the pointer view (``mgen=None``) or manifest ``mgen``'s
    pinned list, termset-pruned to ``terms``. Postings are the tagged
    per-segment scans, term-pruned, minus every row a scoped tombstone
    covers, projected to ``cols`` (else all columns but ``seg_gen``).
    doclen (doc_id, dl) passes the same tombstone relation, so tf and dl
    both come from live versions only; stats are the delta-merged
    (n_docs, avgdl) of the same view. doclen and stats are read only
    when the scorer asks for them (None otherwise)."""
    terms = sorted(set(terms))
    segs = _segments_with_terms(spark, path, _live_segments(path, mgen), terms)
    if not segs:
        return None
    agg = _stats_agg(spark, path, mgen) if stats else None
    tombs = _scoped_tombstones(spark, path, mgen=mgen)
    postings = _apply_scoped_tombstones(
        _term_pruned(_read_segments_tagged(spark, path, segs, "postings"), terms), tombs
    )
    dl = (
        _apply_scoped_tombstones(
            _read_segments_tagged(spark, path, segs, "doclen"), tombs
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
    """Bucket-partitioned postings write, hardened for the empty case
    (ADVICE r12): a ``partitionBy`` write of an EMPTY relation lands no
    parquet files at all, so any later read of the directory fails
    schema inference and a compaction whose merged rows are all
    tombstoned (or an empty micro-batch ingest) poisons the layout.
    When that happens, drop in a schema-carrying empty FLAT file with
    the partition column cast to the type partition discovery infers
    (int), so per-segment reads see the same schema either way. The
    fallback costs one empty-relation write and only runs when the
    filesystem shows no data files — never on the hot path."""
    rel.repartition("tbkt").write.partitionBy("tbkt").mode("overwrite").parquet(out)
    if not _has_parquet_files(out):
        (
            spark.createDataFrame([], rel.schema)
            .withColumn("tbkt", F.col("tbkt").cast("int"))
            .write.mode("overwrite")
            .parquet(out)
        )


def _write_termset(spark: SparkSession, seg_path: str, terms_rel: DataFrame) -> None:
    """Write the segment's term-dictionary sidecar (distinct terms) —
    vocabulary-sized, read by _segments_with_terms to skip segments at
    serve time. Derived from the IN-FLIGHT postings relation (round 13,
    VERDICT r12 item 5): the r12 form re-read the segment it had just
    written — a full extra segment read per ingest (the documented
    ~1.5x wall on the s44/s47/s48 lifecycle entries) and a hard crash
    when the written relation was empty (no files to infer a schema
    from, ADVICE r12). ``terms_rel`` must be a relation whose ``term``
    column holds exactly the segment's physical terms (the pre-join tf
    relation at ingest, the tombstone-filtered merge at compaction), so
    the sidecar content is unchanged. Non-lexical layouts (e.g. the s54
    vector segments, whose postings carry no term column) get no
    sidecar — _segments_with_terms treats sidecar-less segments as
    always-kept, so this is a no-op for them."""
    if "term" not in terms_rel.columns:
        return
    (
        terms_rel.select("term")
        .distinct()
        .write.mode("overwrite")
        .parquet(f"{seg_path}/termset")
    )


def _upsert_supersede_sinks(
    spark: SparkSession, docs_batch: DataFrame, path: str, seg_id: int
) -> tuple[list, object]:
    """Build (but do not run) the supersede sink thunks, so an ingest
    can submit them CONCURRENTLY with its own segment sinks (round 14,
    guide §2.6 — the supersede phase previously ran strictly after the
    four ingest sinks, serializing a doc-sized read+window behind the
    corpus-sized postings write it is independent of). Returns
    ``(sinks, cleanup)``; cleanup releases the persisted prior-doclen
    relation and must run after the sinks complete.

    Every input DataFrame — including the tombstone read that excludes
    this upsert's own partition by value — is constructed HERE, before
    any sink is submitted, so its parquet file listing is snapshotted
    and a concurrent sink's write can never race it (ADVICE r13: the
    built-before-run_sinks invariant, now explicit). The supersede
    sinks write deletes/delete=<own> and stats/part=upsert-<own>,
    disjoint from the ingest's seg-<id>/* and stats/part=ingest-<id>
    directories. Crash-partial states (tombstones landed, segment
    absent — or the reverse) are repaired by replaying the same seg_id,
    the layout's standing replay contract; overlapping the sinks adds
    no NEW partial state class, only new interleavings of it."""
    # only LOWER-generation segments can hold prior versions; restricting
    # the scan to them also makes a crash-REPLAY of this segment
    # recompute byte-equivalent tombstones/stats (lower segments are
    # immutable), even if higher segments landed in between. The listing
    # also never sees this ingest's own (possibly concurrent) segment
    # dir: seg_id itself is excluded by the < bound.
    prior_segs = [s for s in _live_segments(path) if _seg_id(s) < seg_id]
    if not prior_segs:
        return [], (lambda: None)
    batch_ids = docs_batch.select("doc_id").distinct()
    # prior_dl feeds BOTH sinks (tombstone ids + latest-live stats);
    # persisted for the call so the doclen semi-join runs once, and the
    # two disjoint-directory sinks run concurrently (guide §2.6 — the
    # stats side's tombstone read excludes this partition by value, so
    # it never races the concurrent tombstone write).
    prior_dl = (
        _read_segments_tagged(spark, path, prior_segs, "doclen")
        .join(batch_ids, "doc_id", "left_semi")
        .persist()
    )
    own_part = _delete_partition_value(path, _UPSERT_TOMB_NS + seg_id)
    existing = _scoped_tombstones(spark, path, exclude_delete_id=own_part)
    live_prior = _apply_scoped_tombstones(prior_dl, existing)
    # round 14 (guide §2.3): the latest live version per doc is a
    # max_by aggregate, not a row_number window — same one exchange but
    # map-side partial aggregation and no per-partition sort; (doc_id,
    # seg_gen) is unique (a doc appears at most once per segment), so
    # max_by has no ties.
    latest = live_prior.groupBy("doc_id").agg(
        F.expr("max_by(dl, seg_gen)").alias("dl")
    )
    sinks = [
        lambda: (
            prior_dl.select("doc_id")
            .distinct()
            .withColumn("gen", F.lit(seg_id - 1).cast("bigint"))
            .write.mode("overwrite")
            .parquet(f"{path}/deletes/delete={own_part}")
        ),
        lambda: (
            latest.agg(
                (-F.count(F.lit(1))).cast("bigint").alias("n_docs"),
                (-F.coalesce(F.sum("dl"), F.lit(0))).cast("bigint").alias("sum_dl"),
            )
            .write.mode("overwrite")
            .parquet(f"{path}/stats/part=upsert-{own_part}")
        ),
    ]
    return sinks, prior_dl.unpersist


def _upsert_supersede(
    spark: SparkSession, docs_batch: DataFrame, path: str, seg_id: int
) -> None:
    """Enforce the one-doc-one-LIVE-version invariant at ingest: any
    PRIOR version of this batch's docs is tombstoned at gen = seg_id - 1
    (so the new segment's version wins — delete+add, the Lucene update
    discipline), and the latest still-live prior version's (n_docs, dl)
    is subtracted as a stats delta so corpus stats stay exact under
    re-ingest. No prior segments, or no overlap, degenerates to two
    empty-partition writes of batch-semi-joined doc-sized reads — never
    an index scan. Idempotent per seg_id (own partitions excluded from
    the liveness read), same replay contract as the ingest itself."""
    sinks, cleanup = _upsert_supersede_sinks(spark, docs_batch, path, seg_id)
    try:
        run_sinks(*sinks)
    finally:
        cleanup()


def ingest_segment(
    spark: SparkSession, docs_batch: DataFrame, path: str, seg_id: int,
    upsert: bool = True,
) -> None:
    """Write one document batch as its own immutable segment (postings +
    doclen sidecar) plus an additive stats delta. Idempotent overwrite
    per segment id — the exactly-once contract of every sink here.
    With ``upsert`` (default), prior versions of the batch's docs are
    superseded (_upsert_supersede), so re-ingesting a revised document
    serves the revision.

    Round 13: ONE tokenize feeds all four sinks — the term-aggregated tf
    relation is persisted for the span of the ingest (batch-sized, far
    smaller than the raw explode the first r13 tranche persisted) and
    the r12 form's per-sink re-tokenizations (+ a read-back of the
    written segment) are gone; the four independent sinks are submitted
    concurrently (guide §2.6). Released before returning.

    Round 14 (guide §2.4): dl rides the tf aggregation from the
    map-side token-array size (_doc_tokens_with_dl) — the dl groupBy,
    the tf⋈dl join, and the doclen sink's left join are gone; doclen is
    a map-only scan of the batch (zero-token docs get dl = 0 from the
    empty array).

    Round 14 (guide §2.6): the supersede pass's two sinks are submitted
    IN THE SAME run_sinks as the segment sinks — they touch disjoint
    directories and their inputs are snapshotted before submission
    (_upsert_supersede_sinks), so the doc-sized supersede work back-fills
    the postings write's straggler tail instead of running serially
    after it."""
    tf = _doc_tf(docs_batch).persist()  # round 14 (§2.4): map-side doc-local fold
    upsert_sinks, upsert_cleanup = (
        _upsert_supersede_sinks(spark, docs_batch, path, seg_id)
        if upsert
        else ([], lambda: None)
    )
    try:
        run_sinks(
            lambda: _write_bucketed(
                spark,
                tf.withColumn("tbkt", F.expr(_S34_SPARK_TBKT))
                .select("term", "doc_id", "tf", "dl", "tbkt"),
                f"{path}/seg-{seg_id}/postings",
            ),
            lambda: _write_termset(spark, f"{path}/seg-{seg_id}", tf),
            lambda: (
                _doc_dl(docs_batch)
                .write.mode("overwrite")
                .parquet(f"{path}/seg-{seg_id}/doclen")
            ),
            lambda: (
                # one map-only batch pass (§2.4), independent of the tf cache
                _doc_dl_stats(docs_batch)
                .write.mode("overwrite")
                .parquet(f"{path}/stats/part=ingest-{seg_id}")
            ),
            *upsert_sinks,
        )
    finally:
        tf.unpersist()
        upsert_cleanup()


def delete_segmented(
    spark: SparkSession, path: str, doc_ids: DataFrame, delete_id: int
) -> None:
    """Tombstone batch against the segmented layout, generation-scoped:
    the tombstones are stamped with gen = the highest live segment id,
    so they kill every CURRENT version of the doc but a later re-ingest
    (higher-gen segment) serves its new version. Stats subtract exactly
    the latest still-live version of each batch doc (double-delete
    subtracts once; deleting a never-ingested or already-dead doc
    subtracts zero), recovered from the doc-keyed doclen sidecars.
    Safe on an EMPTY layout (tombstone recorded against gen -1, i.e. it
    kills nothing, and the stats delta is zero) — a delete batch landing
    before any document batch no longer crashes or skews stats
    (ADVICE r11). Safe under id REUSE across a compaction (a delete
    stream restarted with a fresh checkpoint): retired partition values
    are epoch-bumped, never overwritten (_delete_partition_value), so
    compaction survivors can't be clobbered and prior deletions never
    resurrect (ADVICE r11, medium)."""
    assert 0 <= delete_id < _UPSERT_TOMB_NS, (
        f"user delete ids live in [0, {_UPSERT_TOMB_NS}); {delete_id} would "
        "collide with the upsert/compaction tombstone namespaces"
    )
    part = _delete_partition_value(path, delete_id)
    segs = _live_segments(path)
    cur_gen = max((_seg_id(s) for s in segs), default=-1)
    ids = doc_ids.select("doc_id").distinct()
    if segs:
        # round 13: the stats delta derives from the IN-FLIGHT distinct
        # id relation (identical content to the tombstone partition the
        # r12 form read back after writing it), so the two sinks are
        # independent and run concurrently (guide §2.6). The scoped-
        # tombstone read excludes this batch's partition by value, so
        # it never races the concurrent tombstone write.
        mine = _read_segments_tagged(spark, path, segs, "doclen").join(
            F.broadcast(ids), "doc_id", "left_semi"
        )
        prior = _scoped_tombstones(spark, path, exclude_delete_id=part)
        # round 14 (guide §2.3): latest-live-version dl via max_by —
        # map-side partials, no window sort; (doc_id, seg_gen) unique.
        doc_dl = (
            _apply_scoped_tombstones(mine, prior)
            .groupBy("doc_id")
            .agg(F.expr("max_by(dl, seg_gen)").alias("dl"))
        )
    else:
        doc_dl = spark.createDataFrame([], "doc_id bigint, dl bigint")
    run_sinks(
        lambda: (
            ids.withColumn("gen", F.lit(cur_gen).cast("bigint"))
            .write.mode("overwrite")
            .parquet(f"{path}/deletes/delete={part}")
        ),
        lambda: (
            doc_dl.agg(
                (-F.count(F.lit(1))).cast("bigint").alias("n_docs"),
                (-F.coalesce(F.sum("dl"), F.lit(0))).cast("bigint").alias("sum_dl"),
            )
            .write.mode("overwrite")
            .parquet(f"{path}/stats/part=delete-{part}")
        ),
    )


def compact_segments(spark: SparkSession, path: str) -> dict[str, int]:
    """Size-tiered merge (module comment): fold every live segment except
    the largest into one new segment, dropping rows covered by a
    generation-scoped tombstone; consolidate the live tombstone
    partitions into one survivor set (only tombstones still referencing
    a KEPT segment's docs survive); leave the base segment's files
    byte-untouched. The swap is published atomically: write the new
    segment + survivor partition + manifest-<G>.json, then rename the
    _MANIFEST pointer — pre-compaction segments and delete partitions
    stay on disk (a concurrent reader holding any manifest generation
    serves a consistent set) until vacuum_segments reclaims them.
    Returns {merged, new_seg, manifest} for observability."""
    import json as _json
    import os as _os

    segs = _live_segments(path)
    if len(segs) < 2:
        return {"merged": 0, "new_seg": -1, "manifest": _manifest_gen(path) or 0}
    sizes = {s: _dir_bytes(_os.path.join(path, s)) for s in segs}
    base = max(sizes, key=lambda s: (sizes[s], s))
    merge = [s for s in segs if s != base]
    # The merged segment's generation = the HIGHEST merged input's: its
    # surviving rows are all live (scoped tombstones applied at merge),
    # so taking the max merged gen preserves exactly their killability —
    # and compaction never consumes a new id, so an external monotonic
    # ingest counter (e.g. streaming batch ids) can never collide with
    # it. The dir name carries the manifest gen for uniqueness and the
    # cseg- prefix keeps it invisible to listing-readers until the
    # manifest pointer publishes it (see _list_segments).
    new_mgen = (_manifest_gen(path) or 0) + 1
    new_id = max(_seg_id(s) for s in merge)
    new_seg = f"cseg-{new_mgen}-{new_id}"

    tombs = _scoped_tombstones(spark, path)
    postings = _read_segments_tagged(spark, path, merge, "postings")
    doclen = _read_segments_tagged(spark, path, merge, "doclen")
    # layout-agnostic: whatever posting columns the segments carry
    # (bag-of-words tf/dl or positional pos) pass through unchanged —
    # compaction only drops dead rows and re-buckets. Surviving rows are
    # live by construction, so collapsing them into the (highest-gen)
    # new segment cannot resurrect or shadow anything.
    # Round 14 (guide §5): merged_doclen feeds TWO consumers (its own
    # sink + the survivor membership probe) — doc-sized, so the persist
    # is nearly free and saves a second doclen scan + anti-join.
    # merged_postings also feeds two sinks (bucketed write + termset),
    # but persisting IT was tried and REVERTED: same-host per-phase A/B
    # on s44's compact phase measured 1.24 s unpersisted vs 1.81 s
    # persisted (229 → 341 tasks — the cache materialization is pure
    # added work when the two consumer sinks already run concurrently
    # over the same files via run_sinks and the OS page cache; guide §5,
    # cache only when recompute beats the pressure).
    merged_postings = _apply_scoped_tombstones(postings, tombs).drop("seg_gen")
    merged_doclen = (
        _apply_scoped_tombstones(doclen, tombs).drop("seg_gen").persist()
    )
    retired_now = sorted(
        set(_live_delete_parts(path)) | set(_retired_delete_parts(path))
    )
    # Round 13 (guide §2.6): the merged-segment sinks (postings, termset
    # — derived from the in-flight merge relation, no read-back of the
    # file just written — doclen, and the tombstone-survivor partition)
    # all write disjoint directories and are submitted concurrently; the
    # atomic manifest publish still happens strictly after every sink
    # has landed, so the consistency discipline is unchanged.
    sinks = [
        lambda: _write_bucketed(spark, merged_postings, f"{path}/{new_seg}/postings"),
        lambda: _write_termset(spark, f"{path}/{new_seg}", merged_postings),
        lambda: merged_doclen.write.mode("overwrite").parquet(
            f"{path}/{new_seg}/doclen"
        ),
    ]
    if _os.path.isdir(f"{path}/deletes"):
        # survivors = tombstones still referencing a kept segment's docs
        # (the base's dead rows are still physically present; the merged
        # segments' dead rows are gone, so their tombstones retire).
        # Membership comes from the kept DOCLEN sidecars — doc-sized,
        # never an index scan. gen scoping is preserved on the rows
        # (the new segment's side uses the in-flight merged doclen
        # relation; equal content by construction).
        kept_docs = (
            _read_segments_tagged(spark, path, [base], "doclen")
            .select("doc_id")
            .unionByName(merged_doclen.select("doc_id"))
        )
        survivors = tombs.join(kept_docs, "doc_id", "left_semi")
        sinks.append(
            lambda: survivors.write.mode("overwrite").parquet(
                f"{path}/deletes/delete={_COMPACT_TOMB_NS + new_mgen}"
            )
        )
    try:
        run_sinks(*sinks)
    finally:
        merged_doclen.unpersist()
    manifest = {
        "gen": new_mgen,
        "segments": [base, new_seg],
        # post-compaction ingests are the seg- dirs above every id that
        # was live when this manifest was cut
        "seg_watermark": max(_seg_id(s) for s in segs),
        "retired_deletes": retired_now,
        # snapshot-complete (round 12): a pinned read of THIS generation
        # uses exactly the tombstone partitions + stats deltas live at
        # cut time — post-compaction the only live tombstone set is the
        # survivor partition just written
        "live_deletes": (
            [_COMPACT_TOMB_NS + new_mgen] if _os.path.isdir(f"{path}/deletes") else []
        ),
        "stats_parts": _stats_parts(path),
    }
    _carry_centroids(path, manifest)
    _publish_manifest(path, manifest)
    return {"merged": len(merge), "new_seg": new_seg, "manifest": new_mgen}


def _carry_centroids(path: str, manifest: dict) -> None:
    """Carry the current manifest's centroid-artifact pointer (set by a
    vector-index retrain, similarity_ext5.retrain_vector_index) into a
    new manifest — compactions and checkpoints must not silently revert
    a retrained index to its original centroids."""
    cur = _read_manifest(path)
    if cur and cur.get("centroids"):
        manifest["centroids"] = cur["centroids"]


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
    """Cut a named consistent snapshot of the layout WITHOUT compacting
    — the Iceberg-commit / Lucene-commit-point analog (round 12, s53).
    The manifest records the live segment list, the live tombstone
    partitions, and the stats partitions at cut time, so a serve pinned
    to this generation (``mgen=``) reproduces the index state at the
    checkpoint even after later ingests, deletes, upserts, or a
    compaction — until ``vacuum_segments`` reclaims what a NEWER
    manifest no longer references (the documented pin-vs-vacuum
    contract). Returns the new manifest generation.

    A never-ingested layout (directory absent) checkpoints as an empty
    snapshot (ADVICE r12): the dir is created so _publish_manifest's
    pointer write has somewhere to land, mirroring the empty-layout
    hardening of delete_segmented and the serves."""
    import os as _os

    _os.makedirs(path, exist_ok=True)
    segs = _live_segments(path)
    manifest = {
        "gen": (_manifest_gen(path) or 0) + 1,
        "segments": segs,
        "seg_watermark": max((_seg_id(s) for s in segs), default=-1),
        "retired_deletes": _retired_delete_parts(path),
        "live_deletes": _live_delete_parts(path),
        "stats_parts": _stats_parts(path),
    }
    _carry_centroids(path, manifest)
    _publish_manifest(path, manifest)
    return manifest["gen"]


def _live_delete_parts(path: str, mgen: int | None = None) -> list[int]:
    """Delete partition values on disk minus the manifest-retired ones."""
    import os as _os

    if not _os.path.isdir(f"{path}/deletes"):
        return []
    on_disk = sorted(
        int(d.split("=")[1])
        for d in _os.listdir(f"{path}/deletes")
        if d.startswith("delete=")
    )
    retired = set(_retired_delete_parts(path, mgen))
    return [p for p in on_disk if p not in retired]


def vacuum_segments(path: str) -> dict[str, int]:
    """Reclaim everything the current manifest no longer references:
    merged-away segments (id <= watermark and not in the live list),
    retired delete partitions, and superseded manifest files. Stats
    partitions are history (net-additive) and are never touched. Safe to
    run any time no reader is pinned to an OLDER manifest generation —
    the separation of publish (atomic pointer rename) from reclaim is
    the whole point of the manifest."""
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
    read = _segmented_read(spark, path, (t for _, t in query_terms), mgen, stats=True)
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
    (term, doc_id, pos) bucket-partitioned, doc-keyed doclen sidecar,
    additive stats delta. Positions are per-doc (row_number within the
    doc), so they are segment-independent by construction. With
    ``upsert`` (default), prior versions of the batch's docs are
    superseded (_upsert_supersede) — re-ingesting a revised document
    serves the revision, including after a delete (re-add).

    Round 14 (guide §2.4): positions come from _positional_tokens —
    array-index positions, no per-doc row_number window, one less
    batch-sized shuffle+sort per ingest.

    Round 14 (guide §2.6): the supersede pass's two sinks join the same
    run_sinks as the segment sinks (disjoint directories, inputs
    snapshotted before submission — _upsert_supersede_sinks), so the
    doc-sized supersede work back-fills the postings write's straggler
    tail instead of running serially after it."""
    # Round 14 (guide §5 — cache only when recompute beats the pressure;
    # measured A/B): the r13 persist of the POSITION-LEVEL relation is
    # gone. After the stats sink moved to its own map-only batch pass
    # (_doc_dl_stats), only two sinks consume pos — the postings write
    # (once) and the vocabulary-sized termset rollup — and materializing
    # a cache LARGER than the batch to save one extra map-side tokenize
    # lost the A/B: best-of-6 at sf0.1, persisted vs not — s49 6.51 vs
    # 5.91 s, s53 8.18 vs 7.53 s, s47 5.11 vs 5.09 s (medians agree).
    pos = _positional_tokens(docs_batch).withColumn("tbkt", F.expr(_S34_SPARK_TBKT))
    upsert_sinks, upsert_cleanup = (
        _upsert_supersede_sinks(spark, docs_batch, path, seg_id)
        if upsert
        else ([], lambda: None)
    )
    try:
        # four disjoint-directory sinks, submitted concurrently (guide
        # §2.6). Round 14 (guide §2.4): doclen and stats are map-only
        # token-array-size scans of the batch.
        run_sinks(
            lambda: _write_bucketed(spark, pos, f"{path}/seg-{seg_id}/postings"),
            lambda: _write_termset(spark, f"{path}/seg-{seg_id}", pos),
            lambda: (
                _doc_dl(docs_batch)
                .write.mode("overwrite")
                .parquet(f"{path}/seg-{seg_id}/doclen")
            ),
            lambda: (
                # one map-only batch pass (§2.4), independent of the pos cache
                _doc_dl_stats(docs_batch)
                .write.mode("overwrite")
                .parquet(f"{path}/stats/part=ingest-{seg_id}")
            ),
            *upsert_sinks,
        )
    finally:
        upsert_cleanup()


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
    read = _segmented_read(spark, path, (w for _, ws in phrases for w in ws), mgen, _POS)
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
        spark, path, (t for _, t in query_terms), mgen, ("doc_id", "term"),
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
    read = _segmented_read(spark, path, (t for q in queries for t in q[1:3]), mgen, _POS)
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
