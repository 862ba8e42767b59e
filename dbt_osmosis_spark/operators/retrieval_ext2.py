"""Lexical retrieval, part 3: relevance-ranked phrase queries.

- s50  n-term sloppy-phrase search — Lucene PhraseQuery~N semantics
       (ordered n-term phrases with a TOTAL slop budget) over the
       persisted positional layout, generalizing s46's pair-only plan
- s51  BM25-weighted phrase ranking — phrase results ranked by
       relevance (phrase tf = exact match count, phrase df = docs with
       >= 1 match) instead of raw counts, served from the SAME
       positional artifact (ES match_phrase parity)

Each query class is served from both layouts by the layout's reader in
``retrieval_ext`` (``_index_read`` for the monolithic layout,
``_segmented_read`` for the maintained one, with its tombstone, termset
and ``mgen`` invariants) plus one scorer: ``_sloppy_match_counts`` for
s50 and ``_bm25_phrase_rank`` for s51.

Semantics of s50 (the SQL-expressible core of Lucene's sloppy phrase):
an ordered chain of positions p_1 < p_2 < ... < p_n, one per phrase
term, whose TOTAL gap  sum_i (p_i - p_{i-1} - 1)  =  p_n - p_1 - (n-1)
is at most the slop budget. slop = 0 degenerates to the exact adjacent
phrase (p_i = p_1 + i - 1), tested against s43's answer. A document
scores the count of DISTINCT ANCHORS p_1 admitting a completion —
bounded by the anchor term's position list, so a generous slop cannot
blow up the count combinatorially.

Scale shape (both ops): the scan reads only the probed term buckets of
the persisted layout with term equality pushed to the reader; each
phrase resolves as |phrase|-1 per-doc equi-joins with the slop window as
a join filter (never a nested loop); prefix-gap bounds prune chains as
early as possible. Ranking is the two-phase bucketed top-k everywhere.

Reference parity: the reference ships SQL to a warehouse
(src/dbt_osmosis/core/sql_operations.py:69); phrase retrieval is
engine-side functionality this repo adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_osmosis_spark.operators import register
from dbt_osmosis_spark.operators.retrieval import _topn_two_phase
from dbt_osmosis_spark.operators.retrieval_ext import (
    _POS,
    _build_s43_index,
    _empty_ranked,
    _index_read,
    _phrase_match_counts,
    _phrase_matches_sql,
    _rank_phrase_matches,
    _segmented_read,
    _sloppy_match_counts,
    _view,
)

# ---------------------------------------------------------------------------
# s50: n-term sloppy phrase
# ---------------------------------------------------------------------------

_S50_QUERIES: tuple[tuple[str, tuple[str, ...], int], ...] = (
    ("spA", ("sort", "table", "scan"), 3),
    ("spB", ("stream", "batch", "vector"), 0),  # slop 0 == exact phrase pC
    ("spC", ("hash", "join"), 3),
    ("spD", ("group", "query", "row"), 5),
)
_S50_K = 5


def _s50_oracle() -> str:
    terms = ", ".join(
        f"'{t}'" for t in sorted({w for _, ws, _ in _S50_QUERIES for w in ws})
    )
    branches = []
    for qid, words, slop in _S50_QUERIES:
        joins = "\n    ".join(
            f"JOIN pos w{i} ON w{i}.doc_id = w0.doc_id AND w{i}.tok = '{w}'"
            f" AND w{i}.pos > w{i - 1}.pos AND w{i}.pos - w0.pos - {i} <= {slop}"
            for i, w in enumerate(words)
            if i > 0
        )
        branches.append(
            f"""SELECT '{qid}' AS sp_id, w0.doc_id,
       CAST(COUNT(DISTINCT w0.pos) AS BIGINT) AS n_matches
    FROM pos w0
    {joins}
    WHERE w0.tok = '{words[0]}'
    GROUP BY w0.doc_id"""
        )
    union = "\n  UNION ALL\n  ".join(branches)
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
  SELECT sp_id, doc_id, n_matches,
         ROW_NUMBER() OVER (PARTITION BY sp_id
                            ORDER BY n_matches DESC, doc_id) AS rnk
  FROM matches
)
SELECT sp_id, CAST(rnk AS BIGINT) AS rnk, doc_id, n_matches
FROM ranked WHERE rnk <= {_S50_K}
ORDER BY sp_id, rnk
"""


def query_sloppy_phrase_index(
    spark: SparkSession,
    path: str,
    queries: tuple[tuple[str, tuple[str, ...], int], ...],
    k: int,
) -> DataFrame:
    """n-term sloppy-phrase serve from the monolithic positional layout:
    the reader's pruned position scan, the sloppy scorer, two-phase
    rank."""
    pos = _index_read(spark, path, (w for _, ws, _ in queries for w in ws), _POS)[0]
    return _rank_phrase_matches(_sloppy_match_counts(pos, queries), k, "sp_id")


def query_sloppy_phrase_segmented(
    spark: SparkSession,
    path: str,
    queries: tuple[tuple[str, tuple[str, ...], int], ...],
    k: int,
    mgen: int | None = None,
) -> DataFrame:
    """n-term sloppy-phrase serve over the segmented positional layout:
    the segmented reader's live positions, the sloppy scorer, two-phase
    rank; ``mgen`` pins a manifest snapshot. Unregistered (s50 pins the
    scorer, s47 the reader); equality with the monolithic serve over the
    live corpus is tested."""
    read = _segmented_read(
        spark, _view(path, mgen), (w for _, ws, _ in queries for w in ws), _POS
    )
    if read is None:
        return _empty_ranked(spark, "sp_id", "n_matches")
    return _rank_phrase_matches(_sloppy_match_counts(read[0], queries), k, "sp_id")


@register("s50_sloppy_nterm_phrase", oracle=_s50_oracle())
def s50_sloppy_nterm_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index build (idempotent, shared with s43/s45/s46) +
    one n-term sloppy-phrase batch serve (module comment)."""
    return query_sloppy_phrase_index(
        spark, _build_s43_index(spark, sf_dir), _S50_QUERIES, _S50_K
    )


# ---------------------------------------------------------------------------
# s51: BM25-weighted phrase ranking
# ---------------------------------------------------------------------------
# _rank_phrase_matches orders by raw n_matches — fine for "how many
# times", wrong for "how relevant": a long boilerplate doc repeating a
# phrase outranks a short on-topic one, and phrase rarity is ignored.
# s51 scores a phrase the way ES match_phrase does: treat the phrase as
# one synthetic term with tf = exact match count (from positions) and
# df = number of docs with >= 1 match, then apply the repo's integer-
# micros BM25 (same k1/b and quantization as s31 — scores comparable
# with term queries, e.g. for mixed-bag ranking). dl and corpus stats
# come from the SAME positional artifact (doclen sidecar + stats row).

_S51_PHRASES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("bpA", ("spark", "window")),
    ("bpB", ("hash", "join")),
    ("bpC", ("stream", "batch", "vector")),
)
_S51_K = 5

# the s31 contribution expression with phrase-tf spelled n_matches
_S51_CONTRIB = (
    "CAST(floor("
    "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
    " * (n_matches * 2.2) / (n_matches + 1.2 * (0.25 + 0.75 * (dl / avgdl)))"
    " * 1e6 + 0.5) AS BIGINT)"
)


def _s51_oracle() -> str:
    terms = ", ".join(
        f"'{t}'" for t in sorted({w for _, ws in _S51_PHRASES for w in ws})
    )
    union = _phrase_matches_sql(_S51_PHRASES)
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
dl_all AS (SELECT doc_id, COUNT(*) AS dl FROM pos_all GROUP BY doc_id),
dl AS (
  SELECT d.doc_id, COALESCE(t.dl, 0) AS dl
  FROM (SELECT DISTINCT doc_id FROM documents) d
  LEFT JOIN dl_all t USING (doc_id)
),
stats AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT CAST(SUM(dl) AS DOUBLE) FROM dl)
           / (SELECT COUNT(*) FROM documents) AS avgdl
),
matches AS (
  {union}
),
dfrel AS (SELECT phrase_id, CAST(COUNT(*) AS BIGINT) AS df
          FROM matches GROUP BY phrase_id),
scored AS (
  SELECT m.phrase_id, m.doc_id,
         {_S51_CONTRIB} AS score_micros
  FROM matches m
  JOIN dfrel USING (phrase_id)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
ranked AS (
  SELECT phrase_id, doc_id, score_micros,
         ROW_NUMBER() OVER (PARTITION BY phrase_id
                            ORDER BY score_micros DESC, doc_id) AS rnk
  FROM scored
)
SELECT phrase_id, CAST(rnk AS BIGINT) AS rnk, doc_id, score_micros
FROM ranked WHERE rnk <= {_S51_K}
ORDER BY phrase_id, rnk
"""


def _bm25_phrase_rank(
    matches: DataFrame, dl: DataFrame, stats: DataFrame, k: int
) -> DataFrame:
    """The one BM25-phrase scorer: each phrase is one synthetic term with
    tf = its exact match count and df = the docs with >= 1 match; joins
    df, then the doc-keyed (doc_id, dl), then the one-row (n_docs, avgdl)
    stats, and ranks the integer-micros score two-phase."""
    df_rel = matches.groupBy("phrase_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    scored = (
        matches.join(F.broadcast(df_rel), "phrase_id")
        .join(dl.select("doc_id", "dl"), "doc_id")
        .crossJoin(F.broadcast(stats.select("n_docs", "avgdl")))
        .select("phrase_id", "doc_id", F.expr(_S51_CONTRIB).alias("score_micros"))
    )
    return _topn_two_phase(scored, "score_micros", k, key="phrase_id").orderBy(
        "phrase_id", "rnk"
    )


def query_bm25_phrases(
    spark: SparkSession,
    path: str,
    phrases: tuple[tuple[str, tuple[str, ...]], ...],
    k: int,
) -> DataFrame:
    """BM25-weighted phrase serve from the monolithic positional layout
    (module comment): the reader's pruned position scan, doclen and
    stats row, exact match counts, then the BM25-phrase scorer."""
    pos, dl, stats = _index_read(
        spark, path, (w for _, ws in phrases for w in ws), _POS, doclen=True, stats=True
    )
    return _bm25_phrase_rank(_phrase_match_counts(pos, phrases), dl, stats, k)


def query_bm25_phrases_segmented(
    spark: SparkSession,
    path: str,
    phrases: tuple[tuple[str, tuple[str, ...]], ...],
    k: int,
    mgen: int | None = None,
) -> DataFrame:
    """BM25-weighted phrase serve over the segmented positional layout:
    the segmented reader's live positions and doclen (phrase tf and dl
    both from live versions only) and delta-merged stats, exact match
    counts, then the BM25-phrase scorer; ``mgen`` pins a manifest
    snapshot. Unregistered (s51 pins the scorer, s48 the reader);
    equality with the monolithic serve over the live corpus is tested."""
    read = _segmented_read(
        spark, _view(path, mgen), (w for _, ws in phrases for w in ws), _POS,
        doclen=True, stats=True,
    )
    if read is None:
        return _empty_ranked(spark, "phrase_id", "score_micros")
    pos, dl, stats = read
    return _bm25_phrase_rank(_phrase_match_counts(pos, phrases), dl, stats, k)


@register("s51_bm25_phrase_rank", oracle=_s51_oracle())
def s51_bm25_phrase_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index build (idempotent, shared with s43/s45/s46/s50)
    + one BM25-weighted phrase serve (module comment)."""
    return query_bm25_phrases(spark, _build_s43_index(spark, sf_dir), _S51_PHRASES, _S51_K)
