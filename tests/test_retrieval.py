"""Unit tests for the lexical retrieval family (s31 BM25, s32 PRF).

Oracle parity for both runs in test_oracle_parity.py like every
registered query; these tests pin the retrieval-specific invariants the
hash cannot explain on its own.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_osmosis_spark.operators import QUERIES, load_all
from dbt_osmosis_spark.operators.retrieval import _K, _QUERY_TERMS, _S32_EXP

load_all()


@pytest.fixture(scope="module")
def s31(spark, sf_dir):
    return QUERIES["s31_bm25_topk"](spark, sf_dir).collect()


@pytest.fixture(scope="module")
def s32(spark, sf_dir):
    return QUERIES["s32_prf_expansion"](spark, sf_dir).collect()


def _by_query(rows):
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r.query_id, []).append(r)
    return out


def test_s31_ranks_contiguous_scores_positive_descending(s31):
    per = _by_query(s31)
    assert set(per) == {q for q, _ in _QUERY_TERMS}
    for rows in per.values():
        rows = sorted(rows, key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == list(range(1, _K + 1))
        scores = [r.score_micros for r in rows]
        assert all(s > 0 for s in scores)
        assert scores == sorted(scores, reverse=True)
        assert len({r.doc_id for r in rows}) == _K


def test_s31_top_doc_contains_a_query_term(spark, sf_dir, s31):
    """Every retrieved doc must contain >= 1 query term (BM25 scores only
    matching postings)."""
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    terms_by_q: dict[str, set] = {}
    for q, t in _QUERY_TERMS:
        terms_by_q.setdefault(q, set()).add(t)
    for r in s31:
        toks = set(docs[r.doc_id].lower().split())
        assert toks & terms_by_q[r.query_id], (r.query_id, r.doc_id)


def test_s32_same_shape_and_scores_not_below_matching_s31(s31, s32):
    """Expansion adds terms, never removes: for a doc ranked by both
    passes, the expanded score is >= the pass-1 score (every pass-1
    contribution survives; idf of original terms is unchanged because df
    comes from the same postings)."""
    p1 = {(r.query_id, r.doc_id): r.score_micros for r in s31}
    p2 = {(r.query_id, r.doc_id): r.score_micros for r in s32}
    assert len(s32) == len(s31)
    both = set(p1) & set(p2)
    assert both, "expected overlap between pass-1 and expanded top-k"
    for key in both:
        assert p2[key] >= p1[key], key


def test_s32_determinism(spark, sf_dir, s32):
    again = QUERIES["s32_prf_expansion"](spark, sf_dir).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, s32))


def test_expansion_terms_exclude_query_terms(spark, sf_dir):
    """Rebuild the expansion selection inline and pin its contract:
    exactly <= _S32_EXP terms per query, none of them original terms."""
    from dbt_osmosis_spark.operators.retrieval import (
        _S32_FB,
        _bm25_scores,
        _corpus_stats,
        _doc_dl,
        _tokens,
    )
    from dbt_osmosis_spark.sources.parquet import read_parquet
    from pyspark.sql.window import Window as W

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    stats = _corpus_stats(_doc_dl(docs))
    qterms = spark.createDataFrame(list(_QUERY_TERMS), "query_id string, term string")
    fb_w = W.partitionBy("query_id").orderBy(F.col("score_micros").desc(), "doc_id")
    fb = (
        _bm25_scores(docs, stats, qterms, sorted({t for _, t in _QUERY_TERMS}))
        .withColumn("rnk", F.row_number().over(fb_w))
        .filter(F.col("rnk") <= _S32_FB)
        .select("query_id", "doc_id")
    )
    fb_docs = fb.select("doc_id").distinct().join(docs.select("doc_id", "text"), "doc_id")
    cand = (
        _tokens(fb_docs)
        .join(fb, "doc_id")
        .join(qterms.withColumnRenamed("term", "tok"), ["query_id", "tok"], "left_anti")
        .groupBy("query_id", F.col("tok").alias("term"))
        .agg(F.count(F.lit(1)).alias("fb_tf"))
    )
    exp_w = W.partitionBy("query_id").orderBy(F.col("fb_tf").desc(), "term")
    got = (
        cand.withColumn("rnk", F.row_number().over(exp_w))
        .filter(F.col("rnk") <= _S32_EXP)
        .collect()
    )
    orig = {(q, t) for q, t in _QUERY_TERMS}
    per_q: dict[str, int] = {}
    for r in got:
        assert (r.query_id, r.term) not in orig
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(n <= _S32_EXP for n in per_q.values())


# ---------------------------------------------------------------------------
# s33: RRF hybrid fusion
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def s33(spark, sf_dir):
    return QUERIES["s33_rrf_hybrid"](spark, sf_dir).collect()


def test_s33_rrf_arithmetic_is_exact_integer(s33):
    """rrf_micros must equal the integer-division recomputation from the
    member ranks — the fusion involves no floating point at all."""
    from dbt_osmosis_spark.operators.retrieval import _S33_RRF_K

    for r in s33:
        expect = 0
        if r.dense_rnk is not None:
            expect += 1_000_000 // (_S33_RRF_K + r.dense_rnk)
        if r.lex_rnk is not None:
            expect += 1_000_000 // (_S33_RRF_K + r.lex_rnk)
        assert r.rrf_micros == expect, r


def test_s33_ranks_contiguous_and_member_ranks_bounded(s33):
    from dbt_osmosis_spark.operators.retrieval import _S33_N

    per = _by_query(s33)
    assert set(per) == {q for q, _ in _QUERY_TERMS}
    for rows in per.values():
        rows = sorted(rows, key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == list(range(1, _K + 1))
        micros = [r.rrf_micros for r in rows]
        assert micros == sorted(micros, reverse=True)
        for r in rows:
            assert r.dense_rnk is not None or r.lex_rnk is not None
            assert r.dense_rnk is None or 1 <= r.dense_rnk <= _S33_N
            assert r.lex_rnk is None or 1 <= r.lex_rnk <= _S33_N


def test_s33_doc_in_both_lists_outranks_equal_single_membership(s33):
    """A doc in both lists carries two contributions; its rrf_micros must
    strictly exceed any single-list doc whose best rank is no better."""
    for rows in _by_query(s33).values():
        both = [r for r in rows if r.dense_rnk is not None and r.lex_rnk is not None]
        single = [r for r in rows if (r.dense_rnk is None) != (r.lex_rnk is None)]
        for b in both:
            b_best = min(x for x in (b.dense_rnk, b.lex_rnk) if x is not None)
            for s in single:
                s_rank = s.dense_rnk if s.dense_rnk is not None else s.lex_rnk
                if s_rank >= b_best:
                    assert b.rrf_micros > s.rrf_micros, (b, s)


def test_s33_plan_broadcasts_tiny_sides_and_fuses_small(spark, sf_dir):
    """Plan properties: the dense anchor relation and the lexical
    df/stats/query relations join by broadcast (no corpus-sized shuffle
    join, no cartesian product), and the static exchange count stays
    within the measured budget — a refactor that adds a shuffle fails
    here, not at the next scale probe.  The static plan repeats cached
    lineages (dl/tf are keep_cached), so the ceiling is the measured
    static count, not the runtime one."""
    from dbt_osmosis_spark.plans.audit import (
        exchange_count,
        has_broadcast_join,
        has_cartesian,
    )

    df = QUERIES["s33_rrf_hybrid"](spark, sf_dir)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)
    assert exchange_count(df) <= 18


def test_retrieval_exchange_budgets(spark, sf_dir):
    """Exchange ceilings measured at 1x/10x (SCALE.md round-9 rows): the
    counts were identical at both scales; a refactor that adds a shuffle
    fails here, not at the next scale probe."""
    from dbt_osmosis_spark.plans.audit import exchange_count

    budgets = {
        "s31_bm25_topk": 13,
        "s32_prf_expansion": 93,
        "s33_rrf_hybrid": 18,
        "s34_postings_index_serve": 4,  # serve plan (the returned df)
        "s35_rank_eval": 42,  # composes both systems-under-test
        "s36_postings_incremental_serve": 6,  # serve plan; +df and stats merges
    }
    for name, budget in budgets.items():
        assert exchange_count(QUERIES[name](spark, sf_dir)) <= budget, name


# ---------------------------------------------------------------------------
# s34: persisted term-bucketed postings layout
# ---------------------------------------------------------------------------
def test_s34_serves_identical_results_to_s31(spark, sf_dir, s31):
    """The index is a reorganized copy of the corpus: serving from it must
    produce byte-identical BM25 rows to computing in-plan (s31)."""
    got = QUERIES["s34_postings_index_serve"](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, s31))


def test_s34_serve_scan_prunes_to_probed_term_buckets(spark, sf_dir):
    """The serve scan must list ONLY the buckets the query terms hash
    into: the bucket IN-list is a PartitionFilter at the postings
    FileScan (static pruning), the term IN-list is pushed to the parquet
    reader, tiny sides broadcast, and the serve side adds at most the
    tf-sum + two rank exchanges."""
    from dbt_osmosis_spark.operators.retrieval import (
        _QUERY_TERMS,
        _S34_NB,
        _s34_index_path,
        _s34_tbkt_py,
        query_postings_index,
    )
    from dbt_osmosis_spark.plans.audit import (
        exchange_count,
        has_broadcast_join,
        has_cartesian,
        physical_plan,
    )

    # index exists from the build/serve query; build it if this test runs
    # first in isolation
    QUERIES["s34_postings_index_serve"](spark, sf_dir).collect()
    df = query_postings_index(spark, _s34_index_path(sf_dir), _QUERY_TERMS)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)
    assert exchange_count(df) <= 4
    plan = physical_plan(df)
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln and "postings" in ln]
    assert scan_lines
    probes = sorted({_s34_tbkt_py(t) for _, t in _QUERY_TERMS})
    assert len(probes) < _S34_NB  # pruning must actually prune
    pf = next(
        ln.split("PartitionFilters", 1)[1][:200]
        for ln in scan_lines
        if "PartitionFilters" in ln
    )
    assert "tbkt" in pf and "IN" in pf, pf
    assert any("In(term," in ln for ln in scan_lines), scan_lines


def test_s34_bucket_rule_matches_between_python_and_spark(spark):
    """Probe planning happens in Python; the stored partition key is
    computed by Spark SQL — the two md5 bucket rules must agree or
    pruning would silently drop postings."""
    from dbt_osmosis_spark.operators.retrieval import (
        _S34_SPARK_TBKT,
        _s34_tbkt_py,
    )

    terms = ["spark", "window", "hash", "join", "stream", "batch", "vector", "zzz", ""]
    rows = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .selectExpr("term", f"{_S34_SPARK_TBKT} AS tbkt")
        .collect()
    )
    for r in rows:
        assert r.tbkt == _s34_tbkt_py(r.term), r.term


# ---------------------------------------------------------------------------
# s35: ranking-quality eval
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def s35(spark, sf_dir):
    return QUERIES["s35_rank_eval"](spark, sf_dir).collect()


def test_s35_shape_and_bounds(s35):
    """One row per (query, system); every metric in [0, 1e6] except DCG
    (unnormalized); nDCG == 1e6 iff DCG == IDCG by construction."""
    assert len(s35) == len({q for q, _ in _QUERY_TERMS}) * 2
    systems = {r.system for r in s35}
    assert systems == {"bm25", "rrf"}
    for r in s35:
        assert 0 <= r.mrr_micros <= 1_000_000
        assert r.dcg_micros >= 0
        assert 0 <= r.ndcg_micros <= 1_000_000


def test_s35_bm25_is_ndcg_perfect_against_lexical_qrels(s35):
    """qrels are term-overlap-graded, and BM25 ranks by term match —
    descending qrel grade order and BM25 order agree on this corpus, so
    bm25's nDCG must be 1.0 while rrf (which trades lexical rank for
    dense neighbors) may dip below. A corpus change that breaks this
    signals the qrels derivation drifted, not a ranking bug."""
    bm25 = [r for r in s35 if r.system == "bm25"]
    assert all(r.ndcg_micros == 1_000_000 for r in bm25), bm25


def test_s35_metrics_recompute_from_member_runs(spark, sf_dir, s31, s35):
    """Cross-check DCG for the bm25 system against a driver-side
    recomputation from s31's rows and inline qrels."""
    from dbt_osmosis_spark.operators.retrieval import _S35_DISCOUNTS

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    terms_by_q: dict[str, set] = {}
    for q, t in _QUERY_TERMS:
        terms_by_q.setdefault(q, set()).add(t)
    disc = dict(_S35_DISCOUNTS)
    import math

    expected: dict[str, int] = {}
    for r in s31:
        toks = set(docs[r.doc_id].lower().split())
        rel = len(toks & terms_by_q[r.query_id])
        g = math.floor((2.0**rel - 1.0) * disc[r.rnk] * 1e6 + 0.5)
        expected[r.query_id] = expected.get(r.query_id, 0) + int(g)
    got = {r.query_id: r.dcg_micros for r in s35 if r.system == "bm25"}
    assert got == expected


# ---------------------------------------------------------------------------
# s36: incremental postings maintenance
# ---------------------------------------------------------------------------
def test_s36_serves_identical_results_to_s31(spark, sf_dir, s31):
    got = QUERIES["s36_postings_incremental_serve"](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, s31))


def test_s36_delta_merge_equals_full_rebuild(spark, sf_dir):
    """The merged stats deltas (stats/part=*) must equal a from-scratch
    aggregation over the full corpus — the mergeability claim, checked
    directly on the persisted state."""
    from dbt_osmosis_spark.operators.retrieval import (
        _corpus_stats,
        _doc_dl,
        _s36_index_path,
    )
    from dbt_osmosis_spark.sources.parquet import read_parquet

    QUERIES["s36_postings_incremental_serve"](spark, sf_dir).collect()
    path = _s36_index_path(sf_dir)

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    want_stats = _corpus_stats(_doc_dl(docs)).collect()[0]
    stats = spark.read.parquet(f"{path}/stats")
    assert {r.part for r in stats.select("part").distinct().collect()} == {
        "ingest-0",
        "ingest-1",
    }
    got_stats = (
        stats.agg(F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl"))
        .selectExpr("n_docs", "CAST(sum_dl AS DOUBLE) / n_docs AS avgdl")
        .collect()[0]
    )
    assert got_stats.n_docs == want_stats.n_docs
    assert got_stats.avgdl == want_stats.avgdl  # exact same division


def test_s36_serve_plan_prunes_and_stays_small(spark, sf_dir):
    from dbt_osmosis_spark.operators.retrieval import _QUERY_TERMS, _s36_index_path
    from dbt_osmosis_spark.operators.retrieval_ext import query_segmented_postings
    from dbt_osmosis_spark.plans.audit import (
        exchange_count,
        has_broadcast_join,
        has_cartesian,
        physical_plan,
    )

    QUERIES["s36_postings_incremental_serve"](spark, sf_dir).collect()
    df = query_segmented_postings(spark, _s36_index_path(sf_dir), _QUERY_TERMS)
    assert has_broadcast_join(df)
    assert not has_cartesian(df)
    # s34's serve is 4; the two extra exchanges here are the serve-side
    # df (groupBy term on the query-term-filtered scan) and the 1-row
    # stats sum — both stats-sized, never corpus-sized
    assert exchange_count(df) <= 6
    plan = physical_plan(df)
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln and "postings" in ln]
    pf = next(
        ln.split("PartitionFilters", 1)[1][:200]
        for ln in scan_lines
        if "PartitionFilters" in ln and "/postings]" in ln.split("PartitionFilters")[0]
    )
    assert "tbkt" in pf and "IN" in pf, pf


def test_s37_matches_direct_qld_recomputation(spark, sf_dir):
    """Recompute Dirichlet QLD end-to-end in plain Python — same sparse
    decomposition, same 1e-9 quantization — and require the exact top-5
    (ids AND scores) per query."""
    import math
    from collections import Counter, defaultdict

    from dbt_osmosis_spark.sources.parquet import read_parquet

    MU = 2000
    docs = [
        (r.doc_id, [w for w in r.text.lower().split(" ") if w])
        for r in read_parquet(spark, f"{sf_dir}/documents.parquet").collect()
    ]
    qterms = defaultdict(list)
    for q, tm in _QUERY_TERMS:
        qterms[q].append(tm)
    c_tot = sum(len(ws) for _, ws in docs)
    all_terms = set(tm for _, tm in _QUERY_TERMS)
    cf = Counter(w for _, ws in docs for w in ws if w in all_terms)

    def q9(x: float) -> int:
        return math.floor(x * 1e9 + 0.5)

    want = []
    for q, terms in sorted(qterms.items()):
        kq = sum(q9(math.log2(MU * cf[tm] / c_tot)) for tm in terms)
        nq = len(terms)
        scored = []
        for doc_id, ws in docs:
            tfs = Counter(w for w in ws if w in terms)
            if not tfs:
                continue
            delta = sum(
                q9(math.log2((tf * c_tot + MU * cf[tm]) / (MU * cf[tm])))
                for tm, tf in tfs.items()
            )
            ln = q9(math.log2(len(ws) + MU))
            scored.append((kq + delta - nq * ln, doc_id))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rnk, (s, d) in enumerate(scored[:5], 1):
            want.append((q, rnk, d, s))
    got = [
        (r.query_id, r.rnk, r.doc_id, r.score_nano)
        for r in QUERIES["s37_qld_topk"](spark, sf_dir).collect()
    ]
    assert got == want


def test_s37_length_penalty_orders_equal_evidence(spark, sf_dir):
    """Between two candidates with identical per-term tf for a query,
    QLD must rank the shorter document higher (the Dirichlet length
    normalization) — checked on any such pair found in the top-k."""
    rows = QUERIES["s37_qld_topk"](spark, sf_dir).collect()
    # structural sanity: contiguous ranks, strictly ordered scores
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in rows:
        per_q[r.query_id].append(r)
    for q, rs in per_q.items():
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        scores = [r.score_nano for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_s38_serves_identical_results_to_s37(spark, sf_dir):
    """The ranker-agnostic layout contract: QLD served from the postings
    index must be byte-identical to s37's in-plan computation."""
    got = QUERIES["s38_qld_postings_serve"](spark, sf_dir).collect()
    want = QUERIES["s37_qld_topk"](spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_s38_serve_scan_prunes_to_probed_term_buckets(spark, sf_dir):
    """The QLD serve plan must keep s34's pruning properties: the bucket
    IN-list as a partition filter on the postings scan and no scan of the
    base documents table in the serve subtree."""
    from dbt_osmosis_spark.operators.retrieval import (
        _s34_index_path,
        _s34_tbkt_py,
        _QUERY_TERMS,
    )
    from dbt_osmosis_spark.plans.audit import physical_plan

    df = QUERIES["s38_qld_postings_serve"](spark, sf_dir)
    plan = physical_plan(df)
    probes = sorted({_s34_tbkt_py(t) for _, t in _QUERY_TERMS})
    assert "PartitionFilters" in plan
    assert any(str(p) in plan for p in probes)
    # the serve side reads the index, not documents.parquet
    serve_scans = [
        ln for ln in plan.splitlines() if "documents.parquet" in ln and "Scan" in ln
    ]
    # one scan of documents is the BUILD job; the returned (serve) plan
    # must not contain any
    assert not serve_scans, serve_scans


def test_scratch_layout_removed_at_interpreter_exit():
    """A layout directory handed out by ``_scratch_path`` is gone once the
    process that asked for it exits."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "import os\n"
        "from dbt_osmosis_spark.operators.retrieval_ext import _scratch_path\n"
        "p = _scratch_path('.postings_tiered', 'sf-exit-probe', 'probe')\n"
        "os.makedirs(os.path.join(p, 'seg=0'))\n"
        "open(os.path.join(p, 'seg=0', 'part.parquet'), 'w').close()\n"
        "assert _scratch_path('.postings_tiered', 'sf-exit-probe', 'probe') == p\n"
        "print(p)\n"
    )
    repo = Path(__file__).resolve().parents[1]
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr
    path = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(path).startswith("sf-exit-probe-probe-")
    assert not os.path.exists(path)
