"""Retrieval tier (ops/retrieval.py): BM25 + RRF fusion.

Value correctness is cross-engine-oracled (OP-D4-bm25 / OP-D3-hybrid in
the registry, exact at sf0.001 and sf0.01); these tests pin the
library-surface semantics and the plan shapes the 100 TB story depends
on: the scoring pass must stay a pure projection (no explode, no join)
feeding TakeOrderedAndProject, and the stats pass must be one
map-combined single-row aggregate.
"""

import math
import re

import pytest
import pyspark.sql.functions as F

from tests.test_plans import _plan, _shuffle_count


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_bm25_matches_pure_python(spark, docs):
    """Py reference on the collected corpus == the distributed result."""
    from filefilter_spark.ops.retrieval import bm25_topk

    terms = ["spark", "merge"]
    rows = [(r["doc_id"], r["text"].lower().split()) for r in docs.collect()]
    n = len(rows)
    avgdl = sum(len(tk) for _, tk in rows) / n
    dfs = [sum(1 for _, tk in rows if t in tk) for t in terms]
    idfs = [math.log(1.0 + (n - d + 0.5) / (d + 0.5)) for d in dfs]

    def score(tk):
        dl = float(len(tk))
        norm = 1.2 * (0.25 + 0.75 * dl / avgdl)
        return round(
            sum(
                idf * ((tk.count(t) * 2.2) / (tk.count(t) + norm))
                for t, idf in zip(terms, idfs)
            ),
            6,
        )

    expect = sorted(
        ((did, score(tk)) for did, tk in rows if score(tk) > 0),
        key=lambda x: (-x[1], x[0]),
    )[:5]
    got = [(r["doc_id"], r["bm25"]) for r in bm25_topk(docs, terms, k=5).collect()]
    assert got == expect


def test_bm25_absent_term_contributes_zero(spark, docs):
    """A query term with df=0 must not shift any score (idf is finite,
    tf=0 zeroes the term) — the three-term query with a ghost term
    equals the two-term query."""
    from filefilter_spark.ops.retrieval import bm25_topk

    base = bm25_topk(docs, ["spark", "merge"], k=5).collect()
    ghost = bm25_topk(docs, ["spark", "zzz_not_a_token", "merge"], k=5).collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in ghost]


def test_bm25_empty_query_raises(docs):
    from filefilter_spark.ops.retrieval import bm25_topk

    with pytest.raises(ValueError, match="query_terms"):
        bm25_topk(docs, [])


def test_bm25_scoring_plan_is_projection_plus_take_ordered(spark, docs):
    """The corpus-scale pass: no Generate (explode), no Join, no
    aggregate — a pure in-row projection under TakeOrderedAndProject
    with zero shuffles. The query terms ride in as literals."""
    from filefilter_spark.ops.retrieval import bm25_topk

    plan = _plan(bm25_topk(docs, ["spark", "merge", "window"], k=10))
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in plan
    assert "Generate" not in tree
    assert "Join" not in tree
    assert "HashAggregate" not in tree
    assert _shuffle_count(plan) == 0


def test_bm25_topk_scores_each_document_once(spark, docs, tmp_path):
    """The score (its rounding step names it) appears once in the
    executed plan of the scan and of the indexed top-k: the
    ``bm25 > 0`` filter runs after the limit, where Catalyst cannot
    push it through the scoring projection and repeat the score."""
    from filefilter_spark.ops.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        build_text_index,
    )

    ix = str(tmp_path / "ix")
    build_text_index(docs, ix, n_buckets=8)
    terms = ["spark", "merge", "window"]
    for df in (bm25_topk(docs, terms, k=10),
               bm25_topk_indexed(spark, ix, terms, k=10)):
        plan = _plan(df)
        assert plan.count("round(") == 1, plan
        assert "TakeOrderedAndProject" in plan


def test_bm25_stats_pass_is_single_row_map_combined(spark, docs):
    """The stats pass folds (N, Σdl, df per term) map-side: partial +
    final HashAggregate around at most one single-row exchange, and no
    explode — per-term hits are computed in-row."""
    from filefilter_spark.ops.retrieval import bm25_corpus_stats
    from filefilter_spark.ops.retrieval import _per_term_tf  # noqa: F401
    from filefilter_spark.ops.text import _bind, tokens

    terms = ["spark", "merge"]
    src = F.lower(F.col("text"))
    per_doc = docs.select(
        _bind(
            tokens(src),
            lambda tok: F.struct(
                F.size(tok).alias("dl"),
                *[
                    (_per_term_tf(tok, t) > 0).cast("long").alias(f"hit_{i}")
                    for i, t in enumerate(terms)
                ],
            ),
        ).alias("s")
    )
    agg = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("s.dl").alias("sum_dl"),
        *[F.sum(f"s.hit_{i}").alias(f"df_{i}") for i in range(len(terms))],
    )
    plan = _plan(agg)
    tree = plan.split("\n\n")[0]
    assert "Generate" not in tree
    assert len(re.findall(r"HashAggregate", tree)) == 2  # partial + final
    # the API returns plain Python numbers usable as literals
    stats = bm25_corpus_stats(docs, terms)
    n, avgdl, dfs = stats.n, stats.avgdl, stats.dfs
    assert n > 0 and avgdl > 0 and len(dfs) == 2


def test_rrf_missing_rank_contributes_zero(spark):
    from filefilter_spark.ops.retrieval import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rank int")
    got = {r["doc_id"]: r["rrf_score"] for r in rrf_fuse(a, b, k=10).collect()}
    assert got[2] == round(1.0 / 62 + 1.0 / 61, 6)  # in both lists
    assert got[1] == round(1.0 / 61, 6)  # only in a
    assert got[3] == round(1.0 / 62, 6)  # only in b
    # doc 2 (both lists) outranks the singletons
    assert got[2] > got[1] > got[3]


def test_ranked_is_deterministic_on_ties(spark):
    """Equal rounded scores break by id — the cross-engine guard."""
    from filefilter_spark.ops.retrieval import ranked

    df = spark.createDataFrame(
        [(5, 0.5), (3, 0.5), (1, 0.9)], "doc_id long, s double"
    )
    got = [(r["doc_id"], r["rank"]) for r in ranked(df, "s", "doc_id").collect()]
    assert sorted(got) == [(1, 1), (3, 2), (5, 3)]


def test_bm25_precomputed_stats_skip_stats_pass(spark, docs):
    """stats= reuse: identical result, and the scoring job is the ONLY
    job (the lazy plan contains no aggregate — pinned via the plan)."""
    from filefilter_spark.ops.retrieval import bm25_corpus_stats, bm25_topk

    terms = ["spark", "merge"]
    stats = bm25_corpus_stats(docs, terms)
    base = [tuple(r) for r in bm25_topk(docs, terms, k=5).collect()]
    reused = bm25_topk(docs, terms, k=5, stats=stats)
    assert [tuple(r) for r in reused.collect()] == base
    with pytest.raises(ValueError, match="same term list"):
        bm25_topk(docs, ["spark"], k=5, stats=stats)


def test_bm25_batch_equals_per_query_topk(spark, docs):
    """Each query's slice of the batch result == the single-query op
    (idf depends only on (N, df_t), so union-stats scoring is
    identical), with ranks matching the rounded-score order."""
    from filefilter_spark.ops.retrieval import bm25_batch_topk, bm25_topk

    queries = {"a": ["spark", "merge"], "b": ["window"]}
    batch = bm25_batch_topk(docs, queries, k=5).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["q_id"], []).append(r)
    for q, terms in queries.items():
        got = [(r["doc_id"], r["bm25"]) for r in
               sorted(by_q[q], key=lambda r: r["rank"])]
        want = [(r["doc_id"], r["bm25"]) for r in
                bm25_topk(docs, terms, k=5).collect()]
        assert got == want, q


def test_bm25_batch_plan_window_group_limit(spark, docs):
    """The per-query top-k must compile to WindowGroupLimit (partial
    per-partition top-k map-side) and the scan side must stay
    join-free: one Generate (the per-query explode), one window
    shuffle."""
    from filefilter_spark.ops.retrieval import bm25_batch_topk

    plan = _plan(bm25_batch_topk(docs, {"a": ["spark"], "b": ["merge"]}, k=5))
    tree = plan.split("\n\n")[0]
    assert "WindowGroupLimit" in tree
    assert "Join" not in tree
    assert len(re.findall(r"\bGenerate\b", tree)) == 1
    assert _shuffle_count(plan) == 1


def test_bm25_batch_empty_query_raises(docs):
    from filefilter_spark.ops.retrieval import bm25_batch_topk

    with pytest.raises(ValueError, match="non-empty"):
        bm25_batch_topk(docs, {})
    with pytest.raises(ValueError, match="no terms"):
        bm25_batch_topk(docs, {"a": []})


def test_bm25_indexed_matches_scan_and_prunes(spark, docs, tmp_path):
    """The persisted-index path returns EXACTLY the scan path's result
    (df=0 ghost term included), and the probe plan carries the bucket
    partition filter — the corpus is never re-scanned."""
    from filefilter_spark.ops.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        build_text_index,
    )

    ix = str(tmp_path / "ix")
    build_text_index(docs, ix, n_buckets=16)
    terms = ["spark", "merge", "zzz_ghost"]
    scan = [tuple(r) for r in bm25_topk(docs, terms, k=10).collect()]
    via_ix = bm25_topk_indexed(spark, ix, terms, k=10, n_buckets=16)
    assert [tuple(r) for r in via_ix.collect()] == scan
    plan = _plan(via_ix)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1)
    # and the pruned read scans postings, not documents
    assert "documents" not in plan.split("\n\n")[0].lower()


def test_bm25_duplicate_terms_count_once_on_every_path(spark, docs, tmp_path):
    """A duplicated query term scores as the term SET on every path
    (scan == batch == indexed) — before r14 the scan path summed the
    term once per occurrence while the indexed path's (doc, term)
    postings counted it once, so 'spark spark' diverged (ADVICE r13)."""
    from filefilter_spark.ops.retrieval import (
        bm25_batch_topk,
        bm25_topk,
        bm25_topk_indexed,
        build_text_index,
    )

    dup, uniq = ["spark", "spark", "merge"], ["spark", "merge"]
    scan_uniq = [tuple(r) for r in bm25_topk(docs, uniq, k=10).collect()]
    assert [tuple(r) for r in bm25_topk(docs, dup, k=10).collect()] == scan_uniq
    ix = str(tmp_path / "ixdup")
    build_text_index(docs, ix, n_buckets=8)
    via_ix = bm25_topk_indexed(spark, ix, dup, k=10, n_buckets=8)
    assert [tuple(r) for r in via_ix.collect()] == scan_uniq
    batch = bm25_batch_topk(docs, {"q": dup}, k=10).collect()
    got = [(r["doc_id"], r["bm25"])
           for r in sorted(batch, key=lambda r: r["rank"])]
    assert got == scan_uniq


def test_bm25_stats_term_mismatch_same_length_raises(spark, docs):
    """A stats object from a DIFFERENT term list of the same length
    must be rejected — length-only validation silently produced wrong
    idf weights (ADVICE r13)."""
    from filefilter_spark.ops.retrieval import bm25_corpus_stats, bm25_topk

    stats = bm25_corpus_stats(docs, ["spark", "merge"])
    with pytest.raises(ValueError, match="same term list"):
        bm25_topk(docs, ["spark", "window"], k=5, stats=stats)


def test_bm25_indexed_scoring_is_fixed_operand_order(spark, docs, tmp_path):
    """The indexed per-doc score pivots into one column per query term
    and sums left-to-right (scan-path operand order) — no bare
    groupBy().sum() whose float addition order follows partitioning.
    Pinned by plan shape: the scoring aggregate carries the per-term
    max() pivots, not a sum(c) over contribution rows."""
    from filefilter_spark.ops.retrieval import bm25_topk_indexed, build_text_index

    ix = str(tmp_path / "ixord")
    build_text_index(docs, ix, n_buckets=8)
    plan = _plan(bm25_topk_indexed(spark, ix, ["spark", "merge"], k=10,
                                   n_buckets=8))
    assert "max(CASE WHEN" in plan
    assert re.search(r"\bsum\(c#", plan) is None


def test_bm25_batch_indexed_matches_scan_and_prunes(spark, docs, tmp_path):
    """The batch-indexed path (r14): one pruned read of the union
    terms' buckets serves every query, results EXACTLY equal to
    bm25_batch_topk — dup and ghost terms included — and the probe
    plan carries the bucket partition filter with no documents scan."""
    from filefilter_spark.ops.retrieval import (
        bm25_batch_topk,
        bm25_batch_topk_indexed,
        build_text_index,
    )

    ix = str(tmp_path / "bix")
    build_text_index(docs, ix, n_buckets=16)
    queries = {"a": ["spark", "spark", "merge"], "b": ["window"],
               "c": ["merge", "zzz_ghost"]}
    scan = sorted(tuple(r) for r in
                  bm25_batch_topk(docs, queries, k=5).collect())
    via_ix = bm25_batch_topk_indexed(spark, ix, queries, k=5, n_buckets=16)
    assert sorted(tuple(r) for r in via_ix.collect()) == scan
    plan = _plan(via_ix)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1)
    assert "documents" not in plan.split("\n\n")[0].lower()
    with pytest.raises(ValueError, match="non-empty"):
        bm25_batch_topk_indexed(spark, ix, {})
    with pytest.raises(ValueError, match="no terms"):
        bm25_batch_topk_indexed(spark, ix, {"a": []})


def test_bm25_indexed_empty_corpus_refuses_at_build(spark, docs, tmp_path):
    """An empty partitioned postings write would be unreadable later —
    the build must refuse loudly up front."""
    from filefilter_spark.ops.retrieval import build_text_index

    with pytest.raises(ValueError, match="empty corpus"):
        build_text_index(docs.limit(0), str(tmp_path / "ix0"), n_buckets=4)
    assert not (tmp_path / "ix0").exists()


def test_build_text_index_runs_its_stats_aggregate_once(spark, docs, tmp_path):
    """The collected stats row answers the empty-corpus check and is
    written as the sidecar, so the build tokenizes the corpus twice
    (stats, postings), not three times. Ten jobs: the stats aggregate
    (2), the sidecar write (1), the postings write (3), the postings
    schema read (1) and the terms write (3)."""
    from conftest import jobs_in_group

    from filefilter_spark.ops.layout import _read_sidecar
    from filefilter_spark.ops.retrieval import build_text_index

    ix = str(tmp_path / "ix")
    _, n_jobs = jobs_in_group(
        spark, "text-index", lambda: build_text_index(docs, ix, n_buckets=16))
    assert n_jobs == 10
    assert _read_sidecar(spark, f"{ix}/stats") == {
        "n_docs": 500, "sum_dl": 27939, "n_buckets": 16, "built_n_docs": 500}


def test_index_sidecar_in_an_older_format_must_be_rebuilt(spark, docs, tmp_path):
    """A ``stats/`` table in the pre-JSON column layout (or none at all)
    refuses with a rebuild hint instead of probing with missing
    fields."""
    from filefilter_spark.ops.retrieval import bm25_topk_indexed, build_text_index

    ix = str(tmp_path / "ix")
    with pytest.raises(ValueError, match="no index"):
        bm25_topk_indexed(spark, ix, ["spark"], k=3)
    build_text_index(docs, ix, n_buckets=8)
    spark.createDataFrame(
        [(500, 27939, 8, 500)],
        "n_docs long, sum_dl long, n_buckets long, built_n_docs long",
    ).write.mode("overwrite").parquet(f"{ix}/stats")
    spark.catalog.refreshByPath(f"{ix}/stats")
    with pytest.raises(ValueError, match="not a JSON sidecar: rebuild"):
        bm25_topk_indexed(spark, ix, ["spark"], k=3)
