"""Keyword retrieval and rank fusion (OP-D4-bm25 / OP-D3-hybrid).

The reference's engine answers similarity queries only through its SQL
tier (reference ``Database.py:64-92`` delegates everything relational to
embedded DuckDB); a training-data pipeline at 100 TB also needs the
retrieval primitives on top — BM25 keyword search over the corpus and
reciprocal-rank fusion of keyword + embedding rankings (the standard
hybrid-retrieval shape for dataset curation: find-docs-like-this with
both lexical and semantic evidence).

Spark-first design:

* Every BM25 search, single or batch, scan or indexed, is one scorer
  plus a top-k step. The scorer turns a batch of term queries into one
  ``qs`` column per document — an array of (q_id, bm25) structs, one
  per query — and a single-query search is the one-query batch.
  The scan scorer (:func:`_scan_scores`) is TWO corpus passes and ZERO
  wide shuffles: the query terms ride in as literals (never a join);
  pass 1 is :func:`bm25_corpus_stats`, one map-combined global
  aggregate over in-row per-term hits into a single stats row (N, Σdl,
  df per union term) that the driver turns into idf literals; pass 2
  is a pure projection that tokenizes once, computes tf once per union
  term and sums each query's terms in its own fixed order. The indexed
  scorer (:func:`_indexed_scores`) reads the same figures from a
  :func:`build_text_index` layout instead of scanning the corpus.
* The single-query top-k reads element 0 of ``qs`` in-row and takes
  top-k through TakeOrderedAndProject — per-partition heaps, no global
  sort, no explode. The batch top-k explodes ``qs`` and ranks through
  a per-query window that Spark rewrites to WindowGroupLimit.
* ``rrf_fuse`` joins two SMALL ranked lists (top-n each) — a
  broadcast-sized full outer join, never a corpus-scale operation.

Cross-engine determinism: ranks are taken on the 6dp-ROUNDED score with
an id tiebreak (the topk_cosine / tfidf guard — raw doubles from two
engines' fold orders can differ in the last ulp), idf uses
``math.log(1.0 + x)`` to match SQL ``ln(1 + x)`` operand-for-operand
(NOT ``log1p``, which is a different float function), and every scoring
expression fixes the same operand order the DuckDB oracle spells out.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable, Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from filefilter_spark.ops.layout import (
    _dir_exists,
    _read_sidecar,
    _swap_dirs,
    _write_sidecar,
)
from filefilter_spark.ops.text import _bind, tokens


def _per_term_tf(tok: Column, term: str) -> Column:
    """Occurrences of ``term`` in a token array — in-row, no explode."""
    return F.size(F.filter(tok, lambda t: t == F.lit(term)))


def _normalize_terms(query_terms: Sequence[str], lowercase: bool) -> list[str]:
    """Lowercase (when asked) then DEDUPE preserving first-occurrence
    order. BM25's classic per-term form treats the query as a term SET:
    a duplicated term ('spark spark') counts once, which is also what
    the indexed path's unique (doc, term) postings give."""
    normed = [t.lower() for t in query_terms] if lowercase else query_terms
    return list(dict.fromkeys(normed))


def _query_terms(
    queries: Mapping[str, Sequence[str]], lowercase: bool, caller: str
) -> tuple[dict[str, list[str]], list[str]]:
    """Each query's normalized term list, and the UNION of them in
    first-occurrence order — the one term list that stats, the tf array
    and the indexed pivot are built over."""
    if not queries:
        raise ValueError(f"{caller}: queries must be non-empty")
    per_query = {
        q: _normalize_terms(ts, lowercase) for q, ts in queries.items()
    }
    for q, ts in per_query.items():
        if not ts:
            raise ValueError(f"{caller}: query {q!r} has no terms")
    union = _normalize_terms(
        [t for ts in per_query.values() for t in ts], False
    )
    return per_query, union


@dataclass(frozen=True)
class Bm25Stats:
    """:func:`bm25_corpus_stats` result: N, avgdl, and one df per term
    of ``terms``, the NORMALIZED term list the dfs were computed for —
    so :func:`bm25_topk` can check term for term that a precomputed
    stats object belongs to the query (a same-length df list from a
    different term list would silently produce wrong idf weights)."""

    n: int
    avgdl: float
    dfs: list[int]
    terms: tuple[str, ...]


def bm25_corpus_stats(
    df: DataFrame,
    query_terms: Sequence[str],
    text_col: str = "text",
    lowercase: bool = True,
) -> Bm25Stats:
    """One map-combined pass → :class:`Bm25Stats` (N, avgdl, df per
    NORMALIZED query term — lowercased when asked, duplicates removed
    first-occurrence order; ``.terms`` records exactly which list the
    dfs align with).

    The aggregate is a single row regardless of corpus size: partial
    aggregation happens map-side per partition, the fan-in is one
    grouped row. ``avgdl`` is Σdl/N on exact int64 inputs, so the same
    IEEE division reproduces bit-identically in any engine."""
    query_terms = _normalize_terms(query_terms, lowercase)
    src = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    per_doc = df.select(
        _bind(
            tokens(src),
            lambda tok: F.struct(
                F.size(tok).alias("dl"),
                *[
                    (_per_term_tf(tok, t) > 0).cast("long").alias(f"hit_{i}")
                    for i, t in enumerate(query_terms)
                ],
            ),
        ).alias("s")
    )
    row = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("s.dl").alias("sum_dl"),
        *[
            F.sum(f"s.hit_{i}").alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    ).first()
    n = int(row["n"])
    avgdl = float(row["sum_dl"]) / n if n else 0.0
    dfs = [int(row[f"df_{i}"] or 0) for i in range(len(query_terms))]
    return Bm25Stats(n, avgdl, dfs, tuple(query_terms))


def bm25_idf(n: int, df_t: int) -> float:
    """Robertson-Sparck Jones idf with the +1 floor (the Lucene/BM25+
    form, always positive): ln(1 + (N - df + 0.5) / (df + 0.5))."""
    return math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))


def _bm25_term(
    idf: Column, tf: Column, dl: Column, avgdl: float, k1: float, b: float
) -> Column:
    """One term's contribution, idf · tf·(k1+1) / (tf + k1·(1 − b +
    b·dl/avgdl)), in the operand order the DuckDB oracle spells out."""
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
    return idf * ((tf * F.lit(k1 + 1.0)) / (tf + norm))


def _query_scores(
    per_query: Mapping[str, list[str]], term_score: Callable[[str], Column]
) -> Column:
    """``qs``: array of (q_id, bm25) structs in query order — each
    query's term scores summed left to right in ITS term order from an
    exact 0.0, then rounded to 6dp. The fixed order keeps a score on a
    rounding boundary from flipping between the scan and indexed paths
    (a bare groupBy().sum() would add in partition order)."""
    out = []
    for q, ts in per_query.items():
        total = F.lit(0.0)
        for t in ts:
            total = total + term_score(t)
        out.append(
            F.struct(F.lit(q).alias("q_id"), F.round(total, 6).alias("bm25"))
        )
    return F.array(*out)


def _scan_scores(
    df: DataFrame,
    queries: Mapping[str, Sequence[str]],
    text_col: str,
    k1: float,
    b: float,
    lowercase: bool,
    caller: str,
    stats: Bm25Stats | None = None,
) -> tuple[DataFrame, Column]:
    """``(df, qs)``: the frame to score and its :func:`_query_scores`
    column, after one :func:`bm25_corpus_stats` pass for the union terms
    (skipped when ``stats`` is given). ``qs`` tokenizes once and binds
    the per-row tf array of the union terms once (``_bind``); each
    query's score indexes into that array."""
    per_query, union = _query_terms(queries, lowercase, caller)
    if stats is None:
        stats = bm25_corpus_stats(df, union, text_col, lowercase=lowercase)
    elif list(stats.terms) != union:
        raise ValueError(
            f"{caller}: stats was computed for terms {list(stats.terms)} "
            f"but the query normalizes to {union} — stats must come from "
            "bm25_corpus_stats over the same term list"
        )
    idf = {t: F.lit(bm25_idf(stats.n, d)) for t, d in zip(union, stats.dfs)}
    pos = {t: i for i, t in enumerate(union)}
    src = F.lower(F.col(text_col)) if lowercase else F.col(text_col)

    def scores(tok: Column) -> Column:
        dl = F.size(tok).cast("double")
        return _bind(
            F.array(*[_per_term_tf(tok, t).cast("double") for t in union]),
            lambda tfs: _query_scores(
                per_query,
                lambda t: _bm25_term(
                    idf[t], F.get(tfs, pos[t]), dl, stats.avgdl, k1, b
                ),
            ),
        )

    if stats.n == 0 or stats.avgdl == 0.0:
        df = df.limit(0)
    return df, _bind(tokens(src), scores)


def _top_k(df: DataFrame, qs: Column, id_col: str, k: int) -> DataFrame:
    """Top-k of a one-query ``qs``: element 0 read in-row (no
    Generate) feeding TakeOrderedAndProject; returns (id_col, bm25).
    The ``bm25 > 0`` filter runs on the k rows the limit keeps (a
    prefix of the same order, so the rows are the same): below the
    limit, Catalyst would push it through the projection and every
    document would be scored twice."""
    return (
        df.select(F.col(id_col), F.get(qs, 0).getField("bm25").alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
        .filter(F.col("bm25") > 0.0)
    )


def _batch_top_k(
    df: DataFrame, qs: Column, id_col: str, k: int
) -> DataFrame:
    """Per-query top-k of ``qs``: explode to (q_id, bm25) rows
    and rank over a per-query window that Spark rewrites to
    WindowGroupLimit — partial top-k per partition map-side, so the one
    shuffle carries at most k·|queries| rows per partition, never the
    corpus. Returns (q_id, id_col, bm25, rank)."""
    exploded = (
        df.select(F.col(id_col), F.explode(qs).alias("q"))
        .select(F.col(id_col), F.col("q.q_id"), F.col("q.bm25"))
        .filter(F.col("bm25") > 0.0)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("bm25"), F.asc(id_col))
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", id_col, "bm25", "rank")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    lowercase: bool = True,
    stats: Bm25Stats | None = None,
) -> DataFrame:
    """BM25 top-k over a document table for a literal query.

    Returns (id_col, bm25) with bm25 rounded to 6dp; ordering and
    top-k membership are decided on the rounded score (id tiebreak).
    Score per doc, summed left-to-right in query-term order:

        Σ_t idf_t * (tf_t * (k1+1)) / (tf_t + k1 * (1 - b + b*dl/avgdl))

    Query terms are normalized (lowercased, then deduped preserving
    first-occurrence order) — BM25 treats the query as a term set. The
    scorer is :func:`bm25_batch_topk`'s, for a batch of one query.

    ``stats`` takes a precomputed :func:`bm25_corpus_stats` result for
    the SAME normalized term list (checked term for term), so repeated
    queries against an unchanged corpus skip the stats pass and pay
    only the scoring scan.
    """
    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    scored = _scan_scores(
        df, {"": query_terms}, text_col, k1, b, lowercase, "bm25_topk", stats
    )
    return _top_k(*scored, id_col, k)


def ranked(
    df: DataFrame, score_col: str, id_col: str, ascending: bool = False
) -> DataFrame:
    """Attach dense 1-based ranks to an ALREADY-SMALL ranked list
    (top-n output). Single-partition window by construction — the
    input is k rows, never corpus-scale. ``ascending=True`` ranks
    smallest-first (distance metrics: L2 ``dist2``), default ranks
    largest-first (similarity scores: bm25, cosine)."""
    order = F.asc(score_col) if ascending else F.desc(score_col)
    w = Window.orderBy(order, F.asc(id_col))
    return df.select(F.col(id_col), F.row_number().over(w).alias("rank"))


def _rrf_fused(
    a: DataFrame, b: DataFrame, keys: list[str], k_rrf: int
) -> DataFrame:
    """(keys, rrf_score, rank_a, rank_b): the full outer join of two
    ranked lists on ``keys`` with score 1/(k_rrf + rank_a) +
    1/(k_rrf + rank_b) — a missing rank contributes 0, the fixed
    two-operand addition keeps the score bit-deterministic, rounded to
    6dp."""
    ra = a.select(*keys, F.col("rank").alias("rank_a"))
    rb = b.select(*keys, F.col("rank").alias("rank_b"))

    def inv(rank: str) -> Column:
        return F.coalesce(
            F.lit(1.0) / (F.lit(k_rrf) + F.col(rank)).cast("double"),
            F.lit(0.0),
        )

    return ra.join(rb, on=keys, how="full_outer").select(
        *keys,
        F.round(inv("rank_a") + inv("rank_b"), 6).alias("rrf_score"),
        "rank_a",
        "rank_b",
    )


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    k_rrf: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists (Cormack et al. 2009):
    score(d) = 1/(k_rrf + rank_a(d)) + 1/(k_rrf + rank_b(d)), missing
    ranks contribute 0. Inputs are top-n lists (small); the full outer
    join is broadcast-sized. Membership/order decided on the rounded
    score with id tiebreak."""
    return (
        _rrf_fused(a, b, [id_col], k_rrf)
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )


def rrf_fuse_batch(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    q_col: str = "q_id",
    k_rrf: int = 60,
    k: int = 10,
) -> DataFrame:
    """:func:`rrf_fuse` for a BATCH of queries: fuse two per-query
    ranked tables (q_col, id_col, ..., rank) — e.g.
    ``bm25_batch_topk_indexed`` × ``pq.ivfpq_batch_topk`` — into
    per-query top-k fusions, all queries in one plan. Inputs are
    top-n·|queries| rows (small), so the full outer join is
    broadcast-scale; the per-query top-k rank window rewrites to
    WindowGroupLimit. Same score as :func:`rrf_fuse`. Returns (q_col,
    id_col, rrf_score, rank_a, rank_b, rank)."""
    fused = _rrf_fused(a, b, [q_col, id_col], k_rrf)
    w = Window.partitionBy(q_col).orderBy(
        F.desc("rrf_score"), F.asc(id_col)
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_col, id_col, "rrf_score", "rank_a", "rank_b", "rank")
    )


def bm25_batch_topk(
    df: DataFrame,
    queries: dict[str, Sequence[str]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    lowercase: bool = True,
) -> DataFrame:
    """BM25 top-k for EACH of a batch of term queries in ONE corpus
    scan — the retrieval-evaluation shape (N eval queries against the
    full corpus), the lexical twin of ``similarity.batch_topk_cosine``.

    Returns (q_id, id_col, bm25, rank). Shape: one stats pass for the
    UNION of all query terms (still a single map-combined one-row
    aggregate — per-term hits are in-row), then one scoring scan
    (:func:`_scan_scores`, shared with :func:`bm25_topk`) and the
    per-query top-k of :func:`_batch_top_k`.

    Determinism contract matches :func:`bm25_topk`: rounded-score
    ranking with id tiebreaks, fixed per-query term order.
    """
    scored = _scan_scores(
        df, queries, text_col, k1, b, lowercase, "bm25_batch_topk"
    )
    return _batch_top_k(*scored, id_col, k)


def _read_index_stats(
    spark, path: str, n_buckets: int | None, caller: str
) -> tuple[int, float, int]:
    """(n_docs, avgdl, n_buckets) from a text-index ``stats/`` sidecar.

    The sidecar's recorded ``n_buckets`` is AUTHORITATIVE: the probe's
    ``pmod(xxhash64(term), n_buckets)`` must replay the build's hash or
    it prunes to the WRONG buckets and the term's postings are silently
    filtered out — partial/empty results with no error.
    Callers therefore default ``n_buckets=None`` (use the sidecar) and
    an explicitly passed value that contradicts the sidecar raises
    instead of misprobing."""
    srow = _read_sidecar(spark, f"{path}/stats")
    if srow is None:
        raise ValueError(f"{caller}: no index at {path!r}")
    n = int(srow["n_docs"])
    if n == 0:
        raise ValueError(f"{caller}: empty index at {path!r}")
    avgdl = float(int(srow["sum_dl"])) / n
    # passive half of the growth wire (the ANN _warn_if_stale analog):
    # a probe against a layout grown far past its bucket sizing finds
    # the rebucket recommendation next to its slow query
    bnd = srow["built_n_docs"]
    g = text_index_growth(n, bnd)
    if g["action"] == "rebucket":
        import logging

        logging.getLogger("filefilter_spark").warning(
            "text index at %s has grown %.1fx past its bucket sizing "
            "(built_n_docs=%s): buckets hold ~that multiple of their "
            "intended postings share — rebuild with a re-sized "
            "n_buckets at the next maintenance window (results stay "
            "exact meanwhile); see SCALING.md 'Text-index growth "
            "signal'",
            path, g["growth_factor"], bnd,
        )
    stored = int(srow["n_buckets"])
    if n_buckets is not None and int(n_buckets) != stored:
        raise ValueError(
            f"{caller}: n_buckets={int(n_buckets)} contradicts the "
            f"index's stats sidecar (built with n_buckets={stored}) "
            f"— probing with a mismatched bucket count silently "
            f"misses postings; omit the parameter to use the "
            f"recorded value"
        )
    return n, avgdl, stored


# Text-index growth threshold (SCALING.md "Text-index growth
# signal"). The BM25 layout has NO frozen model — stats and postings merge
# exactly forever — but n_buckets is a frozen SIZING decision: past
# growth, each bucket holds that multiple of its intended postings
# share. Measured (SCALING.md "Text-index growth signal"): probe LATENCY
# stays flat to ×16 at probe scale — term-sorted buckets row-group-skip
# the grown mass — so this is a LAYOUT maintenance signal, not a
# latency alarm: compaction units, per-bucket file counts, and
# footer/listing overhead drift from what n_buckets was sized to
# bound, and streaming appends between compactions skip worse than the
# compacted ideal. Rebucket at the next rebuild; results stay exact at
# any growth.
TEXT_GROWTH_REBUCKET = 8.0


def text_index_growth(
    n_docs: int, built_n_docs: int | None
) -> dict:
    """Growth signal for a text-index layout — driver arithmetic over
    the stats sidecar (the ANN drift / fuzzy staleness analog, with
    the honest difference that nothing DEGRADES here except probe
    cost: scores stay exact at any growth). Returns ``{growth_factor,
    action}``: ``"ok"`` below :data:`TEXT_GROWTH_REBUCKET`,
    ``"rebucket"`` past it (rebuild with n_buckets re-sized for the
    grown corpus), ``"unknown"`` for layouts whose sidecar predates
    ``built_n_docs``."""
    if not built_n_docs:
        return {"growth_factor": None, "action": "unknown"}
    g = float(n_docs) / float(built_n_docs)
    return {
        "growth_factor": round(g, 6),
        "action": "rebucket" if g >= TEXT_GROWTH_REBUCKET else "ok",
    }


def _indexed_term_dfs(
    spark, path: str, terms: Sequence[str], buckets: Sequence[int],
    id_col: str,
) -> dict[str, int]:
    """Per-term document frequency from an index layout: the batch
    build's ``terms/`` table when present (pruned tiny read), else a
    distinct-doc count over the same pruned postings — exact under
    at-least-once streaming replays (the streaming ingest maintains no
    terms table: a cached df would go stale between micro-batches),
    cost bounded by the matching postings."""
    has_terms = _dir_exists(spark, f"{path}/terms")
    rows = spark.read.parquet(
        f"{path}/terms" if has_terms else f"{path}/postings"
    ).filter(F.col("bucket").isin(list(buckets))
             & F.col("term").isin(list(terms)))
    if not has_terms:
        rows = rows.groupBy("term").agg(
            F.count_distinct(F.col(id_col)).alias("df")
        )
    return {r["term"]: int(r["df"]) for r in rows.collect()}


def _indexed_scores(
    spark,
    path: str,
    queries: Mapping[str, Sequence[str]],
    id_col: str,
    k1: float,
    b: float,
    n_buckets: int | None,
    lowercase: bool,
    caller: str,
) -> tuple[DataFrame, Column]:
    """``(per-doc frame, qs)`` over the documents holding any union
    term, read from a :func:`build_text_index` layout — the scan
    scorer's figures without a corpus scan: a one-row stats sidecar
    read, one driver-local job hashing the union terms to their
    buckets, a same-pruned df lookup and ONE partition-pruned postings
    read.

    Every posting row carries (tf, dl), so each term contribution is
    row-local; per-doc scores are one map-combinable groupBy(doc) pivot
    into one column PER UNION TERM (max of the single matching
    posting's contribution), which :func:`_query_scores` sums in each
    query's term order — bit-identical to the scan path, where an absent
    term contributes an exact +0.0."""
    per_query, union = _query_terms(queries, lowercase, caller)
    n, avgdl, n_buckets = _read_index_stats(spark, path, n_buckets, caller)
    # term -> bucket must use the engine's own xxhash64 (there is no
    # python twin of Spark's seed-42 xxhash64): one driver-local
    # 1-row job hashes all union terms at once.
    brow = spark.range(1).select(
        *[
            F.pmod(F.xxhash64(F.lit(t)), F.lit(n_buckets)).alias(f"b{i}")
            for i, t in enumerate(union)
        ]
    ).first()
    buckets = sorted({int(v) for v in brow})
    df_by_term = _indexed_term_dfs(spark, path, union, buckets, id_col)
    idf = F.lit(0.0)
    for t in union:
        idf = F.when(
            F.col("term") == t, F.lit(bm25_idf(n, df_by_term.get(t, 0)))
        ).otherwise(idf)
    post = spark.read.parquet(f"{path}/postings").filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(union)
        # replay shield: duplicate (doc, term) rows from an
        # at-least-once streaming append carry identical tf/dl — keep
        # one, or the per-doc sum double-counts. Runs on the PRUNED
        # read, so the dedup cost is |matching postings|, not the index
    ).dropDuplicates([id_col, "term"])
    contrib = _bm25_term(
        idf, F.col("tf").cast("double"), F.col("dl").cast("double"),
        avgdl, k1, b,
    )
    per_term = post.select(
        F.col(id_col), F.col("term"), contrib.alias("c")
    ).groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("c"))).alias(f"c_{i}")
            for i, t in enumerate(union)
        ]
    )
    term_col = {
        t: F.coalesce(F.col(f"c_{i}"), F.lit(0.0)) for i, t in enumerate(union)
    }
    return per_term, _query_scores(per_query, term_col.get)


def bm25_batch_topk_indexed(
    spark,
    path: str,
    queries: dict[str, Sequence[str]],
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int | None = None,
    lowercase: bool = True,
) -> DataFrame:
    """:func:`bm25_batch_topk` against a :func:`build_text_index`
    layout — the retrieval-evaluation shape on the 100 TB query path:
    ONE partition-pruned read of the union terms' buckets serves every
    query (no corpus scan at all; :func:`_indexed_scores`), so results
    equal :func:`bm25_batch_topk` bit-for-bit (same normalization
    including dup-term dedupe, same operand order, same rounded-score
    rank with id tiebreak, same :func:`_batch_top_k`).

    ``n_buckets=None`` (default) reads the bucket count the build
    recorded in the stats sidecar — the only value that replays the
    build's term→bucket hash; an explicit mismatching value raises
    (see :func:`_read_index_stats`).

    Returns (q_id, id_col, bm25, rank).
    """
    scored = _indexed_scores(
        spark, path, queries, id_col, k1, b, n_buckets, lowercase,
        "bm25_batch_topk_indexed",
    )
    return _batch_top_k(*scored, id_col, k)


def build_text_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    lowercase: bool = True,
) -> None:
    """Persist an inverted index for BM25 so queries stop re-scanning
    the corpus — the text twin of the IVF×PQ layout (``ops/pq.py``):
    build once, then every query is a PARTITION-PRUNED read of only the
    buckets its terms hash into.

    Layout under ``path``:

    * ``postings/`` — (doc id, dl, term, tf) rows, written
      ``partitionBy(bucket)`` with ``bucket = pmod(xxhash64(term),
      n_buckets)``; dl rides on every posting so scoring needs no doc
      join.
    * ``terms/``    — (term, df) per distinct term, same bucketing, so
      the idf lookup is an equally pruned tiny read.
    * ``stats/``    — the sidecar (``ops.layout._write_sidecar``):
      n_docs, sum_dl, n_buckets and built_n_docs, exact integers from
      which any engine reproduces avgdl bit-identically;
      ``n_buckets`` records the bucket count the postings were hashed
      with, so probes replay the SAME term→bucket hash without the
      caller having to remember it (a mismatched count would silently
      prune to the wrong buckets).

    Build cost: two tokenize scans — the one-row stats aggregate (its
    row is collected for the empty-corpus check and written as the
    sidecar from the driver) and the (id, term) postings aggregation,
    the same postings shuffle tf-idf already pays — then one read of
    the written postings for the per-term document frequencies.
    ``n_buckets`` bounds file counts (the small-files maintenance loop
    — ``maybe_compact`` in ops/layout.py — applies to ``postings/``
    unchanged).

    Every table is staged in a temp dir and swapped in, the sidecar
    last (the streaming maintenance protocol — same contract as
    ``pq.build_ann_index`` and ``dedup.build_fuzzy_index``), so
    rebuilding over an EXISTING layout is safe: a crash mid-rebuild
    leaves the old index intact and concurrent probes never see a
    half-written store.
    """
    spark = df.sparkSession
    src = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    # stats FIRST: an empty corpus must refuse loudly here — an empty
    # partitioned postings write is unreadable (no schema to infer),
    # which would surface later as an inscrutable read error.
    stats = df.select(
        _bind(tokens(src), lambda t: F.size(t)).alias("dl")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        F.lit(int(n_buckets)).cast("long").alias("n_buckets"),
        # frozen at build: the growth signal's baseline — the
        # bucket count was SIZED for this corpus, and probe cost per
        # term grows ~linearly with n_docs/built_n_docs (the bucket's
        # share of the whole vocabulary's postings); see
        # text_index_growth
        F.count(F.lit(1)).alias("built_n_docs"),
    )
    row = stats.first()
    if int(row["n_docs"]) == 0:
        raise ValueError("build_text_index: empty corpus — nothing to index")

    sfx = "__build"
    toks = df.select(
        F.col(id_col),
        tokens(src).alias("toks"),
    ).select(
        id_col,
        F.size("toks").alias("dl"),
        F.explode("toks").alias("term"),
    )
    postings = (
        toks.groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    )
    # sort by term within each bucket file: the probe's term IN (...)
    # filter pushes to the parquet scan, and term-clustered row groups
    # turn it into row-group skipping — without this the probe reads
    # every row of its buckets (a bucket holds 1/n_buckets of the WHOLE
    # vocabulary's postings, not just the query terms')
    postings.repartition("bucket").sortWithinPartitions(
        "term", id_col
    ).write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/postings{sfx}"
    )
    pread = spark.read.parquet(f"{path}/postings{sfx}")
    # count DISTINCT docs, not rows: under the streaming ingest
    # (text_index_stream_ingest) an at-least-once replay can append a
    # batch's postings twice, and df must not inflate
    terms = pread.groupBy("bucket", "term").agg(
        F.count_distinct(F.col(id_col)).alias("df")
    )
    terms.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/terms{sfx}"
    )
    # data first, stats LAST: probes read stats (n_buckets, avgdl)
    # before pruning, so a crash between the swaps and the sidecar
    # commit serves old-stats + new-postings; on a fresh path each swap
    # is a single rename into place. The sidecar is the collected row:
    # re-running the aggregate would tokenize the whole corpus again.
    for d in ("postings", "terms"):
        _swap_dirs(spark, f"{path}/{d}", f"{path}/{d}{sfx}", "rebuild")
    _write_sidecar(spark, row.asDict(), f"{path}/stats", "rebuild")


def bm25_topk_indexed(
    spark,
    path: str,
    query_terms: Sequence[str],
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int | None = None,
    lowercase: bool = True,
) -> DataFrame:
    """BM25 top-k against a :func:`build_text_index` layout — the
    100 TB query path: instead of two corpus scans, read ONLY the
    postings buckets the query terms hash into (partition pruning,
    plan-tested) plus a same-pruned df lookup and a one-row stats read
    (:func:`_indexed_scores` for a batch of one query), then
    TakeOrderedAndProject. Result semantics match :func:`bm25_topk`
    exactly (same formula, same normalization including dup-term
    dedupe, same operand order, same rounding) — the index is an
    access path, not a different operator.

    ``n_buckets=None`` (default) reads the bucket count the build
    recorded in the stats sidecar — the only value that replays the
    build's term→bucket hash; an explicit mismatching value raises
    (see :func:`_read_index_stats`).
    """
    if not query_terms:
        raise ValueError("bm25_topk_indexed: query_terms must be non-empty")
    scored = _indexed_scores(
        spark, path, {"": query_terms}, id_col, k1, b, n_buckets,
        lowercase, "bm25_topk_indexed",
    )
    return _top_k(*scored, id_col, k)
