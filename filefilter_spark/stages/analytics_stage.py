"""Zero-code analytics stages: sessionization, keyword/hybrid search,
index lifecycle.

The reference's whole interaction model is YAML actionTypes
(reference ``filefilter.py:306``); these expose the
event/retrieval operators declaratively, same contract as the corpus
stages:

.. code-block:: yaml

    filters:
      - name: tag_sessions
        actionType: sessionize
        actionConfig: {userField: user_id, tsField: ts, gapSeconds: 1800}
      - name: build_index
        actionType: searchindex
        actionConfig: {indexPath: /data/ix, textField: text}
      - name: keep_matches
        actionType: search
        actionConfig:
          terms: [spark, shuffle]
          k: 100
          indexPath: /data/ix

``sessionize`` is a pure DataFrame transform (folds into the lazy
plan); ``search`` runs the BM25 stats job eagerly at ``apply()`` time
by design — the idf literals must exist before the scoring plan is
built (the same model-before-plan contract as ``perplexity``/``bpe``);
``searchindex`` runs its build jobs eagerly for the same reason (a
later ``search`` stage's probe plan prunes against the written
layout).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

from filefilter_spark.stages.base import Stage

_log = logging.getLogger("filefilter_spark")


class SessionizeStage(Stage):
    """Attach a per-user gap-based session id
    (``ops.sessions.sessionize``). actionConfig: ``userField``
    (default user_id), ``tsField`` (ts), ``idField`` (event_id,
    the within-timestamp tiebreak), ``gapSeconds`` (1800),
    ``outputField`` (session_id; reserved on the input — raises on
    collision), ``skewed`` (false; true routes through
    ``sessionize_skewed`` — identical ids, chunk-salted plan for
    power-law users; ``auto`` measures the hottest user's row share
    with one bounded detector job and routes past the measured ~30%
    threshold — ``ops.skew.should_route_skewed``, decision logged)
    and ``chunkSeconds`` (86400, the salt granularity when skewed)."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.order import _check_reserved
        from filefilter_spark.ops.sessions import sessionize, sessionize_skewed

        cfg = self.cfg.action_config
        out_col = cfg.get("outputField", "session_id")
        _check_reserved(df, [out_col], "sessionize")
        kwargs = dict(
            user_col=cfg.get("userField", "user_id"),
            ts_col=cfg.get("tsField", "ts"),
            id_col=cfg.get("idField", "event_id"),
            gap_seconds=int(cfg.get("gapSeconds", 1800)),
        )
        skewed = cfg.get("skewed", False)
        if isinstance(skewed, str) and skewed.lower() == "auto":
            from filefilter_spark.ops.skew import should_route_skewed

            skewed, share = should_route_skewed(df, kwargs["user_col"])
            _log.info(
                "sessionize[%s]: skewed=auto measured max user share "
                "%.3f -> %s plan",
                self.cfg.name, share,
                "chunk-salted" if skewed else "plain",
            )
        if skewed:
            tagged = sessionize_skewed(
                df, chunk_seconds=int(cfg.get("chunkSeconds", 86_400)),
                **kwargs,
            )
        else:
            tagged = sessionize(df, **kwargs)
        if out_col != "session_id":
            tagged = tagged.withColumnRenamed("session_id", out_col)
        return tagged


class SearchStage(Stage):
    """Keep the top-k documents for a literal term query, scores
    attached via a broadcast semi-shape join on ``idField``.

    Default mode (``ops.retrieval.bm25_topk``): actionConfig ``terms``
    (non-empty list) or ``query`` (a whitespace-split string — the way
    a user types it; one of the two required), ``k`` (10), ``textField`` (text),
    ``idField`` (doc_id), ``scoreField`` (bm25; reserved on the
    input), ``k1``/``b`` (1.2/0.75). With ``indexPath`` the query runs
    against a persisted ``build_text_index`` layout instead — a
    partition-pruned read of the terms' buckets, never a corpus scan;
    ``nBuckets`` is OPTIONAL (the layout's stats sidecar records the
    build's bucket count and a contradicting value raises); build or
    refresh that layout with the ``searchindex`` stage upstream in the same
    pipeline (or own it externally).

    ``mode: hybrid`` fuses BM25 with exact cosine over an embedding
    column carried by the incoming frame
    (``ops.retrieval.rrf_fuse``): additionally requires
    ``queryVector`` (list of floats) and reads ``vectorField``
    (embedding); ``fusionN`` (20) is each ranker's candidate-list
    size, ``kRrf`` (60) the RRF constant, and the attached columns
    are ``scoreField`` (default rrf_score) plus ``rank_a`` (BM25) /
    ``rank_b`` (cosine).

    ``mode: ann`` queries a persisted ``annindex`` layout
    (``ops.pq.ann_topk_indexed``): requires ``indexPath`` and
    ``queryVector``; ``k`` (10) top neighbors, ``nProbe`` (4) probed
    cells — or ``auto``, which widens 2-3× from the sidecar's drift
    signal (``pq.auto_n_probe``) — ``refine`` (auto — sized from the
    meta sidecar's cell
    histogram; the exact re-rank reads the incoming frame's
    ``vectorField``), attached column ``scoreField`` (default
    dist2, ascending — smaller is closer)."""

    def apply(self, df: DataFrame) -> DataFrame:
        import pyspark.sql.functions as F

        from filefilter_spark.ops.order import _check_reserved
        from filefilter_spark.ops.retrieval import (
            bm25_topk,
            bm25_topk_indexed,
            ranked,
            rrf_fuse,
        )

        cfg = self.cfg.action_config
        terms = cfg.get("terms")
        if terms is None and isinstance(cfg.get("query"), str):
            # ergonomic twin: a query STRING splits on whitespace —
            # dup terms are fine (every BM25 path dedupes to a term set)
            terms = cfg["query"].split()
        id_col = cfg.get("idField", "doc_id")
        k = int(cfg.get("k", 10))
        mode = cfg.get("mode", "bm25")
        if mode != "ann" and (
            not terms or not isinstance(terms, (list, tuple))
        ):
            raise ValueError(
                "search stage: actionConfig.terms must be a non-empty "
                "list (or pass actionConfig.query as a string)"
            )
        if mode not in ("bm25", "hybrid", "ann"):
            raise ValueError(
                f"search stage: unknown mode {mode!r} (bm25 | hybrid | ann)"
            )

        if mode == "ann":
            from filefilter_spark.ops.pq import ann_topk_indexed

            qv = cfg.get("queryVector")
            if not qv or not isinstance(qv, (list, tuple)):
                raise ValueError(
                    "search stage: mode ann requires actionConfig."
                    "queryVector (list of floats)"
                )
            if not cfg.get("indexPath"):
                raise ValueError(
                    "search stage: mode ann requires actionConfig."
                    "indexPath (a persisted annindex layout)"
                )
            score_col = cfg.get("scoreField", "dist2")
            _check_reserved(df, [score_col], "search")
            refine = cfg.get("refine")
            n_probe = cfg.get("nProbe", 4)
            top = ann_topk_indexed(
                self.spark,
                cfg["indexPath"],
                [float(x) for x in qv],
                topk=k,
                # "auto" = the drift policy's widen rule (pq.auto_n_probe)
                n_probe=(
                    "auto" if str(n_probe).lower() == "auto"
                    else int(n_probe)
                ),
                refine=None if refine is None else int(refine),
                vectors=df,
                vec_col=cfg.get("vectorField", "embedding"),
                id_col=id_col,
            )
            if score_col != "dist2":
                top = top.withColumnRenamed("dist2", score_col)
            return df.join(F.broadcast(top), id_col, "inner")

        def bm25(n: int) -> DataFrame:
            if cfg.get("indexPath"):
                return bm25_topk_indexed(
                    self.spark,
                    cfg["indexPath"],
                    [str(t) for t in terms],
                    k=n,
                    id_col=id_col,
                    k1=float(cfg.get("k1", 1.2)),
                    b=float(cfg.get("b", 0.75)),
                    # unset -> the index's stats sidecar governs (the
                    # build recorded its bucket count; a set value
                    # that contradicts it raises)
                    n_buckets=(
                        int(cfg["nBuckets"])
                        if cfg.get("nBuckets") is not None else None
                    ),
                )
            return bm25_topk(
                df,
                [str(t) for t in terms],
                k=n,
                text_col=cfg.get("textField", "text"),
                id_col=id_col,
                k1=float(cfg.get("k1", 1.2)),
                b=float(cfg.get("b", 0.75)),
            )

        if mode == "hybrid":
            from filefilter_spark.ops.similarity import topk_cosine

            qv = cfg.get("queryVector")
            if not qv or not isinstance(qv, (list, tuple)):
                raise ValueError(
                    "search stage: mode hybrid requires actionConfig."
                    "queryVector (list of floats)"
                )
            score_col = cfg.get("scoreField", "rrf_score")
            _check_reserved(df, [score_col, "rank_a", "rank_b"], "search")
            fusion_n = int(cfg.get("fusionN", 20))
            bm = ranked(bm25(fusion_n), "bm25", id_col)
            cs = topk_cosine(
                df,
                [float(x) for x in qv],
                k=fusion_n,
                vec_col=cfg.get("vectorField", "embedding"),
                id_col=id_col,
            ).select(F.col(id_col), F.round("cos_sim", 6).alias("cos_sim"))
            cs = ranked(cs, "cos_sim", id_col)
            top = rrf_fuse(bm, cs, id_col=id_col,
                           k_rrf=int(cfg.get("kRrf", 60)), k=k)
            if score_col != "rrf_score":
                top = top.withColumnRenamed("rrf_score", score_col)
        else:
            score_col = cfg.get("scoreField", "bm25")
            _check_reserved(df, [score_col], "search")
            top = bm25(k)
            if score_col != "bm25":
                top = top.withColumnRenamed("bm25", score_col)
        # top-k is tiny → broadcast hash semi-shape join, bodies never
        # shuffle; score rides in from the broadcast side
        return df.join(F.broadcast(top), id_col, "inner")


class SearchIndexStage(Stage):
    """Build (or refresh) the persisted inverted index the ``search``
    stage's ``indexPath`` queries — the zero-code index lifecycle
    (``ops.retrieval.build_text_index``): postings bucketed by
    ``pmod(xxhash64(term), nBuckets)`` with dl riding on every
    posting, a same-bucketed df table, a one-row exact-int stats
    sidecar. actionConfig: ``indexPath`` (required), ``textField``
    (text), ``idField`` (doc_id), ``nBuckets`` (64; recorded in the
    stats sidecar, so querying stages need not repeat it — a
    contradicting value there raises). The frame passes through
    unchanged, so
    ``searchindex`` → ``search`` composes into one pipeline; the
    build's jobs run eagerly at ``apply()`` time (model-before-plan,
    like ``search``'s stats pass). Each run OVERWRITES the layout —
    a refresh is a rebuild, which is the correct (and restartable)
    semantics for a batch-owned index; for continuous maintenance use
    ``streaming.jobs.text_index_stream_ingest``."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.retrieval import build_text_index

        cfg = self.cfg.action_config
        if not cfg.get("indexPath"):
            raise ValueError(
                "searchindex stage: actionConfig.indexPath is required"
            )
        build_text_index(
            df,
            cfg["indexPath"],
            text_col=cfg.get("textField", "text"),
            id_col=cfg.get("idField", "doc_id"),
            n_buckets=int(cfg.get("nBuckets", 64)),
        )
        return df


class AnnIndexStage(Stage):
    """Build (or refresh) the persisted IVF×PQ layout that ``search``
    ``mode: ann`` queries — the ANN twin of ``searchindex``
    (``ops.pq.build_ann_index``): deterministic Lloyd coarse cells
    partition the 32×-compressed PQ codes, with codebooks, centroids,
    and the auto-refine cell histogram in a driver-small meta
    sidecar. actionConfig: ``indexPath`` (required), ``vectorField``
    (embedding), ``idField`` (vec_id), ``nLists`` (16), ``m`` (8),
    ``k`` (16), ``iters`` (1), ``residual`` (false), ``fitFrac``
    (1.0), ``coarseIters`` (2). The frame passes through unchanged;
    build jobs run eagerly at ``apply()`` time; each run overwrites
    (refresh = rebuild — the layout is bit-deterministic, so same
    corpus → same bytes)."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.pq import build_ann_index

        cfg = self.cfg.action_config
        if not cfg.get("indexPath"):
            raise ValueError(
                "annindex stage: actionConfig.indexPath is required"
            )
        build_ann_index(
            df,
            cfg["indexPath"],
            n_lists=int(cfg.get("nLists", 16)),
            m=int(cfg.get("m", 8)),
            k=int(cfg.get("k", 16)),
            iters=int(cfg.get("iters", 1)),
            vec_col=cfg.get("vectorField", "embedding"),
            id_col=cfg.get("idField", "vec_id"),
            residual=bool(cfg.get("residual", False)),
            fit_frac=float(cfg.get("fitFrac", 1.0)),
            coarse_iters=int(cfg.get("coarseIters", 2)),
            seeding=cfg.get("seeding", "id"),
        )
        return df


class BatchSearchStage(Stage):
    """Run MANY term queries in one corpus scan
    (``ops.retrieval.bm25_batch_topk``) — the retrieval-evaluation
    shape. RESULT-PRODUCING: the output frame is the ranked result
    table (q_id, idField, score, rank), not the filtered corpus —
    compose it at the end of a pipeline (like ``textstats``' summary).
    actionConfig: ``queries`` (required map of query id → non-empty
    term list OR whitespace-split query string), ``k`` (10),
    ``textField`` (text), ``idField``
    (doc_id), ``scoreField`` (bm25), ``k1``/``b`` (1.2/0.75). With
    ``indexPath`` (``nBuckets`` optional — the layout's stats sidecar
    records the build's count) every query is served from ONE
    partition-pruned read of the union terms' buckets in a persisted
    ``searchindex`` layout — no corpus scan at all
    (``bm25_batch_topk_indexed``; results identical to the scan
    path)."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.retrieval import (
            bm25_batch_topk,
            bm25_batch_topk_indexed,
        )

        cfg = self.cfg.action_config
        queries = cfg.get("queries")
        if not queries or not isinstance(queries, dict):
            raise ValueError(
                "batchsearch stage: actionConfig.queries must be a "
                "non-empty map of query id -> term list"
            )
        norm_q = {
            str(q): (ts.split() if isinstance(ts, str)
                     else [str(t) for t in ts])
            for q, ts in queries.items()
        }
        if cfg.get("indexPath"):
            out = bm25_batch_topk_indexed(
                self.spark,
                cfg["indexPath"],
                norm_q,
                k=int(cfg.get("k", 10)),
                id_col=cfg.get("idField", "doc_id"),
                k1=float(cfg.get("k1", 1.2)),
                b=float(cfg.get("b", 0.75)),
                # unset -> the index's stats sidecar governs
                n_buckets=(
                    int(cfg["nBuckets"])
                    if cfg.get("nBuckets") is not None else None
                ),
            )
        else:
            out = bm25_batch_topk(
                df,
                norm_q,
                k=int(cfg.get("k", 10)),
                text_col=cfg.get("textField", "text"),
                id_col=cfg.get("idField", "doc_id"),
                k1=float(cfg.get("k1", 1.2)),
                b=float(cfg.get("b", 0.75)),
            )
        score_col = cfg.get("scoreField", "bm25")
        if score_col != "bm25":
            out = out.withColumnRenamed("bm25", score_col)
        return out
