"""Zero-code pipeline stages over the corpus-ops library.

The reference's YAML surface reaches only code-bearing stages
(python/sql/rest); these stages expose the corpus-assembly operators
(``ops/corpus.py``, ``ops/dedup.py``) as declarative ``actionType``s so
a config author gets exact dedup, deterministic splits, and data-mixing
sampling without writing code:

.. code-block:: yaml

    filters:
      - name: drop_dupes
        actionType: dedup
        actionConfig: {textField: text, idField: doc_id}
      - name: assign_split
        actionType: split
        actionConfig:
          idField: doc_id
          weights: {train: 0.9, val: 0.05, test: 0.05}
      - name: downweight_web
        actionType: sample
        actionConfig:
          groupField: source
          rates: {web: 0.1}

Round-5 additions widen the same surface: ``linededup`` (C4/CCNet
line-level dedup + reassembly), ``quota`` (per-group absolute cap),
``chunk`` (fixed-size overlapping token chunks), ``decontaminate``
(drop benchmark-overlapping docs; ``benchmarkPath`` names the eval
parquet), ``domainfilter`` (URL-host blocklist removal), ``textstats`` /
``perplexity`` (scoring columns for YAML quality gates), and
``expect`` (one-pass data-quality gate that fails the run on violated
expectations) — see each stage's docstring for its actionConfig keys. OP-A8-lines proves the
YAML path reproduces the library operator byte-for-byte. Round 6 adds
``spandedup`` (substring-level dedup: cut corpus-duplicated token
spans, Lee et al. 2022), ``dedupbest`` (keep the highest-quality copy
per content group), ``temperature`` (p^alpha source flattening), and
``bpe`` (train a BPE merge table on the corpus and attach the subword
segmentation).

Most are pure DataFrame transforms (no driver-side sampling pass,
unlike the code-bearing stages — the output schema is statically
known), so they fold into the surrounding lazy plan. Two exceptions
run eager jobs at ``apply()`` time by design: ``expect`` collects its
one-row expectation report immediately (a gate must fail the run at
stage position, not at sink time), and ``perplexity``'s model-build
probe executes driver-side jobs while constructing the scoring plan
(see ``ops.text.bigram_nll``); ``temperature`` (one count agg) and
``bpe`` (histogram + merge-loop training) are eager for the same
model-before-plan reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from filefilter_spark.stages.base import Stage


class DedupStage(Stage):
    """Exact dedup, min-id survivor (``ops.dedup.keep_survivors``)."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.dedup import keep_survivors

        cfg = self.cfg.action_config
        return keep_survivors(
            df,
            text_col=cfg.get("textField", "text"),
            id_col=cfg.get("idField", "doc_id"),
        )


class FuzzyDedupStage(Stage):
    """Edit-distance fuzzy dedup on a short KEY field — the zero-code
    surface over ``ops.dedup.edit_distance_pairs`` (Ed-Join prefix
    filtering, exact pair set) + ``keep_neardup_survivors``
    (connected-components min-id survivor). actionConfig: ``keyField``
    (required — the short string to match on: a title, URL, product
    name; fuzzy joins are for key fields, not documents), ``maxDist``
    (2), ``q`` (2), ``idField`` (doc_id). Rows in no fuzzy pair pass
    through untouched. For CONTINUOUS maintenance use the persisted
    layout (``ops.dedup.build_fuzzy_index`` +
    ``streaming.jobs.fuzzy_index_stream_ingest``)."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.dedup import (
            edit_distance_pairs,
            keep_neardup_survivors,
        )

        cfg = self.cfg.action_config
        if not cfg.get("keyField"):
            raise ValueError(
                "fuzzydedup stage: actionConfig.keyField is required"
            )
        id_col = cfg.get("idField", "doc_id")
        pairs = edit_distance_pairs(
            df,
            id_col=id_col,
            str_col=cfg["keyField"],
            max_dist=int(cfg.get("maxDist", 2)),
            q=int(cfg.get("q", 2)),
        )
        return keep_neardup_survivors(df, pairs, id_col=id_col)


class SemDedupStage(Stage):
    """SemDeDup semantic near-dedup on an embedding column — the
    zero-code surface over ``ops.similarity.semantic_dedup`` (KMeans
    cells + within-cell exact-cosine verify, Abbas et al. 2023) +
    ``keep_neardup_survivors`` (connected-components min-id survivor).
    actionConfig: ``vecField`` (required — the ``array<float|double>``
    embedding column), ``threshold`` (0.45), ``nLists`` (16),
    ``nAssign`` (3), ``idField`` (doc_id), ``seed`` (7). Precision of
    the KILL decision is exact — every dropped row lost an
    exact-cosine comparison — while recall misses only cell-boundary
    pairs, so the output is a SUPERSET of the exact-pair survivor set
    and the min-id of any true near-dup cluster is never dropped
    (pinned by the OP-A8-semdedup recall oracle). Rows in no pair
    pass through untouched. For CONTINUOUS maintenance use
    ``streaming.jobs.semdedup_stream_dedup`` (frozen centroids +
    the capped-mass staleness wire)."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.dedup import keep_neardup_survivors
        from filefilter_spark.ops.similarity import semantic_dedup

        cfg = self.cfg.action_config
        if not cfg.get("vecField"):
            raise ValueError(
                "semdedup stage: actionConfig.vecField is required"
            )
        id_col = cfg.get("idField", "doc_id")
        pairs = semantic_dedup(
            df,
            threshold=float(cfg.get("threshold", 0.45)),
            n_lists=int(cfg.get("nLists", 16)),
            n_assign=int(cfg.get("nAssign", 3)),
            vec_col=cfg["vecField"],
            id_col=id_col,
            seed=int(cfg.get("seed", 7)),
        )
        return keep_neardup_survivors(df, pairs, id_col=id_col)


class SplitStage(Stage):
    """Deterministic hash split column (``ops.corpus.hash_split``)."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.corpus import hash_split

        cfg = self.cfg.action_config
        weights = cfg.get("weights")
        if weights is not None:
            weights = {str(k): float(v) for k, v in weights.items()}
        return hash_split(
            df,
            id_col=cfg.get("idField", "doc_id"),
            weights=weights,
            seed=int(cfg.get("seed", 42)),
            split_col=cfg.get("splitField", "split"),
        )


class SampleStage(Stage):
    """Per-group keep-rate sampling (``ops.corpus.weighted_sample``).
    Rates are fractions in [0, 1] — a rate above 1 (the
    data-constrained repetition regime) is :class:`EpochsStage`'s job
    and raises here with that pointer."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.corpus import weighted_sample

        cfg = self.cfg.action_config
        rates = {str(k): float(v) for k, v in (cfg.get("rates") or {}).items()}
        over = {k: v for k, v in rates.items() if v > 1.0}
        if over or float(cfg.get("defaultRate", 1.0)) > 1.0:
            raise ValueError(
                f"sample: rate(s) above 1 ({over or 'defaultRate'}) — "
                "keep-rate sampling caps at keep-everything; use "
                "actionType: epochs to materialize repetition "
                "(floor(rate) full epochs + a fractional epoch)"
            )
        return weighted_sample(
            df,
            rates,
            default_rate=float(cfg.get("defaultRate", 1.0)),
            group_col=cfg.get("groupField", "source"),
            id_col=cfg.get("idField", "doc_id"),
            seed=int(cfg.get("seed", 42)),
        )


class LineDedupStage(Stage):
    """Corpus-wide line-level dedup + reassembly
    (``ops.dedup.line_dedup``) — C4/CCNet boilerplate removal from
    YAML. Output schema: (idField, textField, n_kept, n_dropped),
    keeping the configured column names."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.dedup import line_dedup

        cfg = self.cfg.action_config
        return line_dedup(
            df,
            text_col=cfg.get("textField", "text"),
            id_col=cfg.get("idField", "doc_id"),
            min_len=int(cfg.get("minLineLength", 30)),
        )


class SpanDedupStage(Stage):
    """Substring-level dedup from YAML (``ops.dedup.
    remove_duplicate_spans``): cut corpus-duplicated token spans out
    of every document — Lee et al. 2022's transformation as an
    actionType. Output schema: (idField, text_clean, n_removed).
    actionConfig: ``textField``/``idField``, ``spanTokens`` (window,
    default 8), ``minDocs`` (duplication threshold, default 2)."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.dedup import remove_duplicate_spans

        cfg = self.cfg.action_config
        return remove_duplicate_spans(
            df,
            text_col=cfg.get("textField", "text"),
            id_col=cfg.get("idField", "doc_id"),
            span_tokens=int(cfg.get("spanTokens", 8)),
            min_docs=int(cfg.get("minDocs", 2)),
        )


class QuotaStage(Stage):
    """Per-group absolute row cap (``ops.corpus.quota_sample``)."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.corpus import quota_sample

        cfg = self.cfg.action_config
        return quota_sample(
            df,
            quota=int(cfg["quota"]),
            group_col=cfg.get("groupField", "source"),
            id_col=cfg.get("idField", "doc_id"),
            seed=int(cfg.get("seed", 42)),
        )


class ChunkStage(Stage):
    """Fixed-size overlapping token chunking
    (``ops.corpus.chunk_documents``); the dataset becomes
    (idField, chunk_id, chunk_text, n_tokens)."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.corpus import chunk_documents

        cfg = self.cfg.action_config
        return chunk_documents(
            df,
            chunk_tokens=int(cfg.get("chunkTokens", 64)),
            overlap=int(cfg.get("overlap", 16)),
            text_col=cfg.get("textField", "text"),
            id_col=cfg.get("idField", "doc_id"),
        )


class DecontaminateStage(Stage):
    """Drop benchmark-contaminated docs
    (``ops.corpus.decontaminate``). ``benchmarkPath`` points at a
    parquet table with the same text field (the eval suite)."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.corpus import decontaminate

        cfg = self.cfg.action_config
        bench = df.sparkSession.read.parquet(cfg["benchmarkPath"])
        return decontaminate(
            df,
            bench,
            max_contamination=float(cfg.get("maxContamination", 0.1)),
            id_col=cfg.get("idField", "doc_id"),
            text_col=cfg.get("textField", "text"),
            shingle_n=int(cfg.get("shingleN", 3)),
        )


class DomainFilterStage(Stage):
    """URL-domain extraction + blocklist removal
    (``ops.text.domain_filter``); ``blocklist`` is an inline list of
    domains (a real deployment points at a table instead)."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.text import domain_filter

        cfg = self.cfg.action_config
        bl = df.sparkSession.createDataFrame(
            [(str(d).lower(),) for d in cfg.get("blocklist", [])],
            "domain string",
        )
        return domain_filter(
            df,
            bl,
            url_col=cfg.get("urlField", "url"),
            domain_col=cfg.get("domainField", "domain"),
        )


class TextStatsStage(Stage):
    """Attach the text-analysis battery as columns
    (``ops.text.with_text_stats``: token counts, language ID, quality
    score, fingerprint) — lets a following ``sql`` stage filter by
    quality straight from YAML."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.text import with_text_stats

        return with_text_stats(df, text_col=self.cfg.action_config.get("textField", "text"))


class PerplexityStage(Stage):
    """Attach the bigram-LM score (``ops.text.bigram_nll``) as columns
    ``n_bigrams``/``nll`` — the CCNet-style perplexity filter from
    YAML. Documents with fewer than two tokens get NULL scores (left
    join) so downstream filters can decide their fate explicitly."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.text import bigram_nll

        cfg = self.cfg.action_config
        id_col = cfg.get("idField", "doc_id")
        scores = bigram_nll(
            df,
            text_col=cfg.get("textField", "text"),
            id_col=id_col,
            alpha=float(cfg.get("alpha", 0.5)),
        ).withColumnRenamed("doc_id", id_col)
        return df.join(scores, id_col, "left")


class KeepBestStage(Stage):
    """Exact dedup keeping the highest-quality copy per content group
    (``ops.dedup.keep_best``) — the multi-crawl "keep the cleanest
    extraction" dedup from YAML. ``scoreField`` names an existing
    numeric column to rank by; omitted, the built-in quality score of
    ``textField`` is used."""

    def apply(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        from filefilter_spark.ops.dedup import keep_best
        from filefilter_spark.ops.text import quality_score

        cfg = self.cfg.action_config
        text_col = cfg.get("textField", "text")
        score_field = cfg.get("scoreField")
        score = F.col(score_field) if score_field else quality_score(text_col)
        return keep_best(
            df,
            score,
            text_col=text_col,
            id_col=cfg.get("idField", "doc_id"),
        )


class TemperatureStage(Stage):
    """Temperature-flattened source mixing
    (``ops.corpus.temperature_sample``): p^alpha re-sampling toward a
    uniform group distribution. Runs one eager count job over the
    incoming frame to derive the per-group rates (bounded by the
    number of groups), then applies a pure deterministic filter."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.corpus import temperature_sample

        cfg = self.cfg.action_config
        target = cfg.get("targetTotal")
        return temperature_sample(
            df,
            alpha=float(cfg.get("alpha", 0.5)),
            target_total=int(target) if target is not None else None,
            group_col=cfg.get("groupField", "source"),
            id_col=cfg.get("idField", "doc_id"),
            seed=int(cfg.get("seed", 42)),
        )


class DsirStage(Stage):
    """Attach DSIR importance log-weights
    (``ops.corpus.dsir_logweights``) as ``n_feats``/``logw`` columns.
    The target distribution is the incoming frame filtered by the
    ``targetWhere`` SQL predicate (e.g. ``"lang = 'en'"`` or
    ``"source = 'wiki'"``); docs with no features get NULL scores
    (left join) so downstream filters decide their fate explicitly.
    Add a later ``sql`` stage ``WHERE logw > …`` (or a ``quota``/top-k
    stage on ``logw``) to perform the actual selection."""

    def apply(self, df: DataFrame) -> DataFrame:
        import pyspark.sql.functions as F

        from filefilter_spark.ops.corpus import dsir_logweights

        cfg = self.cfg.action_config
        if not cfg.get("targetWhere"):
            raise ValueError("dsir stage requires actionConfig.targetWhere")
        id_col = cfg.get("idField", "doc_id")
        # predicate target -> single tagged counting scan
        scores = dsir_logweights(
            df,
            F.expr(cfg["targetWhere"]),
            text_col=cfg.get("textField", "text"),
            id_col=id_col,
            n_hex=int(cfg.get("nHex", 3)),
            alpha=float(cfg.get("alpha", 1.0)),
        )
        return df.join(scores, id_col, "left")


class QualityFilterStage(Stage):
    """GPT-3-style learned quality filter from YAML
    (``ops.classifier``): train reference-vs-crawl on the incoming
    frame split by the ``positiveWhere`` predicate (an eager training
    job at apply() time by design — the coefficients must exist before
    the scoring plan is built), attach ``quality_prob``, and, when
    ``minProb`` is set, keep only rows at or above it.

    100 TB shape: TRAINING is bounded — each class is capped at
    ``trainLimit`` rows (default 1,000,000; the coefficient vector
    only needs enough data to estimate 2^18 weights) after an optional
    ``trainFraction`` sample — so the one per-row VectorUDT featurize
    UDF only ever touches a bounded sample regardless of corpus size.
    SCORING stays full-corpus and UDF-free (the native SQL fold in
    ``ops.classifier.quality_scores``). Set ``trainLimit: null`` to
    train on everything (test/oracle use).

    Training reads a bounded sample of the input, so the stage declares
    ``samples_input``: Pipeline.run trains on its observation-free twin
    chain, and the model is cached on the stage, so the apply to the
    observed chain only scores."""

    samples_input = True
    _model = None  # the trained classifier, cached like Stage._schema

    def apply(self, df: DataFrame) -> DataFrame:
        import pyspark.sql.functions as F

        from filefilter_spark.ops.classifier import (
            quality_scores, train_quality_classifier,
        )

        cfg = self.cfg.action_config
        if not cfg.get("positiveWhere"):
            raise ValueError(
                "qualityfilter stage requires actionConfig.positiveWhere"
            )
        text_col = cfg.get("textField", "text")
        id_col = cfg.get("idField", "doc_id")
        qm = self._model
        if qm is None:
            pos = df.filter(cfg["positiveWhere"])
            neg = df.filter(f"NOT ({cfg['positiveWhere']})")
            frac = cfg.get("trainFraction")
            if frac is not None:
                seed = int(cfg.get("seed", 42))
                pos = pos.sample(fraction=float(frac), seed=seed)
                neg = neg.sample(fraction=float(frac), seed=seed)
            limit = cfg.get("trainLimit", 1_000_000)
            if limit is not None:
                pos = pos.limit(int(limit))
                neg = neg.limit(int(limit))
            qm = self._model = train_quality_classifier(
                pos, neg,
                text_col=text_col,
                n_features=int(cfg.get("nFeatures", 1 << 18)),
                max_iter=int(cfg.get("maxIter", 50)),
                reg_param=float(cfg.get("regParam", 1e-3)),
            )
        scores = quality_scores(df, qm, text_col=text_col, id_col=id_col)
        out = df.join(scores, id_col, "left")
        if cfg.get("minProb") is not None:
            out = out.filter(
                F.col("quality_prob") >= float(cfg["minProb"])
            )
        return out


class SafeSplitStage(Stage):
    """Near-dup-leakage-safe hash split
    (``ops.corpus.leakage_safe_split``): near-dup pair generation
    feeds connected components, and the split hash is keyed on each
    doc's cluster representative — no near-dup pair can straddle the
    train/test boundary.

    ``method`` selects the pair generator:

    - ``jaccard`` (default): exact inverted-index token-Jaccard
      (``ops.dedup.token_jaccard_pairs``) — exact pairs, cross-engine
      oracle, but pair generation is bounded only by its
      ``max_doc_freq`` posting cap; right at probe/dataset scale.
    - ``minhash``: MinHash-LSH banding + exact-Jaccard verification
      (``ops.dedup.minhash_near_dup``) — sub-quadratic candidate
      generation, the web-scale path; exact precision, probabilistic
      recall (~97% per-pair at the default 16×4 banding for J≥0.5).

    Both feed the same ``leakage_safe_split``; a missed pair (minhash
    recall) degrades to plain ``hash_split`` behavior for that pair
    only — the failure mode is the status quo ante, never a wrong
    split for clustered docs."""

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.corpus import leakage_safe_split
        from filefilter_spark.ops.dedup import (
            minhash_near_dup, token_jaccard_pairs,
        )

        cfg = self.cfg.action_config
        weights = cfg.get("weights")
        if weights is not None:
            weights = {str(k): float(v) for k, v in weights.items()}
        method = str(cfg.get("method", "jaccard")).lower()
        if method == "minhash":
            pairs = minhash_near_dup(
                df,
                threshold=float(cfg.get("jaccardThreshold", 0.5)),
                shingle_n=int(cfg.get("shingleN", 3)),
                num_hashes=int(cfg.get("numHashes", 64)),
                bands=int(cfg.get("bands", 16)),
                seed=int(cfg.get("seed", 42)),
                id_col=cfg.get("idField", "doc_id"),
                text_col=cfg.get("textField", "text"),
            )
        elif method == "jaccard":
            pairs = token_jaccard_pairs(
                df,
                threshold=float(cfg.get("jaccardThreshold", 0.5)),
                shingle_n=int(cfg.get("shingleN", 3)),
                id_col=cfg.get("idField", "doc_id"),
                text_col=cfg.get("textField", "text"),
            )
        else:
            raise ValueError(
                f"safesplit method must be jaccard|minhash, got {method!r}"
            )
        return leakage_safe_split(
            df,
            pairs,
            id_col=cfg.get("idField", "doc_id"),
            weights=weights,
            seed=int(cfg.get("seed", 42)),
            split_col=cfg.get("splitField", "split"),
        )


class GopherStage(Stage):
    """Gopher quality-rule battery from YAML
    (``ops.text.gopher_rules``, Rae et al. 2021 A1.1): append the
    signal + per-rule boolean columns in place — a pure projection,
    no join, no shuffle — and, when ``filter`` is true (the default),
    keep only rows passing every rule (``keep``). Set
    ``filter: false`` to attach the columns for a later ``sql``
    stage to threshold differently."""

    def apply(self, df: DataFrame) -> DataFrame:
        import pyspark.sql.functions as F

        from filefilter_spark.ops.text import gopher_rules

        cfg = self.cfg.action_config
        out = gopher_rules(
            df, text_col=cfg.get("textField", "text"), id_col=None
        )
        if bool(cfg.get("filter", True)):
            out = out.filter(F.col("keep"))
        return out


class GopherRepStage(Stage):
    """Gopher char-fraction repetition battery from YAML
    (``ops.text.gopher_repetition``, Rae et al. 2021 A1.1 — the
    top-n-gram / duplicated-n-gram tier that complements ``gopher``'s
    pure-projection rules): per-doc fractions + booleans arrive via a
    left join on ``idField``; ``filter: true`` (default) keeps only
    rows passing every repetition rule. The score/keep column names
    are RESERVED on the input (raises on collision — e.g. a prior
    ``gopherrep`` with ``filter: false`` must be renamed away first,
    not silently duplicated into ambiguity); rows whose ``idField``
    is NULL cannot be scored and are dropped when filtering (their
    joined ``keep`` is NULL)."""

    def apply(self, df: DataFrame) -> DataFrame:
        import pyspark.sql.functions as F

        from filefilter_spark.ops.order import _check_reserved
        from filefilter_spark.ops.text import (
            GOPHER_DUP_NGRAM_THRESHOLDS,
            GOPHER_TOP_NGRAM_THRESHOLDS,
            gopher_repetition,
        )

        cfg = self.cfg.action_config
        id_col = cfg.get("idField", "doc_id")
        reserved = (
            [f"top_{n}gram_char_frac" for n in GOPHER_TOP_NGRAM_THRESHOLDS]
            + [f"top_{n}gram_ok" for n in GOPHER_TOP_NGRAM_THRESHOLDS]
            + [f"dup_{n}gram_char_frac" for n in GOPHER_DUP_NGRAM_THRESHOLDS]
            + [f"dup_{n}gram_ok" for n in GOPHER_DUP_NGRAM_THRESHOLDS]
            + ["keep"]
        )
        _check_reserved(df, reserved, "gopherrep")
        scores = gopher_repetition(
            df, text_col=cfg.get("textField", "text"), id_col=id_col
        )
        out = df.join(scores, id_col, "left")
        if bool(cfg.get("filter", True)):
            out = out.filter(F.col("keep")).drop("keep")
        return out


class EntropyStage(Stage):
    """Attach per-doc token-distribution entropy
    (``ops.text.token_entropy``) as ``n_tokens``/``entropy`` columns
    via a left join on ``idField``; ``minEntropy``/``maxEntropy``
    optionally filter (low = looping/gibberish, implausibly high at
    fixed length = random-string spam)."""

    def apply(self, df: DataFrame) -> DataFrame:
        import pyspark.sql.functions as F

        from filefilter_spark.ops.text import token_entropy

        cfg = self.cfg.action_config
        id_col = cfg.get("idField", "doc_id")
        scores = token_entropy(
            df, text_col=cfg.get("textField", "text"), id_col=id_col
        )
        out = df.join(scores, id_col, "left")
        if cfg.get("minEntropy") is not None:
            out = out.filter(F.col("entropy") >= float(cfg["minEntropy"]))
        if cfg.get("maxEntropy") is not None:
            out = out.filter(F.col("entropy") <= float(cfg["maxEntropy"]))
        return out


class BpeStage(Stage):
    """Attach a BPE subword segmentation as ``outField``
    (``ops.bpe``) — tokenizer training AND/OR application from YAML.

    Two modes, reflecting the real workflow (train once, apply
    everywhere):

    - ``mergesPath`` set: LOAD the merge table from JSON and only
      encode — no training job, reproducible across pipelines.
    - otherwise: train on the incoming corpus (eager job at apply()
      time by design — the merge table must exist before the scoring
      plan is built; driver mode with the documented vocabulary cap,
      ``minFreq`` prunes the histogram tail). ``saveMergesTo``
      optionally persists the learned table for later ``mergesPath``
      runs.
    """

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.bpe import (
            bpe_encode, load_merges, save_merges, train_bpe,
        )

        cfg = self.cfg.action_config
        text_col = cfg.get("textField", "text")
        if cfg.get("mergesPath"):
            merges = load_merges(cfg["mergesPath"])
        else:
            merges = train_bpe(
                df,
                num_merges=int(cfg.get("numMerges", 200)),
                text_col=text_col,
                min_freq=int(cfg.get("minFreq", 1)),
            )
            if cfg.get("saveMergesTo"):
                save_merges(merges, cfg["saveMergesTo"])
        return bpe_encode(
            df,
            merges,
            text_col=text_col,
            out_col=cfg.get("outField", "bpe_tokens"),
        )


class ExpectStage(Stage):
    """Data-quality gate (``ops.expect.enforce``): evaluate the
    configured expectations in one aggregation and FAIL the pipeline
    when any is violated; the dataset passes through unchanged.

    .. code-block:: yaml

        - name: gate
          actionType: expect
          actionConfig:
            minRows: 1000
            notNull: [doc_id, text]
            unique: [doc_id]
            ranges: {n_chars: [1, 100000]}
    """

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.expect import enforce

        cfg = self.cfg.action_config
        ranges = {
            str(c): (float(v[0]), float(v[1]))
            for c, v in (cfg.get("ranges") or {}).items()
        }
        return enforce(
            df,
            min_rows=int(cfg["minRows"]) if "minRows" in cfg else None,
            not_null=[str(c) for c in cfg.get("notNull", [])],
            unique=[str(c) for c in cfg.get("unique", [])],
            ranges=ranges,
        )


class EpochsStage(Stage):
    """Epoch-repeat execution from YAML (``ops.corpus.repeat_sample``,
    Muennighoff et al. 2023): per-source rates may EXCEED 1 — a source
    at rate ``r`` yields ``floor(r)`` full epochs plus a fractional
    epoch, with a 0-based ``epoch`` column distinguishing the copies.
    This is the capability ``sample`` (weighted_sample) cannot
    materialize: its cutoffs cap at keep-everything, so a YAML user
    could plan a data-constrained mixture but not execute it.

    ``epoch`` is RESERVED on the input (raises on collision — a prior
    epochs stage's output must be renamed away, not silently
    overwritten by withColumn).

    .. code-block:: yaml

        - name: repeat
          actionType: epochs
          actionConfig:
            rates: {books: 3.0, wiki: 1.5}
            defaultRate: 1.0
    """

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.corpus import repeat_sample
        from filefilter_spark.ops.order import _check_reserved

        cfg = self.cfg.action_config
        _check_reserved(df, ["epoch"], "epochs")
        return repeat_sample(
            df,
            {str(k): float(v) for k, v in (cfg.get("rates") or {}).items()},
            default_rate=float(cfg.get("defaultRate", 1.0)),
            group_col=cfg.get("groupField", "source"),
            id_col=cfg.get("idField", "doc_id"),
            seed=int(cfg.get("seed", 42)),
        )


class BudgetStage(Stage):
    """One-call token-budget execution from YAML
    (``ops.corpus.execute_budget``): given target ``weights`` and a
    ``tokenBudget``, derive each source's rate from its ACTUAL
    available tokens (one sources-bounded aggregate) and materialize
    the mixture — epochs-with-repetition where rate > 1, fractional
    sampling where rate < 1, unbudgeted sources dropped. ``epoch``
    is RESERVED on the input like :class:`EpochsStage`.

    .. code-block:: yaml

        - name: mix
          actionType: budget
          actionConfig:
            weights: {books: 2.0, web: 1.0}
            tokenBudget: 9000000
            tokenField: n_tokens
    """

    def apply(self, df: DataFrame) -> DataFrame:
        from filefilter_spark.ops.corpus import execute_budget
        from filefilter_spark.ops.order import _check_reserved

        cfg = self.cfg.action_config
        _check_reserved(df, ["epoch"], "budget")
        return execute_budget(
            df,
            {str(k): float(v) for k, v in (cfg.get("weights") or {}).items()},
            int(cfg["tokenBudget"]),
            token_col=cfg.get("tokenField", "n_tokens"),
            group_col=cfg.get("groupField", "source"),
            id_col=cfg.get("idField", "doc_id"),
            seed=int(cfg.get("seed", 42)),
            max_groups=int(cfg.get("maxGroups", 100_000)),
        )


class QualityGateStage(Stage):
    """Keep the top ``frac`` of rows per group by quality
    (``ops.corpus.keep_top_fraction``) — the percentile gate.
    actionConfig: ``frac`` (required, in (0, 1]), ``groupField``
    (source), ``idField`` (doc_id), and either ``scoreField`` (an
    existing numeric column) or ``textField`` (default text, scored
    with the composite quality heuristic). ``skewed: true`` routes
    through ``keep_top_fraction_skewed`` (identical kept set, counts
    instead of a per-group row window — for power-law groups; requires
    an integral idField); ``skewed: auto`` measures the hottest
    group's row share with one bounded detector job and routes past
    the measured ~30% threshold (``ops.skew.should_route_skewed``,
    decision logged)."""

    def apply(self, df: DataFrame) -> DataFrame:
        import logging

        import pyspark.sql.functions as F

        from filefilter_spark.ops.corpus import (
            keep_top_fraction,
            keep_top_fraction_skewed,
        )
        from filefilter_spark.ops.text import quality_score

        cfg = self.cfg.action_config
        if cfg.get("frac") is None:
            raise ValueError(
                "qualitygate stage: actionConfig.frac is required"
            )
        score = (
            F.col(cfg["scoreField"])
            if cfg.get("scoreField")
            else quality_score(cfg.get("textField", "text"))
        )
        skewed = cfg.get("skewed", False)
        if isinstance(skewed, str) and skewed.lower() == "auto":
            from filefilter_spark.ops.skew import should_route_skewed

            skewed, share = should_route_skewed(
                df, cfg.get("groupField", "source")
            )
            logging.getLogger("filefilter_spark").info(
                "qualitygate[%s]: skewed=auto measured max group share "
                "%.3f -> %s form",
                self.cfg.name, share,
                "count-based" if skewed else "window",
            )
        gate = keep_top_fraction_skewed if skewed else keep_top_fraction
        return gate(
            df,
            score,
            frac=float(cfg["frac"]),
            group_col=cfg.get("groupField", "source"),
            id_col=cfg.get("idField", "doc_id"),
        )
