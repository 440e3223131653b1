"""Learned quality classification — the GPT-3-style data filter.

Beyond-reference training-pipeline tier: alongside the generative
scorers already in the engine (CCNet-style perplexity =
``ops/text.py bigram_nll``; DSIR importance ratios =
``ops/corpus.py dsir_logweights``), this module adds the
DISCRIMINATIVE recipe from the GPT-3/PaLM lineage (Brown et al. 2020
§A; also WebText's original filter): train a linear classifier to
distinguish a high-quality reference corpus from the raw crawl, score
every crawl document, keep high scorers.

Spark shape (all public pyspark.ml — the same building blocks the
IVF index already uses for k-means):

- features: engine tokenization (``ops/text.tokens``, lowercased) →
  sparse term-frequency vectors over ``pmod(hash(term), 2^18)``
  buckets (the hashing trick keeps the feature space fixed regardless
  of vocabulary, exactly like DSIR's hashed n-grams; see
  :func:`_bucket` for why the bucketing is SQL ``hash`` rather than
  ``HashingTF``'s);
- model: ``LogisticRegression`` (distributed L-BFGS; each iteration
  is one tree-aggregated gradient pass over the hashed vectors — no
  per-row Python, no driver-sized state beyond the coefficient
  vector);
- scoring: pure JVM SQL — NOT ``model.transform`` — replaying the
  same SQL-hash bucketing and folding the broadcast nonzero
  coefficients (see :func:`quality_scores`).

At 100 TB the standard deployment trains on a SAMPLE (reference corpus
vs a few-million-doc crawl sample — the coefficient vector only needs
enough data to estimate 2^18 weights) and scores the full corpus with
the one-pass transform; both halves of that split are this module's
two functions.

Determinism note: L-BFGS over tree-aggregated float sums is
reproducible only up to aggregation order; scores are therefore NOT
bit-stable across partitionings (unlike the md5-keyed ops). The
registry entry carries a recall oracle on a separable construct
rather than a value hash for exactly this reason.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from filefilter_spark.ops.text import tokens


@dataclass
class QualityModel:
    """A trained quality filter: the fitted LR model plus the
    featurization parameters scoring must replay identically."""

    model: object  # pyspark.ml LogisticRegressionModel
    n_features: int


def _bucket(col, n_features: int):
    """Term → feature bucket: ``pmod(hash(term), n)``. ``F.hash`` is
    Spark's Murmur3_x86_32(seed 42) — computable in pure SQL on both
    the training and scoring side, which is what lets scoring skip ml
    entirely. (Deliberately NOT ``HashingTF``: since SPARK-23469 its
    string hash is ``hashUnsafeBytes2``, which has no SQL twin — a
    model featurized with it could only be scored through
    ``model.transform``.) A NULL term (a document without tokens)
    maps to NULL, not to the bucket of ``hash(NULL)``, the seed."""
    return F.when(
        col.isNotNull(), F.pmod(F.hash(col), F.lit(n_features))
    ).cast("long")


def _term_buckets(df: DataFrame, text_col: str, n_features: int,
                  keys: list) -> DataFrame:
    """(keys..., __b) — one row per token of ``text_col``: engine
    tokens of the lowercased text, each mapped to its :func:`_bucket`.
    The one term → bucket step training and scoring share. A document
    with no tokens (empty or NULL text) keeps one row with a NULL
    ``__b``."""
    return df.select(
        *keys, F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("__t")
    ).select(*keys, _bucket(F.col("__t"), n_features).alias("__b"))


def _term_counts(labeled: DataFrame, n_features: int) -> DataFrame:
    """(label, pairs) — one row per document of ``labeled``
    ``(__text, label)``: its ``(__b, __c)`` term counts over
    :func:`_bucket` buckets, empty for a document with no tokens.

    One linear plan: the label is a grouping key of both aggregates,
    by ``(__rid, label, __b)`` and then ``(__rid, label)``, so no join
    can misalign labels and counts when an upstream with a
    nondeterministic row order (a sample, a round-robin repartition)
    is recomputed. The row id is computed in its own ``select`` before
    the token explode; in the generator's ``select`` Spark would
    evaluate it once per token and every token would become its own
    document."""
    docs = labeled.select(F.monotonically_increasing_id().alias("__rid"), "*")
    return (
        _term_buckets(docs, "__text", n_features, ["__rid", "label"])
        .groupBy("__rid", "label", "__b")
        .agg(F.count("__b").alias("__c"))
        .groupBy("__rid", "label")
        .agg(F.collect_list(
            F.when(F.col("__b").isNotNull(), F.struct("__b", "__c"))
        ).alias("pairs"))
        .select("label", "pairs")
    )


# L-BFGS pays one treeAggregate JOB per iteration, so the per-
# iteration cost of a small training sample is pure task scheduling,
# not compute: measured at sf0.1 (5k docs, 21 iterations), fitting at
# the session's default parallelism runs 21 × 64 tasks of microsecond
# gradients and takes 23.1 s; the same fit over the same vectors
# repartitioned to ONE partition converges to the same decision
# (identical scored set, recall 1.0) in 5.7 s. Right-size the fit
# input to ~this many sparse vectors per partition — a few-million-doc
# sample (the 100 TB deployment shape, module docstring) still fans
# out to tens of partitions. The per-row Python ``to_vec`` UDF runs in
# these partitions too, so it starts as few Python tasks as the fit.
_FIT_ROWS_PER_PARTITION = 50_000


def train_quality_classifier(
    positive: DataFrame,
    negative: DataFrame,
    text_col: str = "text",
    n_features: int = 1 << 18,
    max_iter: int = 50,
    reg_param: float = 1e-3,
) -> QualityModel:
    """Fit the reference-vs-crawl classifier. ``positive`` is the
    high-quality reference sample, ``negative`` the raw-crawl sample;
    class balance is the caller's choice (GPT-3 used ~1:1).

    Both classes are labeled and unioned first, and one
    :func:`_term_counts` plan gives each document's term counts. Those
    counts are persisted and counted to size the fit at
    ``ceil(n / _FIT_ROWS_PER_PARTITION)`` partitions (see that constant
    for the measured why); the counts are repartitioned to that size,
    turned into SparseVectors there by a per-row UDF, and only that
    vector frame is persisted for the fit. The UDF is acceptable
    because training reads a reference-vs-crawl sample by design; the
    corpus-sized scoring path builds no vectors (see
    :func:`quality_scores`). Coefficients remain reproducible only up
    to float aggregation order (module docstring), which partitioning
    was already part of."""
    import math

    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import SparseVector, VectorUDT
    from pyspark.storagelevel import StorageLevel

    # SparseVector sorts the (bucket, count) pairs by bucket
    to_vec = F.udf(lambda pairs: SparseVector(n_features, pairs), VectorUDT())

    labeled = positive.select(
        F.col(text_col).alias("__text"), F.lit(1.0).alias("label")
    ).unionByName(negative.select(
        F.col(text_col).alias("__text"), F.lit(0.0).alias("label")
    ))
    counts = _term_counts(labeled, n_features).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        n_rows = counts.count()
        train = (
            counts.repartition(max(1, math.ceil(n_rows / _FIT_ROWS_PER_PARTITION)))
            .select("label", to_vec("pairs").alias("features"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        lr = LogisticRegression(
            maxIter=max_iter, regParam=reg_param, standardization=False
        )
        model = lr.fit(train)
        train.unpersist()
    finally:
        counts.unpersist()
    return QualityModel(model, n_features)


def quality_scores(
    df: DataFrame,
    qm: QualityModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: str = "quality_prob",
) -> DataFrame:
    """Score documents with a trained filter: ``(id_col, score_col)``
    with score = P(reference | doc) = sigmoid(intercept + Σ w·tf).

    Scoring deliberately does NOT go through ``model.transform``:

    - training featurized with :func:`_bucket`'s SQL
      ``pmod(hash(term), n)`` (``HashingTF`` is deliberately never
      used — since SPARK-23469 its string hash has no SQL twin; see
      :func:`_bucket`), so scoring can replay the identical term→
      bucket map in pure JVM SQL through the same
      :func:`_term_buckets` step, left-broadcast-join the NONZERO
      coefficient table, one map-combined sum per doc (parity with the
      fitted coefficients is pinned by a unit test). Fully codegen'd, no VectorUDT
      materialization, and the broadcast is only the nonzero weights
      instead of the model riding every task closure — the better
      plan at corpus scale.
    - It also sidesteps a Spark 4.1 session-state trap: an ml
      ``transform``'s prediction-UDF closure drags the session's
      ``ObservationManager`` into task serialization, which throws
      ``NotSerializableException`` the moment any ``df.observe()``
      Observation has been registered in the session (as this
      engine's Pipeline does per stage). Native scoring has no such
      closure.

    Docs with zero tokens (or only zero-weight buckets) still score:
    :func:`_term_buckets` keeps one NULL-bucket row for a doc without
    tokens and the left join keeps tokens without a weight, so every
    doc reaches the sum and one with no weighted token scores
    ``sigmoid(intercept)``, matching an all-zero feature vector. One
    row per distinct ``id_col`` value.
    """
    import numpy as np
    import pandas as pd

    coefs = np.asarray(qm.model.coefficients.toArray(), dtype=np.float64)
    intercept = float(qm.model.intercept)
    nz = np.flatnonzero(coefs)
    wdf = df.sparkSession.createDataFrame(
        pd.DataFrame({"__b": nz.astype("int64"), "__w": coefs[nz]}),
        "__b long, __w double",
    )
    margin = (
        _term_buckets(df, text_col, qm.n_features, [F.col(id_col)])
        .join(F.broadcast(wdf), "__b", "left")
        .groupBy(id_col)
        .agg((F.lit(intercept) + F.coalesce(F.sum("__w"), F.lit(0.0)))
             .alias("__m"))
    )
    return margin.select(
        F.col(id_col),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__m")))).alias(score_col),
    )
