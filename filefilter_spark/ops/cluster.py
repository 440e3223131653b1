"""Deterministic distributed k-means over embedding columns (OP-D3).

:mod:`pyspark.ml`'s KMeans (used by the IVF index builder as the
default coarse quantizer) is the right tool when "a good clustering"
is the goal — but it is NOT reproducible: k-means|| init draws from
partition-order-dependent samples, and float centroid updates sum in
task-completion order, so two runs (or one run with a retried task)
can emit different assignments. For pipeline operators whose OUTPUT
feeds dedup/split decisions (SemDeDup cells, IVF partitions,
leakage-safe cluster keys), nondeterminism means a speculative
re-execution can silently change which documents survive — the same
class of bug as the nondeterministic-sample traps documented in
``ops/corpus.py``.

:func:`lloyd_kmeans` is the reproducible tier: Lloyd iterations over
**quantized** embeddings.

- Every component is quantized once to an integer grid
  (``floor(x·scale + 0.5)`` — explicit floor-plus-half instead of
  ``round()`` because engines disagree on double round-half modes).
  All cross-row reductions are then exact BIGINT sums — associative,
  commutative, identical under ANY partitioning, task order, retry,
  or engine. The grid error (≤ 0.5/scale per component, default
  5e-7) is orders of magnitude below cluster-boundary scale.
- Init is the k lowest-id vectors (deterministic, no RNG). Real
  deployments may pass better seeds via ``init_ids``; determinism is
  preserved for any explicit choice.
- The assignment distance folds ``(q_i/scale − c_i)²`` LEFT-TO-RIGHT
  over the array (``zip_with`` + ``aggregate``): every term and the
  fold order are fixed, so the double result is bit-identical in any
  IEEE engine — the DuckDB oracle reproduces it with the
  ``list_reduce([0.0] || …)`` recipe. Ties on distance go to the
  lowest cluster index (``array_position`` returns the first match).
- Centroid update: ``posexplode`` of the quantized array grouped by
  ``(cluster, pos)``. Map-side combine bounds shuffle traffic at
  ``partitions × k × d`` rows of three longs — independent of row
  count — and the driver holds only the k×d centroid matrix.
  Component means ``sum / (count·scale)`` are single exact-integer
  IEEE divisions: bit-identical cross-engine. Empty clusters keep
  their previous centroid (deterministic, documented rule).

Total cost for ``iters`` rounds: ``iters+1`` scans of the quantized
frame (cached narrow ints, never the text/original floats) — the
unavoidable Lloyd shape; everything else is k×d-bounded.

Reference parity: the reference engine has no clustering operator —
this is part of the beyond-reference LLM-pipeline tier (SemDeDup,
Abbas et al. 2023, clusters embeddings exactly this way before
intra-cluster dedup).
"""

from __future__ import annotations

import math
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from filefilter_spark.session import lineage_cut


def quantize_to_grid(col: str | Column, scale: float = 1e6) -> Column:
    """``array<float> → array<bigint>``: per-component
    ``floor(x·scale + 0.5)`` (round-half-up via floor so both engines
    agree; ``F.round`` is HALF_UP but DuckDB ``round()`` on doubles is
    not guaranteed to match at exact halves)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c.cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)),
    )


def _sq_dist(qd: Column, cent: Column) -> Column:
    """Left-to-right fold of Σ (qd_i − cent_i)² — deterministic IEEE
    double, reproduced bit-for-bit by the DuckDB oracle's
    ``list_reduce`` fold."""
    return F.aggregate(
        F.zip_with(qd, cent, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# Plan-size guard for frozen-centroid assignment expressions: a k×d
# centroid literal stops compiling (Catalyst/codegen limits) long
# before rebuild-grade k ≈ √n, so past this many literal TERMS the
# same expression reads the matrix from a ONE-ROW broadcast join
# instead — identical arithmetic, identical tie-breaking, one
# BroadcastNestedLoopJoin of a single row (k·d doubles, comfortably
# under the broadcast ceiling at any plausible k) in place of an
# unbounded plan literal. :func:`_cent_source` is the one place that
# reads it.
CENT_LITERAL_MAX_TERMS = 16384

_NON_FINITE_SQL = {
    "nan": "CAST('NaN' AS DOUBLE)",
    "inf": "CAST('Infinity' AS DOUBLE)",
    "-inf": "CAST('-Infinity' AS DOUBLE)",
}


def double_array_lit(values) -> Column:
    """``array<double>`` literal of a nested sequence of numbers (one
    ``array`` level per sequence level), built by ONE SQL parse.

    ``F.lit`` per element pays a Py4J round trip each: ~2 s for
    4,096 doubles (a 64×64 centroid matrix, the DSIR table), which
    dwarfed the jobs those literals fed; one parse of the same values
    takes ~15 ms (both measured on a 4-core box). ``repr`` is the
    shortest round-trip decimal, so Catalyst parses back bit-identical
    doubles (``-0.0`` and subnormals included); NaN and ±inf, which
    ``F.lit`` also accepts, ride as string casts that parse with ANSI
    on or off."""

    def sql(v) -> str:
        if hasattr(v, "__len__"):
            return "array(" + ",".join(map(sql, v)) + ")"
        x = float(v)
        return _NON_FINITE_SQL.get(repr(x)) or f"{x!r}D"

    return F.expr(sql(values))


def _cent_source(frame: DataFrame, cents: Sequence[Sequence[float]]):
    """(frame, centroid-matrix column) — the matrix rides as a plan
    literal up to :data:`CENT_LITERAL_MAX_TERMS` terms, else joined
    in from a one-row broadcast frame (see the constant's note). The
    one literal-or-broadcast switch: the Lloyd assignment (and through
    it the IVF×PQ cell assignment), the IVF×PQ residual and
    ``similarity.cell_memberships`` all read their matrix here."""
    k = len(cents)
    dim = len(cents[0]) if k else 0
    if k * dim <= CENT_LITERAL_MAX_TERMS:
        return frame, double_array_lit(cents)
    row = frame.sparkSession.createDataFrame(
        [([[float(v) for v in c] for c in cents],)],
        "__cents array<array<double>>",
    )
    return frame.crossJoin(F.broadcast(row)), F.col("__cents")


def _seed_rows(seeds: DataFrame, k: int, seeding: str) -> list:
    """The k seed rows of the ``id`` (lowest ids) or ``hash`` (lowest
    ``xxhash64(id)``) seeding: one TakeOrderedAndProject over every
    row, collected in a deterministic order."""
    if seeding == "hash":
        seeds = seeds.orderBy(F.xxhash64("__id"), F.col("__id"))
    else:
        seeds = seeds.orderBy("__id")
    return seeds.limit(k).collect()


def _assign(qframe: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Add ``cluster`` (0-based argmin, ties → lowest index) and
    ``dist2`` columns against frozen centroids. Pure projection — no
    shuffle; the centroid matrix rides into codegen as a literal (or
    a one-row broadcast past :data:`CENT_LITERAL_MAX_TERMS`)."""
    src, cent_col = _cent_source(qframe, cents)
    # __scale rides as a literal column so qd stays an expression over
    # the cached quantized frame only; ONE division per component (the
    # oracle does the identical single q_i/scale division).
    qd = F.transform(F.col("q"), lambda v: v / F.col("__scale"))
    dists = F.transform(cent_col, lambda c: _sq_dist(qd, c))
    return src.withColumn("__dists", dists).select(
        *[c for c in qframe.columns],
        (F.array_position("__dists", F.array_min("__dists")) - 1)
        .cast("int")
        .alias("cluster"),
        F.array_min("__dists").alias("dist2"),
    )


def _kmeanspar_seeds(
    seeds: DataFrame, k: int, scale: float
) -> list[list[float]]:
    """Deterministic k-means‖ (Bahmani et al., VLDB 2012) — the
    rebuild-grade initializer: **O(log k) passes** over the cached
    quantized frame where Gonzalez farthest-first seeding needs k−1
    sequential jobs (VERDICT r15 #1).

    Shape per round (⌈log₂k⌉ rounds, ℓ = 2k oversampling as the paper
    recommends): ONE TakeOrderedAndProject job that draws an EXACT
    weight-∝-d²(x, C) sample of size ℓ without needing φ=Σd² first —
    the Efraimidis–Spirakis (2006) reservoir trick: give every row the
    key ``ln(u)/d²`` with ``u`` a per-(row, round) xxhash64-derived
    uniform in (0,1), and the ℓ LARGEST keys are exactly a
    d²-weighted sample without replacement. No RNG state: ``u`` is a
    pure function of (id, round), so the sample — and therefore the
    whole seed set — is identical under any partitioning, retry, or
    engine, the same property every other seeding mode guarantees.

    Each row carries its min-distance-so-far as STATE, so the
    nearest-candidate weighting falls out of the final state for free
    (one map-combined agg, no extra distance pass), and the reduction
    to k runs DRIVER-side on the tiny weighted candidate set (greedy
    weighted D² — the derandomized k-means++ step — then a few
    weighted Lloyd polish iterations in numpy; O(|C|·k·d) driver
    FLOPs). Total Spark passes: ``2·⌈log₂k⌉ + 3`` (each round = one
    draw + one state fold) versus farthest-first's ``k−1`` jobs —
    at rebuild-grade n_lists ≈ √n (thousands at 100 TB) that is ~27
    passes versus thousands of driver-synchronized jobs.

    Like farthest-first it cannot leave a data mode unseeded: every
    round's d²-weighted draw lands mass in every still-uncovered
    region, and the greedy D² reduction keeps the spread (measured —
    SCALING.md "r16: k-means‖ rebuild seeding" reproduces
    farthest-first's recall/pruning on the shifted-rebuild scenario).
    Returns ≤ k seed vectors (exactly min(k, distinct rows); none on
    an empty input).

    Plan-size discipline at rebuild-grade k: distances ride per-row
    STATE (``__d2``/``__c`` — the min distance and argmin candidate
    so far, lineage cut eagerly per round by
    :func:`~filefilter_spark.session.lineage_cut`), so
    every round's centroid literal is bounded at the ROUND's ℓ new
    vectors (O(ℓ·d) expression terms), never the accumulated pool —
    a naive re-evaluation against all |C| ≈ ℓ·rounds candidates
    embeds a literal Catalyst cannot compile past k in the low
    thousands. Driver memory holds the pool itself: |C|·d doubles
    (:func:`seeds_cap_hint` — ~0.6 GB at k=4096, d=768; shrink ℓ if
    that is the binding constraint)."""
    import numpy as np

    first = seeds.orderBy(F.xxhash64("__id"), F.col("__id")).limit(
        1
    ).collect()
    if not first:
        return []
    first_vec = [v / scale for v in first[0]["q"]]
    ell = 2 * k
    rounds = max(1, math.ceil(math.log2(max(2, k))))
    pool_vecs: list[list[float]] = [first_vec]

    def dists_to(new_cents: list[list[float]]) -> Column:
        qd = F.transform(F.col("q"), lambda v: v / F.col("__scale"))
        return F.transform(
            double_array_lit(new_cents), lambda c: _sq_dist(qd, c)
        )

    state = lineage_cut(
        seeds.withColumn("__nd", dists_to([first_vec])).select(
            "__id", "q", "__scale",
            F.col("__nd")[0].alias("__d2"),
            F.lit(0).cast("int").alias("__c"),
        ),
        eager=True,
    )
    for rnd in range(rounds):
        # E-S key ln(u)/d² (maximize ⇔ maximize u^(1/d²)): u ∈ (0,1)
        # from the row id and the round index only. d²=0 rows (already
        # at a chosen point) are excluded via the -inf key.
        u = (
            F.pmod(F.xxhash64("__id", F.lit(rnd)), F.lit(1 << 40))
            + F.lit(0.5)
        ) / F.lit(float(1 << 40))
        drawn = (
            state.withColumn(
                "__key",
                F.when(
                    F.col("__d2") > 0, F.log(u) / F.col("__d2")
                ).otherwise(F.lit(float("-inf"))),
            )
            .orderBy(F.desc("__key"), F.asc("__id"))
            .limit(ell)
            .select("__id", "q", "__key")
            .collect()
        )
        base = len(pool_vecs)
        new_vecs = [
            [v / scale for v in r["q"]]
            for r in drawn
            if not math.isinf(r["__key"])  # d²=0: already a candidate
        ]
        if not new_vecs:
            continue  # every remaining row sits on a chosen point
        pool_vecs.extend(new_vecs)
        # fold the ℓ new candidates into the per-row min-dist state:
        # strict < keeps the earliest (lowest-index) candidate on
        # ties, matching argmin-first-match semantics
        state = lineage_cut(
            state.withColumn("__nd", dists_to(new_vecs))
            .withColumn("__m", F.array_min("__nd"))
            .withColumn(
                "__nc",
                (
                    F.array_position("__nd", F.col("__m"))
                    - 1 + F.lit(base)
                ).cast("int"),
            )
            .select(
                "__id", "q", "__scale",
                F.when(F.col("__m") < F.col("__d2"), F.col("__m"))
                .otherwise(F.col("__d2")).alias("__d2"),
                F.when(F.col("__m") < F.col("__d2"), F.col("__nc"))
                .otherwise(F.col("__c")).alias("__c"),
            ),
            eager=True,
        )
    # weighting: rows nearest each candidate are already tracked in
    # __c — one map-combined agg, zero further distance evaluation
    counts = {
        int(r["__c"]): int(r["n"])
        for r in state.groupBy("__c")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    cand = np.asarray(pool_vecs, dtype=np.float64)
    w = np.asarray(
        [counts.get(i, 0) for i in range(len(pool_vecs))],
        dtype=np.float64,
    )
    if len(cand) <= k:
        return [list(map(float, c)) for c in cand]
    # greedy weighted D² (derandomized k-means++): first = heaviest
    # candidate (ties → lowest id via stable argmax over id order)
    chosen = [int(np.argmax(w))]
    d2 = ((cand - cand[chosen[0]]) ** 2).sum(axis=1)
    while len(chosen) < k:
        nxt = int(np.argmax(w * d2))
        chosen.append(nxt)
        d2 = np.minimum(d2, ((cand - cand[nxt]) ** 2).sum(axis=1))
    centers = cand[chosen].copy()
    # weighted Lloyd polish on the candidate set (driver-side, fixed
    # 5 iterations, deterministic: fixed array order + argmin ties →
    # lowest candidate index)
    for _ in range(5):
        dists = ((cand[:, None, :] - centers[None, :, :]) ** 2).sum(
            axis=2
        )
        assign = np.argmin(dists, axis=1)
        for ci in range(k):
            mask = assign == ci
            wm = w[mask]
            if wm.sum() > 0:
                centers[ci] = (cand[mask] * wm[:, None]).sum(
                    axis=0
                ) / wm.sum()
    return [list(map(float, c)) for c in centers]


def seeds_cap_hint(k: int, ell: int, rounds: int) -> int:
    """Upper bound on the k-means‖ candidate-pool size — |C| ≤
    1 + ℓ·rounds — exposed so callers can budget the DRIVER memory
    (|C|·d doubles; the per-round plan literal is bounded at ℓ·d
    regardless, see :func:`_kmeanspar_seeds`)."""
    return 1 + ell * rounds


def lloyd_kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1e6,
    init_ids: Sequence[int] | None = None,
    seeding: str = "id",
) -> DataFrame:
    """Deterministic Lloyd k-means: returns
    ``(id_col, cluster, dist2)`` — the assignment after ``iters``
    centroid updates, ``dist2`` the squared Euclidean distance to the
    final centroid (raw double; bit-identical cross-engine by
    construction, see module docstring).

    ``init_ids``: explicit seed row ids (any deterministic choice);
    default = the ``k`` lowest ids.

    ``seeding``: ``"id"`` (default — the k lowest ids, the choice the
    cross-engine oracles reimplement) or ``"hash"`` — the k rows with
    the lowest ``xxhash64(id)``, still fully deterministic and
    partition-invariant but DECORRELATED from id order. When row ids
    correlate with content (time-ordered ingest, mode-sorted corpora)
    the lowest-id seeds all land in one region and shallow Lloyd runs
    keep several centroids collapsed there (measured: SCALING.md
    "ANN drift signal" — a rebuilt 2×-corpus index at
    n_lists=48/id-seeding left probed@4 at ~56% of the corpus);
    ``"hash"`` spreads the seeds content-blind, but leaves ~1/e of k
    modes unseeded at k ≈ mode count (coupon collector, measured).
    ``"kmeanspar"`` closes that gap (deterministic k-means‖, Bahmani
    2012 — ⌈log₂k⌉+2 jobs total via E-S weighted sampling +
    driver-side weighted reduction; the rebuild seeding, see
    :func:`_kmeanspar_seeds`). The default stays ``"id"`` because the
    exact DuckDB oracles replay that recipe. Every mode raises
    ``ValueError`` when it finds no seed row (empty input)."""
    q0 = df.select(
        F.col(id_col).alias("__id"),
        quantize_to_grid(vec_col, scale).alias("q"),
    )
    qframe = q0.withColumn("__scale", F.lit(float(scale)))
    # iters+1 passes read this narrow int frame, never the source.
    qframe = qframe.persist()
    try:
        if init_ids is not None:
            seeds = qframe.filter(F.col("__id").isin(list(init_ids)))
        else:
            seeds = qframe
        if seeding == "kmeanspar":
            cents = _kmeanspar_seeds(seeds, k, scale)
        elif seeding in ("id", "hash"):
            cents = [
                [v / scale for v in r["q"]]
                for r in _seed_rows(seeds, k, seeding)
            ]
        else:
            raise ValueError(
                f"lloyd_kmeans: unknown seeding {seeding!r} "
                "(id | hash | kmeanspar)"
            )
        if not cents:
            raise ValueError("lloyd_kmeans: no seed rows (empty corpus)")

        for _ in range(iters):
            assigned = _assign(qframe, cents)
            # Map-side-combined (cluster, pos) partial sums: shuffle is
            # ≤ partitions × k × d rows; collect is exactly k×d + k.
            sums = (
                assigned.select(
                    "cluster", F.posexplode("q").alias("pos", "qv")
                )
                .groupBy("cluster", "pos")
                .agg(F.sum("qv").alias("s"), F.count("*").alias("n"))
                .collect()
            )
            by_cluster: dict[int, dict[int, tuple[int, int]]] = {}
            for r in sums:
                by_cluster.setdefault(r["cluster"], {})[r["pos"]] = (
                    r["s"],
                    r["n"],
                )
            new_cents = []
            for ci, old in enumerate(cents):
                comp = by_cluster.get(ci)
                if not comp:  # empty cluster: keep previous centroid
                    new_cents.append(old)
                    continue
                new_cents.append(
                    [
                        comp[p][0] / (comp[p][1] * scale)
                        for p in range(len(old))
                    ]
                )
            cents = new_cents

        out = _assign(qframe, cents).select(
            F.col("__id").alias(id_col), "cluster", "dist2"
        )
        # The persist must outlive the returned lazy frame's first
        # action; an eager cut materializes the (tiny: id, int, double)
        # result so the cache can be dropped now.
        return lineage_cut(out, eager=True)
    finally:
        qframe.unpersist()


def cluster_balanced_sample(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    per_cluster: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Diversity-balanced sampling: cap every k-means cell at
    ``per_cluster`` rows — the embedding-space counterpart of
    per-source quota sampling. A raw uniform sample reproduces the
    corpus's cluster skew (near-duplicate-dense regions dominate);
    capping per CELL flattens it, the standard pre-training
    diversity-balancing move (the sampling half of the SemDeDup/
    cluster-and-prune recipe).

    Returns ``(id_col, cluster)``. Fully deterministic end to end:
    cell assignments come from :func:`lloyd_kmeans` (bit-identical
    across engines/partitionings) and the within-cell choice is the
    salted-hash rank of :func:`ops.corpus.quota_sample` ('#quota'
    salt — uncorrelated with split/mix decisions), so the sample is
    reproducible across engines and reruns and exact-oracle-able.

    Scale shape: the k-means passes are map-combined (<= P*k*d
    partial rows per iteration); the cap is one window shuffle on
    cluster that compiles to WindowGroupLimit — O(per_cluster) memory
    per cell. Vectors never shuffle; only (id, cluster) rows do.
    """
    from filefilter_spark.ops.corpus import quota_sample

    assigned = lloyd_kmeans(
        df, k=k, iters=iters, vec_col=vec_col, id_col=id_col
    ).select(id_col, "cluster")
    return quota_sample(
        assigned, quota=per_cluster, group_col="cluster",
        id_col=id_col, seed=seed,
    )
