"""Similarity search over embedding columns (OP-D3).

Brute-force cosine is the correctness baseline (exact, one pass, no
shuffle when the query vector is a literal); the scale path is
random-hyperplane LSH bucketing (cosine LSH) that prunes the candidate
set before exact re-ranking. Dot products run JVM-side via
``zip_with`` + ``aggregate`` higher-order functions — no Python UDF in
the hot path.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from filefilter_spark.ops.cluster import _cent_source, _sq_dist, double_array_lit


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double_array(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def topk_cosine(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine vs a literal query vector.

    Plan shape: narrow map (cosine per row) + TakeOrderedAndProject —
    per-partition heaps, no global sort, no shuffle of vectors. This is
    the right baseline even at 100 TB: it reads every vector once.
    """
    q = double_array_lit(query_vec)
    emb = _as_double_array(vec_col)
    return (
        df.select(F.col(id_col), cosine(emb, q).alias("cos_sim"))
        # rank on the 6dp-ROUNDED score: the raw doubles from two
        # engines' different fold orders can differ in the last ulp,
        # which would make top-k MEMBERSHIP nondeterministic cross-
        # engine even though every value agrees at 6dp (same guard as
        # tfidf's rank-on-rounded)
        .orderBy(F.desc(F.round("cos_sim", 6)), F.asc(id_col))
        .limit(k)
    )


def batch_topk_cosine(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors for EACH of a batch of query vectors
    in one corpus pass — the retrieval-evaluation shape (N eval queries
    against the full corpus).

    Plan: the query set is tiny (eval batches are KBs) so it joins in as
    a BROADCAST nested-loop — every corpus partition scores all queries
    locally, vectors never shuffle; only (q_id, vec_id, cos_sim)
    candidate rows reach the per-query top-k window, whose partition
    count equals the query count. Returns (q_id, vec_id, cos_sim, rank).
    """
    emb = _as_double_array(vec_col)
    qv = _as_double_array(query_vec_col)
    scored = df.crossJoin(
        F.broadcast(queries.select(query_id_col, query_vec_col))
    ).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(emb, qv).alias("cos_sim"),
    )
    # rank on the 6dp-rounded score — see topk_cosine for why
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc(F.round("cos_sim", 6)), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup detection).
    Exact O(n²) formulation — use :func:`lsh_topk_cosine`'s bucketing at
    scale."""
    from filefilter_spark.ops.text import _bind

    emb = _as_double_array(vec_col)
    # let-bind the norm: computing it inside the transform lambda would
    # re-run the O(d) aggregate once per element (O(d²) per row).
    unit = _bind(norm(emb), lambda nn: F.transform(emb, lambda v: v / nn))
    n = df.select(F.col(id_col).alias("id"), unit.alias("unit"))
    a, b = n.alias("a"), n.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dot(F.col("a.unit"), F.col("b.unit")).alias("cos_sim"),
        )
        # threshold on the 6dp-rounded score — see topk_cosine for why
        .filter(F.round("cos_sim", 6) >= threshold)
    )


def plan_lsh_pairs(
    n_rows: int,
    threshold: float,
    target_bucket_size: int = 256,
    recall: float = 0.9,
    min_planes: int = 4,
    max_planes: int = 24,
    max_tables: int = 48,
) -> tuple[int, int]:
    """Size the (planes, tables) pair so LSH pair-mining stays linear.

    With r planes there are 2^r buckets per table and an expected
    occupancy of n/2^r, so the per-bucket self-join emits
    ~n·occupancy/2 candidates per table: holding r fixed while n grows
    makes candidate generation quadratic. Fixing the *occupancy*
    instead — r = ceil(log2(n / target_bucket_size)) — keeps it linear,
    and the table count is then re-derived from the banding curve
    recall = 1-(1-a^r)^b (a = 1-θ/π the per-plane agreement at the
    threshold) so the recall target survives the deeper hashes.
    """
    import math

    a = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    r = min_planes
    if n_rows > target_bucket_size:
        r = max(min_planes, math.ceil(math.log2(n_rows / target_bucket_size)))
    r = min(r, max_planes)
    p_table = a**r
    if p_table >= 1.0:
        return r, 1
    if p_table <= 0.0:
        return r, max_tables
    b = math.ceil(math.log(1.0 - recall) / math.log(1.0 - p_table))
    return r, max(1, min(b, max_tables))


def lsh_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_planes: int | str = 6,
    n_tables: int = 8,
    seed: int = 7,
    max_bucket_size: int | None = 4096,
    n_rows: int | None = None,
) -> DataFrame:
    """Sub-quadratic embedding near-dup: candidate pairs share an LSH
    bucket in ≥1 of ``n_tables`` tables, then exact cosine verifies
    ≥ threshold — same bucket-then-verify shape as MinHash LSH, so
    precision is exact and only recall is probabilistic (measured vs
    :func:`cosine_pairs` in tests). This is the scale path;
    ``cosine_pairs`` is the O(n²) oracle baseline.

    Tuning is the classic r×b banding curve with per-plane agreement
    a = 1-θ/π: pair recall = 1-(1-a^r)^b. Defaults (r=6, b=8) give
    ~0.97 at cosine 0.9; for looser thresholds use fewer planes and
    more tables (e.g. r=4, b=12 → ~0.9 recall at cosine 0.45).

    ``n_planes="auto"`` sizes (r, b) from the corpus count via
    :func:`plan_lsh_pairs` — the plane count tracks log2(n) so expected
    bucket occupancy stays constant and candidate generation stays
    linear in n (a fixed r is quadratic; SCALING.md measures both).
    Auto mode needs the corpus count: pass ``n_rows`` when you know it
    (or can estimate it from metadata) — otherwise an eager
    ``df.count()`` runs here, a full extra pass over the input BEFORE
    any LSH work, which doubles input cost when ``df`` is an expensive
    derived frame.

    ``max_bucket_size`` (default 4096, matching ``minhash_near_dup``)
    drops buckets larger than the cap before pair emission: a skew
    guard against degenerate regions (zero vectors, embedding-collapse
    clusters) that would otherwise contribute O(bucket²) candidates in
    one unsplittable task; dropped buckets trade bounded recall loss in
    those regions for a hard cost ceiling. ``None`` disables.

    Cost law (measured in SCALING.md): with auto sizing the candidate
    count grows as n^(1+ρ) where ρ = ln(1/a)·r/ln(n)-ish from the
    banding curve — near-linear at tight thresholds (θ≈0.9) and ~n^1.5
    at loose ones (θ≈0.45), the standard LSH similarity-join tradeoff.
    A FIXED r is quadratic once n outgrows 2^r·target_occupancy; the
    probe keeps one fixed-r line as the contrast.

    Candidate generation is the shared self-join-free
    ``_bucket_pairs`` shape (see ``ops/dedup.py``): the bucket
    membership table — an Arrow/numpy kernel over every embedding — is
    consumed exactly ONCE by the group-collect. The previous self-join
    formulation evaluated that kernel twice (once per join side) plus a
    third scan for the oversized-bucket blocklist; the cap now falls
    out of the same aggregation for free."""
    from filefilter_spark.ops.dedup import _bucket_pairs
    from filefilter_spark.ops.text import _bind

    if n_planes == "auto":
        n_planes, n_tables = plan_lsh_pairs(
            df.count() if n_rows is None else n_rows, threshold
        )
        if max_bucket_size is None:
            # The planner holds *expected* occupancy near 256; cap the
            # tail at 16× expectation so a skewed region can't go wild.
            max_bucket_size = 4096

    emb = _as_double_array(vec_col)
    tables = [_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    # Bucket membership carries only (id, table, bucket) — candidate
    # generation and dedup shuffle narrow id pairs, never vectors.
    buckets = _bucket_memberships(df, emb, id_col, tables)
    candidates = _bucket_pairs(
        buckets, ["t", "b"], id_col="id", max_bucket=max_bucket_size
    )
    return _pair_cosine_verify(candidates, df, emb, id_col, threshold)


def _pair_cosine_verify(
    candidates: DataFrame,
    df: DataFrame,
    emb: Column,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-cosine verification of (id_a, id_b) candidate pairs.

    The verify stays JVM-side ON PURPOSE. An Arrow-batched numpy
    kernel (the shape that wins for ``_bucket_memberships``) was
    measured and REJECTED here: candidate count ≫ corpus count, so a
    per-pair kernel hauls (pairs × 2·dim) doubles across the Python
    boundary — at the probe's ×4 corpus that was 2x SLOWER than the
    interpreted ``zip_with`` dot (48s vs 26s), because serialization
    scales with the pair count while the bucket kernel's transfer
    scales only with the corpus. JVM higher-order eval is per-element
    interpreted but stays in-process and pipelines inside the join
    stage. Vectors are unit-normalized ONCE on the corpus side (n·dim
    work) so the per-pair cost is a single dot."""
    from filefilter_spark.ops.text import _bind

    unit = _bind(norm(emb), lambda nn: F.transform(emb, lambda v: v / nn))
    units = df.select(F.col(id_col).alias("id"), unit.alias("unit"))
    return (
        candidates.join(
            units.select(F.col("id").alias("id_a"), F.col("unit").alias("ua")), "id_a"
        )
        .join(units.select(F.col("id").alias("id_b"), F.col("unit").alias("ub")), "id_b")
        .withColumn("cos_sim", dot(F.col("ua"), F.col("ub")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _bucket_memberships(
    df: DataFrame, emb: Column, id_col: str, tables: list[list[list[float]]]
) -> DataFrame:
    """(id, table, bucket) membership rows for every hash table.

    Hot path: one Arrow-batched numpy kernel — all ``b·r`` hyperplane
    dots for a batch are a single (n×dim)·(dim×b·r) BLAS matmul,
    replacing b·r interpreted ``aggregate(zip_with(...))`` higher-order
    expressions per row (Spark evaluates those per-element outside
    whole-stage codegen; same rationale and structure as the minhash
    fold in ``ops/dedup.py:minhash_signatures``). mapInPandas rather
    than a scalar pandas_udf on purpose — see the Spark 4.1 planner
    note there.

    The kernel may disagree with the JVM ``lsh_signature`` expression
    on a bucket bit only when a dot product is within float rounding of
    0 (sign flip) — harmless here, since candidates are always
    re-verified with exact cosine."""
    import numpy as np
    import pandas as pd

    n_tables, r = len(tables), len(tables[0])
    dim = len(tables[0][0])
    id_type = df.schema[id_col].dataType.simpleString()
    planes = np.array(
        [p for tbl in tables for p in tbl], dtype=np.float64
    )  # (b·r, dim)
    weights = np.uint64(1) << np.arange(r, dtype=np.uint64)
    t_idx = np.arange(n_tables, dtype=np.int32)

    def _kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {
                        "id": pdf[id_col],
                        "t": pd.Series([], dtype="int32"),
                        "b": pd.Series([], dtype="int64"),
                    }
                )
                continue
            E = np.zeros((n, dim), dtype=np.float64)
            for i, v in enumerate(pdf["__emb"]):
                if v is not None and len(v) == dim:
                    E[i] = v
            bits = (E @ planes.T > 0).reshape(n, n_tables, r)
            B = (bits.astype(np.uint64) * weights).sum(axis=2).astype(np.int64)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].repeat(n_tables).reset_index(drop=True),
                    "t": np.tile(t_idx, n),
                    "b": B.reshape(-1),
                }
            )

    src = df.select(F.col(id_col), emb.alias("__emb"))
    return src.mapInPandas(_kernel, schema=f"id {id_type}, t int, b bigint")


def build_ivf_index(
    df: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    method: str = "ml",
    coarse_iters: int = 2,
    seeding: str = "id",
):
    """IVF (inverted-file) coarse quantizer: KMeans the corpus into
    ``n_lists`` centroid cells; every vector is assigned to its nearest
    cell. Returns (assigned DataFrame with a ``cell`` column, centroid
    list). At scale the assigned table is written partitioned by
    ``cell`` so probes are partition-pruned reads — the same storage
    trick as the LSH buckets, with data-adaptive cells instead of
    random hyperplanes.

    ``method``: ``"ml"`` (default) uses ``pyspark.ml`` KMeans —
    better cells via k-means|| init, but assignments are NOT
    reproducible across runs/retries; ``"lloyd"`` uses
    :func:`filefilter_spark.ops.cluster.lloyd_kmeans` — deterministic
    bit-stable cells (see that module's docstring), the right choice
    when the index is written once and probed forever, or when cell
    membership feeds dedup/split decisions. ``seeding`` (lloyd only):
    ``"id"`` (default, oracle-exact) or ``"hash"`` — content-blind
    seed spread for corpora whose ids correlate with content (see
    lloyd_kmeans)."""
    if method == "lloyd":
        from filefilter_spark.ops.cluster import lloyd_kmeans

        arrs = df.select(
            F.col(id_col), _as_double_array(vec_col).alias("__arr")
        )
        assigned = (
            lloyd_kmeans(df, k=n_lists, iters=coarse_iters, vec_col=vec_col,
                         id_col=id_col, seeding=seeding)
            .withColumnRenamed("cluster", "cell")
            .join(arrs, id_col)
            .select(id_col, "__arr", "cell")
        )
        # Centroids via the same exact-integer reduction as the
        # clusterer (quantize → BIGINT sums → one division): a plain
        # avg() would sum doubles in partition order and break the
        # bit-stability contract this method exists for.
        from filefilter_spark.ops.cluster import quantize_to_grid

        scale = 1e6
        cent_rows = (
            assigned.select(
                "cell",
                F.posexplode(quantize_to_grid(F.col("__arr"), scale))
                .alias("p", "v"),
            )
            .groupBy("cell", "p")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct("p", (F.col("s") / (F.col("n") * scale))
                                 .alias("m"))
                    )
                ).alias("c")
            )
            .collect()
        )
        centroids_by_cell = {
            r["cell"]: [e["m"] for e in r["c"]] for r in cent_rows
        }
        dim = len(next(iter(centroids_by_cell.values())))
        centroids = [
            centroids_by_cell.get(i, [0.0] * dim) for i in range(n_lists)
        ]
        return assigned, centroids

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = df.select(
        F.col(id_col),
        _as_double_array(vec_col).alias("__arr"),
    ).withColumn("__vec", array_to_vector("__arr"))
    km = KMeans(k=n_lists, seed=seed, featuresCol="__vec", predictionCol="cell")
    model = km.fit(feat)
    assigned = model.transform(feat).select(id_col, "__arr", "cell")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk_cosine(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    method: str = "ml",
) -> DataFrame:
    """IVF ANN top-k: score the query against the (driver-side, tiny)
    centroid table, probe the ``n_probe`` nearest cells, exact-rerank
    only those vectors. Complements :func:`lsh_topk_cosine` — IVF cells
    adapt to the data distribution, LSH needs no training pass.
    ``method`` as in :func:`build_ivf_index`."""
    import math

    assigned, centroids = build_ivf_index(
        df, n_lists, vec_col, id_col, seed, method=method
    )

    def cos(a: Sequence[float], b: Sequence[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return d / (na * nb)

    probe_cells = sorted(
        range(len(centroids)), key=lambda i: -cos(query_vec, centroids[i])
    )[:n_probe]
    q = double_array_lit(query_vec)
    return (
        assigned.filter(F.col("cell").isin(probe_cells))
        .select(F.col(id_col), cosine(F.col("__arr"), q).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    import random as _random

    rng = _random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane (cosine) LSH: one sign bit per plane, packed to
    a BIGINT bucket id."""
    sig = F.lit(0).cast("bigint")
    for j, plane in enumerate(planes):
        p = double_array_lit(plane)
        sig = sig + F.when(dot(vec, p) > 0, F.lit(1 << j).cast("bigint")).otherwise(F.lit(0))
    return sig


def lsh_topk_cosine(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 7,
    multiprobe_bits: int = 2,
) -> DataFrame:
    """ANN top-k: probe only rows whose LSH bucket is within Hamming
    distance ``multiprobe_bits`` of the query's bucket in any of
    ``n_tables`` hash tables, then exact-rerank the candidates.

    Multi-probe is what makes the recall/selectivity tradeoff work: a
    single-bucket probe at 8 planes catches only ~(1-θ/π)^8 of true
    neighbors per table (~15% over 4 tables at cosine 0.5), while
    probing the 1+8+28=37 buckets within Hamming ≤2 lifts that to ~90%
    and still prunes to 37/256 of each table. At scale the bucketed
    table is written partitioned by (table, bucket) so every probed
    bucket is a pruned partition read; tests measure recall against the
    exact baseline.
    """
    emb = _as_double_array(vec_col)
    tables = [_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    sig_cols = [lsh_signature(emb, planes).alias(f"sig{t}") for t, planes in enumerate(tables)]
    with_sigs = df.select(F.col(id_col), emb.alias("__emb"), *sig_cols)

    q_sigs = []
    for planes in tables:
        s = 0
        for j, plane in enumerate(planes):
            if sum(p * x for p, x in zip(plane, query_vec)) > 0:
                s |= 1 << j
        q_sigs.append(s)

    def probe_set(qs: int) -> list[int]:
        probes = {qs}
        if multiprobe_bits >= 1:
            probes |= {qs ^ (1 << i) for i in range(n_planes)}
        if multiprobe_bits >= 2:
            probes |= {
                qs ^ (1 << i) ^ (1 << j)
                for i in range(n_planes)
                for j in range(i + 1, n_planes)
            }
        return sorted(probes)

    cond = F.lit(False)
    for t, qs in enumerate(q_sigs):
        cond = cond | F.col(f"sig{t}").isin(probe_set(qs))
    q = double_array_lit(query_vec)
    return (
        with_sigs.filter(cond)
        .select(F.col(id_col), cosine(F.col("__emb"), q).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def cell_memberships(
    df: DataFrame,
    centroids,
    n_assign: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``(id, cell)`` top-``n_assign`` nearest-centroid memberships
    against FROZEN centroids — the persistable half of SemDeDup
    (exactly what :func:`minhash_band_buckets` is to MinHash-LSH):
    two vectors are candidate semantic near-dups iff they share a
    membership cell, so a stored membership table lets an
    incremental/streaming ingest find candidates against history
    WITHOUT re-scoring history (join on ``cell``; see
    ``streaming.jobs.semdedup_stream_dedup``). Nearest by squared
    euclidean (KMeans' metric), index tiebreak via array_sort's
    struct ordering; :func:`semantic_dedup` assigns through this same
    function, so batch and streaming agree row for row. Zero shuffle:
    the centroid table comes from ``ops.cluster._cent_source`` — a
    plan literal, or past ``CENT_LITERAL_MAX_TERMS`` a one-row
    broadcast join (identical arithmetic and tie-breaking; the literal
    stops compiling long before rebuild-grade k ≈ √n, which is exactly
    where the drift-rebuild loops re-size to)."""
    base, cents = _cent_source(
        df.select(
            F.col(id_col).alias("id"),
            _as_double_array(vec_col).alias("__arr"),
        ),
        centroids,
    )
    by_dist = F.array_sort(
        F.transform(
            cents,
            lambda c, i: F.struct(
                _sq_dist(F.col("__arr"), c).alias("d"), i.alias("i")
            ),
        )
    )
    cells = F.transform(F.slice(by_dist, 1, int(n_assign)), lambda s: s["i"])
    return base.select("id", F.explode(cells).alias("cell"))


# SemDeDup staleness thresholds, calibrated in SCALING.md "SemDeDup
# drift signal" (r16). The ACTION keys off ``capped_mass_frac`` — the fraction of a
# batch's memberships landing in cells the loop's ``max_cell`` cap has
# dropped from candidate generation — because that IS the recall-loss
# mechanism: a near-dup whose original lives only in capped cells
# cannot be caught, so the measured miss rate tracks this fraction
# directly (probe: frac 0 → catch 1.00; frac ~1 under a hard mode
# collapse → catch craters) while histogram TV alone cannot
# distinguish harmful drift from a harmless regionally-FOCUSED ingest
# (measured: a B-only batch against a fresh A∪B fit reads TV ~0.8
# with perfect recall — the probe's rebuilt scenario). TV vs the fit
# baseline still ships as a TREND field for dashboards; it does not
# drive the action.
SEMDEDUP_CAP_WARN = 0.25
SEMDEDUP_CAP_REBUILD = 0.60


def membership_histogram(
    df: DataFrame,
    centroids,
    n_assign: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict[int, int]:
    """Per-cell membership counts of ``df`` against FROZEN centroids
    (all ``n_assign`` memberships — the same definition on both sides
    of :func:`semdedup_cell_drift`). One map-combined agg; the collect
    is n_lists-bounded. Compute this once on the centroid-FIT corpus
    and hand it to ``streaming.jobs.semdedup_stream_dedup`` as
    ``built_cell_counts`` — the frozen baseline the drift signal
    compares each batch against."""
    rows = (
        cell_memberships(df, centroids, n_assign, vec_col, id_col)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {int(r["cell"]): int(r["n"]) for r in rows}


def semdedup_cell_drift(
    built_counts: dict | None,
    batch_counts: dict,
    capped_cells=(),
) -> dict:
    """Staleness signal for the streaming SemDeDup loop's FROZEN
    centroids — driver-side arithmetic only (the
    :func:`ops.pq.ann_index_drift` twin, with the action keyed to this
    loop's OWN failure mechanism). Returns:

    * ``capped_mass_frac`` — the fraction of the batch's memberships
      landing in ``capped_cells`` (store cells past ``max_cell``,
      whose members are OUT of candidate generation). This is the
      direct recall-loss predictor: a near-dup pair connected only
      through capped cells is silently missed, and the measured miss
      rate tracks this fraction (SCALING.md "SemDeDup drift signal").
      Drives ``action``: ok → ``"degraded"`` at
      :data:`SEMDEDUP_CAP_WARN` → ``"rebuild"`` at
      :data:`SEMDEDUP_CAP_REBUILD` (refit the centroids —
      ``seeding="kmeanspar"`` — with ``n_lists``/``max_cell`` re-sized
      for the grown corpus, and re-baseline).
    * ``tv_distance`` — TV between the fit-corpus membership histogram
      (``built_counts``, from :func:`membership_histogram`) and the
      batch's: a TREND field only. Measured caveat: a regionally
      FOCUSED ingest reads high TV with perfect recall even under
      fresh centroids, so TV must not drive the action here (None
      when no baseline was provided)."""
    batch = {int(c): int(n) for c, n in batch_counts.items()}
    nn = sum(batch.values())
    capped = {int(c) for c in capped_cells}
    frac = (
        sum(n for c, n in batch.items() if c in capped) / nn
        if nn else 0.0
    )
    tv = None
    if built_counts:
        built = {int(c): int(n) for c, n in built_counts.items()}
        nb = sum(built.values())
        if nb and nn:
            cells = set(built) | set(batch)
            tv = round(0.5 * sum(
                abs(built.get(c, 0) / nb - batch.get(c, 0) / nn)
                for c in cells
            ), 6)
    if frac >= SEMDEDUP_CAP_REBUILD:
        action = "rebuild"
    elif frac >= SEMDEDUP_CAP_WARN:
        action = "degraded"
    else:
        action = "ok"
    return {
        "capped_mass_frac": round(frac, 6),
        "tv_distance": tv,
        "action": action,
    }


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.45,
    n_lists: int = 16,
    n_assign: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): KMeans the embeddings into ``n_lists`` cells,
    assign every vector to its ``n_assign`` NEAREST cells (multi-probe
    against boundary effects — single assignment measured recall 0.43
    on the synthetic corpus; measured recall vs the exact pair set at
    sf0.1/5000 vectors: top-2 0.715, top-3 0.875 — boundary pairs
    fragment as cells fill, so the default is top-3), and
    exact-cosine-verify only pairs sharing a cell — the O(n²)
    all-pairs collapses to sum over cells of O(|cell|²).

    Returns ``(id_a, id_b, cos_sim)``. Precision is exact (every
    emitted pair is cosine-verified); recall misses only pairs whose
    assigned cell sets are disjoint, measured against the exact pair
    set by the registry's recall oracle. Complements the
    data-independent LSH path (:func:`lsh_cosine_pairs`): cells adapt
    to density, at the cost of a training pass.

    Scale shape: KMeans is Spark ML's distributed Lloyd's; cell
    assignment is a JVM expression against the (tiny) centroid
    table — zero shuffle; candidate generation is the shared
    self-join-free ``_bucket_pairs`` (narrow id pairs only); the verify
    joins unit vectors once. ``n_lists`` should grow with n (the
    SemDeDup paper uses k ~ sqrt(n): 110k clusters for 1.3 B
    embeddings) — :func:`cell_memberships` takes the centroid matrix
    from ``ops.cluster._cent_source``, which past
    ``CENT_LITERAL_MAX_TERMS`` joins it in from a one-row broadcast
    instead of a plan literal (identical arithmetic and tie-breaking,
    result-pinned), so rebuild-grade k compiles.
    """
    from filefilter_spark.ops.dedup import _bucket_pairs

    _, centroids = build_ivf_index(df, n_lists, vec_col, id_col, seed)
    memberships = cell_memberships(df, centroids, n_assign, vec_col, id_col)
    candidates = _bucket_pairs(memberships, ["cell"], id_col="id")
    return _pair_cosine_verify(
        candidates, df, _as_double_array(vec_col), id_col, threshold
    )


def projection_matrix(
    in_dim: int, out_dim: int, seed: int = 42
) -> list[list[float]]:
    """Deterministic Rademacher JL projection matrix: entries
    ``±1/sqrt(out_dim)`` with signs from a splitmix64-style integer
    hash (Achlioptas 2003 — database-friendly Johnson-Lindenstrauss;
    no RNG state, so the SQL oracle and any other engine can rebuild
    the identical matrix from ``(in_dim, out_dim, seed)``)."""
    import math

    c = 1.0 / math.sqrt(out_dim)

    def bit(i: int, j: int) -> int:
        x = (seed * 0x9E3779B97F4A7C15 + i * 0xBF58476D1CE4E5B9
             + j * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        x = (x * 0xD6E8FEB86659FD93) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 27
        return (x >> 1) & 1

    return [
        [c if bit(i, j) else -c for j in range(out_dim)]
        for i in range(in_dim)
    ]


def random_projection(
    df: DataFrame,
    out_dim: int = 8,
    in_dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction of an embedding
    column — the pre-ANN compression step (8× fewer floats per vector
    here; JL bounds pairwise-distance distortion, so LSH/IVF built on
    the projection keep their recall guarantees up to ε).

    Shuffle-free projection: each output dim is one JVM-side ordered
    ``zip_with``/``aggregate`` fold against a literal matrix column —
    no Python, no shuffle, O(in_dim × out_dim) multiply-adds per row.
    The fold order and the correctly-rounded IEEE ops make the result
    bit-reproducible on any engine that replays the same sequence
    (the OP-D3-project oracle does exactly that).
    """
    mat = projection_matrix(in_dim, out_dim, seed)
    raw = _as_double_array(vec_col)
    # Loud per-row dimension check: zip_with would otherwise null-pad a
    # mismatched vector and every projection component would silently
    # become NULL. assert_true returns NULL on success, so gating the
    # vector on its (null) result costs one int compare per row.
    emb = F.when(
        F.assert_true(
            F.size(raw) == in_dim,
            F.concat(
                F.lit(f"random_projection: expected {in_dim}-dim vector, got "),
                F.size(raw).cast("string"),
            ),
        ).isNull(),
        raw,
    )
    outs = [
        dot(emb, double_array_lit([row[j] for row in mat])).alias(f"p{j}")
        for j in range(out_dim)
    ]
    return df.select(F.col(id_col), F.array(*outs).alias("proj"))


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the
    vector-store compression step (4x smaller than float32, 8x than
    float64; ANN recall loss typically <1%). Per-vector absmax scaling:
    ``code_i = round(v_i * 127 / max|v|)``, reconstruction
    ``v_i ≈ code_i * max|v| / 127``.

    Returns ``(id, scale, codes, mse)`` where ``scale = max|v| / 127``
    (multiply codes by it to dequantize) and ``mse`` is the per-vector
    reconstruction error (9dp — the magnitudes are ~1e-5). Pure array
    expressions: one projection, no shuffle, no UDF; the absmax is
    let-bound so the O(d) fold runs once per row, not once per element.

    All-zero vectors quantize to all-zero codes with scale 0.
    """
    from filefilter_spark.ops.text import _bind

    emb = _as_double_array(vec_col)

    def build(mx: Column) -> Column:
        safe = F.greatest(mx, F.lit(1e-300))
        codes = F.transform(emb, lambda v: F.round(v * 127.0 / safe).cast("int"))
        scale = mx / F.lit(127.0)
        recon_err = F.aggregate(
            F.zip_with(
                emb,
                codes,
                lambda v, c: (v - c * mx / 127.0) * (v - c * mx / 127.0),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ) / F.greatest(F.size(emb), F.lit(1))
        return F.struct(
            scale.alias("scale"),
            codes.alias("codes"),
            F.round(recon_err, 9).alias("mse"),
        )

    q = _bind(F.array_max(F.transform(emb, F.abs)), build)
    return df.select(
        F.col(id_col),
        q["scale"].alias("scale"),
        q["codes"].alias("codes"),
        q["mse"].alias("mse"),
    )
