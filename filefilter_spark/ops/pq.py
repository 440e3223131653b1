"""Product quantization (PQ) for embedding search at corpus scale
(OP-D3). Jégou et al. 2011, "Product Quantization for Nearest
Neighbor Search".

Why this exists next to IVF/LSH (``ops/similarity.py``): at 100 TB the
binding constraint is the *memory footprint of the index itself*. PQ
splits each d-dim vector into ``m`` subvectors and replaces each with
the id of its nearest per-subspace centroid — ``m`` small ints per
vector (m=8, k=16 → 8 codes ≈ 4 bytes vs 256 bytes of float32 at
d=64). Search then never touches vectors: a query builds an m×k
look-up table of subspace distances once, and each candidate's
approximate distance is ``Σ_s LUT[s][code_s]`` — table lookups and
adds, no floating-point vector math per row (ADC, asymmetric distance
computation).

Determinism contract (same discipline as ``ops/cluster.py``, which
documents the full rationale): embeddings are quantized once to an
integer grid; all cross-row reductions are exact int64 sums; every
per-row distance is a fixed left-to-right double fold; argmin ties go
to the lowest centroid id. Result: bit-identical output under any
partitioning/retry, and an exact DuckDB oracle.

Plan shapes:

- :func:`fit_pq_codebooks` — seeds = the k lowest-id vectors'
  subvectors (no RNG); ``iters`` optional Lloyd rounds refine ALL m
  subspaces in one distributed loop per round (explode to
  ``(s, cluster, pos)`` partials, map-side combined: shuffle ≤
  ``partitions × m × k × (d/m) = partitions × k × d`` rows per round
  — independent of n; the driver holds only the m×k×(d/m) = k×d
  codebook).
- :func:`pq_encode` — pure projection: the codebook rides into
  codegen as a nested array literal; per row m argmins over k folds.
  No shuffle, no UDF. Output is the m-code array — the thing a
  100 TB deployment persists instead of the vectors.
- :func:`pq_adc_topk` — pure projection + ``orderBy().limit()``
  (TakeOrderedAndProject: per-partition heap + driver merge, no
  global sort): the LUT is built driver-side from the query vector
  (m×k doubles) and folded per row in subspace order.
- :func:`build_ivfpq_index` / :func:`ivfpq_topk` — the composed tier
  (Jégou §IV-V): deterministic Lloyd coarse cells hold the codes,
  persisted ``partitionBy(cell)`` so a probe is a partition-pruned
  read of ``n_probe/n_lists`` of the 32×-compressed table; optional
  residual encoding, content-addressed sampled fit, exact rerank of
  the ADC shortlist. :func:`ivfpq_batch_topk` runs N queries through
  the same probe (:func:`_ivfpq_probe`: probe order, ADC tables,
  auto-refine sizing) and rerank distance; each function keeps only
  its own top-k step.
- :func:`ivfpq_encode_batch` — assign + encode against a FROZEN
  index: the incremental-append / streaming-ingest path (grid-exact,
  batch-arrival-invariant codes).
"""

from __future__ import annotations

import math
from typing import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from filefilter_spark.ops.cluster import (
    _assign,
    _cent_source,
    _seed_rows,
    _sq_dist,
    double_array_lit,
    quantize_to_grid,
)
from filefilter_spark.ops.layout import _read_sidecar, _swap_dirs, _write_sidecar
from filefilter_spark.session import lineage_cut

Codebooks = list[list[list[float]]]  # [subspace][centroid][component]


def _on_grid(col: str | Column, scale: float) -> Column:
    """``col`` quantized to the grid and divided back to doubles — the
    values codebook fit, encode and rerank all argue over."""
    return F.transform(
        quantize_to_grid(col, scale), lambda v: v / F.lit(float(scale))
    )


def _grid_values(vec: Sequence[float], scale: float) -> list[float]:
    """A driver-side vector on the grid: Python floats equal to what
    :func:`_on_grid` computes in the engine."""
    return [float(math.floor(x * scale + 0.5)) / scale for x in vec]


def _chunked(qd: Column, m: int, sub: int) -> Column:
    """array<double> → array of m subvector slices (order s = 0..m−1)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.slice(qd, s * sub + 1, sub),
    )


def _code_expr(qd: Column, codebooks: Codebooks) -> Column:
    """Per-row m-code array: for each subspace, argmin over its k
    centroids of the deterministic squared-distance fold (ties →
    lowest centroid id via first-match ``array_position``).

    ``qd`` must ALREADY be on the caller's grid (quantize → /scale) —
    this expression takes no scale of its own, so codebook build and
    encode cannot drift onto different grids."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    cents = double_array_lit(codebooks)
    chunks = _chunked(qd, m, sub)

    def code_of(chunk: Column, s: Column) -> Column:
        dists = F.transform(
            F.element_at(cents, s + 1), lambda c: _sq_dist(chunk, c)
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    return F.transform(chunks, code_of)


def fit_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1e6,
    seeding: str = "id",
) -> Codebooks:
    """Deterministic PQ codebooks: ``codebooks[s][c]`` is the c-th
    centroid of subspace s (d/m components). Seeds are the k lowest-id
    vectors' subvectors (``seeding="hash"``: the k lowest
    ``xxhash64(id)`` — content-blind spread, see
    ``cluster.lloyd_kmeans``); ``iters`` Lloyd rounds refine all
    subspaces together (see module docstring for the per-round shuffle
    bound). Empty clusters keep their previous centroid."""
    if seeding not in ("id", "hash"):
        raise ValueError(
            f"fit_pq_codebooks: unknown seeding {seeding!r} (id | hash)"
        )
    qframe = df.select(
        F.col(id_col).alias("__id"),
        quantize_to_grid(vec_col, scale).alias("q"),
    )
    seed_rows = _seed_rows(qframe, k, seeding)
    if len(seed_rows) < k:
        raise ValueError(f"fit_pq_codebooks: need >= {k} rows")
    d = len(seed_rows[0]["q"])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books: Codebooks = [
        [
            [q / scale for q in r["q"][s * sub : (s + 1) * sub]]
            for r in seed_rows
        ]
        for s in range(m)
    ]
    if iters == 0:
        return books
    qd = F.transform(F.col("q"), lambda v: v / F.lit(float(scale)))
    qframe = qframe.persist()
    try:
        for _ in range(iters):
            codes = qframe.select(
                "__id", "q", _code_expr(qd, books).alias("codes")
            )
            # (s, cluster, pos-in-subspace) exact-integer partial sums;
            # map-side combine bounds the shuffle at P × k × d rows.
            sums = (
                codes.select(
                    F.posexplode("q").alias("pos", "qv"), "codes"
                )
                .select(
                    (F.col("pos") / sub).cast("int").alias("s"),
                    F.element_at(
                        "codes", (F.col("pos") / sub).cast("int") + 1
                    ).alias("c"),
                    (F.col("pos") % sub).alias("p"),
                    "qv",
                )
                .groupBy("s", "c", "p")
                .agg(F.sum("qv").alias("sum"), F.count("*").alias("n"))
                .collect()
            )
            acc: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
            for r in sums:
                acc.setdefault((r["s"], r["c"]), {})[r["p"]] = (
                    r["sum"],
                    r["n"],
                )
            new_books: Codebooks = []
            for s in range(m):
                book = []
                for c in range(k):
                    comp = acc.get((s, c))
                    if not comp:
                        book.append(books[s][c])
                    else:
                        book.append(
                            [
                                comp[p][0] / (comp[p][1] * scale)
                                for p in range(sub)
                            ]
                        )
                new_books.append(book)
            books = new_books
        return books
    finally:
        qframe.unpersist()


def pq_encode(
    df: DataFrame,
    codebooks: Codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1e6,
    out_col: str = "codes",
) -> DataFrame:
    """``(id, codes)`` — the m-code compressed representation. Pure
    projection (codebook literal in codegen): no shuffle, no UDF."""
    return df.select(
        F.col(id_col),
        _code_expr(_on_grid(vec_col, scale), codebooks).alias(out_col),
    )


def adc_lut(
    query: Sequence[float], codebooks: Codebooks, scale: float = 1e6
) -> list[list[float]]:
    """m×k table of squared distances from the (grid-quantized) query
    subvectors to every centroid — Python-float left-to-right folds,
    bit-identical to the engine-side recipe."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    qq = _grid_values(query, scale)
    lut = []
    for s in range(m):
        row = []
        for cent in codebooks[s]:
            acc = 0.0
            for i in range(sub):
                dv = qq[s * sub + i] - cent[i]
                acc = acc + dv * dv
            row.append(acc)
        lut.append(row)
    return lut


def _adc_expr(codes_col: str, lut: list[list[float]]) -> Column:
    """``Σ_s LUT[s][code_s]`` folded in subspace order (deterministic
    left-to-right) — the LUT rides into codegen as a nested array
    literal, so scoring is table lookups + adds per row."""
    lut_lit = double_array_lit(lut)
    terms = F.transform(
        F.col(codes_col),
        lambda c, s: F.element_at(F.element_at(lut_lit, s + 1), c + 1),
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)


def pq_adc_topk(
    codes_df: DataFrame,
    codebooks: Codebooks,
    query: Sequence[float],
    topk: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    scale: float = 1e6,
) -> DataFrame:
    """Top-k by asymmetric PQ distance: ``adc = Σ_s LUT[s][code_s]``
    folded in subspace order (deterministic), ties → lowest id.
    ``orderBy(adc, id).limit(k)`` compiles to TakeOrderedAndProject —
    per-partition heaps, driver merges k rows. This is the FULL-SCAN
    tier — every code row is scored; :func:`ivfpq_topk` is the
    composed tier that prunes the scan to the probed coarse cells."""
    lut = adc_lut(query, codebooks, scale)
    adc = _adc_expr(codes_col, lut)
    return (
        codes_df.select(F.col(id_col), adc.alias("adc"))
        .orderBy("adc", id_col)
        .limit(topk)
    )


def hash_sample(
    df: DataFrame, frac: float, id_col: str = "vec_id",
    salt: str = "ivfpq",
) -> DataFrame:
    """Deterministic content-addressed sample: keep rows whose
    ``md5(salt:id)`` 32-bit hex prefix falls under ``frac`` — the
    same rows on any partitioning, cluster size, retry, or engine
    (``df.sample`` is none of those). The standard way to fit an
    index/codebook on a sliver of a 100 TB corpus reproducibly."""
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"hash_sample: frac {frac} outside (0, 1]")
    if frac == 1.0:
        return df
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"),
                           F.col(id_col).cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    return df.filter(key < F.lit(int(frac * 2**32)))


def build_ivfpq_index(
    df: DataFrame,
    n_lists: int = 16,
    m: int = 8,
    k: int = 16,
    iters: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1e6,
    residual: bool = False,
    fit_frac: float = 1.0,
    coarse_iters: int = 2,
    seeding: str = "id",
):
    """IVF×PQ composed index (Jégou et al. 2011 §IV: coarse quantizer
    + product codes): Lloyd k-means assigns every vector to one of
    ``n_lists`` coarse cells, PQ compresses it to ``m`` codes. Returns
    ``(indexed, codebooks, centroids)`` where ``indexed`` is
    ``(id, codes, cell)``.

    Neither tier stands alone at 100 TB: full-scan ADC
    (:func:`pq_adc_topk`) still touches every row's codes, and IVF
    with raw vectors (``similarity.ivf_topk_cosine``) re-reads full
    embeddings in every probed cell. Composed, the persisted table is
    the m-code array partitioned by ``cell`` — a probe is a
    partition-pruned read of ``n_probe/n_lists`` of the codes, which
    are themselves ~32× smaller than the vectors.

    Both tiers are the deterministic variants (``lloyd_kmeans`` cells,
    exact-integer PQ codebooks): the index is bit-identical under any
    partitioning/retry — the property a write-once/probe-forever
    index needs.

    ``residual=True`` is the paper's §IV shape: PQ quantizes
    ``x − centroid[cell]`` instead of ``x`` (residuals are smaller and
    more isotropic than raw vectors, so the same m×k code budget
    spends its resolution where it matters; one shared residual
    codebook across cells, as in the paper's IVFADC). The centroid is
    grid-quantized like ``x`` so the residual stays exact. Search must
    then build one LUT per probed cell from the QUERY's residual —
    :func:`ivfpq_topk` handles both variants. Measured on the
    synthetic corpus (near-isotropic by construction; sf0.01, single
    query): ADC-only recall 0.3 → 0.4, refine-recall 0.9 → 0.8 —
    a wash here; the variant exists for real-world anisotropic
    embeddings where residual energy ≪ vector energy.

    ``fit_frac < 1`` fits BOTH tiers (cells + codebooks) on a
    :func:`hash_sample` of the corpus — the standard 100 TB practice
    (the fit is a k×d-bounded iterative job; assignment and encode
    remain single-pass projections over the full data). The sample is
    content-addressed, so the index stays bit-reproducible. Measured
    caveat (sf0.01 synthetic corpus, single query): sampling
    CHANGES the deterministic seed set (k lowest ids of the sample),
    and shallow Lloyd runs are seed-sensitive — single-query
    refine-recall read 0.9 full-fit vs 0.4 at fit_frac=0.5 with the
    default ``coarse_iters=2``; raising ``coarse_iters`` to 6 recovers
    0.6 (converged: 8 iters reads the same). Sampled fits should
    raise ``coarse_iters``/``iters``/``n_probe`` and validate recall
    on held-out queries before trusting the index."""
    from filefilter_spark.ops.similarity import build_ivf_index

    fit_df = hash_sample(df, fit_frac, id_col=id_col)
    _, centroids = build_ivf_index(
        fit_df, n_lists=n_lists, vec_col=vec_col, id_col=id_col,
        method="lloyd", coarse_iters=coarse_iters, seeding=seeding,
    )
    # kmeanspar is a COARSE-tier initializer (mode coverage); the PQ
    # subspace fit has no mode-coverage problem, so it degrades to the
    # content-blind hash spread there
    pq_seeding = "hash" if seeding == "kmeanspar" else seeding
    if residual:
        res_frame = _residual_frame(
            df, centroids, vec_col=vec_col, id_col=id_col, scale=scale
        )
        fit_res = hash_sample(res_frame, fit_frac, id_col=id_col)
        books = fit_pq_codebooks(
            fit_res, m=m, k=k, iters=iters, vec_col="__res",
            id_col=id_col, scale=scale, seeding=pq_seeding,
        )
    else:
        books = fit_pq_codebooks(
            fit_df, m=m, k=k, iters=iters, vec_col=vec_col,
            id_col=id_col, scale=scale, seeding=pq_seeding,
        )
    indexed = ivfpq_encode_batch(
        df, books, centroids, vec_col=vec_col, id_col=id_col,
        scale=scale, residual=residual,
    )
    # Lazy lineage cut: an in-memory index is probed several times per
    # build — ivfpq_topk's auto-refine count and its shortlist each
    # execute `indexed`, re-running the whole assignment+encode
    # projection per action (at table scale the persisted-by-cell
    # parquet layout plays this role). The first consumer materializes
    # the cut; later consumers read blocks. The result is a snapshot of
    # df at build time — rebuild to refresh. Policy and durability:
    # session.lineage_cut.
    return lineage_cut(indexed), books, centroids


def _assign_cells(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str,
    id_col: str,
    scale: float,
) -> DataFrame:
    """``(id, cell)`` for every row against FROZEN centroids — the
    clusterer's own deterministic argmin fold, pure projection."""
    qf = df.select(
        F.col(id_col).alias("__id"),
        quantize_to_grid(vec_col, scale).alias("q"),
    ).withColumn("__scale", F.lit(float(scale)))
    return _assign(qf, centroids).select(
        F.col("__id").alias(id_col), F.col("cluster").alias("cell")
    )


def _residual_frame(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str,
    id_col: str,
    scale: float,
) -> DataFrame:
    """``(id, __res, cell)``: each row's residual ``x − centroid[cell]``
    against its assigned (frozen) centroid. The centroid is
    grid-quantized driver-side the same way as ``x`` (both operands on
    the grid → the difference is exact and cross-engine-stable); the
    matrix comes from ``ops.cluster._cent_source``, a plan literal or
    past ``CENT_LITERAL_MAX_TERMS`` a one-row broadcast join — the
    same doubles either way."""
    assigned = _assign_cells(df, centroids, vec_col, id_col, scale)
    cents_q = [_grid_values(c, scale) for c in centroids]
    joined, cent_col = _cent_source(df.join(assigned, id_col), cents_q)
    res = F.zip_with(
        _on_grid(vec_col, scale),
        F.element_at(cent_col, F.col("cell") + 1),
        lambda x, c: x - c,
    )
    return joined.select(F.col(id_col), res.alias("__res"), "cell")


def ivfpq_encode_batch(
    df: DataFrame,
    codebooks: Codebooks,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1e6,
    residual: bool = False,
) -> DataFrame:
    """Assign + encode a batch against a FROZEN index (centroids and
    codebooks unchanged) — the incremental-append path: a new ingest
    lands in the existing ``partitionBy(cell)`` layout as pure
    projections (grid-exact, so the same vector always produces the
    same codes regardless of which batch delivered it), with no refit
    and no reshuffle of existing data. This is also the encode stage
    :func:`build_ivfpq_index` itself uses."""
    if residual:
        res_frame = _residual_frame(df, centroids, vec_col, id_col, scale)
        # regrid the residual — the same normalization
        # fit_pq_codebooks applied when fitting, so encode and fit
        # argue over identical values (no ulp drift at tie boundaries)
        return res_frame.select(
            F.col(id_col),
            _code_expr(_on_grid("__res", scale), codebooks).alias("codes"),
            "cell",
        )
    assigned = _assign_cells(df, centroids, vec_col, id_col, scale)
    codes = pq_encode(
        df, codebooks, vec_col=vec_col, id_col=id_col, scale=scale
    )
    return codes.join(assigned, id_col)


def ivfpq_cell_counts(
    indexed: DataFrame, cell_col: str = "cell"
) -> dict[int, int]:
    """Per-cell row counts of an IVF×PQ table — the n_lists-row
    histogram :func:`ivfpq_topk`'s auto-refine sizing needs. Compute
    it ONCE when the index is (re)built or after an ingest/compaction
    cycle and pass it to every probe via ``cell_counts=``: the probe
    then sizes its shortlist from the dict (driver-side sum over
    n_probe keys, zero Spark jobs) instead of counting the probed
    partitions per query. One map-combinable aggregation; the result
    is n_lists entries — persist it next to the index (it is to the
    auto-refine law what the centroid table is to the coarse probe)."""
    rows = indexed.groupBy(cell_col).agg(F.count("*").alias("n")).collect()
    return {int(r[cell_col]): int(r["n"]) for r in rows}


def _auto_refine(probed_pop: int, topk: int) -> int:
    """Refine multiplier sized from the measured recall law
    (SCALING.md "recall@10 vs n_probe/refine"): the exact-rerank
    shortlist must track the PROBED population or coarse-ADC
    near-misses crowd true neighbors out before the rerank sees
    them. Shortlist = max(5·topk, probed_pop/16) reproduces both
    measured 0.9-recall points — refine=5 at the sf0.01 index
    (~500 probed rows) and refine=50 at 128k vectors / n_probe 4
    of 64 lists (~8k probed rows)."""
    return max(5, -(-int(probed_pop) // (16 * int(topk))))


def _probe_cells(
    qq: Sequence[float], centroids: Sequence[Sequence[float]], n_probe: int
) -> list[int]:
    """The ``n_probe`` cells nearest a grid-quantized query: squared L2
    as a fixed left-to-right Python-float fold (the metric ADC
    approximates, so the probe ranking and the fine ranking agree),
    ties → lowest cell id."""

    def sqd(cent: Sequence[float]) -> float:
        acc = 0.0
        for a, b in zip(qq, cent):
            dv = a - b
            acc = acc + dv * dv
        return acc

    return sorted(
        range(len(centroids)), key=lambda i: (sqd(centroids[i]), i)
    )[:n_probe]


def _adc_column(
    query: Sequence[float],
    qq: Sequence[float],
    probe: Sequence[int],
    codebooks: Codebooks,
    centroids: Sequence[Sequence[float]],
    codes_col: str,
    scale: float,
    residual: bool,
) -> Column:
    """One query's ADC distance over its probed rows. Residual codes
    (``build_ivfpq_index(residual=True)``) approximate x −
    centroid[cell], so each probed cell needs its OWN LUT built from
    the query's residual against that cell (Jégou §V: one LUT per
    probed list); n_probe is small, so a when-chain over the probed
    cells keeps it one codegen pass."""
    if not residual:
        return _adc_expr(codes_col, adc_lut(query, codebooks, scale))
    adc = None
    for c in probe:
        qr = [a - b for a, b in zip(qq, _grid_values(centroids[c], scale))]
        term = _adc_expr(codes_col, adc_lut(qr, codebooks, scale))
        cond = F.col("cell") == c
        adc = F.when(cond, term) if adc is None else adc.when(cond, term)
    return adc


def _ivfpq_probe(
    indexed: DataFrame,
    codebooks: Codebooks,
    centroids: Sequence[Sequence[float]],
    queries: Mapping[str, Sequence[float]],
    topk: int,
    n_probe: int,
    refine: int | None,
    vectors: DataFrame | None,
    id_col: str,
    codes_col: str,
    scale: float,
    residual: bool,
    cell_counts: Mapping[int, int] | None,
    dedup_ids: bool,
    caller: str,
) -> tuple[dict, dict, dict, dict, DataFrame]:
    """Everything an IVF×PQ search needs before its top-k step, per
    query: the grid-quantized query, its probe cells, its ADC column
    and its shortlist size — plus ONE read of ``indexed`` pruned to the
    union of the probed cells. Returns ``(grid, probes, adcs, sizes,
    pruned)``, the first four keyed by query id.

    ``refine=None`` sizes each query's shortlist from ITS probed
    population (:func:`_auto_refine`): summed from ``cell_counts``
    driver-side when given (zero Spark jobs), else from one grouped
    count over the probed cells."""
    if topk <= 0:
        raise ValueError(f"{caller}: topk must be > 0")
    if vectors is None and (refine is None or refine > 0):
        raise ValueError(
            f"{caller}: refine={refine} requires `vectors` for the exact "
            "re-rank tier; pass refine=0 explicitly for the ADC-only "
            "shortlist (measured recall ~0.3-0.5)"
        )
    grid = {q: _grid_values(vec, scale) for q, vec in queries.items()}
    probes = {q: _probe_cells(v, centroids, n_probe) for q, v in grid.items()}
    cells = sorted({c for cs in probes.values() for c in cs})
    probed = indexed.filter(F.col("cell").isin(cells))
    if refine is None:
        counts = cell_counts
        if counts is None:
            counts = ivfpq_cell_counts(probed)
        sizes = {
            q: _auto_refine(sum(int(counts.get(c, 0)) for c in cs), topk)
            * topk
            for q, cs in probes.items()
        }
    else:
        n = topk if refine <= 0 else int(refine) * topk
        sizes = {q: n for q in queries}
    adcs = {
        q: _adc_column(
            vec, grid[q], probes[q], codebooks, centroids, codes_col, scale,
            residual,
        )
        for q, vec in queries.items()
    }
    # dedup_ids: the replay shield for stream-grown layouts, on the
    # PRUNED read (a vector's codes are grid-deterministic, so keeping
    # any one copy is exact)
    pruned = probed.dropDuplicates([id_col]) if dedup_ids else probed
    return grid, probes, adcs, sizes, pruned


def _dist2(vec_col: str, qq: Sequence[float], scale: float) -> Column:
    """The exact rerank distance: squared L2 between each row's
    grid-quantized vector and the grid-quantized query, the same
    deterministic fold the codebooks argue over."""
    return _sq_dist(_on_grid(vec_col, scale), double_array_lit(qq))


def ivfpq_topk(
    indexed: DataFrame,
    codebooks: Codebooks,
    centroids: Sequence[Sequence[float]],
    query: Sequence[float],
    topk: int = 10,
    n_probe: int = 4,
    refine: int | None = None,
    vectors: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codes_col: str = "codes",
    scale: float = 1e6,
    residual: bool = False,
    cell_counts: Mapping[int, int] | None = None,
    dedup_ids: bool = False,
) -> DataFrame:
    """ANN top-k over an IVF×PQ index: score the query against the
    driver-side centroid table (n_lists rows — tiny), probe the
    ``n_probe`` nearest cells, ADC-rank ONLY the probed cells' codes.
    Probe order, ADC, shortlist sizing and the pruned read are
    :func:`_ivfpq_probe`'s, shared with :func:`ivfpq_batch_topk`; this
    function is the one-query case with its own top-k step. The cell
    filter compiles to partition pruning when ``indexed`` is persisted
    partitioned by ``cell``; top-k is TakeOrderedAndProject as in
    :func:`pq_adc_topk`.

    ``dedup_ids=True`` drops duplicate id rows on the PRUNED read —
    the replay shield for stream-grown layouts
    (``ann_index_stream_ingest`` appends are at-least-once). Cost is
    bounded by the probed cells, the same contract as
    ``bm25_topk_indexed``'s (doc, term) dedup.

    ``refine > 0`` adds the standard exact re-rank tier (Jégou §V.A):
    ADC shortlists ``refine·topk`` candidates, then the TRUE squared
    L2 (same grid-quantized deterministic fold) re-ranks just those
    rows from ``vectors`` (required) — output column ``dist2``.
    Measured here: ADC alone ranks the exact top-10 at recall ~0.3-0.5
    (m=8, k=16 quantization error), while the 5·k shortlist CONTAINS
    0.9-1.0 of it — the refine read is ``refine·topk`` point lookups
    (id-pruned scan), so the composed cost stays
    probed-cells-ADC + O(k) exact distances at any corpus size.

    ``refine=None`` (default) **auto-sizes from the measured law**: at
    corpus scale the shortlist is the recall lever, not the probe
    count — measured on the ×8–×64 fixtures (SCALING.md "recall@10 vs
    n_probe/refine"), recall FALLS with extra probed cells at fixed
    refine (coarse-ADC near-misses crowd true neighbors out of a
    fixed-size shortlist) and ``refine=50`` restores 0.9 at 128k
    vectors where ``refine=5`` reads 0.47. Auto mode counts the probed
    cells' rows (one partition-pruned grouped count) and sets
    ``refine = max(5, ceil(probed/16/topk))``, which reproduces both
    measured 0.9-recall points (:func:`_auto_refine`); it requires
    ``vectors``. ``refine=0`` stays available as the EXPLICIT ADC-only
    opt-in (candidate generation feeding a downstream ranker) — an
    informed choice, so it does not warn.

    ``cell_counts``: the :func:`ivfpq_cell_counts` histogram, computed
    once per (re)build/ingest cycle. When provided, auto mode sums the
    probed cells' entries driver-side — the per-query sizing job
    disappears, the right shape for an index probed thousands of times
    between rebuilds. Cells absent from the mapping count 0 (an empty
    cell has no file to count)."""
    grid, _, adcs, sizes, pruned = _ivfpq_probe(
        indexed, codebooks, centroids, {"": query}, topk, n_probe, refine,
        vectors, id_col, codes_col, scale, residual, cell_counts,
        dedup_ids, "ivfpq_topk",
    )
    shortlist = (
        pruned.select(F.col(id_col), adcs[""].alias("adc"))
        .orderBy("adc", id_col)
        .limit(sizes[""])
    )
    if refine is not None and refine <= 0:
        return shortlist
    # k-bounded collect: refine·topk ids (the shortlist), never data.
    ids = [r[id_col] for r in shortlist.collect()]
    return (
        vectors.filter(F.col(id_col).isin(ids))
        .select(F.col(id_col), _dist2(vec_col, grid[""], scale).alias("dist2"))
        .orderBy("dist2", id_col)
        .limit(topk)
    )


def ivfpq_batch_topk(
    indexed: DataFrame,
    codebooks: Codebooks,
    centroids: Sequence[Sequence[float]],
    queries: Mapping[str, Sequence[float]],
    topk: int = 10,
    n_probe: int = 4,
    refine: int | None = None,
    vectors: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codes_col: str = "codes",
    scale: float = 1e6,
    residual: bool = False,
    cell_counts: Mapping[int, int] | None = None,
    dedup_ids: bool = False,
) -> DataFrame:
    """ANN top-k for EACH of a batch of queries in ONE pruned pass —
    the retrieval-evaluation shape (N eval queries against the index),
    the ANN twin of ``retrieval.bm25_batch_topk_indexed``.

    Returns (q_id, id_col, dist2, rank) — or (q_id, id_col, adc,
    rank) when ``refine=0`` (explicit ADC-only shortlists).

    Shape: :func:`_ivfpq_probe` computes every query's probe cells,
    ADC column and shortlist size driver-side, as for
    :func:`ivfpq_topk`; ONE read pruned to the UNION of all probed
    cells serves every query (each query still scores only its own
    cells — per-row the array of (q_id, adc, in-probe) structs is
    built once, exploded, and filtered), per-query shortlists come from
    a rank-over-window that Spark rewrites to WindowGroupLimit
    (map-side partial top-k — the shuffle carries at most
    shortlist·|queries| rows per partition), and the exact re-rank tier
    reads the UNION of all shortlists' ids in one point-lookup pass
    before a second per-query rank window. At 100 TB: one pruned codes
    read + one id-pruned vector read for the WHOLE batch, versus
    n_queries× of each for a query loop. Results per query equal
    :func:`ivfpq_topk`'s."""
    if not queries:
        raise ValueError("ivfpq_batch_topk: queries must be non-empty")
    grid, probes, adcs, sizes, pruned = _ivfpq_probe(
        indexed, codebooks, centroids, queries, topk, n_probe, refine,
        vectors, id_col, codes_col, scale, residual, cell_counts,
        dedup_ids, "ivfpq_batch_topk",
    )

    def ranked_per_query(df: DataFrame, score: str) -> DataFrame:
        w = Window.partitionBy("q_id").orderBy(F.asc(score), F.asc(id_col))
        return df.withColumn("rank", F.row_number().over(w))

    exploded = (
        pruned.select(
            F.col(id_col),
            F.explode(F.array(*[
                F.struct(
                    F.lit(q).alias("q_id"),
                    adcs[q].alias("adc"),
                    F.col("cell").isin(probes[q]).alias("keep"),
                )
                for q in queries
            ])).alias("s"),
        )
        .filter(F.col("s.keep"))
        .select(F.col(id_col), F.col("s.q_id"), F.col("s.adc"))
    )
    limit_expr = F.lit(max(sizes.values()))
    for q, n in sizes.items():  # per-query limit rides as a when-chain
        limit_expr = F.when(F.col("q_id") == q, F.lit(n)).otherwise(limit_expr)
    shortlist = ranked_per_query(exploded, "adc").filter(
        F.col("rank") <= limit_expr
    )
    if refine is not None and refine <= 0:
        return shortlist.filter(F.col("rank") <= topk).select(
            "q_id", id_col, "adc", "rank"
        )
    # bounded collect: Σ_q shortlist_q ids, never data
    short_ids: dict[str, list] = {q: [] for q in queries}
    for r in shortlist.select("q_id", id_col).collect():
        short_ids[r["q_id"]].append(r[id_col])
    union_ids = sorted({i for ids in short_ids.values() for i in ids})
    reranked = (
        vectors.filter(F.col(id_col).isin(union_ids))
        .select(
            F.col(id_col),
            F.explode(F.array(*[
                F.struct(
                    F.lit(q).alias("q_id"),
                    _dist2(vec_col, grid[q], scale).alias("dist2"),
                    F.col(id_col).isin(short_ids[q]).alias("keep"),
                )
                for q in queries
            ])).alias("s"),
        )
        .filter(F.col("s.keep"))
        .select(F.col(id_col), F.col("s.q_id"), F.col("s.dist2"))
    )
    return (
        ranked_per_query(reranked, "dist2")
        .filter(F.col("rank") <= topk)
        .select("q_id", id_col, "dist2", "rank")
    )


def build_ann_index(
    df: DataFrame,
    path: str,
    n_lists: int = 16,
    m: int = 8,
    k: int = 16,
    iters: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1e6,
    residual: bool = False,
    fit_frac: float = 1.0,
    coarse_iters: int = 2,
    seeding: str = "id",
) -> None:
    """Persist a self-contained IVF×PQ index layout — the ANN twin of
    :func:`filefilter_spark.ops.retrieval.build_text_index`, and the
    index lifecycle the ``annindex`` actionType exposes.

    Layout under ``path``:

    * ``codes/`` — the :func:`build_ivfpq_index` (id, codes) rows,
      written ``partitionBy(cell)`` so a probe is a partition-pruned
      read of ``n_probe/n_lists`` of the 32×-compressed table.
    * ``meta/``  — the sidecar (``ops.layout._write_sidecar``): the
      codebooks, centroids, cell-count histogram (the auto-refine
      sizing input — no per-query count job), the BUILD-TIME copy of
      that histogram (``built_cell_counts`` — frozen forever, so
      :func:`ann_index_drift` can compare what the model was fit on
      against what streaming ingest later appended), and the build
      parameters the probe must reuse (``scale``, ``residual``).
      Everything in it is driver-small: k·d codebook floats +
      n_lists·d centroid floats + 2·n_lists counts.

    The build is deterministic (grid-quantized folds, lowest-id
    seeds), so rebuilding from the same corpus reproduces the layout
    bit-identically — a refresh is a rebuild, same contract as the
    text index. An empty corpus refuses loudly before anything is
    written (an empty partitioned write is unreadable later): the
    coarse fit's seed read, a full scan and the build's first action,
    finds no row. A partial-read emptiness probe would instead be the
    first action over the caller's frame and leave its ``observe``
    row counts partial.

    Rebuilding over an EXISTING layout goes through temp dirs + the
    streaming maintenance swap protocol instead of overwriting in
    place: a crash mid-rebuild leaves the old index
    intact, and concurrent probes never see an empty ``meta/``. The
    codes swap and the meta commit after it are each
    atomic-as-the-store-allows — the same contract as every in-stream
    compaction; a refresh that must be strictly atomic under concurrent
    probes should target a new path and flip the reader."""
    indexed, books, cents = build_ivfpq_index(
        df, n_lists=n_lists, m=m, k=k, iters=iters, vec_col=vec_col,
        id_col=id_col, scale=scale, residual=residual, fit_frac=fit_frac,
        coarse_iters=coarse_iters, seeding=seeding,
    )
    spark = df.sparkSession
    counts = ivfpq_cell_counts(indexed)
    meta = {
        "codebooks": books,
        "centroids": [list(map(float, c)) for c in cents],
        "cell_counts": counts,
        "built_cell_counts": counts,
        "scale": float(scale),
        "residual": bool(residual),
        "n_lists": int(n_lists),
        "m": int(m),
        "k": int(k),
        "id_col": id_col,
        "seeding": seeding,
        # build params the streaming loop's auto-rebuild reuses as its
        # defaults
        "iters": int(iters),
        "coarse_iters": int(coarse_iters),
        "fit_frac": float(fit_frac),
    }
    # stage codes fully, swap it in, then commit meta last —
    # load_ann_meta reads meta, so a crash between the swap and the
    # commit serves old-meta+new-codes (deterministic rebuilds from the
    # same corpus make even that window a no-op); on a fresh path the
    # swap is a single rename into place
    codes_dir = f"{path}/codes"
    indexed.repartition("cell").sortWithinPartitions(id_col).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{codes_dir}__build")
    _swap_dirs(spark, codes_dir, f"{codes_dir}__build", "rebuild")
    _write_sidecar(spark, meta, f"{path}/meta", "rebuild")


def load_ann_meta(spark, path: str) -> dict:
    """Read a :func:`build_ann_index` meta sidecar back into the
    driver-side dict :func:`ann_topk_indexed` probes with."""
    meta = _read_sidecar(spark, f"{path}/meta")
    if meta is None:
        raise ValueError(f"load_ann_meta: no meta at {path!r}")
    # a JSON object keys the cell histograms by string
    for key in ("cell_counts", "built_cell_counts"):
        meta[key] = {int(c): int(n) for c, n in meta[key].items()}
    return meta


# Drift-policy thresholds, calibrated in SCALING.md "ANN drift
# signal": on the measured recall curve a
# same-distribution ingest sits at TV ≈ 0.1–0.2 with flat recall, a
# shifted-distribution ingest reads TV ≥ ~0.45 with recall sagging at
# the default probe width, and recall at 2× ingested mass is rebuild
# territory regardless of TV (the frozen model never saw half the
# corpus). "Widen" = raise n_probe (recall is probe-bound under a
# frozen partial fit, as measured); "rebuild" = refit the
# model, which restores the built≈ingested baseline and resets the
# signal.
DRIFT_TV_WIDEN = 0.30
DRIFT_TV_REBUILD = 0.60
DRIFT_FRAC_REBUILD = 1.0


def ann_index_drift(meta: Mapping) -> dict:
    """Staleness signal for a frozen-model ANN layout — purely
    driver-side arithmetic over the meta sidecar (zero Spark jobs).

    The model (centroids + codebooks) is frozen at build time;
    streaming ingest (``ann_index_stream_ingest``) appends codes
    encoded against it. While new data resembles the build
    distribution, per-cell arrival rates match the build histogram and
    probe recall holds; when the corpus drifts, mass lands in cells
    the model under-represents and recall decays silently (measured —
    SCALING.md "ANN drift signal"). This computes how far
    the INGESTED mass diverges from the BUILT mass:

    * ``tv_distance`` — total-variation distance between the
      normalized built histogram and the normalized ingested-delta
      histogram (``cell_counts − built_cell_counts``), in [0, 1].
      0 = new data lands exactly like the training data.
    * ``ingested_frac`` — ingested rows / built rows: even
      perfectly-shaped growth eventually warrants a refit (the model
      was fit on a shrinking fraction of the corpus).
    * ``action`` — the operational rule, thresholds measured in
      SCALING.md "ANN drift signal": ``"ok"`` below
      ``DRIFT_TV_WIDEN``; ``"widen_probe"`` when TV crosses it
      (recall is probe-bound under a frozen partial fit — raise
      ``n_probe``); ``"rebuild"`` when TV ≥ ``DRIFT_TV_REBUILD`` or
      the ingested mass exceeds ``DRIFT_FRAC_REBUILD`` × built.

    Layouts built before ``built_cell_counts`` existed return
    ``action="unknown"`` (no frozen baseline to compare against —
    rebuild once to start the signal)."""
    built = meta.get("built_cell_counts") or {}
    built = {int(c): int(n) for c, n in built.items()}
    total = {int(c): int(n) for c, n in meta["cell_counts"].items()}
    if not built:
        return {
            "n_built": None,
            "n_ingested": None,
            "ingested_frac": None,
            "tv_distance": None,
            "action": "unknown",
        }
    n_built = sum(built.values())
    ingested = {
        c: total.get(c, 0) - built.get(c, 0)
        for c in set(total) | set(built)
    }
    n_ing = sum(max(0, v) for v in ingested.values())
    if n_ing == 0 or n_built == 0:
        tv = 0.0
        frac = 0.0
    else:
        cells = set(built) | set(ingested)
        tv = 0.5 * sum(
            abs(
                built.get(c, 0) / n_built
                - max(0, ingested.get(c, 0)) / n_ing
            )
            for c in cells
        )
        frac = n_ing / n_built
    if tv >= DRIFT_TV_REBUILD or frac >= DRIFT_FRAC_REBUILD:
        action = "rebuild"
    elif tv >= DRIFT_TV_WIDEN:
        action = "widen_probe"
    else:
        action = "ok"
    return {
        "n_built": n_built,
        "n_ingested": n_ing,
        "ingested_frac": round(frac, 6),
        "tv_distance": round(tv, 6),
        "action": action,
    }


def auto_n_probe(meta: Mapping, base: int = 4) -> int:
    """Drift-aware probe width — the ACTIVE half of the widen-probe
    rule (``ann_index_drift``): ``base`` cells on a healthy index, 2×
    under ``widen_probe``, 3× under ``rebuild`` (capped at n_lists) —
    the multipliers reproduce the measured recovery points (probe 6→12
    restored 0.5→0.8 recall on a drifted partial fit; the drift
    probe's shifted scenario held 0.94 at the widened width
    while the signal demanded a rebuild). Widening is a stopgap that
    pays probe cost proportional to the drifted mass — the rebuild
    recommendation still stands (and still warns)."""
    d = ann_index_drift(meta)
    mult = {"widen_probe": 2, "rebuild": 3}.get(d["action"], 1)
    n_lists = int(meta.get("n_lists") or len(meta["centroids"]))
    return min(n_lists, int(base) * mult)


def _warn_if_stale(meta: Mapping, path: str) -> None:
    """One log line when a probe targets a drifted layout — the
    passive half of the drift wire (the active half is the ingest's
    ``on_batch`` hook): a reader who never wired the hook still finds
    the widen-probe/rebuild recommendation next to their slow/low-
    recall query instead of discovering drift from the symptom."""
    import logging

    d = ann_index_drift(meta)
    if d["action"] in ("widen_probe", "rebuild"):
        logging.getLogger("filefilter_spark").warning(
            "ann index at %s is stale (tv=%s, ingested_frac=%s): "
            "recommended action=%s — see SCALING.md 'ANN drift signal'",
            path, d["tv_distance"], d["ingested_frac"], d["action"],
        )


def _ann_probe_args(
    spark, path: str, n_probe: int | str, id_col: str | None
) -> tuple[DataFrame, dict]:
    """The codes table of a :func:`build_ann_index` layout and the
    :func:`ivfpq_topk` / :func:`ivfpq_batch_topk` keyword arguments
    that probe it: the meta sidecar's model and cell histogram (so
    auto-refine sizing runs zero jobs), ``n_probe="auto"`` resolved by
    the drift policy's widen rule (:func:`auto_n_probe`), and the
    replay-safe id dedup on the pruned read. Warns once when the
    layout is stale."""
    meta = load_ann_meta(spark, path)
    _warn_if_stale(meta, path)
    return spark.read.parquet(f"{path}/codes"), dict(
        codebooks=meta["codebooks"],
        centroids=meta["centroids"],
        n_probe=auto_n_probe(meta) if n_probe == "auto" else n_probe,
        id_col=id_col or meta["id_col"],
        scale=meta["scale"],
        residual=meta["residual"],
        cell_counts=meta["cell_counts"],
        dedup_ids=True,
    )


def ann_topk_indexed(
    spark,
    path: str,
    query: Sequence[float],
    topk: int = 10,
    n_probe: int | str = 4,
    refine: int | None = None,
    vectors: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str | None = None,
) -> DataFrame:
    """ANN top-k against a persisted :func:`build_ann_index` layout:
    centroid probe order and the auto-refine shortlist size come from
    the meta sidecar driver-side (zero extra jobs), the codes read is
    partition-pruned to the probed cells, and the exact re-rank tier
    (``refine``/auto — requires ``vectors``) reads only the
    shortlist's point lookups. Same result contract as
    :func:`ivfpq_topk` over the in-memory index — the layout is an
    access path. Duplicate id rows from an at-least-once streaming
    append (``ann_index_stream_ingest``) are dropped on the pruned
    read — codes are grid-deterministic, so any copy is the copy.

    ``n_probe="auto"`` applies the drift policy's widen rule
    (:func:`auto_n_probe`): a healthy index probes the default 4
    cells; a drifted one widens 2-3× from the sidecar's own signal —
    zero extra jobs, and the rebuild recommendation still warns."""
    codes, kw = _ann_probe_args(spark, path, n_probe, id_col)
    return ivfpq_topk(
        codes, query=query, topk=topk, refine=refine, vectors=vectors,
        vec_col=vec_col, **kw,
    )


def ann_batch_topk_indexed(
    spark,
    path: str,
    queries: Mapping[str, Sequence[float]],
    topk: int = 10,
    n_probe: int | str = 4,
    refine: int | None = None,
    vectors: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str | None = None,
) -> DataFrame:
    """:func:`ivfpq_batch_topk` against a persisted
    :func:`build_ann_index` layout — N queries, ONE partition-pruned
    codes read over the union of their probed cells, with the same
    sidecar-driven arguments as :func:`ann_topk_indexed`
    (:func:`_ann_probe_args`), ``n_probe="auto"`` included."""
    codes, kw = _ann_probe_args(spark, path, n_probe, id_col)
    return ivfpq_batch_topk(
        codes, queries=queries, topk=topk, refine=refine, vectors=vectors,
        vec_col=vec_col, **kw,
    )
