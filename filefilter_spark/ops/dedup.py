"""Deduplication operators (OP-D1/D2) — training-data-pipeline tier.

Four escalating strategies, each the standard scalable Spark shape:

- **exact**: hash-groupBy on an md5 fingerprint — shuffle 16-byte keys,
  not document bodies.
- **token-Jaccard all-pairs**: inverted-index self-join (explode tokens
  → join on token → count shared → Jaccard). Recall is exact for any
  threshold > 0 (a pair with Jaccard > 0 shares ≥ 1 token). The
  ``max_doc_freq`` knob drops ubiquitous tokens to kill the quadratic
  hot-token blowup at scale (documented recall tradeoff).
- **MinHash + LSH banding**: per-doc k minhashes (JVM-side: xxhash64
  inside array ``transform``), banded into buckets; only same-bucket
  pairs are candidates; candidates are verified with exact Jaccard.
  Sub-quadratic: cost ~ O(docs × k + bucket collisions).
- **SimHash**: 32-bit sign-of-weighted-bit-sum fingerprint, Hamming
  band join.
"""

from __future__ import annotations

import threading

import pandas as pd  # module-level: pandas_udf type hints resolve here
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import StructField, StructType
from pyspark.storagelevel import StorageLevel

from filefilter_spark.ops.layout import _swap_dirs, _write_sidecar
from filefilter_spark.ops.text import fingerprint, shingles, tokens
from filefilter_spark.session import lineage_cut

# Mersenne prime 2^31-1 for the universal-hash family used by minhash.
# Kept at 31 bits ON PURPOSE: a, b, h < 2^31 keeps a*h + b < 2^62, so
# the multiply-mod never overflows Spark's 64-bit bigint arithmetic
# (ANSI is off — an overflow would silently wrap and quietly destroy
# the uniformity the LSH recall math assumes).
_MERSENNE = (1 << 31) - 1


# Chunked pair generation (r16): a collected list of n members emits
# its n(n-1)/2 unordered pairs from ceil(n/C)·(ceil(n/C)+1)/2 bounded
# WORK UNITS of at most two C-element slices each, instead of from the
# single aggregation row. Why: the pair explosion amplifies bytes
# quadratically, but AQE sizes post-shuffle tasks by the INPUT bytes of
# the aggregation output (tiny — ids only), so it happily coalesces a
# Σn² explosion onto one or two tasks; and a single hot list's n² work
# is unsplittable once it lives in one row. Measured on OP-D2-fuzzy at
# sf0.1 (538 lists, p90 ≈ 550, Σn² = 24.7M): the explode+distinct
# stage ran effectively serial, 7.3 s of the 7.8 s total; the chunked
# form with the round-robin unit spread runs it 2.5-3.4 s (guide §2.5
# skew / §2.2 partition sizing). C bounds per-unit work at C² pair
# emissions and per-unit shuffle at 2C elements, so balance holds at
# ANY list-size distribution — the shuffled unit bytes are
# Σ min(n, C·ceil(n/C)²/ ...) ≈ Σ n·min(n/C, 1)·2, i.e. one extra
# narrow pass over the postings in the worst case, bought against a
# guaranteed-parallel quadratic stage.
_PAIR_CHUNK = 256


def _inplace_list_pairs(grouped: DataFrame, list_col: str) -> DataFrame:
    """All-lists-fit-one-chunk mode: the two chained codegen'd explodes
    emit each row's pairs in place, no extra exchange (the r13 shape)."""
    return (
        grouped.selectExpr(
            f"explode(`{list_col}`) AS a", f"`{list_col}` AS __ds"
        )
        .selectExpr("a", "explode(__ds) AS b")
        .filter(F.col("a") < F.col("b"))
    )


def _hybrid_list_pairs(grouped: DataFrame, list_col: str) -> DataFrame:
    """Mixed-size mode: rows whose list fits one chunk emit pairs in
    place; rows past ``_PAIR_CHUNK`` are sorted once, split into chunk
    slices, and each (slice_i, slice_j>=i) combination becomes one
    work-unit row; units are spread round-robin (deterministic under
    retry — sort-before-repartition is on) so a hot list's quadratic
    pair emission runs wherever there are idle cores, not in whichever
    task owns the aggregation row. Sorting makes cross-slice pairs
    ordered for free; same-slice pairs order by position."""
    spark = grouped.sparkSession
    c = _PAIR_CHUNK
    small_pairs = _inplace_list_pairs(
        grouped.filter(F.size(list_col) <= c), list_col
    )
    units = (
        grouped.filter(F.size(list_col) > c)
        .selectExpr(f"array_sort(`{list_col}`) AS __sds")
        .selectExpr(
            f"""explode(flatten(transform(
              sequence(0, int(ceil(size(__sds) / {c})) - 1), ci ->
              transform(sequence(ci, int(ceil(size(__sds) / {c})) - 1), cj ->
                struct(slice(__sds, ci * {c} + 1, {c}) AS ca,
                       IF(cj = ci, NULL,
                          slice(__sds, cj * {c} + 1, {c})) AS cb))))) AS u"""
        )
        .repartition(spark.sparkContext.defaultParallelism * 2)
    )
    same = (
        units.filter("u.cb IS NULL")
        .selectExpr("posexplode(u.ca) AS (i, a)", "u.ca AS ca")
        .selectExpr("a", "explode(slice(ca, i + 2, size(ca))) AS b")
    )
    cross = (
        units.filter("u.cb IS NOT NULL")
        .selectExpr("explode(u.ca) AS a", "u.cb AS cb")
        .selectExpr("a", "explode(cb) AS b")
    )
    return small_pairs.unionByName(same).unionByName(cross)


def _chunked_list_pairs(
    grouped: DataFrame,
    list_col: str = "ds",
    scope: list | None = None,
) -> DataFrame:
    """Every unordered element pair within each row's ``list_col`` array,
    exactly once per row, as columns ``(a, b)`` with ``a < b`` in the
    elements' natural order.

    Mode-routed (the :func:`cluster_pairs` pattern): ``grouped`` goes
    through :func:`~filefilter_spark.session.lineage_cut` (lazy; with
    ``scope``, the per-batch persist), so the expensive upstream (LSH
    banding, gram tagging) is computed once however many plan branches
    consume it. ONE bounded job then reads max(size), which also
    materializes the cut, and picks the plan: all lists within
    ``_PAIR_CHUNK`` (the common healthy-posting-list case) keeps the
    zero-extra-exchange in-place explode; any oversize list routes the
    mixed hybrid with chunk work units spread round-robin. Routing by
    the measured list-size bound, not a static branch union, keeps the
    common case free of the hybrid's constant overhead (an empty unit
    branch still schedules its spread exchange and re-runs the final
    aggregation per branch).

    Build-time semantics (shared by every public pair-generating
    operator that routes through here — token_jaccard_pairs,
    minhash/simhash/winnow candidates, edit_distance_pairs):

    - **Eager at build.** Constructing the returned DataFrame runs the
      upstream grouping to completion (the max-size probe). Building a
      plan you never consume still pays the upstream.
    - **Snapshot.** The result is frozen at build time; re-executing
      the returned DataFrame after the source changes returns the
      build-time pairs, not the current ones. Rebuild to refresh.
    - **Durability** is :func:`~filefilter_spark.session.lineage_cut`'s:
      executor-local unless the application set a checkpoint dir.

    ``scope``: a caller-owned list for bounded-lifetime invocations
    (streaming foreachBatch bodies, one kernel per micro-batch); the
    caller unpersists its handles when the batch ends, where
    checkpoint blocks would wait for the driver's GC.

    Elements must be distinct and non-null within a row (collect_set
    members, or structs led by a distinct id — both invariants of
    every caller), which makes element order equivalent to
    ``a.id < b.id``.
    """
    g = lineage_cut(grouped, scope=scope)
    mx = g.agg(F.max(F.size(list_col)).alias("m")).first()["m"]
    if mx is None or mx <= _PAIR_CHUNK:
        return _inplace_list_pairs(g, list_col)
    return _hybrid_list_pairs(g, list_col)


def _bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    scope: list | None = None,
) -> DataFrame:
    """Distinct ordered id pairs sharing any bucket, WITHOUT a self-join.

    A self-join of a derived table makes Spark recompute the derivation
    for each side — for LSH banding that means hashing every document
    twice (measured ~2x the whole signature cost). Instead: group by
    bucket, collect the member ids, emit each unordered pair once via
    two chained explodes filtered to ``id_a < id_b``. One pass over
    the input, one shuffle on bucket keys.

    ``max_bucket`` drops buckets larger than the cap — pair generation
    is inherently O(m²) per bucket, so one degenerate hot bucket (a
    common simhash block value, a bucket of empty docs) can dominate the
    job at scale. Dropping it trades recall only for pairs whose every
    shared bucket is hot — the same bounded-posting-list tradeoff as
    ``token_jaccard_pairs.max_doc_freq``.

    Expression trees here are SQL strings parsed JVM-side rather than
    Column-object chains: this builder sits inside every near-dup
    operator and the Column API pays one Py4J round-trip per node
    (~0.3s of driver latency per build for the transform/struct/slice
    tree — the parsed form is plan-identical).
    """
    if "`" in id_col:
        raise ValueError(f"id_col must not contain backticks: {id_col!r}")
    grouped = (
        df.groupBy(*bucket_cols)
        .agg(F.expr(f"collect_set(`{id_col}`)").alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket)
    # Pair generation: the shared chunked kernel (r16 — replaces the
    # two chained explodes, whose Σm² work ran inside whichever task
    # held the aggregation row; see _chunked_list_pairs). collect_set
    # members are distinct, so positional order == id order and each
    # unordered pair is emitted exactly once per bucket; the final
    # distinct collapses pairs sharing several buckets.
    return (
        _chunked_list_pairs(grouped, "ids", scope=scope)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )


def _verify_jaccard(
    candidates: DataFrame, docs: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard check of candidate pairs with ONE pass over the
    corpus: melt each pair to two (pair, side) rows, join the token
    arrays in a single join, regroup by pair. The naive two-join shape
    (candidates ⋈ docs_a ⋈ docs_b) tokenizes the corpus twice; this
    tokenizes once and shuffles token arrays only for candidate docs.
    ``docs`` must be (doc_id, toks)."""
    melted = candidates.selectExpr(
        "struct(id_a, id_b) AS pair",
        "explode(array(id_a, id_b)) AS doc_id",
    )
    both = (
        melted.join(docs, "doc_id")
        .groupBy("pair")
        .agg(
            F.expr("min_by(toks, doc_id)").alias("toks_a"),
            F.expr("max_by(toks, doc_id)").alias("toks_b"),
            F.count("*").alias("n_sides"),
        )
        # A pair whose doc_id is missing from ``docs`` joins only one
        # side; min_by == max_by would fake jaccard = 1.0. Require both.
        .filter(F.col("n_sides") == 2)
    )
    return (
        both.withColumn("n_shared", F.expr("size(array_intersect(toks_a, toks_b))"))
        .withColumn(
            "jaccard",
            F.expr("n_shared / (size(toks_a) + size(toks_b) - n_shared)"),
        )
        .filter(F.col("jaccard") >= threshold)
        .selectExpr("pair.id_a AS id_a", "pair.id_b AS id_b", "jaccard")
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct (normalized) text: the min id wins —
    deterministic, unlike dropDuplicates' arbitrary-survivor semantics.
    Returns (fp, keep_id, n_dups)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def keep_survivors(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Materialize the deduplicated corpus: full original rows whose id
    is an :func:`exact_dedup` survivor — the API shape a real corpus
    pipeline calls (dedup, then keep processing rows, not fingerprints).

    Left-semi join against the survivor ids: only ids cross the shuffle
    (never bodies), and the semi side carries one id per distinct text
    so AQE can pick broadcast when the distinct count is small.
    """
    keep = exact_dedup(df, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, id_col, "left_semi")


def keep_best(
    df: DataFrame,
    score: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup that keeps the BEST copy per content group, not the
    min-id one: within each normalized-text fingerprint group the row
    with the highest ``score`` survives (id ascending breaks ties, so
    the survivor is total-ordered even for equal scores).

    This is the dedup a training pipeline actually wants when the same
    document arrives from several crawls/snapshots with different
    extraction quality — min-id keeps whichever was ingested first;
    this keeps the cleanest extraction and drops the rest.

    Scale shape: the argmax runs on a NARROW (fp, score, id)
    projection — document bodies never enter the shuffle — and the
    ``row_number() = 1`` filter compiles to WindowGroupLimit, so each
    fingerprint group costs O(group) scan + O(1) state rather than a
    full per-group sort buffer. Winner ids then left-semi join back to
    the original rows (ids only on the wire; AQE broadcasts the winner
    side when it is small).
    """
    narrow = df.select(
        F.col(id_col),
        fingerprint(text_col).alias("__fp"),
        score.alias("__score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__fp").orderBy(
        F.col("__score").desc(), F.col(id_col).asc()
    )
    winners = (
        narrow.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col)
    )
    return df.join(winners, id_col, "left_semi")


def winnow_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_n: int = 3,
    window: int = 4,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Near-dup pairs via winnowing fingerprints (the MOSS approach:
    Schleimer et al. SIGMOD'03): docs sharing ANY selected fingerprint
    become candidates, then exact-Jaccard verification keeps precision.

    Winnowing's guarantee complements MinHash: any shared run of at
    least ``window + shingle_n - 1`` tokens is CERTAIN to share a
    fingerprint (no per-pair probability), so recall on long verbatim
    overlaps — the plagiarism/boilerplate case — is structural, not
    probabilistic. Same scale shape as the other near-dup tiers: bucket
    on fingerprints with the shared no-self-join pair kernel
    (:func:`_bucket_pairs`), hot buckets capped, verify with the
    one-pass melt (:func:`_verify_jaccard`).
    """
    from filefilter_spark.ops.text import winnow_fingerprints

    fps = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(winnow_fingerprints(text_col, shingle_n, window)).alias("fp"),
    )
    candidates = _bucket_pairs(fps, ["fp"], max_bucket=max_bucket)
    docs = _doc_tokens(df, id_col, text_col, shingle_n)
    return _verify_jaccard(candidates, docs, threshold)


# Mode crossover for cluster_pairs (the BPE merge-loop's lesson
# applied to CC): the distributed label-propagation loop pays
# O(diameter) Spark JOBS — measured ~2.0 s for a 477-node pair graph
# at sf0.1, pure scheduling + per-round checkpoint materialization —
# while a driver-side union-find over the collected NARROW id pairs
# is milliseconds there. Below this many distinct pairs the collect
# is bounded (~32 MB of id pairs at the cap) and the driver path
# runs; past it the distributed loop takes over, which is the only
# shape that survives a billions-of-edges 100 TB pair graph. Results
# are identical by construction: both compute min-reachable-id per
# component.
CC_DRIVER_MAX_EDGES = 2_000_000

# Broadcast-hint gate for the driver-built cluster map: raw id bytes,
# not row count — a row-count gate assumes narrow fixed-width ids, but
# 2M rows of 200-byte string doc ids are a ~1 GB hash relation shipped
# to every executor past the auto-broadcast threshold's head. 64 MB of
# raw ids stays comfortably inside executor memory after the ~2-4x
# hash-relation framing overhead.
CC_BROADCAST_MAX_BYTES = 64 * 1024 * 1024


def _cc_map_bytes(rows: list) -> float:
    """Estimated raw id bytes of the driver-built (doc_id, cluster_id)
    map: mean width over a strided sample of about 1k rows spanning the
    whole list (strings/bytes carry their length; fixed-width ids count
    8) scaled to the full row count. :func:`_cc_driver` emits rows in
    first-seen order, so a head-only sample would miss wide ids that
    appear late. The rows are already on the driver, so sampling is
    free."""
    probe = rows[:: max(1, len(rows) // 1000)]
    per_row = sum(
        (len(a) if isinstance(a, (str, bytes)) else 8)
        + (len(b) if isinstance(b, (str, bytes)) else 8)
        for a, b in probe
    ) / len(probe)
    return per_row * len(rows)


def _cc_driver(rows, spark, id_type) -> DataFrame:
    """Union-find (union-by-min + path compression) over the collected
    pair list — exact min-label CC for pair graphs under
    :data:`CC_DRIVER_MAX_EDGES`."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id: the surviving root is the component min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = [(node, find(node)) for node in parent]
    schema = StructType([
        StructField("doc_id", id_type),
        StructField("cluster_id", id_type),
    ])
    df = spark.createDataFrame(out, schema)
    # A driver-built DataFrame has no size statistics, so Catalyst's
    # estimate defaults to "huge" and every consumer join (the split
    # hash's left outer, the survivor anti-join) plans sort-merge:
    # two exchanges + sorts to attach a few hundred cluster rows to
    # the corpus (seen in the OP-D7-safesplit plan). The driver KNOWS
    # the exact rows here — hint broadcast whenever the map's estimated
    # id bytes fit CC_BROADCAST_MAX_BYTES, which turns those joins into
    # exchange-free broadcast-hash joins.
    if out and _cc_map_bytes(out) <= CC_BROADCAST_MAX_BYTES:
        df = F.broadcast(df)
    return df


def cluster_pairs(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    driver_max_edges: int = CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id)
    with cluster_id = the MIN doc id reachable through any chain of
    pairs — the step between pair detection and survivor selection
    (near-dups are transitive in effect: if A~B and B~C, keeping A and
    C double-counts the cluster).

    Two modes, identical results (see :data:`CC_DRIVER_MAX_EDGES`):
    below ``driver_max_edges`` distinct pairs, a driver-side
    union-find over the narrow id pairs, fetched by one bounded
    ``limit(driver_max_edges + 1)`` collect that also decides the mode
    (it replaces O(diameter) jobs); above it, iterative min-label
    propagation (the standard large-graph CC shape, same contraction
    as GraphFrames/GraphX CC): every node starts labeled with itself;
    each round every node takes the min of its own and its neighbors'
    labels; stop when no label changes. Rounds needed = graph
    diameter (near-dup clusters are shallow — a handful), each round
    one join + one aggregation on narrow (node, label) rows.
    An eager :func:`~filefilter_spark.session.lineage_cut` per round
    keeps the plan from growing with iterations. The convergence `.count()`
    is a driver-side scalar per round — O(diameter) actions, not
    per-row work. Pass ``driver_max_edges=0`` to force the
    distributed loop.
    """
    uniq = pairs.select(id_a, id_b).distinct()
    if driver_max_edges > 0:
        # One bounded read sizes and fetches the pair list: an extra
        # row past ``driver_max_edges`` means "distributed". The NARROW
        # distinct pairs are persisted first, so the distributed arm
        # reuses them instead of re-running the pair generator upstream
        # (LSH/Ed-Join/cosine verify, the expensive part).
        uniq = uniq.persist(StorageLevel.MEMORY_AND_DISK)
        rows = uniq.limit(driver_max_edges + 1).collect()
        if len(rows) <= driver_max_edges:
            uniq.unpersist()
            return _cc_driver(rows, pairs.sparkSession,
                              pairs.schema[id_a].dataType)
    edges = lineage_cut(
        uniq.selectExpr(f"{id_a} AS a", f"{id_b} AS b")
        .unionByName(uniq.selectExpr(f"{id_b} AS a", f"{id_a} AS b"))
        .distinct(),
        eager=True,
    )
    uniq.unpersist()
    labels = lineage_cut(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        eager=True,
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = lineage_cut(
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            ),
            eager=True,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter("n.label != o.label")
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # Partially-propagated labels would silently split one real
        # cluster into several "clusters" and under-deduplicate — a
        # wrong answer, not a degraded one. Fail loudly instead.
        raise RuntimeError(
            f"cluster_pairs did not converge in {max_iter} rounds "
            "(pair-graph diameter exceeds max_iter); raise max_iter"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def keep_neardup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Materialize the near-dup-deduplicated corpus: cluster the pair
    graph (:func:`cluster_pairs`), then drop every cluster member except
    the min-id representative. Documents in no pair pass through
    untouched — so the anti-join's right side is only the (small) set of
    non-representative cluster members, never the corpus.
    """
    clusters = cluster_pairs(pairs, id_a, id_b)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def soft_dedup_weights(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    weight_col: str = "weight",
) -> DataFrame:
    """Duplicate-aware sampling weights — dedup WITHOUT deletion:
    every near-dup cluster member gets ``weight = 1/|cluster|``
    (docs in no pair get 1.0), so however many copies a document has,
    the cluster contributes one document's worth of expected training
    mass while every variant stays available to the sampler. The
    down-weight policy keeps phrasing diversity hard deletion throws
    away and removes the duplicate over-representation that makes
    models memorize boilerplate — the standard soft alternative to
    :func:`keep_neardup_survivors`.

    Exactness: ``1.0 / count`` on the same integers is one IEEE
    division — identical cross-engine, so the op carries an exact
    oracle. Scale shape: :func:`cluster_pairs` on the (narrow) pair
    graph, one cluster-size count, one id-keyed left join back; the
    corpus shuffles once on id and bodies never ride the pair graph.
    """
    if weight_col in df.columns:
        raise ValueError(
            f"soft_dedup_weights: input already has column "
            f"{weight_col!r} — pass a different weight_col"
        )
    clusters = cluster_pairs(pairs, id_a, id_b)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("__csize")
    )
    member_w = (
        clusters.join(sizes, "cluster_id")
        .select(
            F.col("doc_id").alias(id_col),
            (F.lit(1.0) / F.col("__csize")).alias(weight_col),
        )
    )
    return df.join(member_w, id_col, "left").withColumn(
        weight_col, F.coalesce(F.col(weight_col), F.lit(1.0))
    )


def dedup_against(
    new: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup — the daily-ingest shape: drop rows of
    ``new`` whose normalized fingerprint already exists in ``seen`` (the
    running corpus), then keep the min-id survivor within the batch.

    Both sides reduce to 16-byte fingerprints before the anti-join, so
    the shuffle moves hashes, never bodies; in production ``seen`` is
    the persisted fingerprint table (parquet/Delta) appended after each
    batch — at 100 TB the anti-join shuffles new-batch + fingerprint
    keys only, and stays incremental instead of re-deduping the corpus.
    """
    new_fp = new.withColumn("__fp", fingerprint(text_col))
    seen_fp = seen.select(fingerprint(text_col).alias("__fp")).distinct()
    fresh = new_fp.join(seen_fp, "__fp", "left_anti")
    keep = (
        fresh.groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return fresh.join(keep, id_col, "left_semi").drop("__fp")


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 30,
) -> DataFrame:
    """Line-level exact dedup across the whole corpus — the C4 / CCNet
    boilerplate-removal shape (reference has no analog; this is the
    training-pipeline tier): every normalized line that appears in more
    than one place survives only at its FIRST occurrence (min
    ``(doc_id, position)``); documents are reassembled from their
    surviving lines in original order. Lines whose normalized form is
    shorter than ``min_len`` chars never participate (nav crumbs,
    headings — deduping those would shred unrelated documents), and a
    document whose every line is dropped disappears entirely.

    Returns ``(doc_id, text, n_kept, n_dropped)``.

    Scale shape: two shuffles over LINE-granularity rows — one on the
    16-byte line hash (rank occurrences; the line body rides along so
    no join-back is needed, and lines are short by construction), one
    on doc_id (reassembly). Nothing is quadratic and no document body
    crosses a shuffle twice.
    """
    from pyspark.sql import Window

    lines = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .withColumn(
            "__norm",
            F.trim(F.regexp_replace(F.lower(F.col("line")), r"\s+", " ")),
        )
        .withColumn("__short", F.length("__norm") < min_len)
    )
    # Short lines never enter the window — a shared catch-all partition
    # key would funnel every short line in the corpus onto one task;
    # split the frame instead.
    keep_always = lines.filter(F.col("__short")).select("doc_id", "pos", "line")
    w = Window.partitionBy("__key").orderBy("doc_id", "pos")
    first_only = (
        lines.filter(~F.col("__short"))
        .withColumn("__key", F.md5("__norm"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "pos", "line")
    )
    kept = keep_always.unionByName(first_only)
    totals = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), "\n")).alias("__n_total"),
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text"),
            F.count("*").alias("n_kept"),
        )
        .join(totals, "doc_id")
        .withColumn("n_dropped", F.col("__n_total") - F.col("n_kept"))
        .drop("__n_total")
        # honor the caller's column names (no-op for the defaults)
        .withColumnRenamed("doc_id", id_col)
        .withColumnRenamed("text", text_col)
    )


# ---------------------------------------------------------------------------
# Bloom-filter-accelerated incremental dedup
# ---------------------------------------------------------------------------


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """Standard Bloom sizing: m bits, k hashes for n items at the target
    false-positive rate. m is rounded up to a byte multiple."""
    import math

    n = max(n, 1)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _bloom_positions(col: Column, m: int, k: int) -> Column:
    """k bit positions per value — xxhash64 with k seeds, all JVM-side."""
    return F.array(*[F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)) for i in range(k)])


def _build_bloom(
    fps: DataFrame,
    fp_col: str,
    m: int,
    k: int,
    tree_threshold: int = 64,
    slice_bits: int = 1 << 23,
):
    """OR-fold a corpus of fingerprints into one m-bit Bloom bitmap.

    **Small path** (≤ ``tree_threshold`` partitions): per-partition
    dense numpy bitmaps via mapInPandas, collected and OR'd on the
    driver. Insertion is idempotent, so no distinct — the seen side
    never shuffles at all, and driver traffic is ≤ P × m/8 bytes with
    P small by construction.

    **Large path** (sparse slice-keyed shuffle-OR): a dense
    per-partition partial costs m/8 bytes REGARDLESS of how few bits
    that partition actually sets, so any design that materializes all
    P dense partials (the round-7 persist+coalesce fold did) stores
    P × m/8 bytes — ~120 TB of block storage at 1 B docs @ 1% fpp
    (m/8 ≈ 1.2 GB) on 100k partitions, to build a 1.2 GB bitmap.
    Instead each partition emits its set-bit POSITIONS, grouped into
    fixed ``slice_bits``-wide bitmap slices: per touched slice, a
    sorted-unique uint32 offset array — or a dense slice (slice_bits/8
    bytes) when that partition sets ≥ 1/32 of the slice's bits and
    dense is the smaller encoding. First-level traffic is therefore
    bounded by ~4·n·k bytes total (≈ 28 GB at 1 B docs, k=7) — the
    set-bit count, not P × m/8 — and per-task memory by
    min(4·positions, m/8) via the adaptive encoding. The slices then
    hash-shuffle on slice_id (one ordinary shuffle at
    min(n_slices, defaultParallelism)-way parallelism — no persist,
    no lineage pinning, spill-safe like any shuffle) and a streaming
    mapInPandas ORs each slice to its final dense form. The driver
    collects only nonzero final slices: ≤ m/8 bytes — the bitmap
    itself, which it must hold anyway to broadcast.
    """
    import numpy as np

    pos_df = fps.select(_bloom_positions(F.col(fp_col), m, k).alias("pos"))
    n_parts = pos_df.rdd.getNumPartitions()
    n_bytes = m // 8

    if n_parts <= tree_threshold:
        def fold(batches):
            bits = np.zeros(n_bytes, dtype=np.uint8)
            any_rows = False
            for b in batches:
                if len(b) == 0:
                    continue
                any_rows = True
                flat = np.concatenate(
                    [np.asarray(p, dtype=np.int64) for p in b["pos"]]
                )
                np.bitwise_or.at(bits, flat >> 3, (1 << (flat & 7)).astype(np.uint8))
            if any_rows:
                yield pd.DataFrame({"bitmap": [bits.tobytes()]})

        bits = np.zeros(n_bytes, dtype=np.uint8)
        for row in pos_df.mapInPandas(fold, "bitmap binary").collect():
            bits |= np.frombuffer(row["bitmap"], dtype=np.uint8)
        return bits

    stage1 = pos_df.mapInPandas(
        _bloom_slice_emitter(m, slice_bits), "slice_id long, dense boolean, payload binary"
    )
    n_slices = (m + slice_bits - 1) // slice_bits
    spark = fps.sparkSession
    n_or = max(1, min(n_slices, spark.sparkContext.defaultParallelism))
    stage2 = stage1.repartition(n_or, "slice_id").mapInPandas(
        _bloom_slice_or(m, slice_bits), "slice_id long, bitmap binary"
    )
    bits = np.zeros(n_bytes, dtype=np.uint8)
    for row in stage2.collect():
        start = row["slice_id"] * (slice_bits // 8)
        buf = np.frombuffer(row["bitmap"], dtype=np.uint8)
        bits[start:start + len(buf)] |= buf
    return bits


def _bloom_slice_len(slice_id: int, m: int, slice_bits: int) -> int:
    """Byte length of a slice's dense form (the last slice may be
    shorter than slice_bits/8 when m isn't a slice multiple)."""
    return min(slice_bits, m - slice_id * slice_bits) // 8


def _bloom_slice_emitter(m: int, slice_bits: int):
    """Stage-1 mapInPandas fn: partition's positions → per-slice
    payloads, sparse (sorted-unique uint32 offsets) or dense
    (slice-length bitmap), whichever is smaller. Accumulation is
    adaptive per slice — offset chunks are promoted to a dense slice
    the moment their sparse size would exceed the dense size, so task
    memory is min(4·positions, m/8) + O(batch)."""
    import numpy as np

    dense_cutoff = slice_bits // 32  # offsets beyond this: dense is smaller

    def emit(batches):
        acc: dict = {}  # slice_id -> list[np.uint32 offsets] | np dense uint8

        def promote(sid, chunks):
            dense = np.zeros(_bloom_slice_len(sid, m, slice_bits), dtype=np.uint8)
            offs = np.concatenate(chunks)
            np.bitwise_or.at(dense, offs >> 3, (1 << (offs & 7)).astype(np.uint8))
            return dense

        counts: dict = {}
        for b in batches:
            if len(b) == 0:
                continue
            flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in b["pos"]])
            sids = flat // slice_bits
            offs = (flat - sids * slice_bits).astype(np.uint32)
            order = np.argsort(sids, kind="stable")
            sids, offs = sids[order], offs[order]
            bounds = np.flatnonzero(np.diff(sids)) + 1
            for sid_i, chunk in zip(
                sids[np.concatenate(([0], bounds))] if len(sids) else [],
                np.split(offs, bounds),
            ):
                sid = int(sid_i)
                cur = acc.get(sid)
                if isinstance(cur, np.ndarray) and cur.dtype == np.uint8:
                    np.bitwise_or.at(cur, chunk >> 3, (1 << (chunk & 7)).astype(np.uint8))
                else:
                    lst = cur if cur is not None else []
                    lst.append(chunk)
                    counts[sid] = counts.get(sid, 0) + len(chunk)
                    if counts[sid] > dense_cutoff:
                        acc[sid] = promote(sid, lst)
                    else:
                        acc[sid] = lst
        rows = {"slice_id": [], "dense": [], "payload": []}
        for sid, cur in acc.items():
            if isinstance(cur, list):
                offs = np.unique(np.concatenate(cur))
                # unique can shrink below the cutoff; keep whichever
                # encoding is smaller NOW
                if offs.nbytes < _bloom_slice_len(sid, m, slice_bits):
                    rows["slice_id"].append(sid)
                    rows["dense"].append(False)
                    rows["payload"].append(offs.astype(np.uint32).tobytes())
                    continue
                cur = promote(sid, [offs.astype(np.uint32)])
            rows["slice_id"].append(sid)
            rows["dense"].append(True)
            rows["payload"].append(cur.tobytes())
        if rows["slice_id"]:
            yield pd.DataFrame(rows)

    return emit


def _bloom_slice_or(m: int, slice_bits: int):
    """Stage-2 mapInPandas fn: OR all of a slice's payloads (the
    shuffle colocates each slice_id in one task) into the final dense
    slice. Streams batches — never holds a slice's input rows, only
    its dense accumulator; task memory is (#slices in this shuffle
    partition) × slice_bits/8."""
    import numpy as np

    def or_slices(batches):
        acc: dict = {}
        for b in batches:
            for sid, dense, payload in zip(b["slice_id"], b["dense"], b["payload"]):
                sid = int(sid)
                arr = acc.get(sid)
                if arr is None:
                    arr = acc[sid] = np.zeros(
                        _bloom_slice_len(sid, m, slice_bits), dtype=np.uint8
                    )
                if dense:
                    arr |= np.frombuffer(payload, dtype=np.uint8)
                else:
                    offs = np.frombuffer(payload, dtype=np.uint32)
                    np.bitwise_or.at(arr, offs >> 3, (1 << (offs & 7)).astype(np.uint8))
        if acc:
            yield pd.DataFrame({
                "slice_id": list(acc),
                "bitmap": [a.tobytes() for a in acc.values()],
            })

    return or_slices


class BloomResources:
    """Owns the storage a :func:`bloom_dedup_against` call pinned — the
    persisted fingerprint frames and the broadcast bitmap. Usable as a
    context manager; :meth:`release` is idempotent and SAFE while the
    call's result DataFrame is still held (Spark recomputes evicted
    caches / refetches broadcasts on demand — only performance, never
    correctness, depends on these)."""

    def __init__(self, handles: list):
        self._handles = handles

    def release(self) -> None:
        while self._handles:
            h = self._handles.pop()
            try:
                h.unpersist()
            except Exception:  # pragma: no cover - session already stopped
                pass

    def __enter__(self) -> "BloomResources":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


# Registry of not-yet-released BloomResources, lock-guarded (callers
# may run bloom_dedup_against from several threads). Default behavior
# releases the PREVIOUS call's resources on each new call — right for
# the sequential per-batch ingest loop this op targets, where the
# alternative would pin one cached frame pair + bitmap per batch for
# the session lifetime.
_BLOOM_LOCK = threading.Lock()
_BLOOM_LIVE: list = []


def _release_bloom_resources() -> None:
    """Release every still-registered call's resources (LIFO)."""
    with _BLOOM_LOCK:
        live, _BLOOM_LIVE[:] = _BLOOM_LIVE[:], []
    for res in reversed(live):
        res.release()


def bloom_dedup_against(
    new: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fpp: float = 0.01,
    n_seen: int | None = None,
    release_previous: bool = True,
) -> DataFrame:
    """Incremental exact dedup with a broadcast Bloom pre-filter —
    byte-identical output to :func:`dedup_against`, different physics.

    Each call's pinned storage (cached frames, broadcast bitmap) is
    owned by a :class:`BloomResources` handle in a lock-guarded
    registry. ``release_previous`` (default True) releases every
    EARLIER call's handle before building this call's — right for the
    sequential per-batch ingest loop this op targets (results stay
    correct either way; Spark recomputes evicted caches — but a
    still-held earlier result silently degrades to full recomputation,
    so…). Pass False when holding multiple live results concurrently
    and release manually via :func:`_release_bloom_resources` (or pop
    handles from ``_BLOOM_LIVE`` and ``release()``/``with`` them
    individually) when done.

    ``dedup_against`` anti-joins every new fingerprint against the
    history: both sides shuffle. Here the history is folded ONCE into an
    m-bit Bloom bitmap (~1.2 GB per billion seen docs at 1% fpp) and
    broadcast; rows whose k bloom probes miss are definitively fresh
    and never shuffle. Only bloom HITS — true cross-batch dups plus an
    fpp-sized false-positive sliver — proceed to the exact anti-join
    that restores exactness. At 100 TB with a low daily dup rate this
    cuts the anti-join's left side by ~(1 - dup_rate - fpp), i.e. ~99%.

    The bloom probes (xxhash64 x k) are computed JVM-side; membership
    testing is one vectorized Arrow-batched numpy kernel against the
    broadcast bitmap.
    """
    import numpy as np

    # The fingerprint frame is consumed three times (count for sizing,
    # bitmap fold, false-positive anti-join); persist the 16-byte-per-
    # row projection so the md5-normalize pass over the history runs
    # once, not thrice. In production the history IS a persisted
    # fingerprint table (see dedup_against) and n comes from its
    # metadata — this cache reproduces that shape for derived inputs.
    if release_previous:
        _release_bloom_resources()
    res = BloomResources([])
    with _BLOOM_LOCK:
        _BLOOM_LIVE.append(res)
    seen_fp = seen.select(fingerprint(text_col).alias("__fp"))
    if n_seen is None:
        seen_fp = seen_fp.persist(StorageLevel.MEMORY_AND_DISK)
        res._handles.append(seen_fp)
        n_seen = seen_fp.count()
    m, k = _bloom_params(n_seen, fpp)
    bits = _build_bloom(seen_fp, "__fp", m, k)
    bc = new.sparkSession.sparkContext.broadcast(bits)
    res._handles.append(bc)

    @F.pandas_udf("boolean")
    def might_contain(pos: pd.Series) -> pd.Series:
        b = bc.value
        if len(pos) == 0:
            return pd.Series([], dtype=bool)
        arr = np.stack([np.asarray(p, dtype=np.int64) for p in pos])
        hit = (b[arr >> 3] & (1 << (arr & 7)).astype(np.uint8)) != 0
        return pd.Series(hit.all(axis=1))

    # All dedup decisions run on a NARROW cached (id, fp, maybe) frame:
    # the definite/maybe split, the survivor pick, and the survivor
    # semi-join each reuse this frame, and without the cache Spark
    # would re-scan the batch bodies and re-run the bloom probe once
    # per branch (measured 4x the whole op's cost at probe scale). The
    # cache is ~24 bytes/row — for a 1 B-doc daily batch that is
    # ~24 GB across the cluster, far below re-reading the batch.
    new_fp = (
        new.select(F.col(id_col), fingerprint(text_col).alias("__fp"))
        .withColumn("__maybe", might_contain(_bloom_positions(F.col("__fp"), m, k)))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    res._handles.append(new_fp)
    definite = new_fp.filter(~F.col("__maybe")).select(id_col, "__fp")
    resolved = (
        new_fp.filter(F.col("__maybe"))
        # no distinct on the history side: left_anti ignores right-side
        # duplicates, and a distinct would add a full shuffle of every
        # history fingerprint — the exact cost this operator exists to
        # avoid.
        .join(seen_fp, "__fp", "left_anti")
        .select(id_col, "__fp")
    )
    fresh = definite.unionByName(resolved)
    keep = fresh.groupBy("__fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    survivors = fresh.join(keep, id_col, "left_semi").select(id_col)
    # One final pass over the batch bodies: semi-join on surviving ids
    # (ids cross the shuffle, bodies never do; AQE broadcasts the id
    # set when it is small).
    return new.join(survivors, id_col, "left_semi")


def _doc_tokens(df: DataFrame, id_col: str, text_col: str, shingle_n: int = 1) -> DataFrame:
    feat = shingles(text_col, shingle_n) if shingle_n > 1 else F.array_distinct(tokens(text_col))
    return df.select(F.col(id_col).alias("doc_id"), feat.alias("toks"))


def token_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_n: int = 1,
    max_doc_freq: int | None = 10_000,
) -> DataFrame:
    """All pairs (id_a < id_b) with token-set Jaccard ≥ threshold.

    Inverted-index join: shuffle is on tokens (narrow rows), the
    pair-count aggregation is map-side combinable, and Jaccard =
    shared/(|A|+|B|-shared) is integer arithmetic → exact cross-engine.

    ``max_doc_freq`` bounds every posting list: a token appearing in
    more than that many docs is dropped, capping pair generation at
    C(max_doc_freq, 2) per token instead of going quadratic on
    ubiquitous tokens at 100 TB. Default 10k (no-op at test SFs —
    oracle results unchanged — a real bound in production). Pass None to
    disable. Dropping a shared token can only *lower* a pair's measured
    Jaccard, so precision is kept and only recall on stopword-only
    overlap is traded — the standard production tradeoff.

    Shape: the corpus is tokenized exactly once — each posting row
    carries its doc's set size, so Jaccard needs no size join at the
    end. ONE shuffle groups postings by token (the doc-freq cap falls
    out of the same aggregation for free); unordered pairs come from
    the shared chunked kernel (:func:`_chunked_list_pairs`, r16 —
    replaces the two chained explodes whose per-token Σg² work ran
    inside the task holding the aggregation row; ids within one token
    group are distinct, so positional order under ``array_sort``
    emits each unordered pair exactly once with ``a.id < b.id``). The
    pair-count aggregation is map-side combinable.
    """
    docs = _doc_tokens(df, id_col, text_col, shingle_n)
    posting = docs.selectExpr(
        "struct(doc_id AS id, size(toks) AS n) AS d",
        "explode(toks) AS tok",
    )
    grouped = posting.groupBy("tok").agg(F.collect_list("d").alias("ds"))
    grouped = grouped.filter(F.size("ds") >= 2)
    if max_doc_freq is not None:
        grouped = grouped.filter(F.size("ds") <= max_doc_freq)
    pairs = _chunked_list_pairs(grouped, "ds")
    shared = pairs.groupBy(
        F.expr("a.id").alias("id_a"),
        F.expr("b.id").alias("id_b"),
        F.expr("a.n").alias("n_a"),
        F.expr("b.n").alias("n_b"),
    ).agg(F.count("*").alias("n_shared"))
    return (
        shared.withColumn(
            "jaccard", F.expr("n_shared / (n_a + n_b - n_shared)")
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_shared", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    seed: int = 42,
    shingle_n: int = 1,
) -> DataFrame:
    """k minhashes per doc: one xxhash64 base hash per token (JVM-side),
    run through k multiply-shift permutations
    (``(a_i * h) >>> 33``, a_i odd — the Dietzfelbinger universal
    family, defined over Z/2^64 so the silent 64-bit wrap IS the
    arithmetic, not an overflow bug) and min-folded per perm in an
    Arrow-batched numpy kernel. No modulo — multiply-shift replaces the
    (a*h+b) mod p family because a 64-bit multiply+shift is several
    times cheaper than a 64-bit remainder, and the fold runs k times per
    token over the whole corpus."""
    import random as _random

    rng = _random.Random(seed)
    mults = [rng.randrange(1, 1 << 63) | 1 for _ in range(num_hashes)]
    toks = shingles(text_col, shingle_n) if shingle_n > 1 else F.array_distinct(tokens(text_col))
    base = F.transform(toks, lambda t: F.xxhash64(t))
    hashed = df.select(F.col(id_col).alias("doc_id"), base.alias("__base_h"))

    # The min-fold runs k times per token over the whole corpus — the
    # hottest loop in the dedup tier. Spark evaluates higher-order array
    # functions interpreted (per-element, outside whole-stage codegen),
    # so an Arrow-batched numpy kernel computing the same fold is
    # measured ~3x faster and bit-identical (uint64 wrap == Java long
    # wrap; >> on uint64 == shiftrightunsigned). Tokenizing and base
    # hashing stay JVM-side; only the numeric fold crosses to Python.
    # mapInPandas (a plan operator) rather than a scalar pandas_udf (an
    # expression) ON PURPOSE: Spark 4.1 intermittently fails to extract
    # a scalar PythonUDF expression that feeds an exploded grouping key
    # (second fresh-scan plan in a session hits INTERNAL_ERROR "Cannot
    # evaluate expression: ..."); an operator has nothing to extract.
    import numpy as np

    np_mults = np.array(mults, dtype=np.uint64)
    shift = np.uint64(64 - 31)
    k = num_hashes

    def _fold_partition(batches):
        for pdf in batches:
            sigs = []
            for arr in pdf["__base_h"]:
                if arr is None or len(arr) == 0:
                    # JVM parity: array_min over an empty array is NULL.
                    sigs.append([None] * k)
                    continue
                h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
                mins = ((h[:, None] * np_mults[None, :]) >> shift).min(axis=0)
                sigs.append(mins.astype(np.int64))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "minhash": sigs})

    id_type = hashed.schema["doc_id"].dataType.simpleString()
    return hashed.mapInPandas(
        _fold_partition, f"doc_id {id_type}, minhash array<bigint>"
    )


def minhash_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    shingle_n: int = 1,
    max_bucket: int = 4096,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    Banding: 16 bands × 4 rows → catches J≥0.5 pairs with ~97% per-pair
    probability; verification removes false positives, so precision is
    exact and only recall is probabilistic (the scale/recall tradeoff
    every production near-dup pipeline makes).

    ``max_bucket`` (default 4096) drops LSH buckets with more members
    than the cap before pair generation. Pair emission is O(m²) per
    bucket AND concentrates a bucket's pairs into one task, so a single
    degenerate bucket — a mass-duplicated boilerplate page, millions of
    empty docs sharing a band — would otherwise become an unsplittable
    straggler/OOM at 100 TB. Recall is lost only for pairs whose EVERY
    shared band is over the cap, i.e. corpora with >4096 mutual
    near-dups of the same doc — and those are exactly the pairs exact
    dedup or a doc-frequency pass should field instead. Pass ``None``
    to disable (test/oracle use).
    """
    candidates = _minhash_candidates(
        df, id_col, text_col, num_hashes, bands, seed, shingle_n, max_bucket
    )
    docs = _doc_tokens(df, id_col, text_col, shingle_n)
    return _verify_jaccard(candidates, docs, threshold)


def minhash_band_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    shingle_n: int = 1,
) -> DataFrame:
    """LSH band buckets ``(doc_id, band, bucket)`` — bands rows per
    doc. The persistable half of MinHash-LSH: two docs are candidate
    near-dups iff they share a (band, bucket) key, so a stored band
    table lets an incremental/streaming ingest find candidates against
    history WITHOUT re-hashing history (join on the keys; see
    ``streaming.jobs.minhash_stream_dedup``). Same signature family
    and parameters as :func:`minhash_near_dup` — the two agree row
    for row."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, seed, shingle_n)
    # One parsed expression instead of bands x (struct+lit+hash+slice)
    # Column calls — same plan, ~0.2s less driver-side build latency
    # (see _bucket_pairs docstring).
    band_structs = ", ".join(
        f"struct({i} AS band,"
        f" hash(slice(minhash, {i * rows_per_band + 1}, {rows_per_band})) AS bucket)"
        for i in range(bands)
    )
    return sigs.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS bb"
    ).select("doc_id", "bb.band", "bb.bucket")


def _minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    seed: int,
    shingle_n: int,
    max_bucket: int | None,
) -> DataFrame:
    """Shared LSH-banding candidate generation for the minhash family."""
    banded = minhash_band_buckets(
        df, id_col, text_col, num_hashes, bands, seed, shingle_n
    )
    return _bucket_pairs(banded, ["band", "bucket"], max_bucket=max_bucket)


def minhash_dedup_against(
    new: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    shingle_n: int = 1,
    max_bucket: int = 4096,
) -> DataFrame:
    """Incremental NEAR-dup — the daily-ingest shape of
    :func:`minhash_near_dup`: near-dup pairs where at least one side is
    a NEW document (cross-batch new-vs-seen plus within-batch
    new-vs-new; seen-vs-seen pairs are filtered before verification —
    the running corpus is already deduped). Returns
    ``(id_a, id_b, jaccard)`` with exact-Jaccard verification, so
    precision is exact; dropping ``id_a``/``id_b`` from the batch
    materializes the deduplicated ingest.

    Ids must be globally unique across both frames (true of any real
    corpus with assigned doc ids).

    Scale shape: signatures here are computed for both sides in one
    union pass — in production the SEEN side's signatures and band
    buckets are a persisted table appended after each batch, so each
    day hashes only the new batch and the bucket join touches only
    buckets the batch lands in. The pair filter is two narrow
    semi-joins against the batch id set (broadcast-sized).
    """
    union = seen.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).unionByName(new.select(F.col(id_col), F.col(text_col)))
    cand = _minhash_candidates(
        union, id_col, text_col, num_hashes, bands, seed, shingle_n, max_bucket
    )
    # Single pass over cand (its lineage is the op's most expensive
    # subtree — signatures + banding; a semi ∪ anti+semi split would
    # reference it from two branches and, absent exchange reuse, run
    # it twice): two LEFT joins against the batch id set attach is-new
    # flags, one filter keeps every batch-touching pair exactly once —
    # no distinct (a full extra shuffle of the op's largest
    # intermediate) needed; _bucket_pairs output is already distinct,
    # and the distinct batch-id frame can't fan rows out. Join strategy
    # is left to AQE on purpose: a daily batch's id set broadcasts, a
    # backfill batch with 10^8+ ids must shuffle — a forced broadcast
    # hint would OOM the driver on exactly the big-batch case.
    batch_ids = new.select(F.col(id_col).alias("__bid")).distinct()
    a_ids = batch_ids.select(
        F.col("__bid").alias("id_a"), F.lit(True).alias("__a_new")
    )
    b_ids = batch_ids.select(
        F.col("__bid").alias("id_b"), F.lit(True).alias("__b_new")
    )
    touching = (
        cand.join(a_ids, "id_a", "left")
        .join(b_ids, "id_b", "left")
        .filter(F.col("__a_new").isNotNull() | F.col("__b_new").isNotNull())
        .select("id_a", "id_b")
    )
    docs = _doc_tokens(union, id_col, text_col, shingle_n)
    return _verify_jaccard(touching, docs, threshold)


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 32) -> DataFrame:
    """SimHash fingerprint: per-token 32-bit hash (crc32 of the token —
    stable across engines), sign-summed per bit position. Output
    (doc_id, simhash BIGINT).

    Token hashes are materialized once in their own projection (the
    32 bit-sums each reference it, and Catalyst's CollapseProject keeps
    a non-cheap multiply-referenced alias as its own step), then each
    bit-sum folds over that array — one tokenize pass per row instead
    of 32."""
    toks = F.array_distinct(tokens(text_col))
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(toks, lambda t: F.crc32(t)).alias("__tok_h"),
    )
    # One parsed expression instead of bits x (aggregate+when+shift)
    # Column chains — plan-identical, ~0.25s less build latency (see
    # _bucket_pairs docstring for the Py4J rationale).
    bit_terms = " + ".join(
        f"IF(aggregate(__tok_h, 0, (acc, h) ->"
        f" acc + IF(pmod(shiftright(h, {j}), 2) = 1, 1, -1)) > 0,"
        f" CAST({1 << j} AS BIGINT), CAST(0 AS BIGINT))"
        for j in range(bits)
    )
    return hashed.select("doc_id", F.expr(bit_terms).alias("simhash"))


def simhash_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 32,
    blocks: int = 4,
    max_bucket: int = 4096,
) -> DataFrame:
    """Hamming-ball pairs via the block trick (pigeonhole: two hashes
    within distance d share at least one of d+1 blocks verbatim) —
    join on block value, verify with bit_count(xor).

    ``max_bucket`` caps per-block-value group size before O(m²) pair
    emission, exactly as in :func:`minhash_near_dup` — an 8-bit block
    has only 256 values, so hot blocks are GUARANTEED once the corpus
    passes ~1M docs; without the cap one task would hold a
    quadratic-sized array. Recall loss: only pairs whose every shared
    block is hot. ``None`` disables."""
    sh = simhash(df, id_col, text_col, bits)
    block_bits = bits // blocks
    mask = (1 << block_bits) - 1
    block_structs = ", ".join(
        f"struct({i} AS blk,"
        f" shiftright(simhash, {i * block_bits}) & {mask} AS val)"
        for i in range(blocks)
    )
    blocked = sh.selectExpr(
        "struct(doc_id, simhash) AS d",
        f"explode(array({block_structs})) AS bb",
    ).select("d", "bb.blk", "bb.val")
    # Pair generation without a self-join (a self-join computes every
    # simhash twice — see _bucket_pairs). The fingerprint is one bigint,
    # cheap enough to carry through the bucket shuffle, so pairs emerge
    # with both sides' hashes attached and the verify needs no join at
    # all: group by block value, sort members by id, two-step explode.
    grouped = (
        blocked.groupBy("blk", "val")
        .agg(F.expr("array_sort(collect_set(d))").alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    if max_bucket is not None:
        grouped = grouped.filter(F.size("ds") <= max_bucket)
    halves = grouped.selectExpr(
        "explode(transform(ds, (x, i) ->"
        " struct(x AS a, slice(ds, i + 2, size(ds)) AS rest))) AS h"
    )
    return (
        halves.selectExpr("h.a AS a", "explode(h.rest) AS b")
        .selectExpr(
            "a.doc_id AS id_a",
            "b.doc_id AS id_b",
            "bit_count(a.simhash ^ b.simhash) AS hamming",
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _span_occurrences(
    df: DataFrame, id_col: str, text_col: str, span_tokens: int
) -> DataFrame:
    """Every ``span_tokens``-token sliding window of every document as
    one row ``(doc_id, span)`` — the occurrence MULTISET (duplicates
    within a doc kept; docs shorter than the span contribute nothing).
    Pure JVM: tokenize once, windows via transform(sequence), explode."""
    n = span_tokens
    return (
        df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t"))
        .filter(F.size("t") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - n),
                    lambda i: F.array_join(F.slice("t", i + 1, n), " "),
                )
            ).alias("span"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-wide exact repeated-span report — the detection half of
    substring-level dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better": verbatim ≥k-token substrings
    recurring across documents are memorization fuel; their suffix
    array finds them on one machine, this finds the same spans the
    Spark way). Returns ``(span, n_docs, n_occ)`` for every
    ``span_tokens``-token window occurring in ≥ ``min_docs`` distinct
    documents — the boilerplate/license-header/navigation-chrome
    inventory of a web corpus.

    Scale shape: one explode to the occurrence multiset, one
    map-combining groupBy on the span text (partial aggregation
    collapses within-partition repeats before the shuffle — and
    boilerplate is exactly the thing that repeats within a partition);
    count_distinct(doc_id) rides the same aggregation. The output is
    bounded by the number of DISTINCT repeated spans, not corpus
    size. At 100 TB the same plan runs with spans pre-hashed to
    xxhash64 and an exemplar string carried via min(span) — grouping
    on 8-byte keys instead of span text — but the report below groups
    on the text directly so the oracle compares values, not hashes.
    """
    occ = _span_occurrences(df, id_col, text_col, span_tokens)
    return (
        occ.groupBy("span")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def boilerplate_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-span share — the actionable filter on
    top of :func:`duplicate_spans`: for each doc with at least one
    full span window, the fraction of its span occurrences that are
    corpus-duplicated (appear in ≥ ``min_docs`` distinct docs).
    Returns ``(doc_id, n_spans, dup_ratio)``; 0 = fully original text,
    → 1 = the doc is assembled from corpus-recurring boilerplate.
    Distinct from ``repetition_score`` (WITHIN-doc n-gram repeats) —
    this one measures CROSS-document duplication.

    Scale shape: the occurrence frame is built once and joined back to
    its own span-level aggregate (Spark reuses the scan; the dup-flag
    side is types-bounded and AQE broadcasts it when small), then one
    doc_id groupBy whose partial aggregation collapses each doc's
    spans before the shuffle — doc bodies never move, and nothing in
    the plan grows faster than the span-type table.
    """
    occ = _span_occurrences(df, id_col, text_col, span_tokens)
    flags = occ.groupBy("span").agg(
        (F.count_distinct("doc_id") >= min_docs).alias("dup")
    )
    return (
        occ.join(flags, "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.avg(F.col("dup").cast("double")).alias("dup_ratio"),
        )
        .withColumnRenamed("doc_id", id_col)  # honor the caller's name
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The ACTION half of substring-level dedup (Lee et al. 2022): cut
    every token covered by a corpus-duplicated span (a
    ``span_tokens``-window occurring in ≥ ``min_docs`` distinct docs)
    out of each document. Returns ``(doc_id, text_clean, n_removed)``
    for EVERY input doc — text rebuilt from the surviving tokens
    (single-space joined, so whitespace is normalized; docs shorter
    than one span pass through untouched), ``n_removed`` the count of
    tokens cut.

    Scale shape: the duplicated-span table is types-bounded (the
    :func:`duplicate_spans` aggregate); positions of offending
    occurrences join against it (AQE broadcasts when small), covered
    indices collapse to one per-doc set (collect_set bounded by doc
    length), and the rebuild is a left join + one array filter per
    row — bodies cross the shuffle once, as the per-doc index set,
    never as span text.
    """
    n = span_tokens
    tk = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t"))
    occ_pos = tk.filter(F.size("t") >= n).select(
        "doc_id",
        F.expr(
            f"explode(transform(sequence(0, size(t) - {n}),"
            f" i -> struct(i AS i, array_join(slice(t, i + 1, {n}), ' ')"
            " AS span))) AS b"
        ),
    ).select("doc_id", "b.i", "b.span")
    dup = (
        occ_pos.groupBy("span")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("span")
    )
    cov = (
        occ_pos.join(dup, "span")
        .select("doc_id", F.explode(F.expr(f"sequence(i, i + {n - 1})")).alias("j"))
        .groupBy("doc_id")
        .agg(F.collect_set("j").alias("cov"))
    )
    return (
        tk.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.expr(
                "array_join(transform(filter(transform(t, (x, i) ->"
                " struct(x AS x, i AS i)), s -> NOT"
                " array_contains(coalesce(cov, array()), s.i)),"
                " s -> s.x), ' ')"
            ).alias("text_clean"),
            # size(NULL) is -1 with ANSI off, so guard the no-cov
            # (nothing removed) case explicitly rather than coalescing.
            F.when(F.col("cov").isNull(), F.lit(0))
            .otherwise(F.size("cov"))
            .cast("long")
            .alias("n_removed"),
        )
        .withColumnRenamed("doc_id", id_col)  # honor the caller's name
    )


def _fuzzy_tagged(base: DataFrame, q: int) -> DataFrame:
    """Tagged positional q-grams for the Ed-Join family: one row per
    (string, gram occurrence) — ``(doc struct(id, l), t struct(g,
    occ, pos))`` over strings >= q chars. Tags (the occurrence# of a
    gram within its string) make prefix overlap a multiset
    intersection; computed in-row (O(L²) over a short key field).
    ``doc`` carries (id, length) ONLY — the 16 B/entry posting bound —
    and the gram array is let-bound once (the text._bind pattern, in
    SQL). Every tier (batch op, index build, streaming ingest) tags
    through here."""
    return base.where(f"length(s) >= {q}").selectExpr(
        "struct(id, length(s) AS l) AS doc",
        "explode(get(transform("
        f"array(transform(sequence(1, length(s) - {q - 1}),"
        f" i -> substring(s, i, {q}))),"
        " gs -> transform(gs, (x, i) -> struct(x AS g,"
        " size(filter(slice(gs, 1, i), y -> y = x)) AS occ,"
        " i AS pos))), 0)) AS t",
    )


def _reduced_prefix_expr(gl_col: str, q: int, d: int) -> str:
    """SQL expression: the LOCATION-REDUCED rarest-first prefix of a
    collected gram list — Ed-Join's location-based mismatch filtering
    (Xiao et al. VLDB'08), applied as prefix REDUCTION so it cuts
    candidates at the source instead of adding a pair-count exchange.

    ``gl_col`` is an ``array<struct<gdf, g, occ, pos>>`` (rarity key
    first, so ``array_sort`` is the global (gdf, g, occ) order;
    ``pos`` rides as tiebreak-inert payload). The fixed-length prefix
    ``q*d+1`` comes from "each edit destroys at most q tagged grams" —
    pure counting. Locations sharpen it: a tagged gram whose content
    occurs EXACTLY ONCE in the string can only go missing from a
    within-distance partner if an edit lands inside that gram's own
    q-char span (content untouched elsewhere would survive into the
    partner's multiset), so once the prefix holds d+1 unique grams
    with pairwise-disjoint spans, destroying all of them needs more
    than d edits — a pair sharing NONE of the prefix can stop there
    (non-unique contents conservatively count as free to destroy).
    Losslessness of the PAIRING keeps the two-sided prefix-filter
    argument because a reduced prefix is still a downward-closed
    prefix of the string's grams under the same total order: for the
    pair's max-order-side prefix P with order-max x_p, the other
    side's one-sided guarantee yields a shared gram z <= x_p, and
    downward closure puts z in BOTH prefixes. Measured at sf0.1
    (q=3, d=4, 24-char keys): mean prefix 13 -> 11.9, candidate pair
    rows 12.3M -> 10.3M, identical result.
    """
    pl = q * d + 1
    # ONE-PASS greedy over the rarity-sorted slice `sg` (let-bound via
    # the get(transform(array(...))) pattern): accept an element when
    # its content is unique in the string AND its position is >= q away
    # from every previously accepted position; stop at the (d+1)-th
    # acceptance. Accepted grams' spans are pairwise DISJOINT, so one
    # edit destroys at most one of them — destroying all d+1 needs more
    # than d edits, which is all the one-sided argument requires.
    # Content uniqueness comes from the let-bound `dups` list (contents
    # whose occurrence-#1 entry exists; 0-based occ), typically empty
    # for short keys — O(1) per candidate.
    #
    # Two stronger variants were measured and rejected: the EXACT
    # interval-stabbing cover (prefix mean 10.63 vs this form's
    # 11.93 at sf0.1 q=3 d=4; candidate rows 8.5M vs 10.3M vs the
    # unreduced 12.3M) costs ~250 interpreted-HOF lambda calls per doc
    # vs ~70 here, and the stage it runs in is AQE-coalesced to one
    # task at bench scale — its deeper cut was eaten by its own eval
    # cost (+0.3 s on the fuzzy row; with coalescing disabled it wins,
    # so the cut itself is real). A per-candidate exists() uniqueness
    # scan and a tagging-time content scan measured +0.23 s / +1 s.
    # The accumulator state is (accepted positions, stop index,
    # element counter); acc.js > 0 short-circuits the tail.
    step = (
        "aggregate(sg,"
        " struct(cast(array() AS array<int>) AS ps, 0 AS js, 0 AS i),"
        " (acc, e) -> IF(acc.js > 0,"
        "  struct(acc.ps AS ps, acc.js AS js, acc.i + 1 AS i),"
        "  IF(e.occ = 0 AND NOT array_contains(dups, e.g)"
        f"     AND NOT exists(acc.ps, p -> abs(p - e.pos) < {q}),"
        f"   IF(size(acc.ps) >= {d},"
        "     struct(acc.ps AS ps, acc.i + 1 AS js, acc.i + 1 AS i),"
        "     struct(array_append(acc.ps, e.pos) AS ps, 0 AS js,"
        "            acc.i + 1 AS i)),"
        "   struct(acc.ps AS ps, 0 AS js, acc.i + 1 AS i))),"
        " acc -> IF(acc.js = 0, size(sg), acc.js))"
    )
    dups_bind = (
        f"transform(filter(`{gl_col}`, y -> y.occ = 1), y -> y.g)"
    )
    return (
        f"get(transform(array(slice(array_sort(`{gl_col}`), 1, {pl})), sg -> "
        f"get(transform(array({dups_bind}), dups -> "
        f"slice(sg, 1, {step})), 0)), 0)"
    )


# Frozen-order sentinel for grams unseen at build_fuzzy_index time:
# larger than any real doc-frequency, so new-vocabulary grams sort
# AFTER every frozen-rarity gram (ties break on (g, occ) — the order
# stays TOTAL and fixed as the vocabulary grows, which is all the
# prefix-filter theorem needs; stale rarity costs selectivity, never
# correctness).
FUZZY_UNSEEN_GDF = 1 << 62


def _fuzzy_prefix(
    tagged: DataFrame, rarity: DataFrame, q: int, d: int
) -> DataFrame:
    """The prefix entries ``(g, occ, gdf, id, l)`` of each tagged
    string: its grams sorted rarest-first under ``rarity`` = (g, occ,
    gdf), location-reduced by :func:`_reduced_prefix_expr` (at most
    ``q*d+1`` per string). A gram missing from ``rarity`` orders on
    :data:`FUZZY_UNSEEN_GDF`; when ``rarity`` is the doc-frequency of
    ``tagged`` itself, every gram is present and the left join keeps
    every row an inner join would."""
    return (
        tagged.join(rarity, F.expr("t.g = g AND t.occ = occ"), "left")
        .groupBy("doc")
        .agg(F.expr(
            f"collect_list(struct(coalesce(gdf, {FUZZY_UNSEEN_GDF}) AS gdf,"
            " t.g AS g, t.occ AS occ, t.pos AS pos)) AS gl"
        ))
        .selectExpr("doc", f"explode({_reduced_prefix_expr('gl', q, d)}) AS t")
        .selectExpr("t.g AS g", "t.occ AS occ", "t.gdf AS gdf",
                    "doc.id AS id", "doc.l AS l")
    )


def _posting_pairs(
    postings: DataFrame, q: int, d: int, pair_kernel=_chunked_list_pairs
) -> DataFrame:
    """Candidate pairs ``(id_a, id_b)``, ``id_a < id_b``, of prefix
    entries ``(g, occ, id, l)`` that share a tagged gram, within the
    length band and with the longer side >= ``q*(d+1)`` chars (pairs
    of shorter strings go through :func:`_banded_short_pairs`).
    ``pair_kernel`` emits each list's pairs: the chunked kernel, or
    the in-place one for a micro-batch's lists. Posting lists carry
    (id, l) only, never the strings. A pair colliding on several
    grams comes out once per gram; the dedup runs after the verify."""
    grouped = (
        postings.groupBy("g", "occ")
        .agg(F.expr("collect_list(struct(id, l)) AS ds"))
        .where("size(ds) >= 2")
    )
    return (
        pair_kernel(grouped, "ds")
        .where(f"abs(a.l - b.l) <= {d} AND greatest(a.l, b.l) >= {q * (d + 1)}")
        .selectExpr("a.id AS id_a", "b.id AS id_b")
    )


def _banded_short_pairs(lhs: DataFrame, rhs: DataFrame, d: int) -> DataFrame:
    """Pairs ``(id_a, id_b)``, ``id_a < id_b``, of an ``lhs`` and an
    ``rhs`` string (both (id, l, ...)) whose lengths differ by at most
    ``d``: a bucket join where ``lhs`` explodes buckets [l, l+d]. The
    strict (l, id) order keeps each pair once, so joining a set with
    itself yields each unordered pair once, and the two length
    directions of two disjoint sets are disjoint."""
    return (
        lhs.selectExpr("id AS id_l", "l AS l_l",
                       f"explode(sequence(l, l + {d})) AS bkt")
        .join(rhs.selectExpr("id AS id_r", "l AS l_r", "l AS bkt"), "bkt")
        .where("l_l < l_r OR (l_l = l_r AND id_l < id_r)")
        .selectExpr("least(id_l, id_r) AS id_a", "greatest(id_l, id_r) AS id_b")
    )


def _verify_pairs(cands: DataFrame, strings: DataFrame, d: int) -> DataFrame:
    """The distinct ``(id_a, id_b, dist)`` of the candidate pairs whose
    strings (from ``strings`` = (id, s, ...)) lie within edit distance
    ``d``: the thresholded ``levenshtein`` stops early past ``d``
    (returning -1). ``dist`` is a function of the pair, so the dedup
    of repeated candidates runs here, on the true pairs only."""
    return (
        cands.join(strings.selectExpr("id AS id_a", "s AS s_a"), "id_a")
        .join(strings.selectExpr("id AS id_b", "s AS s_b"), "id_b")
        .select("id_a", "id_b", F.levenshtein("s_a", "s_b", d).alias("dist"))
        .where("dist >= 0")
        .distinct()
    )


def write_fuzzy_gram_layout(
    base: DataFrame,
    gramdf_path: str,
    postings_path: str,
    q: int,
    max_dist: int,
    n_buckets: int,
) -> None:
    """Write the ORDER-DEPENDENT half of the Ed-Join layout for
    ``base`` = (id, s): the frozen rarity table (``gramdf``) and the
    :func:`_fuzzy_prefix` postings derived under it. Shared by
    :func:`build_fuzzy_index` (fresh build) and the streaming loop's
    in-place rebuild (``fuzzy_index_stream_ingest
    rebuild_on_drift``), which regenerates EXACTLY these two dirs
    from the strings store when accumulated vocabulary drift has
    degraded prefix selectivity: strings/short/pairs are
    order-INDEPENDENT and survive a rebuild untouched."""
    tagged = _fuzzy_tagged(base, q)
    rarity = tagged.groupBy("t.g", "t.occ").agg(F.expr("count(1) AS gdf"))
    bucket = f"pmod(xxhash64(g, occ), {int(n_buckets)}) AS bucket"
    rarity.selectExpr("*", bucket).repartition("bucket").sortWithinPartitions(
        "g", "occ"
    ).write.mode("overwrite").partitionBy("bucket").parquet(gramdf_path)
    _fuzzy_prefix(tagged, rarity, int(q), int(max_dist)).selectExpr(
        "g", "occ", "id", "l", bucket
    ).repartition("bucket").sortWithinPartitions("g", "occ", "id").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(postings_path)


def _pairs_from_fuzzy_layout(
    postings: DataFrame,
    strings: DataFrame,
    short: DataFrame,
    q: int,
    d: int,
) -> DataFrame:
    """The exact distance-``d`` pair set of an Ed-Join layout:
    ``postings`` = the prefix entries (g, occ, id, l), ``strings`` =
    (id, s, ...), ``short`` = the length < ``q*(d+1)`` subset
    (id, l, ...). Posting-list collisions through the shared pair
    kernel plus the length-banded short block, then the verify. The
    two blocks are disjoint (the long block needs greatest(l) >=
    q*(d+1), the short block both sides below it).
    :func:`edit_distance_pairs` runs it over in-memory frames,
    :func:`build_fuzzy_index` over the layout it just wrote."""
    cands = _posting_pairs(postings, q, d).unionByName(
        _banded_short_pairs(short, short, d)
    )
    return _verify_pairs(cands, strings, d)


def build_fuzzy_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    str_col: str = "s",
    max_dist: int = 2,
    q: int = 2,
    n_buckets: int = 16,
) -> None:
    """Persist the Ed-Join layout for CONTINUOUS fuzzy-join maintenance
    (``streaming.jobs.fuzzy_index_stream_ingest``) — the fuzzy twin of
    the text/ANN index lifecycles. Layout under ``path``:

    * ``gramdf/``   — the FROZEN rarity table (g, occ, gdf),
      ``partitionBy(bucket = pmod(xxhash64(g, occ), n_buckets))``.
      Prefix filtering is lossless under ANY fixed total order shared
      by all strings (Xiao et al. VLDB'08 — rarity only buys
      selectivity), so freezing the order at build time keeps the
      incremental index EXACT; grams unseen at build order after every
      frozen one (:data:`FUZZY_UNSEEN_GDF` sentinel, ties on (g, occ)).
      Accumulated vocabulary drift degrades prefix selectivity (more
      candidates), never correctness — rebuild to restore it, the same
      contract as the ANN drift rule.
    * ``postings/`` — prefix entries (g, occ, id, l), same bucketing,
      sorted by (g, occ) within buckets so probes' pushed filters
      row-group-skip.
    * ``strings/``  — (id, s, l) ``partitionBy(sbucket =
      pmod(xxhash64(id), n_buckets))``: the verify tier joins
      candidate ids back to strings; bucketing lets dynamic partition
      pruning cut the read when the candidate side broadcasts.
    * ``short/``    — the (id, s, l) subset with l < q·(max_dist+1),
      read whole by every batch's length-banded short block (tiny for
      real key fields — bounded by the short-string count).
    * ``pairs/``    — the EXACT pair set (id_a, id_b, dist) over
      everything indexed so far; the build derives it from the layout
      it just wrote (:func:`_pairs_from_fuzzy_layout`, the batch op's
      own pair step) and the ingest appends each batch's new pairs, so
      after any drain it equals :func:`edit_distance_pairs` over the
      union corpus bit-for-bit.
    * ``stats/``    — the sidecar (``ops.layout._write_sidecar``): q,
      max_dist, n_buckets, n_strings and applied_keys, the ingest
      parameters and the per-file replay guard.

    Every dir is staged in a temp dir and swapped in, the sidecar last
    (the ``build_text_index`` protocol), so a rebuild that fails part
    way leaves the old layout intact.
    """
    d, T = int(max_dist), int(q) * (int(max_dist) + 1)
    base = df.select(
        F.col(id_col).alias("id"), F.col(str_col).alias("s")
    ).filter(F.col("s").isNotNull())
    n_strings = base.count()
    if n_strings == 0:
        raise ValueError("build_fuzzy_index: empty corpus — nothing to index")
    spark = df.sparkSession

    # The three store derivations below are independent of one another
    # (gramdf+postings chain; strings; short) — submit them from a
    # small thread pool so the short jobs back-fill the executor tail
    # of the long one (guide §2.6, overlap independent jobs). Actions
    # are thread-safe on one session; each thread's jobs just
    # interleave on the scheduler. The pairs seed afterwards reads the
    # finished layout, so it stays sequential.
    from concurrent.futures import ThreadPoolExecutor

    b = {n: f"{path}/{n}__build"
         for n in ("gramdf", "postings", "strings", "short", "pairs")}
    strings = base.selectExpr("id", "s", "length(s) AS l")

    def _w_gram_postings() -> None:
        write_fuzzy_gram_layout(
            base, b["gramdf"], b["postings"], q, d, n_buckets
        )

    def _w_strings() -> None:
        strings.selectExpr(
            "*", f"pmod(xxhash64(id), {int(n_buckets)}) AS sbucket"
        ).repartition("sbucket").sortWithinPartitions("id").write.mode(
            "overwrite"
        ).partitionBy("sbucket").parquet(b["strings"])

    def _w_short() -> None:
        strings.where(f"l < {T}").write.mode("overwrite").parquet(b["short"])

    with ThreadPoolExecutor(max_workers=3) as pool:
        for fut in [pool.submit(_w_gram_postings), pool.submit(_w_strings),
                    pool.submit(_w_short)]:
            fut.result()

    # The postings read-back is the prefix chain's output, so seeding
    # pairs/ from the layout skips re-tagging the corpus.
    _pairs_from_fuzzy_layout(
        spark.read.parquet(b["postings"]),
        spark.read.parquet(b["strings"]),
        spark.read.parquet(b["short"]),
        q=int(q), d=d,
    ).selectExpr(
        "CAST(id_a AS BIGINT) AS id_a", "CAST(id_b AS BIGINT) AS id_b", "dist"
    ).write.mode("overwrite").parquet(b["pairs"])

    for n, tmp in b.items():
        _swap_dirs(spark, f"{path}/{n}", tmp, "rebuild")
    _write_sidecar(spark, {"q": int(q), "max_dist": d,
                           "n_buckets": int(n_buckets),
                           "n_strings": int(n_strings), "applied_keys": []},
                   f"{path}/stats", "rebuild")


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    str_col: str = "s",
    max_dist: int = 2,
    q: int = 2,
) -> DataFrame:
    """All pairs (id_a < id_b) with levenshtein(s_a, s_b) <= max_dist —
    fuzzy self-join for SHORT key fields (titles, URLs, product names).

    Never all-pairs: candidates come from a positional q-gram inverted
    index under RARITY-ORDERED PREFIX FILTERING (the Ed-Join family —
    Xiao et al. VLDB'08; prefix-filter theorem from Chaudhuri et al.
    ICDE'06): grams are tagged with their occurrence# so overlap is a
    multiset intersection, and two strings within edit distance d share
    at least ``max(|A|,|B|) - q*d`` tagged grams (Gravano et al.
    VLDB'01). By the prefix-filter theorem any such pair must therefore
    collide inside the first ``q*d + 1`` tagged grams of EACH string
    under any fixed global order — so only those grams are indexed,
    ordered rarest-first (global (doc-freq, gram, occ) order) so the
    indexed grams are the most selective ones. Locations sharpen the
    bound further (Ed-Join's location-based mismatch filter as prefix
    REDUCTION, :func:`_reduced_prefix_expr`): the prefix stops early
    once it holds ``d+1`` unique-content grams with pairwise disjoint
    spans — destroying all of them needs more than ``d`` edits —
    cutting posting lists, and the quadratic candidate stage they
    feed, at the source, still lossless. This bounds every string's
    posting contribution at q*d+1 REGARDLESS of text entropy:
    ubiquitous grams ("http", "the ") sort last and never enter the
    index unless a string has nothing rarer. Survivors get a
    thresholded early-exit ``levenshtein(l, r, d)`` verify (returns -1
    past the threshold). All filters are lossless; the verify makes
    precision exact, so the result is EXACTLY the distance-d pair set.

    Two more lossless pre-filters stack on top: the length band
    (``abs(len_a - len_b) <= d``) and the block split below.

    Strings shorter than ``T = q*(max_dist+1)`` can match without
    sharing ANY q-gram, so the join runs as two disjoint lossless
    blocks: pairs whose LONGER side is >= T must collide in the prefix
    index (if the shorter side had < q chars, the length band already
    makes the pair impossible); pairs with both sides < T go through a
    length-banded bucket join over the short subset only (bounded by
    the short-string count, not the corpus).

    Posting lists carry (id, length) ONLY — 16 bytes per entry, never
    the strings — so even a degenerate identical-prefix cluster of
    100k strings buffers ~1.6 MB in one aggregation row, not the
    ~10 MB+ a string-carrying list would; the strings come back via an
    id join for the verify step (candidate-count-bounded, AQE
    broadcasts the small side).

    Shape: one in-row tagging pass, one narrow (gram, occ) doc-freq
    aggregate joined back (AQE broadcasts it when small), one per-doc
    regroup to take the reduced prefix in-row (:func:`_fuzzy_prefix`),
    then the index's own pair step over these in-memory frames
    (:func:`_pairs_from_fuzzy_layout`): posting-list grouping, chunked
    pair generation, a string join, verify, then pair dedup on the
    survivors. Every shuffle carries ids + lengths (plus the candidate
    pairs' strings at the verify), never documents.
    """
    d, T = int(max_dist), q * (int(max_dist) + 1)
    base = df.select(
        F.col(id_col).alias("id"), F.col(str_col).alias("s")
    ).filter(F.col("s").isNotNull())
    tagged = _fuzzy_tagged(base, q)
    rarity = tagged.groupBy("t.g", "t.occ").agg(F.expr("count(1) AS gdf"))
    strings = base.selectExpr("id", "s", "length(s) AS l")
    return _pairs_from_fuzzy_layout(
        _fuzzy_prefix(tagged, rarity, q, d), strings,
        strings.where(f"l < {T}"), q, d,
    )
