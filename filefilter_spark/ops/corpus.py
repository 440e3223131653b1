"""Corpus-assembly operators for LLM training-data pipelines.

Beyond-reference tier (same rationale as ops/dedup and ops/text): the
operations that turn a cleaned document corpus into training-ready
data — deterministic dataset splitting, fixed-budget sequence packing,
benchmark-contamination measurement. All JVM-side expressions; each has
an oracle-checked registry entry in ``queries/extensions.py``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from filefilter_spark.ops.cluster import double_array_lit
from filefilter_spark.ops.text import shingles, tokens

_HASH_SPACE = 16 ** 8  # first 8 hex chars of md5 = 32-bit prefix


def split_cutoffs(weights: dict[str, float]) -> list[tuple[str, str | None]]:
    """Normalize split weights to cumulative hex cutoffs over the
    32-bit md5-prefix space: ``[(name, cutoff_hex)...]``, last cutoff
    ``None`` (the catch-all). Shared by the Spark expression and the
    SQL oracle so both compare against identical constants."""
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError(f"weights must be positive: {weights}")
    total = float(sum(weights.values()))
    names = list(weights)
    out: list[tuple[str, str | None]] = []
    cum = 0.0
    for name in names[:-1]:
        cum += weights[name] / total
        out.append((name, format(min(_HASH_SPACE - 1, int(cum * _HASH_SPACE)), "08x")))
    out.append((names[-1], None))
    return out


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: int = 42,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by content hash.

    The first 8 hex chars of ``md5(id || ':' || seed)`` are compared
    against precomputed cumulative cutoffs (:func:`split_cutoffs`).
    Unlike ``randomSplit`` — whose assignment depends on partitioning
    and row order — this is a pure per-row projection: stable across
    engines, reruns, cluster sizes, and repartitioning, which is what
    makes a split reproducible (and auditable) on a 100 TB corpus. No
    shuffle, no state; Catalyst keeps it inside the scan's project.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    prefix = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))), 1, 8
    )
    case: Column | None = None
    for name, cutoff in split_cutoffs(weights):
        if cutoff is None:
            expr = F.lit(name) if case is None else case.otherwise(name)
        else:
            case = (
                F.when(prefix < cutoff, name)
                if case is None
                else case.when(prefix < cutoff, name)
            )
    return df.withColumn(split_col, expr)


def dsir_logweights(
    source: DataFrame,
    target: DataFrame | Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hex: int = 3,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR-style importance log-weights for targeted data selection
    (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling" — the hashed-n-gram variant that made
    importance resampling tractable at corpus scale).

    Each ``source`` document is scored by how much more likely its
    hashed unigram+bigram features are under the ``target``
    distribution than under the source's own:
    ``logw = Σ_f ln(p_target(bucket(f)) / p_source(bucket(f)))``, with
    add-``alpha`` smoothing over the ``16**n_hex`` buckets. High
    ``logw`` = looks like the target corpus; select by top-k/threshold
    (compose with :func:`quota` / ``TakeOrderedAndProject``) to build
    a target-flavored subcorpus from a general crawl.

    Buckets are the first ``n_hex`` hex chars of ``md5(feature)`` —
    a STRING key computed identically by Spark and ANSI SQL, which is
    what lets this op carry an exact cross-engine oracle (the usual
    integer-hash buckets have no DuckDB twin). 4,096 buckets at the
    default matches the paper's 10k-bucket regime.

    Scale shape (r13 — the perplexity/gopher-rep settlement applied
    here): ONE bucket-count job (when ``target`` is a Column
    predicate over ``source`` — the common "target is a slice of the
    corpus" case — a SINGLE tagged scan counts q and t together; an
    arbitrary target frame tag-unions two streams), its ≤ B-row
    result collected to the driver (the PQ-codebook collect tier —
    structurally bounded by ``16**n_hex``, no cap needed), log-ratios
    computed driver-side as Python floats (same fixed-order IEEE ops
    both engines run), and the SCORING pass is then a PURE
    PROJECTION: each doc folds an O(1) dense-array lookup over its
    in-row feature array — zero joins, zero exchanges, no explode, no
    groupBy(doc_id). The r12 shape broadcast-joined a lazily-derived
    ratio table onto an exploded feature stream and shuffled ~2
    feature-rows per token into a per-doc aggregate; measured at
    sf0.1 that was the last data-heavy >2×-DuckDB bench row (3.8×).
    The multiply-referenced token/feature arrays are staged as lambda
    variables (``_bind``), NOT select aliases — see
    :func:`~filefilter_spark.ops.text.gopher_repetition` for why that
    is load-bearing (alias inlining under predicate pushdown has no
    cost check).

    Returns ``(doc_id, n_feats, logw)`` (logw rounded to 6dp, the
    repo's cross-engine double-fold tolerance); docs with zero tokens
    have no features and drop out (pre-filtered by a cheap ``\\S``
    match, equivalent to a non-empty token array). NOTE: the bucket
    counting runs EAGERLY at call time (one job); the returned frame
    is lazy.
    """
    import math

    from filefilter_spark.ops.text import _bind

    n_buckets = 16 ** n_hex

    def feat_buckets(tk: Column) -> Column:
        """Unigram+bigram md5-prefix buckets of a token array, in
        position order (unigrams first) — one in-row array, no
        explode needed by the consumer that can fold it."""
        bi = F.when(
            F.size(tk) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.concat(
                    F.element_at(tk, i), F.lit(" "), F.element_at(tk, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(
            F.concat(tk, bi), lambda f: F.substring(F.md5(f), 1, n_hex)
        )

    barr = _bind(tokens(F.lower(F.col(text_col))), feat_buckets)

    # One aggregation job: ≤ n_buckets rows after map-side combine,
    # collected driver-side. A predicate target rides the SAME scan
    # as a 0/1 tag (source is never read twice); a frame target
    # tag-unions a second stream.
    if isinstance(target, Column):
        stream = source.select(
            F.explode(barr).alias("__b"),
            F.lit(1).alias("__q"),
            target.cast("boolean").cast("int").alias("__t"),
        )
    else:
        stream = source.select(
            F.explode(barr).alias("__b"),
            F.lit(1).alias("__q"), F.lit(0).alias("__t"),
        ).unionByName(
            target.select(
                F.explode(barr).alias("__b"),
                F.lit(0).alias("__q"), F.lit(1).alias("__t"),
            )
        )
    counts = (
        stream.groupBy("__b")
        .agg(F.sum("__q").alias("__qc"), F.sum("__t").alias("__tc"))
        .collect()
    )
    nq = float(sum(r["__qc"] for r in counts))
    nt = float(sum(r["__tc"] for r in counts))
    ab = float(alpha) * n_buckets

    def lr(qc: float, tc: float) -> float:
        return math.log(
            ((tc + alpha) / (nt + ab)) / ((qc + alpha) / (nq + ab))
        )

    # Lookup structure choice is load-bearing: Catalyst's element_at
    # on a literal MAP is a linear key scan (ArrayBasedMapData has no
    # hash index), i.e. O(B) string compares per feature — measured
    # 6x DuckDB at sf0.1, WORSE than the join it replaced. A DENSE
    # literal array indexed by the bucket's integer value is one O(1)
    # ordinal access. Buckets absent from the counts get the
    # qc = tc = 0 ratio (cannot be hit by source rows — every source
    # feature was counted — but defined rather than NULL). Dense only
    # pays at the default scale (16**3 doubles = 32 KB of plan
    # literal); above n_hex = 4 the array would bloat every task, so
    # the sparse map (functional, slower) takes over.
    default_lr = lr(0.0, 0.0)
    if n_hex <= 4:
        dense = [default_lr] * n_buckets
        for r in counts:
            dense[int(r["__b"], 16)] = lr(float(r["__qc"]), float(r["__tc"]))
        lrarr = double_array_lit(dense)

        def lookup(b: Column) -> Column:
            # element_at is 1-based; b is the bucket's int value
            return F.element_at(lrarr, b + 1)

        def to_key(bks: Column) -> Column:
            return F.transform(
                bks, lambda s: F.conv(s, 16, 10).cast("int")
            )
    else:  # pragma: no cover - non-default plan-size fallback
        # Sparse map (element_at on a literal map is a linear key
        # scan — functional, far slower than the dense tier; only
        # reachable at n_hex > 4 where a dense array would bloat
        # every serialized task). One parse per key and value array;
        # bucket keys are hex chars, so no quoting concerns.
        ks = ",".join(f"'{r['__b']}'" for r in counts)
        lrmap = F.map_from_arrays(
            F.expr(f"array({ks})"),
            double_array_lit(
                [lr(float(r["__qc"]), float(r["__tc"])) for r in counts]
            ),
        )

        def lookup(b: Column) -> Column:
            return F.coalesce(F.element_at(lrmap, b), F.lit(default_lr))

        def to_key(bks: Column) -> Column:
            return bks

    def score(bks: Column) -> Column:
        s = F.aggregate(
            to_key(bks), F.lit(0.0), lambda acc, b: acc + lookup(b)
        )
        return F.struct(
            F.size(bks).cast("long").alias("n_feats"),
            F.round(s, 6).alias("logw"),
        )

    battery = _bind(
        tokens(F.lower(F.col(text_col))),
        lambda tk: _bind(feat_buckets(tk), score),
    )
    staged = (
        source.filter(F.col(text_col).rlike(r"\S"))
        .select(F.col(id_col), battery.alias("__d"))
    )
    d = F.col("__d")
    return staged.select(
        id_col, d["n_feats"].alias("n_feats"), d["logw"].alias("logw")
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: int = 42,
    split_col: str = "split",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Train/val/test split that cannot leak through near-duplicates.

    :func:`hash_split` keyed per document lets two near-identical
    documents land on opposite sides of the train/test boundary — the
    contamination path that inflates eval scores (the reason the
    dedup-before-split ordering exists at all; see Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"). This
    variant hashes the CLUSTER REPRESENTATIVE instead: connected
    components over the supplied near-dup ``pairs`` frame (any pair
    generator — Jaccard, MinHash bands, SimHash — via
    :func:`~filefilter_spark.ops.dedup.cluster_pairs`), every member of
    a cluster keyed by the cluster's min doc id, singletons by their
    own id. All near-dup copies therefore share one hash draw and one
    split — leakage is impossible by construction, while singleton
    assignment is IDENTICAL to ``hash_split`` (same md5-prefix draw on
    the same id), so adding pair coverage only ever moves whole
    clusters, never reshuffles the rest of the corpus.

    Scale shape: the cluster map is bounded by the number of docs that
    HAVE a near-dup (usually ≪ corpus) — the left join against it is
    size-based broadcast when small, AQE-planned shuffle otherwise;
    the split itself stays a pure projection. Split fractions apply to
    cluster REPRESENTATIVES, so heavy duplication skews realized
    per-doc fractions toward big clusters' splits — inherent to any
    leakage-safe scheme (the alternative IS the leak), and the reason
    to dedup before splitting when fractions must be exact.
    """
    from filefilter_spark.ops.dedup import cluster_pairs

    clusters = cluster_pairs(pairs, id_a=id_a, id_b=id_b).select(
        F.col("doc_id").alias(id_col), F.col("cluster_id").alias("__grp_rep")
    )
    keyed = df.join(clusters, id_col, "left").withColumn(
        "__grp", F.coalesce(F.col("__grp_rep"), F.col(id_col))
    )
    return (
        hash_split(keyed, id_col="__grp", weights=weights, seed=seed,
                   split_col=split_col)
        .drop("__grp", "__grp_rep")
    )


def pack_sequences(
    df: DataFrame,
    cost_col: str | Column,
    budget: int,
    part_col: str = "source",
    order_col: str = "doc_id",
    bin_col: str = "bin_id",
) -> DataFrame:
    """Assign documents to fixed-budget bins by running token total —
    the streaming formulation of context-window packing: doc d goes to
    bin ``floor(prev_cumulative_cost / budget)`` within its shard, so
    each bin holds ~budget tokens (the straddling doc is the standard
    truncate-or-carry decision left to the consumer).

    Deterministic given (part_col, order_col). The window is PER SHARD
    on purpose: a single global ordering would serialize the whole
    corpus through one partition; per-shard packing shuffles once on
    the shard key and scales with shard count. Returns df + bin_col
    (bin ids are per-shard; pair with part_col for a global key).
    """
    cost = F.col(cost_col) if isinstance(cost_col, str) else cost_col
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum(cost).over(w), F.lit(0))
    return df.withColumn(bin_col, F.floor(prev / F.lit(budget)))


def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document benchmark-contamination fraction: the share of the
    doc's distinct word n-grams that appear anywhere in the benchmark
    set (the standard train/test-leakage check before training).

    Shape: the benchmark side collapses to DISTINCT shingles (tiny —
    eval sets are KBs against a 100 TB corpus, so the semi-join build
    side broadcasts); the corpus side explodes to (doc, shingle)
    postings and left-semi joins. Two narrow shuffles + one broadcast;
    document bodies never move. Returns
    (id_col, n_shingles, n_contaminated, contamination).
    """
    bench = (
        benchmark.select(F.explode(shingles(text_col, shingle_n)).alias("__t"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # ONE tokenize+shingle pass: since per-doc shingles are distinct,
    # n_shingles is just the posting count, so the broadcast LEFT join
    # marks hits and a single aggregation yields both counts — no second
    # corpus scan for array sizes.
    posting = docs.select(
        F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("__t")
    )
    return (
        posting.join(F.broadcast(bench), "__t", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("__hit").alias("n_contaminated"),
        )
        .withColumn(
            # Raw IEEE quotient of two ints — cross-engine exact (see
            # text.repetition_score note on why no explicit round).
            "contamination",
            F.col("n_contaminated") / F.col("n_shingles"),
        )
    )


def marginal_novelty(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document marginal novelty in ingest order: the share of the
    doc's distinct word n-grams whose FIRST occurrence (minimum
    ``id_col``) is this doc — i.e. how much content each document adds
    that no earlier document already carried. The corpus-curation
    complement to :func:`contamination` (which scores overlap against
    an EXTERNAL reference): aggregated by source/batch it ranks feeds
    by new-content contribution and tracks dedup pressure as a crawl
    grows; a near-zero tail is the signal to stop ingesting a source.

    Returns ``(id_col, n_shingles, n_novel, novelty)`` — novelty is
    the raw IEEE quotient of two ints (cross-engine exact, same
    convention as ``contamination``).

    Shape: each shingle TYPE credits exactly one doc (its min-id
    holder), so the op is two independent map-combinable aggregations
    over one posting explode — ``groupBy(shingle).min(id)`` then a
    per-doc count of credits, plus a per-doc posting count — joined
    doc-to-doc at the end. Deliberately NOT a window
    (``min(id) over (partition by shingle)`` has no partial
    aggregation: a stop-phrase shingle's entire posting list lands on
    one reducer) and NOT a posting self-join (same skew on the probe
    side). The cost is the explode feeding two aggregations — two
    passes over one subtree, the same recompute-beats-materialize
    trade the perplexity ×64 probe measured (SCALING.md): both
    aggregations are skew-proof, shuffle shingle→partial-count rows
    (types, not occurrences), and the final join is doc-bounded.
    """
    posting = docs.select(
        F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("__t")
    )
    first = posting.groupBy("__t").agg(F.min(id_col).alias("__fd"))
    novel = first.groupBy(F.col("__fd").alias(id_col)).agg(
        F.count("*").alias("n_novel")
    )
    tot = posting.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    return (
        tot.join(novel, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce("n_novel", F.lit(0).cast("long")).alias("n_novel"),
        )
        .withColumn("novelty", F.col("n_novel") / F.col("n_shingles"))
    )


def rate_cutoff_hex(rate: float) -> str | None:
    """Keep-rate -> md5-prefix cutoff hex (None = keep everything).
    Shared with the SQL oracle so both engines compare identical
    constants."""
    if rate < 0 or rate > 1:
        raise ValueError(f"rate must be in [0, 1]: {rate}")
    if rate >= 1.0:
        return None
    return format(int(rate * _HASH_SPACE), "08x")


def weighted_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    salt: str = "#mix",
) -> DataFrame:
    """Deterministic per-group rate sampling — the data-mixing step of
    corpus assembly (down-weight web crawl, keep all books, ...).

    Keep a row iff ``md5(id || salt || seed)`` prefix < its group's
    cutoff — the same engine-portable hash trick as :func:`hash_split`
    with an INDEPENDENT salt (default ``'#mix'``; callers layering
    several sampling decisions pass distinct salts —
    :func:`temperature_sample` uses ``'#temp'`` — so the decisions stay
    uncorrelated with each other and with the split). Pure projection + filter: no shuffle, no RNG state,
    bit-reproducible across engines/reruns/partitionings, and changing
    one group's rate only touches that group's rows (sample/randomSplit
    give neither property). Unlisted groups get ``default_rate``.
    """
    prefix = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"{salt}{seed}"))), 1, 8
    )
    cutoff: Column = F.lit(rate_cutoff_hex(default_rate) or "g")  # 'g' > any hex
    for name, rate in rates.items():
        c = rate_cutoff_hex(rate)
        cutoff = F.when(F.col(group_col) == name, F.lit(c if c is not None else "g")).otherwise(cutoff)
    return df.filter(prefix < cutoff)


def repeat_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    salt: str = "#rep",
) -> DataFrame:
    """Execute a mixture plan whose rates may EXCEED 1 — the
    data-constrained repetition regime (Muennighoff et al. 2023) that
    :func:`mixture_budget` *plans* (``rate > 1`` / ``epochs =
    ceil(rate)``) but :func:`weighted_sample` cannot *materialize*
    (its cutoffs cap at keep-everything). A source at rate ``r``
    yields ``floor(r)`` FULL epochs of its rows plus a fractional
    epoch sampled at ``r - floor(r)`` — so realized token mass ≈
    ``r × available`` per source. Emits an ``epoch`` column
    (0-based) so downstream stages (and trainers) can distinguish the
    copies; rate 0 drops the source, rates in (0, 1] degenerate to
    one fractionally-sampled epoch.

    Determinism: the fractional-epoch keep decision hashes
    ``id || salt || seed || '#e' || epoch`` — the same md5-prefix
    trick as :func:`weighted_sample` with the EPOCH FOLDED INTO THE
    SALT, so each copy's fractional draw is independent,
    bit-reproducible across engines/partitionings, and uncorrelated
    with the '#mix'/'#temp'/split decisions.

    Spark shape: pure projection + one row-generating ``explode`` of
    a per-row kept-epochs array (when-chain literals per source — no
    join, no shuffle, no RNG state). Output rows = input × rate,
    linear at any scale; at 100 TB the explode runs inside the scan
    stage and downstream ops see an ordinary DataFrame.
    """
    import math

    for name, r in rates.items():
        if r < 0:
            raise ValueError(f"repeat_sample: rate must be >= 0: {name}={r}")
    if default_rate < 0:
        raise ValueError("repeat_sample: default_rate must be >= 0")

    def arms(rate: float) -> tuple[int, str]:
        full = int(math.floor(rate))
        # fractional cutoff: f == 0 -> '00000000', which no md5 prefix
        # is below, so integer rates get exactly `full` epochs.
        return full, rate_cutoff_hex(rate - full) or "00000000"

    d_full, d_cut = arms(default_rate)
    nf: Column = F.lit(d_full)
    fc: Column = F.lit(d_cut)
    for name, rate in rates.items():
        full, cut = arms(rate)
        nf = F.when(F.col(group_col) == name, F.lit(full)).otherwise(nf)
        fc = F.when(F.col(group_col) == name, F.lit(cut)).otherwise(fc)
    kept = F.filter(
        F.sequence(F.lit(0), nf),  # 0..floor inclusive; last = fractional
        lambda e: (e < nf)
        | (
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit(f"{salt}{seed}#e"),
                        e.cast("string"),
                    )
                ),
                1, 8,
            )
            < fc
        ),
    )
    return df.withColumn("epoch", F.explode(kept))


def temperature_rates(
    counts: dict[str, int],
    alpha: float = 0.5,
    target_total: int | None = None,
) -> dict[str, float]:
    """Per-group keep-rates for temperature-based corpus re-sampling
    (the mT5/XLM-R multinomial scheme): sampling mass ∝ p_g^alpha,
    flattening the source distribution toward uniform as alpha → 0.
    ``target_total`` is the sampled-corpus budget (default: corpus
    size); groups whose flattened share exceeds their population are
    capped at rate 1.0 (sampling is without replacement).

    Float determinism contract (shared with the SQL oracle): every step
    is a correctly-rounded IEEE double op — integer-exact sums, one
    division, ``sqrt`` for the alpha=0.5 default, and a LEFT FOLD over
    groups in name order for the normalizer Z — so any engine repeating
    the sequence reproduces the rates bit-for-bit. Non-0.5 alphas go
    through ``pow``, which is NOT correctly rounded; cross-engine use
    should stick to 0.5 (documented, not enforced).
    """
    import math

    if not counts:
        raise ValueError("counts must be non-empty")
    names = sorted(counts)
    n_total = float(sum(counts.values()))
    target = float(target_total) if target_total is not None else n_total
    if alpha == 0.5:
        share = {g: math.sqrt(counts[g] / n_total) for g in names}
    else:
        share = {g: (counts[g] / n_total) ** alpha for g in names}
    z = 0.0
    for g in names:  # ordered left fold — see determinism contract
        z += share[g]
    return {
        g: min(1.0, target * share[g] / z / float(counts[g])) for g in names
    }


def temperature_sample(
    df: DataFrame,
    alpha: float = 0.5,
    target_total: int | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    max_groups: int = 100_000,
) -> DataFrame:
    """Temperature-flattened corpus mixing: one tiny count aggregation
    (driver traffic bounded by the number of groups — the same bound
    as every per-source knob in this module), rates from
    :func:`temperature_rates`, then the deterministic md5-prefix gate
    of :func:`weighted_sample` under an independent ``#temp`` salt.
    Pure count + projection + filter: no RNG state, bit-reproducible
    across engines/reruns/partitionings.

    ``max_groups`` is the loud-failure cap on the collect (the same
    bounded-fan-in contract as the sketch/bloom fan-ins): a
    high-cardinality ``group_col`` — an id column passed by mistake —
    raises instead of silently pulling the corpus onto the driver.
    """
    limited = df.groupBy(group_col).count().limit(max_groups + 1).collect()
    if len(limited) > max_groups:
        raise ValueError(
            f"temperature_sample: > {max_groups} distinct {group_col!r} "
            "groups — this is a per-SOURCE mixing knob, not a per-row "
            "one; pass a coarser group_col or raise max_groups"
        )
    # NULL-group rows (missing source/lang in a real crawl) pass
    # through untouched: they are excluded from the rate computation,
    # and weighted_sample's CASE falls to default_rate=1.0 for them
    # (NULL == name is NULL). Keeping them is the conservative choice —
    # dropping unattributed data is a policy decision, not a sampler's.
    counts = {r[0]: r[1] for r in limited if r[0] is not None}
    if not counts:
        return df
    rates = temperature_rates(counts, alpha, target_total)
    return weighted_sample(
        df, rates, default_rate=1.0, group_col=group_col,
        id_col=id_col, seed=seed, salt="#temp",
    )


def quota_sample(
    df: DataFrame,
    quota: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-group QUOTA sampling — cap every source at
    ``quota`` rows (rate sampling caps a FRACTION; corpora with one
    giant crawl source need an absolute cap per source).

    Rows rank within their group by ``md5(id || '#quota' || seed)`` —
    a uniform, reproducible shuffle order, independent of the split
    and mix salts — and the first ``quota`` survive. Id tiebreak makes
    the ordering total even under (improbable) hash collisions.

    Scale shape: one shuffle on ``group_col``; the rank-filter compiles
    to Spark's WindowGroupLimit, which prunes each group to the top
    ``quota`` rows BEFORE the sort buffer grows, so a billion-row group
    costs O(group) scan + O(quota) memory — not a full per-group sort.
    A pathological single-source corpus degrades to one task scanning
    that source; if that is the shape, pre-aggregate with a two-pass
    hash-threshold (approx_percentile of the rank hash at
    quota/group_count) instead.
    """
    rank = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"#quota{seed}")))
    w = Window.partitionBy(group_col).orderBy(rank.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= quota)
        .drop("__rn")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split long documents into fixed-size overlapping token chunks —
    the context-window preparation step of a training/RAG pipeline
    (documents rarely fit the model's window; chunks with overlap
    preserve cross-boundary context).

    Chunk i starts at token ``i * (chunk_tokens - overlap)``; starts
    run while they leave more than ``overlap`` unseen tokens (so the
    final partial chunk is emitted once, not duplicated), and every
    non-empty document yields at least one chunk. Pure array
    expressions (sequence/slice/posexplode) — the explode multiplies
    rows by ~len/stride but each output row is one chunk, so the op is
    linear in total token count and embarrassingly partition-parallel:
    no shuffle at all.

    Returns ``(doc_id, chunk_id, chunk_text, n_tokens)``.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap {overlap} must be in [0, chunk_tokens={chunk_tokens})"
        )
    from filefilter_spark.ops.text import tokens

    stride = chunk_tokens - overlap
    tk = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t"))
    chunks = tk.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, greatest(size(t) - {overlap} - 1, 0), {stride}),"
                f" s -> slice(t, s + 1, {chunk_tokens}))"
            )
        ).alias("chunk_id", "ck"),
    )
    return chunks.filter(F.size("ck") > 0).select(
        F.col("doc_id").alias(id_col),  # honor the caller's id name
        "chunk_id",
        F.array_join("ck", " ").alias("chunk_text"),
        F.size("ck").cast("long").alias("n_tokens"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    max_contamination: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """REMOVE benchmark-contaminated documents — the enforcement
    counterpart of :func:`contamination` (which only measures): keep
    rows whose contaminated-shingle share is ≤ ``max_contamination``
    (0 = drop on any overlap).

    Shape: the contamination scores reduce to a small offender id set
    (only docs ABOVE the threshold), and the corpus anti-joins on ids —
    so document bodies cross no shuffle and the common case (clean doc)
    pays only the posting explode it already paid for measurement.
    """
    offenders = (
        contamination(docs, benchmark, id_col, text_col, shingle_n)
        .filter(F.col("contamination") > max_contamination)
        .select(id_col)
    )
    return docs.join(offenders, id_col, "left_anti")


def dataset_report(
    df: DataFrame,
    group_cols: tuple[str, str] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """The corpus "dataset card": per-source, per-language, and overall
    composition in ONE pass — doc counts, token/char volume, and the
    quality-score envelope. What a training-data pipeline publishes
    next to the shards it writes.

    One GROUPING SETS aggregation = one shuffle over (group, partials).
    Every metric is chosen to be exactly reproducible on any engine:
    counts and token/char sums are integer arithmetic (exact at any
    aggregation order), and the quality envelope is reported as
    min/max — order-INDEPENDENT, unlike a mean of doubles, whose
    value depends on float summation order and so cannot be promised
    bit-identical across engines (the mean lives in
    ``ops.text.quantiles`` style summaries instead).
    """
    from filefilter_spark.ops.text import quality_score, token_count

    a, b = group_cols
    base = df.select(
        F.col(a),
        F.col(b),
        token_count(text_col).alias("__tok"),
        F.length(text_col).alias("__chars"),
        quality_score(text_col).alias("__q"),
    )
    return base.groupingSets(
        [[F.col(a)], [F.col(b)], []], F.col(a), F.col(b)
    ).agg(
        # Bitmask of aggregated-away columns: without it, a REAL null
        # group value (lang missing in a crawl) is indistinguishable
        # from the rollup marker rows.
        F.grouping_id().alias("gset"),
        F.count("*").alias("n_docs"),
        F.sum("__tok").alias("n_tokens"),
        F.sum("__chars").alias("n_chars_total"),
        F.min("__q").alias("q_min"),
        F.max("__q").alias("q_max"),
    )


def mixture_budget(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    token_col: str = "n_chars",
    group_col: str = "source",
) -> DataFrame:
    """Token-budget planning for a target mixture — the bookkeeping
    step BEFORE :func:`weighted_sample`/:func:`temperature_sample`
    execute a plan: given per-source target weights and a total token
    budget, emit one row per source with what's available, what the
    mixture asks for, and what that implies:

    - ``n_docs`` / ``available_tokens`` — corpus-side facts (one
      map-combining aggregation; output is sources-bounded, a
      dataset-card-sized frame, never corpus rows),
    - ``weight`` — the source's NORMALIZED target share (weights are
      normalized over their own sum, so callers can pass unnormalized
      ratios; sources absent from ``weights`` get 0),
    - ``target_tokens`` — ``budget × weight``,
    - ``rate`` — ``target/available``; **rate > 1 means the plan
      repeats data** (the Muennighoff et al. 2023 data-constrained
      regime): the mixture cannot be met with unique tokens —
      :func:`repeat_sample` executes such plans,
    - ``epochs`` — ``ceil(rate)``, how many passes over the source the
      sampler needs to draw from.

    A source named in ``weights`` but ABSENT from the corpus (or
    present with zero/null token mass) still gets a plan row —
    ``n_docs``/``available_tokens`` 0 and rate/epochs NULL
    (unsatisfiable): a budgeted-but-missing source is exactly the
    misconfiguration a budget planner exists to surface, so it must
    not vanish from the plan. (The weight-keys frame is a literal
    handful of rows full-outer joined onto the sources-bounded
    aggregate — dataset-card-sized at any corpus scale.)

    All arithmetic is fixed-order double expressions over exact int64
    sums and literal weights — exact cross-engine; ratios round to 6dp
    for the oracle.
    """
    if token_budget <= 0:
        raise ValueError("mixture_budget: token_budget must be positive")
    tot = float(sum(weights.values()))
    if tot <= 0:
        raise ValueError("mixture_budget: weights must sum to > 0")
    w_expr = F.lit(0.0)
    for name, w in weights.items():
        w_expr = F.when(
            F.col(group_col) == name, F.lit(float(w) / tot)
        ).otherwise(w_expr)
    agg = df.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col(token_col).cast("long")).alias("available_tokens"),
    )
    keys = df.sparkSession.createDataFrame(
        [(n,) for n in sorted(weights)], f"{group_col} string"
    )
    agg = (
        agg.join(keys, group_col, "full_outer")
        .select(
            group_col,
            F.coalesce("n_docs", F.lit(0).cast("long")).alias("n_docs"),
            F.coalesce("available_tokens", F.lit(0).cast("long")).alias(
                "available_tokens"
            ),
        )
    )
    weight = F.round(w_expr, 6)
    target = F.round(F.lit(float(token_budget)) * w_expr, 6)
    satisfiable = F.col("available_tokens") > 0
    rate = F.when(
        satisfiable,
        F.round(
            F.lit(float(token_budget)) * w_expr
            / F.col("available_tokens").cast("double"),
            6,
        ),
    )
    return agg.select(
        group_col, "n_docs", "available_tokens",
        weight.alias("weight"),
        target.alias("target_tokens"),
        rate.alias("rate"),
        F.when(
            satisfiable,
            F.ceil(
                F.lit(float(token_budget)) * w_expr
                / F.col("available_tokens").cast("double")
            ).cast("int"),
        ).alias("epochs"),
    )


def execute_budget(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    token_col: str = "n_tokens",
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    max_groups: int = 100_000,
) -> DataFrame:
    """Plan AND execute a token-budgeted mixture in one call — the
    composition :func:`mixture_budget` → :func:`repeat_sample` that a
    data-constrained pretraining run actually wants: given target
    ``weights`` and a ``token_budget``, aggregate per-source available
    tokens, derive each source's sampling rate (``budget × normalized
    weight / available`` — **may exceed 1**, the Muennighoff et al.
    2023 repetition regime), and materialize it: ``floor(rate)`` full
    epochs plus a hash-sampled fractional epoch per source, ``epoch``
    column emitted. Sources not named in ``weights`` get no budget and
    are dropped; a source named but absent/empty simply yields no rows
    (its unsatisfiability is visible in :func:`mixture_budget`'s plan,
    which callers should run first for the report).

    Determinism contract: rates are computed from the EXACT int64
    token sums and literal weight fractions with fixed-order double
    arithmetic (``budget × (w/Σw) ÷ available``) — NOT from the
    6dp-rounded ``rate`` column of the plan — so the derived md5
    cutoffs are bit-identical on any engine repeating the same three
    IEEE-754 operations; the keep decisions inherit
    :func:`repeat_sample`'s partition-invariant hash contract.

    Spark shape: one sources-bounded aggregate collected to the driver
    (rows = #sources — dataset-card-sized at any corpus scale, the
    same collect tier the PQ codebooks use) to derive literal rates,
    then :func:`repeat_sample`'s pure projection + explode. Two jobs,
    one tiny collect, zero wide shuffles of document rows.

    ``max_groups`` is the loud-failure cap on that collect (the same
    bounded-fan-in contract as :func:`temperature_sample`): a
    high-cardinality ``group_col`` — an id column passed by mistake —
    raises instead of silently pulling the corpus onto the driver.
    """
    total_w = float(sum(weights.values()))
    if total_w <= 0:
        raise ValueError("execute_budget: weights must sum > 0")
    limited = (
        df.groupBy(group_col)
        .agg(F.sum(F.col(token_col).cast("long")).alias("a"))
        .limit(max_groups + 1)
        .collect()
    )
    if len(limited) > max_groups:
        raise ValueError(
            f"execute_budget: > {max_groups} distinct {group_col!r} "
            "groups — this is a per-SOURCE budgeting knob, not a "
            "per-row one; pass a coarser group_col or raise max_groups"
        )
    avail = {r[group_col]: r["a"] for r in limited}
    rates: dict[str, float] = {}
    for name, w in weights.items():
        a = avail.get(name)
        if a:
            rates[name] = float(token_budget) * (w / total_w) / float(a)
    return repeat_sample(
        df, rates, default_rate=0.0, group_col=group_col,
        id_col=id_col, seed=seed,
    )


def assemble_packed_sequences(
    df: DataFrame,
    tokens_col: str,
    budget: int,
    part_col: str = "source",
    order_col: str = "doc_id",
    sep_token=None,
) -> DataFrame:
    """The last mile of sequence packing: :func:`pack_sequences`
    assigns docs to fixed-budget bins; this CONCATENATES each bin's
    token streams in deterministic ``order_col`` order into one
    training row — ``(part, bin_id, tokens, doc_ids, doc_offsets,
    n_tokens)``, where ``doc_offsets[i]`` is the 0-based start of
    ``doc_ids[i]`` inside ``tokens``: the document-boundary metadata a
    packed-sequence trainer needs to reset position ids and mask
    cross-document attention.

    ``sep_token`` (r12): trainers almost always pack with an EOS/sep
    token between documents — when set, it is inserted BETWEEN
    consecutive streams (never before the first or after the last)
    and ``doc_offsets`` point at each doc's first own token (past its
    leading separator). Its type must match the token element type
    (string tokens → string sep, int ids → int sep). Bin budgeting
    happens on raw doc sizes, so a packed row may exceed ``budget``
    by up to ``n_docs_in_bin − 1`` separator tokens; ``n_tokens``
    counts them.

    Shuffle shape: the per-shard packing window (one shuffle on
    ``part_col``), then ONE groupBy on (part, bin) whose per-group
    payload is bounded by ~``budget`` tokens plus the straddling doc —
    never a whole shard. In-bin order is restored by ``array_sort``
    over (order_col, tokens) structs and offsets are an exact integer
    fold, so the result is partition-invariant and carries an exact
    cross-engine oracle."""
    cost = F.size(F.col(tokens_col))
    binned = pack_sequences(
        df, cost, budget, part_col=part_col, order_col=order_col
    )
    items = binned.groupBy(part_col, "bin_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("oid"),
                    F.col(tokens_col).alias("tk"),
                )
            )
        ).alias("docs")
    )
    if sep_token is None:
        toks = F.flatten(F.transform(F.col("docs"), lambda d: d["tk"]))
    else:
        sep = F.lit(sep_token)
        toks = F.flatten(
            F.transform(
                F.col("docs"),
                lambda d, i: F.when(i == F.lit(0), d["tk"]).otherwise(
                    F.concat(F.array(sep), d["tk"])
                ),
            )
        )
    doc_ids = F.transform(F.col("docs"), lambda d: d["oid"])
    # exclusive prefix sums of per-doc lengths — exact int64 fold;
    # non-first docs start one past their leading separator (pad 1)
    pad_val = 0 if sep_token is None else 1
    offsets = F.aggregate(
        F.col("docs"),
        F.struct(
            F.lit(0).cast("long").alias("acc"),
            F.array().cast("array<bigint>").alias("off"),
        ),
        lambda st, d: F.struct(
            (
                st["acc"]
                + F.when(F.size(st["off"]) == 0, F.lit(0))
                .otherwise(F.lit(pad_val))
                + F.size(d["tk"])
            ).cast("long").alias("acc"),
            F.concat(
                st["off"],
                F.array(
                    st["acc"]
                    + F.when(F.size(st["off"]) == 0, F.lit(0))
                    .otherwise(F.lit(pad_val))
                ),
            ).alias("off"),
        ),
        lambda st: st["off"],
    )
    return items.select(
        part_col,
        "bin_id",
        toks.alias("tokens"),
        doc_ids.alias("doc_ids"),
        offsets.alias("doc_offsets"),
        F.size(toks).alias("n_tokens"),
    )


def keep_top_fraction(
    df: DataFrame,
    score: Column,
    frac: float,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top ``frac`` of rows per group by score — the
    percentile quality gate ("keep the best 30% of every source"),
    the relative counterpart to an absolute threshold: it adapts to
    each source's score distribution instead of hard-coding a cutoff
    that web crawl fails wholesale and books pass wholesale.

    Exact, deterministic semantics: within each group, rows ranked by
    the 6dp-ROUNDED score (descending, id tiebreak — the cross-engine
    ranking guard) keep ranks 1..ceil(frac * group_count). ceil of the
    same IEEE product is engine-portable, so the kept set is
    reproducible across engines, reruns, and partitionings.

    Scale shape: ranking runs over a NARROW (group, score, id)
    projection — one window shuffle keyed by group; bodies come back
    by id semi-join (AQE picks broadcast when the survivor set is
    small). The per-group limit is data-dependent (ceil(frac*cnt)),
    which is why this is a window + filter rather than the
    WindowGroupLimit-rewritable constant-k form ``quota_sample`` uses.
    """
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"keep_top_fraction: frac must be in (0, 1]: {frac}")
    w = Window.partitionBy(group_col)
    wo = w.orderBy(F.desc("__ktf_score"), F.asc(id_col))
    ranked = df.select(
        F.col(id_col), F.col(group_col),
        F.round(score, 6).alias("__ktf_score"),
    ).select(
        id_col,
        F.row_number().over(wo).alias("__ktf_rn"),
        F.ceil(F.lit(float(frac)) * F.count(F.lit(1)).over(w)).alias(
            "__ktf_cap"
        ),
    )
    keep_ids = ranked.filter(F.col("__ktf_rn") <= F.col("__ktf_cap")).select(
        id_col
    )
    return df.join(keep_ids, id_col, "semi")


def keep_top_fraction_skewed(
    df: DataFrame,
    score: Column,
    frac: float,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`keep_top_fraction` for POWER-LAW group keys — identical
    kept set (same 6dp-rounded ranking, same ceil cap, same id
    tiebreak), but NO window ever ranks a whole group's rows in one
    task: the per-group rank cutoff is computed from COUNTS, the
    ``ops/skew.py`` two-phase pattern applied to the gate.

    How the cutoff is found without ranking rows:

    1. **Score-class counting** — rows collapse to (group, rounded
       score) counts: a map-combined aggregate, immune to group skew.
       A window over the DISTINCT-SCORE rows (|classes| per group, not
       |rows| — bounded by the 6dp rounding's value density) finds, per
       group, which classes fit wholly under ``cap = ceil(frac*count)``
       and which single class straddles it (``remaining`` slots).
    2. **Whole classes** resolve by a broadcast semi-join — the class
       table is tiny; the corpus never shuffles for them.
    3. **The straddling class** needs its ``remaining`` smallest ids —
       exact tie handling. That is a distributed RADIX SELECT: four
       16-bit digit rounds over the sign-flipped id, each round a
       map-combined (group, digit) count (<= 65,536 counter rows per
       group — skew-proof by construction) plus a broadcast filter
       narrowing to the straddling digit. After the last round only
       byte-identical ids remain; a final row_number window ranks that
       residue, whose size is the duplicate multiplicity of ONE id
       value (1, when ``id_col`` is a key).

    Every aggregate is map-combinable, every window runs over counter
    rows with bounded per-group cardinality, and the corpus itself only
    ever passes through broadcast joins — a group holding 90% of a
    100 TB corpus at one score value still never concentrates on a
    task. Cost: the counting phases re-derive the narrow
    (id, group, score) projection roughly a dozen times across the
    broadcast tables and union branches (column-pruned scans — a few
    percent of corpus bytes each), a constant factor that buys the
    straggler collapse; below the skew regime the plain
    :func:`keep_top_fraction`'s single window is cheaper
    (measured crossover in SCALING.md "window-skew").
    """
    if not 0.0 < frac <= 1.0:
        raise ValueError(
            f"keep_top_fraction_skewed: frac must be in (0, 1]: {frac}"
        )
    id_type = dict(df.dtypes).get(id_col)
    if id_type not in {"tinyint", "smallint", "int", "bigint"}:
        raise ValueError(
            "keep_top_fraction_skewed: the radix select orders ids by "
            f"integer digits; id_col {id_col!r} is {id_type!r} — use an "
            "integral id (or keep_top_fraction for non-numeric keys)"
        )
    G, Q = "__ktfs_g", "__ktfs_q"
    scored = df.select(
        F.col(id_col),
        F.col(group_col).alias(G),
        F.round(score, 6).alias(Q),
    )

    def _ns_join(left: DataFrame, right: DataFrame, cols: list[str],
                 how: str) -> DataFrame:
        """NULL-SAFE broadcast equi-join on ``cols``: a null group,
        score class, or radix digit is a REAL class the plain window
        form ranks (groupBy keeps null keys; desc orders them last,
        matching desc_nulls_last) — a plain column-list join would
        silently drop those rows and diverge from keep_top_fraction.
        EqualNullSafe keys still hash-join, so the broadcast shape is
        unchanged."""
        ren = right
        for c in cols:
            ren = ren.withColumnRenamed(c, f"__nsj_{c}")
        cond = None
        for c in cols:
            e = F.col(c).eqNullSafe(F.col(f"__nsj_{c}"))
            cond = e if cond is None else cond & e
        out = left.join(F.broadcast(ren), cond, how)
        if how not in ("semi", "left_semi"):
            out = out.drop(*[f"__nsj_{c}" for c in cols])
        return out

    # phase 1: score-class counts + per-group cap from the same counts
    classes = scored.groupBy(G, Q).agg(F.count(F.lit(1)).alias("__c"))
    wg = Window.partitionBy(G).orderBy(F.desc(Q))
    cum = F.coalesce(
        F.sum("__c").over(wg.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    # cap must reproduce keep_top_fraction's IEEE product exactly:
    # ceil(float(frac) * <int64 count>) — same double multiply
    wcap = Window.partitionBy(G)
    classed = classes.select(
        G, Q, "__c",
        cum.alias("__cum"),
        F.ceil(F.lit(float(frac)) * F.sum("__c").over(wcap)).alias("__cap"),
    )
    full_classes = classed.filter(
        F.col("__cum") + F.col("__c") <= F.col("__cap")
    ).select(G, Q)
    straddle = classed.filter(
        (F.col("__cum") < F.col("__cap"))
        & (F.col("__cap") < F.col("__cum") + F.col("__c"))
    ).select(G, Q, (F.col("__cap") - F.col("__cum")).alias("__r"))

    kept = [
        _ns_join(scored, full_classes, [G, Q], "semi").select(id_col)
    ]

    # phase 2: radix select of the __r smallest ids in the straddling
    # class. Sign-bit flip makes unsigned digit order == signed order.
    work = _ns_join(scored, straddle, [G, Q], "inner").select(
        id_col, G, "__r",
        F.col(id_col).cast("long").bitwiseXOR(
            F.lit(-9223372036854775808)
        ).alias("__u"),
    )
    for shift in (48, 32, 16, 0):
        dig = (
            F.shiftrightunsigned(F.col("__u"), shift)
            .bitwiseAND(F.lit(65535))
            .alias("__d")
        )
        counts = work.select(G, "__r", dig).groupBy(G, "__d").agg(
            F.count(F.lit(1)).alias("__c"), F.max("__r").alias("__r2")
        )
        wd = Window.partitionBy(G).orderBy("__d")
        cum2 = F.coalesce(
            F.sum("__c").over(wd.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        cc = counts.select(G, "__d", "__c", "__r2", cum2.alias("__cum"))
        full_d = cc.filter(
            F.col("__cum") + F.col("__c") <= F.col("__r2")
        ).select(G, "__d")
        next_d = cc.filter(
            (F.col("__cum") < F.col("__r2"))
            & (F.col("__r2") < F.col("__cum") + F.col("__c"))
        ).select(G, "__d", (F.col("__r2") - F.col("__cum")).alias("__rn"))
        tagged = work.withColumn("__d", dig)
        kept.append(
            _ns_join(tagged, full_d, [G, "__d"], "semi").select(id_col)
        )
        work = (
            _ns_join(tagged, next_d, [G, "__d"], "inner")
            .drop("__r", "__d")
            .withColumnRenamed("__rn", "__r")
        )
    # residue: byte-identical ids (multiplicity of one id value per
    # group) — the window is as many rows as that multiplicity
    wi = Window.partitionBy(G).orderBy(id_col)
    kept.append(
        work.withColumn("__rank", F.row_number().over(wi))
        .filter(F.col("__rank") <= F.col("__r"))
        .select(id_col)
    )

    keep_ids = kept[0]
    for k in kept[1:]:
        keep_ids = keep_ids.unionByName(k)
    return df.join(keep_ids, id_col, "semi")
