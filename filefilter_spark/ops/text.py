"""Text-analysis operators for LLM training-data pipelines (OP-D4).

All JVM-side (built-in ``pyspark.sql.functions`` — no Python in the hot
path): tokenization, token counting, n-grams, language-ID heuristic,
quality scoring, document fingerprinting. Each helper returns columns,
composable into any pipeline; the inventory queries in
``queries/extensions.py`` wire them to the ``documents`` table with
DuckDB oracles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Tiny in-expression stopword lists for the language-ID heuristic.
# (A real pipeline broadcasts a bigger lexicon; the heuristic shape —
# per-language stopword hit-rate over tokens — is the scalable part.)
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "es", "por"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "une", "est", "pour"],
}

_WORD_RE = r"\s+"
# BPE-ish pre-tokenizer: runs of letters, runs of digits, or single
# non-space symbols — the GPT-2-style pretokenization shape.
BPE_ISH_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, _WORD_RE), lambda t: t != "")


def _bind(expr: Column, fn) -> Column:
    """Let-binding for column expressions: evaluate ``expr`` ONCE and
    pass it to ``fn`` as a lambda variable, via transform over a
    1-element array. Without this, an expression referenced k times in
    a composite (e.g. tokens() inside shingles) is inlined and
    re-evaluated k times per row — regex splits are the expensive
    subtree here, so single-eval is a real constant-factor win."""
    return F.get(F.transform(F.array(expr), fn), 0)


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: str | Column) -> Column:
    """Token count under a BPE-style pre-tokenizer regex (regexp_count
    stays JVM-side — no UDF)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_ISH_RE))


def _all_shingles(tk: Column, n: int) -> Column:
    """Word n-gram MULTISET over a token array (duplicates kept; short
    texts collapse to one whole-text shingle) — the single definition
    both :func:`shingles` and :func:`repetition_score` build on."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0)))
    return F.when(
        F.size(tk) >= n,
        F.transform(idx, lambda i: F.array_join(F.slice(tk, i + 1, n), " ")),
    ).otherwise(F.array(F.array_join(tk, " ")))


def shingles(col: str | Column, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (distinct), built with
    higher-order functions — no UDF, no explode round-trip. The token
    array is let-bound so the tokenizing regex runs once per row."""
    return _bind(tokens(col), lambda tk: F.array_distinct(_all_shingles(tk, n)))


def repetition_score(col: str | Column, n: int = 3) -> Column:
    """Duplicated-n-gram fraction — the Gopher-style repetition signal
    (``1 - distinct/total`` over the word n-gram MULTISET; 0 for
    repetition-free text, →1 for loops/boilerplate). Shares the
    let-bound single-tokenization shape with :func:`shingles`, but
    keeps duplicates: the whole point is counting them."""

    def build(tk: Column) -> Column:
        all_sh = _all_shingles(tk, n)
        # No explicit round: both engines do the same IEEE-754 division
        # on the same integers, and engine round() half-way behavior on
        # doubles differs — the raw quotient is the cross-engine-stable
        # form (the oracle canonicalizer compares at 1e-10).
        return 1 - F.size(F.array_distinct(all_sh)) / F.size(all_sh)

    return _bind(tokens(col), build)


def detect_language(col: str | Column) -> Column:
    """N-gram/stopword-hit-rate language ID: argmax over per-language
    stopword ratios; 'und' when nothing hits. Tokenizes once (let-bound)
    regardless of how many languages are scored."""

    def score(tk: Column) -> Column:
        best_lang = F.lit("und")
        best_ratio = F.lit(0.0)
        for lang in LANG_STOPWORDS:
            sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
            hits = F.size(F.filter(tk, lambda t: F.array_contains(sw, F.lower(t))))
            r = hits / F.greatest(F.size(tk), F.lit(1))
            is_better = r > best_ratio
            best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
            best_ratio = F.when(is_better, r).otherwise(best_ratio)
        return best_lang

    return _bind(tokens(col), score)


def quality_score(col: str | Column) -> Column:
    """Composite [0,1] quality heuristic: length band, alpha ratio,
    mean word length band — the standard cheap pre-filters before
    expensive model-based scoring."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_alpha = F.length(F.regexp_replace(c, r"[^a-zA-Z]", ""))
    alpha_ratio = n_alpha / F.greatest(n_chars, F.lit(1))
    n_toks = token_count(c)
    mean_word_len = n_chars / F.greatest(n_toks, F.lit(1))
    length_ok = (n_chars >= 50) & (n_chars <= 20000)
    word_len_ok = (mean_word_len >= 2.0) & (mean_word_len <= 12.0)
    return (
        F.when(length_ok, 0.4).otherwise(0.0)
        + F.when(word_len_ok, 0.3).otherwise(0.0)
        + alpha_ratio * 0.3
    )


def fingerprint(col: str | Column) -> Column:
    """Deterministic document fingerprint: md5 over whitespace-normalized
    lowercase text. Stable across engines (md5 is md5) — the exact-dedup
    key for OP-D1 at scale (hash once, group on 16 bytes, not on 100 KB
    of text)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))


def winnow_fingerprints(
    col: str | Column, shingle_n: int = 3, window: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03): hash every word ``shingle_n``-gram IN ORDER, slide a
    ``window`` over the hash sequence, keep each window's minimum —
    the selected set is a position-robust fingerprint with guaranteed
    coverage (any match of length ≥ window+shingle_n-1 tokens shares a
    fingerprint). Returns a sorted distinct ``array<string>``.

    All JVM array expressions (sequence/transform/slice/array_min),
    one tokenize pass per row. Hashes are md5 hex strings so the
    selected minima (lexicographic) agree bit-for-bit with the DuckDB
    oracle — the rolling-min is O(len·window), the standard trade for
    an engine-portable fingerprint."""

    def build_hashes(tk: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - shingle_n, F.lit(0)))
        seq = F.when(
            F.size(tk) >= shingle_n,
            F.transform(
                idx, lambda i: F.array_join(F.slice(tk, i + 1, shingle_n), " ")
            ),
        ).otherwise(F.array(F.array_join(tk, " ")))
        return F.transform(seq, F.md5)

    def select_mins(hs: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(hs) - window, F.lit(0)))
        sel = F.when(
            F.size(hs) >= window,
            F.transform(idx, lambda i: F.array_min(F.slice(hs, i + 1, window))),
        ).otherwise(F.array(F.array_min(hs)))
        return F.array_sort(F.array_distinct(sel))

    hashed = _bind(tokens(col), build_hashes)
    return _bind(hashed, select_mins)


# PII scrub patterns — deliberately conservative, expressible in both
# Java regex (Spark) and RE2 (DuckDB oracle): no backrefs, no lookarounds.
# Order matters: URLs first (they contain dots that could otherwise be
# half-eaten by the email pattern), then emails, then phone-like runs.
PII_PATTERNS = [
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+[0-9][0-9-]{6,}[0-9]", "<PHONE>"),
]


def redact_pii(col: str | Column) -> Column:
    """PII redaction — the standard scrub step before LLM training-data
    release: URLs, emails, and international-format phone numbers are
    replaced with typed placeholder tokens. Chained ``regexp_replace``
    stays entirely JVM-side (whole-stage codegen; zero Python in the
    hot path) and each pattern replaces ALL matches per row — one pass
    per pattern over the value, no explode/re-join."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full stat battery as columns."""
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        bpe_ish_token_count(text_col).alias("n_bpe_tokens"),
        detect_language(text_col).alias("lang_detected"),
        quality_score(text_col).alias("quality"),
        fingerprint(text_col).alias("fp"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    k: int = 5,
    min_len: int = 2,
) -> DataFrame:
    """Top-k characteristic terms per group by tf-idf — the standard
    corpus-profiling pass (what distinguishes each source/domain).

    Shape: explode to (group, token) postings, ONE aggregation to term
    frequencies; group-frequency per token is a window over the tf rows
    (bounded by groups x vocabulary, far smaller than the corpus —
    no second shuffle of postings); the distinct-group count joins in
    as a broadcast scalar. Scores are rounded to 6dp BEFORE ranking so
    both engines rank identical keys (ln differs at ulp level across
    libm implementations).
    """
    from pyspark.sql import Window

    tok = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
        )
        .filter(F.length("tok") >= min_len)
    )
    tf = tok.groupBy("grp", "tok").agg(F.count("*").alias("tf"))
    n_grp = tf.select(F.count_distinct("grp").alias("n_groups"))
    scored = (
        tf.withColumn("df_groups", F.count("*").over(Window.partitionBy("tok")))
        .crossJoin(F.broadcast(n_grp))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_groups") / F.col("df_groups")), 6),
        )
    )
    w_rank = Window.partitionBy("grp").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(
            F.col("grp").alias(group_col),
            "tok", "tf", "df_groups", "tfidf",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def bigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    max_model_literal: int = 20_000,
) -> DataFrame:
    """Per-document bigram language-model score — the CCNet/KenLM-style
    "perplexity filter" of LLM data pipelines, as pure Spark SQL: train
    an add-alpha-smoothed bigram model ON the corpus itself, score each
    document by mean negative log-probability of its bigrams (low =
    fluent/typical, high = gibberish/outlier). Documents with fewer
    than two tokens have no bigrams and drop out.

    Returns ``(doc_id, n_bigrams, nll)`` with nll rounded to 6dp (the
    same cross-engine double-fold tolerance as the cosine operators).

    Scale shape: 100% JVM — no Python ever touches the data. Tokens
    are hashed to int64 (``xxhash64``) right after the split, so
    everything downstream moves fixed-width ints, never token
    strings. The model build is ONE scan: each doc explodes to its
    hashed bigram pairs PLUS one ``(token, NULL)`` marker per token,
    and a single map-combining groupBy counts both at once (shuffle
    traffic is types per partition, not occurrences; the NULL-marker
    groups give the exact vocab size with no second tokenize pass).
    A ``limit``-bounded collect caps driver traffic regardless of
    corpus size. Small models (pair types ≤ ``max_model_literal``):
    smoothing probabilities are computed on the driver and scoring is
    one scan with a broadcast hash-join against the model (O(1)
    probes — a nested-map-literal variant measured 2× slower because
    Catalyst's map lookup is a linear scan) and a partially-aggregated
    doc_id fold. Bigger vocabularies: fully distributed occurrence-
    join on the 8-byte hash keys, join strategy left to AQE (the
    model can exceed broadcast size at vocab² scale). Both regimes do
    the smoothing arithmetic in IEEE doubles, so output is identical.
    Hashing trades exactness for speed only in theory: a 64-bit
    collision within a ≤20k-token vocab (p ≈ 2e-11) would merge two
    tokens' counts; the exact DuckDB oracle would catch it. History:
    a string-array mapInPandas fold measured 2.6× DuckDB at sf0.1
    growing to 11.9× at ×8 — Arrow transfer of token strings WAS the
    cost, which is why nothing crosses the JVM boundary anymore.
    """
    tk = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("t"))
    # Hash once, JVM-side. size(t) < 2 must be filtered BEFORE
    # sequence(): Spark's sequence(0, -1) infers a DESCENDING step and
    # would emit a null-index bigram instead of an empty list.
    hk = tk.select(
        "doc_id",
        F.expr("transform(t, x -> xxhash64(x))").alias("h"),
        F.size("t").alias("n"),
    )
    bi = (
        hk.filter(F.col("n") >= 2)
        .select(
            "doc_id",
            F.expr(
                "explode(transform(sequence(0, n - 2),"
                " i -> struct(h[i] AS w1, h[i + 1] AS w2))) AS b"
            ),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    # Combined model-build probe in ONE scan/aggregation: bigram pairs
    # for every ≥2-token doc, plus per-token vocab markers (w2 IS
    # NULL; real pairs can't collide since tokens are never null) for
    # SINGLE-token docs only — every token of a ≥2-token doc already
    # appears as some pair's w1 or w2, so the exact vocab is the
    # driver-side union of pair sides and markers, and the explode
    # stays at ~n rows per doc instead of 2n. Driver traffic is
    # bounded by the limit: ≤ 2·cap+1 rows back means the collect is
    # COMPLETE; 2·cap+2 means overflow → fall through to the
    # distributed plan (which recomputes the counts — persisting here
    # would pin a cache into the returned lazy plan's lifetime, which
    # the caller can't manage).
    bound = 2 * max_model_literal + 2
    head = (
        hk.select(
            F.expr(
                "explode(CASE WHEN n >= 2 THEN transform(sequence(0, n - 2),"
                "   i -> struct(h[i] AS w1, h[i + 1] AS w2))"
                " ELSE transform(h, x ->"
                "   struct(x AS w1, CAST(NULL AS BIGINT) AS w2))"
                " END) AS b"
            )
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n12"))
        .limit(bound)
        .collect()
    )
    pairs = [r for r in head if r["w2"] is not None]
    if len(head) < bound and pairs and len(pairs) <= max_model_literal:
        vocab: set = {r["w1"] for r in head}
        vocab.update(r["w2"] for r in pairs)
        vocab_n = len(vocab)
        # c1 (bigram-start counts) folds out of the pair counts on the
        # driver: sum_w2 n12(w1, w2) = n1(w1).
        n1: dict = {}
        for r in pairs:
            n1[r["w1"]] = n1.get(r["w1"], 0) + r["n12"]
        import pandas as pd

        spark = df.sparkSession
        # Arrow path (pandas) rather than py4j row serialization — the
        # model can be max_model_literal rows.
        model = spark.createDataFrame(
            pd.DataFrame(
                {
                    "w1": [r["w1"] for r in pairs],
                    "w2": [r["w2"] for r in pairs],
                    "p": [
                        (r["n12"] + alpha)
                        / (n1[r["w1"]] + alpha * vocab_n)
                        for r in pairs
                    ],
                }
            ),
            "w1 long, w2 long, p double",
        )
        return (
            bi.join(F.broadcast(model), ["w1", "w2"])
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_bigrams"),
                F.round(-F.avg(F.log("p")), 6).alias("nll"),
            )
        )

    # Distributed fallback (vocabulary too large for a driver-side
    # model, or no bigrams at all — the empty plan is free and keeps
    # one schema). Joins shuffle 8-byte hash keys, never tokens.
    c12 = bi.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    c1 = c12.groupBy("w1").agg(F.sum("n12").alias("n1"))
    vocab = hk.select(F.explode("h").alias("x")).agg(
        F.count_distinct("x").alias("vocab")
    )
    model = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "p",
            (F.col("n12") + F.lit(alpha))
            / (F.col("n1") + F.lit(alpha) * F.col("vocab")),
        )
        .select("w1", "w2", "p")
    )
    return (
        bi.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(-F.avg(F.log("p")), 6).alias("nll"),
        )
    )

def domain_filter(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
) -> DataFrame:
    """URL-domain extraction + blocklist filtering — the domain-level
    curation step of web-corpus pipelines (drop link farms, adult
    domains, known-spam hosts). Adds ``domain_col`` (the URL's host,
    lowercased) and anti-joins against ``blocklist`` (a one-column
    ``domain`` table).

    Host extraction is ``parse_url(url, 'HOST')`` — a JVM intrinsic,
    no regex engine in the hot path. The blocklist anti-join
    broadcasts: real blocklists are ~1e5-1e7 short strings (a few MB),
    far under the broadcast threshold, so the corpus never shuffles.
    """
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    with_domain = df.withColumn(
        domain_col, F.lower(F.parse_url(c, F.lit("HOST")))
    )
    return with_domain.join(
        F.broadcast(blocklist.select(F.col("domain").alias(domain_col))),
        domain_col,
        "left_anti",
    )


# The 8 "must contain >= 2 of" stopwords from Gopher's quality rules
# (Rae et al. 2021, appendix A1.1).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str | None = "doc_id",
) -> DataFrame:
    """The Gopher document-quality rule battery (Rae et al. 2021,
    appendix A1.1 — the filter set C4/MassiveText-lineage pipelines
    standardized on), as one row per doc: the measured signals, a
    boolean per rule, and ``keep`` = AND of all rules.

    Signals / rules (thresholds are the paper's):

    - ``n_words`` in [50, 100000]            → ``words_ok``
    - ``mean_word_len`` in [3, 10]           → ``word_len_ok``
    - ``symbol_ratio`` (('#' + '...') occurrences per word) ≤ 0.1
                                             → ``symbol_ok``
    - ``bullet_frac`` (lines starting with a bullet) ≤ 0.9
                                             → ``bullet_ok``
    - ``ellipsis_frac`` (lines ending with an ellipsis) ≤ 0.3
                                             → ``ellipsis_ok``
    - ``alpha_word_frac`` (words with ≥1 [A-Za-z]) ≥ 0.8
                                             → ``alpha_ok``
    - ``stopword_hits`` (distinct GOPHER_STOPWORDS present) ≥ 2
                                             → ``stopword_ok``
    - ``dup_line_frac`` (1 − distinct/total non-empty lines) ≤ 0.3
                                             → ``dup_line_ok``
    - ``dup_line_char_frac`` (chars in repeat line occurrences /
      total line chars) ≤ 0.2                → ``dup_char_ok``
    - ``dup_para_frac`` (same, over ``\\n\\n``-split paragraphs) ≤ 0.3
                                             → ``dup_para_ok``
    - ``dup_para_char_frac`` (chars in repeat paragraph occurrences /
      total paragraph chars) ≤ 0.2           → ``dup_para_char_ok``

    Spark shape: a PURE PROJECTION — every signal is an array/regex
    expression over the row's own text (split/filter/aggregate/
    array_distinct), so the op has ZERO shuffles and scales as a
    map-only pass at any corpus size; the plan is one
    WholeStageCodegen scan→project. Each signal let-binds its
    token/line split once (``_bind``), so the row pays ~4 token splits
    + ~3 line splits, not one per downstream reference — the bounded
    constant-factor tradeoff of staying shuffle-free. Ratios are
    rounded to 6 places so the values carry an exact cross-engine
    oracle (duckdb list_* twins).

    Divergence from the paper, stated: top-n-gram char fractions live
    in :func:`repetition_score` instead of here. (The paragraph dup
    tier — previously missing — landed in r11: paragraphs are
    ``\\n\\n``-split, trimmed, non-empty, same recipe as lines.)

    ``id_col=None`` keeps EVERY incoming column and appends the
    signal/rule columns instead of projecting down to the id — the
    attach-in-place shape the zero-code ``gopher`` pipeline stage
    uses (still a pure projection: no join, no shuffle).
    """
    t = F.coalesce(
        F.col(text_col) if isinstance(text_col, str) else text_col,
        F.lit(""),
    )

    def split_trim(sep: str) -> Column:
        # non-empty-after-trim pieces; blank separators carry no
        # signal. Paragraphs use non-overlapping left-to-right "\n\n"
        # splits — the same convention DuckDB's string_split applies,
        # so the oracle matches piece-for-piece.
        return F.filter(
            F.transform(F.split(t, sep), lambda x: F.trim(x)),
            lambda x: x != "",
        )

    fdiv = lambda num, den: F.when(  # noqa: E731 - local ratio helper
        den > 0, F.round(num.cast("double") / den, 6)
    ).otherwise(F.lit(0.0))
    line_chars = lambda ln: F.aggregate(  # noqa: E731
        ln, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))

    # rule name -> (signal name, threshold predicate over the signal)
    rule_defs: dict[str, tuple[str, object]] = {
        "words_ok": ("n_words", lambda v: (v >= 50) & (v <= 100_000)),
        "word_len_ok": ("mean_word_len", lambda v: (v >= 3.0) & (v <= 10.0)),
        "symbol_ok": ("symbol_ratio", lambda v: v <= 0.1),
        "bullet_ok": ("bullet_frac", lambda v: v <= 0.9),
        "ellipsis_ok": ("ellipsis_frac", lambda v: v <= 0.3),
        "alpha_ok": ("alpha_word_frac", lambda v: v >= 0.8),
        "stopword_ok": ("stopword_hits", lambda v: v >= 2),
        "dup_line_ok": ("dup_line_frac", lambda v: v <= 0.3),
        "dup_char_ok": ("dup_line_char_frac", lambda v: v <= 0.2),
        "dup_para_ok": ("dup_para_frac", lambda v: v <= 0.3),
        "dup_para_char_ok": ("dup_para_char_frac", lambda v: v <= 0.2),
    }
    sig_names = [s for s, _ in rule_defs.values()]

    def signals(tk: Column, ln: Column, pr: Column) -> Column:
        return F.struct(
            F.size(tk).alias("n_words"),
            F.when(
                F.size(tk) > 0,
                F.round(
                    F.aggregate(tk, F.lit(0).cast("long"),
                                lambda acc, x: acc + F.length(x))
                    .cast("double") / F.size(tk), 6),
            ).otherwise(F.lit(0.0)).alias("mean_word_len"),
            F.when(
                F.size(tk) > 0,
                F.round((F.regexp_count(t, F.lit("#"))
                         + F.regexp_count(t, F.lit(r"\.\.\."))).cast("double")
                        / F.size(tk), 6),
            ).otherwise(F.lit(0.0)).alias("symbol_ratio"),
            fdiv(
                F.size(F.filter(
                    ln, lambda x: x.rlike("^([-*•]|[0-9]+[.)] )"))),
                F.size(ln)).alias("bullet_frac"),
            fdiv(
                F.size(F.filter(
                    ln, lambda x: x.endswith("...") | x.endswith("…"))),
                F.size(ln)).alias("ellipsis_frac"),
            fdiv(
                F.size(F.filter(tk, lambda x: x.rlike("[A-Za-z]"))),
                F.size(tk)).alias("alpha_word_frac"),
            F.size(F.array_intersect(
                F.transform(tk, F.lower),
                F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
            )).alias("stopword_hits"),
            fdiv(F.size(ln) - F.size(F.array_distinct(ln)),
                 F.size(ln)).alias("dup_line_frac"),
            fdiv(line_chars(ln) - line_chars(F.array_distinct(ln)),
                 line_chars(ln)).alias("dup_line_char_frac"),
            fdiv(F.size(pr) - F.size(F.array_distinct(pr)),
                 F.size(pr)).alias("dup_para_frac"),
            fdiv(line_chars(pr) - line_chars(F.array_distinct(pr)),
                 line_chars(pr)).alias("dup_para_char_frac"),
        )

    def rules_of(sg: Column) -> Column:
        keep = None
        oks = []
        for rule, (sig, pred) in rule_defs.items():
            ok = pred(sg[sig])
            oks.append(ok.alias(rule))
            keep = ok if keep is None else keep & ok
        return F.struct(sg.alias("sg"), *oks, keep.alias("keep"))

    # One battery struct per row: tk/lines/paras are each split ONCE
    # (shared lambda bindings across all signals — previously each
    # signal bound its own split: ~5 token + ~4 line splits per row),
    # and the frac struct is bound before the rule booleans so the
    # keep AND-chain references bound values. See gopher_repetition
    # for why bindings (not select aliases) are load-bearing: a
    # downstream filter(keep) inlines aliases with no cost check.
    battery = _bind(tokens(t), lambda tk: _bind(
        split_trim("\n"), lambda ln: _bind(
            split_trim("\n\n"), lambda pr: _bind(
                signals(tk, ln, pr), rules_of))))

    # Same small-input rebalance as gopher_repetition: per-row regex
    # work is bounded by the INPUT split count, so when splits < cores
    # (single-file toy inputs) one round-robin shuffle unlocks every
    # core; at cluster scale splits >> cores and this never fires.
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    base_cols = [F.col(id_col)] if id_col else [F.col(c) for c in df.columns]
    staged = df.select(*base_cols, battery.alias("__b"))
    b = F.col("__b")
    return staged.select(
        *[c for c in staged.columns if c != "__b"],
        *[b["sg"][s].alias(s) for s in sig_names],
        *[b[r].alias(r) for r in rule_defs],
        b["keep"].alias("keep"),
    )


# Gopher A1.1 repetition thresholds (Rae et al. 2021): a doc is
# removed when the most-frequent n-gram covers more than this char
# fraction (top tier) or when characters inside ANY duplicated n-gram
# exceed it (dup tier).
GOPHER_TOP_NGRAM_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_THRESHOLDS = {
    5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10,
}


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The OTHER half of Gopher's repetition battery (Rae et al. 2021
    A1.1): character-fraction signals over word n-grams, completing
    :func:`gopher_rules`' line/paragraph tier. Per doc:

    - ``top_{2,3,4}gram_char_frac`` — characters claimed by the MOST
      FREQUENT n-gram across all its occurrences
      (``count × n-gram token chars``) over total token chars; ties on
      count break to the lexicographically smallest n-gram so the
      result is deterministic.
    - ``dup_{5..10}gram_char_frac`` — characters of token positions
      covered by ANY n-gram occurring ≥2 times (position-coverage, so
      overlapping duplicate occurrences are NOT double-counted) over
      total token chars.
    - per-rule booleans at the paper's thresholds
      (:data:`GOPHER_TOP_NGRAM_THRESHOLDS` /
      :data:`GOPHER_DUP_NGRAM_THRESHOLDS`) and ``keep`` = AND.

    Accounting convention, stated: numerators and the denominator
    count TOKEN characters only (inter-token separators excluded on
    both sides — the whitespace run between tokens has no stable
    width). Fractions round to 6dp for the exact cross-engine oracle.

    Spark shape: a PURE PROJECTION, like :func:`gopher_rules` — zero
    shuffles, one column-pruned corpus scan. Every n-gram of a doc is
    born in that doc's row, so per-(doc, n, gram) counting never needs
    an exchange: per n the grams are materialized as a SORTED in-row
    array of ``(gram, start)`` structs (``array_sort`` groups equal
    grams into runs, O(S log S) per doc), then

    - the top tier is one ``aggregate`` run-length scan whose
      accumulator keeps the best ``(count, gram)`` — strict ``>`` on
      the ascending-sorted stream IS the (count desc, gram asc)
      argmax;
    - the dup tier keeps elements whose sorted neighbor holds the same
      gram (run length ≥ 2), expands their start positions, and
      ``array_distinct``-folds token lengths — position coverage
      without double-counting, all in-row.

    Every multiply-referenced intermediate (token array, lengths,
    total, each dup tier's sorted array, the frac struct) is bound as
    a higher-order-function LAMBDA VARIABLE via :func:`_bind`, never
    as a projected alias: Catalyst's predicate-pushdown substitutes
    aliases into filter conditions with no cost check, so a consumer
    like ``.filter(keep)`` over an alias-staged version inlined the
    gram construction into every reference site — nested, that went
    combinatorial (hundreds of ``split`` copies in the physical plan;
    a 500-doc pipeline took minutes). Lambda bindings are opaque to
    every rewrite, so the whole battery is ONE self-contained
    expression evaluated once per row regardless of what the caller
    stacks on top.

    The earlier implementation (r11) exploded two gram streams into
    doc-scoped groupBys; correct and skew-free, but paying two
    shuffles plus gram-string exchange payload for counts that are
    per-row local. The rewrite removed both shuffles and two of the
    three scans and took the sf0.1 wall clock under the 2×-of-DuckDB
    contract bar. Memory stays bounded by doc length × 9 n-values —
    the same in-row gram materialization the exploded form built
    before its explode — and a per-row O(S²) ``array_contains``-style
    count (rejected then, rejected now) is still quadratic on
    100k-word Gopher-bound docs; the sort keeps it linearithmic.
    """
    top_ns = sorted(GOPHER_TOP_NGRAM_THRESHOLDS)
    dup_ns = sorted(GOPHER_DUP_NGRAM_THRESHOLDS)
    t = F.coalesce(
        F.col(text_col) if isinstance(text_col, str) else text_col,
        F.lit(""),
    )
    sel = df.select(F.col(id_col).alias("__id"), t.alias("__text"))
    # The heavy work is per-row compute, so parallelism is bounded by
    # the INPUT split count. At cluster scale splits >> cores and this
    # branch is a no-op; on a small/single-file input (splits < cores)
    # one cheap round-robin shuffle of the raw (id, text) rows unlocks
    # every core for the linearithmic gram work.
    par = df.sparkSession.sparkContext.defaultParallelism
    if sel.rdd.getNumPartitions() < par:
        sel = sel.repartition(par)

    def sorted_grams(tk: Column, n: int, with_pos: bool) -> Column:
        # sorted gram stream: array_sort groups equal grams into
        # contiguous runs. The top tier sorts PLAIN STRINGS (it never
        # uses positions — cheaper comparisons); the dup tier sorts
        # (gram, 1-based start) structs, ordered (gram asc, start
        # asc). Docs shorter than n tokens contribute an empty array
        # (their fracs are 0).
        def elem(i: Column) -> Column:
            gram = F.array_join(F.slice(tk, i, n), " ")
            if not with_pos:
                return gram
            return F.struct(gram.alias("gram"), i.alias("i"))

        g = F.array_sort(
            F.transform(F.sequence(F.lit(1), F.size(tk) - (n - 1)), elem)
        )
        empty = (
            "array<struct<gram:string,i:int>>" if with_pos
            else "array<string>"
        )
        return F.when(F.size(tk) >= n, g).otherwise(F.array().cast(empty))

    def top_chars(tk: Column, n: int) -> Column:
        # run-length scan over the sorted stream; strict > keeps the
        # FIRST maximal run, i.e. the lexicographically smallest gram
        # among count ties. Gram token chars = length(gram) - (n-1)
        # single-space separators. The sorted array is referenced
        # exactly once (by the aggregate), so no binding is needed.
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("bc"),
            F.lit("").alias("bg"),
        )

        def step(a: Column, x: Column) -> Column:
            run = F.when(
                x.eqNullSafe(a["prev"]), a["run"] + 1
            ).otherwise(F.lit(1).cast("long"))
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.when(run > a["bc"], run).otherwise(a["bc"]).alias("bc"),
                F.when(run > a["bc"], x)
                .otherwise(a["bg"]).alias("bg"),
            )

        return F.aggregate(
            sorted_grams(tk, n, False), init, step,
            lambda a: a["bc"] * (F.length(a["bg"]) - F.lit(n - 1)),
        )

    def dup_chars(arr: Column, tklens: Column, n: int) -> Column:
        # an element is part of a duplicated gram iff a sorted
        # neighbor holds the same gram (run >= 2). F.get is 0-based
        # and null out-of-bounds, so the edges compare against null
        # (-> false) with no ANSI index error. Coverage: expand kept
        # occurrences to their token positions, array_distinct so
        # overlaps count once, fold token lengths by position. `arr`
        # and `tklens` MUST be lambda variables — arr is peeked at
        # per element by the neighbor test.
        dup = F.filter(
            arr,
            lambda x, k: (x["gram"] == F.get(arr, k - 1)["gram"])
            | (x["gram"] == F.get(arr, k + 1)["gram"]),
        )
        pos = F.array_distinct(
            F.flatten(
                F.transform(
                    dup,
                    lambda o: F.sequence(o["i"], o["i"] + F.lit(n - 1)),
                )
            )
        )
        return F.aggregate(
            pos,
            F.lit(0).cast("long"),
            lambda a, j: a + F.get(tklens, j - 1),
        )

    frac_names = (
        [f"top_{n}gram_char_frac" for n in top_ns]
        + [f"dup_{n}gram_char_frac" for n in dup_ns]
    )
    thresholds = (
        [GOPHER_TOP_NGRAM_THRESHOLDS[n] for n in top_ns]
        + [GOPHER_DUP_NGRAM_THRESHOLDS[n] for n in dup_ns]
    )

    def fracs(tk: Column, tklens: Column, total: Column) -> Column:
        denom = F.greatest(total, F.lit(1))
        fields = [
            F.round(top_chars(tk, n).cast("double") / denom, 6)
            .alias(f"top_{n}gram_char_frac")
            for n in top_ns
        ]
        for n in dup_ns:
            # NB: single-parameter callback — pyspark dispatches on
            # the callback's arity (incl. defaults), and a 2-param
            # form would receive the element INDEX as its second
            # argument. _bind invokes the callback eagerly, so closing
            # over the loop variable is safe.
            fields.append(
                F.round(
                    _bind(
                        sorted_grams(tk, n, True),
                        lambda arr: dup_chars(arr, tklens, n),  # noqa: B023
                    ).cast("double") / denom,
                    6,
                ).alias(f"dup_{n}gram_char_frac")
            )
        return F.struct(*fields)

    def battery(tk: Column) -> Column:
        return _bind(
            F.transform(tk, F.length),
            lambda tklens: _bind(
                F.aggregate(
                    tklens, F.lit(0).cast("long"), lambda a, x: a + x
                ),
                lambda total: _bind(
                    fracs(tk, tklens, total),
                    lambda fr: F.struct(
                        fr.alias("fr"),
                        *[
                            (fr[nm] <= thr).alias(nm.replace("_char_frac",
                                                             "_ok"))
                            for nm, thr in zip(frac_names, thresholds)
                        ],
                    ),
                ),
            ),
        )

    staged = sel.select(
        "__id", _bind(tokens(F.col("__text")), battery).alias("__b")
    )
    b = F.col("__b")
    cols = [F.col("__id").alias(id_col)]
    cols += [b["fr"][nm].alias(nm) for nm in frac_names]
    ok_names = [nm.replace("_char_frac", "_ok") for nm in frac_names]
    cols += [b[ok].alias(ok) for ok in ok_names]
    keep = None
    for ok in ok_names:
        keep = b[ok] if keep is None else keep & b[ok]
    return staged.select(*cols, keep.alias("keep"))


def token_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc Shannon entropy of the whitespace-token distribution,
    in bits: ``H = log2(N) − (Σ c·log2 c)/N`` over per-token counts
    ``c`` (N = token count). Low H flags gibberish/repetition
    (one token looping → H≈0); high H at fixed N flags random-string
    spam — the cheap distributional complement to
    :func:`repetition_score` (positional n-gram repeats) and
    perplexity (likelihood under a trained LM, ``bigram_nll``).

    Returns ``(id_col, n_tokens, entropy)``; zero-token docs score
    entropy 0.0 with n_tokens 0.

    Spark shape: explode → count per (doc, token) — ONE shuffle,
    map-side combinable (the same narrow-row posting shuffle the dedup
    family uses; bodies never move) — then a per-doc sum. The
    log2-identity form needs no second pass for N: both Σc and
    Σ c·log2 c fold in the same aggregate. Rounded to 6 places for the
    exact cross-engine oracle (last-ulp libm/sum-order differences sit
    ~1e-15, far under the rounding quantum).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    counts = (
        df.select(F.col(id_col), F.explode_outer(tokens(c)).alias("__t"))
        .groupBy(id_col, "__t")
        .agg(F.count("__t").alias("__c"))
    )
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_tokens"),
            F.sum(F.col("__c") * F.log2("__c")).alias("__clc"),
        )
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.log2(F.col("n_tokens"))
                    - F.col("__clc") / F.col("n_tokens"), 6),
            ).otherwise(F.lit(0.0)).alias("entropy"),
        )
    )
