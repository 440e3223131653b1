"""Byte-pair-encoding tokenizer training over a Spark corpus.

Beyond-reference training-pipeline tier (the reference engine at
/root/reference has no tokenizer trainer; this module exists because a
training-data engine that cleans 100 TB of text is also the natural
place to learn the tokenizer for it).

Scale design — the two-stage shape every production BPE trainer uses
(SentencePiece, HF tokenizers):

1. :func:`word_histogram` — ONE distributed pass collapses the corpus
   to ``(word, freq)``. The shuffle is keyed on words and bounded by
   the distinct vocabulary (plus a ``min_freq`` cutoff that prunes the
   long tail before it ever reaches the driver); document bodies are
   never touched again. At 100 TB this is the only corpus-sized job.
2. The merge loop runs on the histogram, in one of two modes (the
   default ``distributed=None`` picks automatically — driver mode
   whenever the histogram fits under the collect cap, distributed on
   overflow; the crossover is a MEMORY boundary, not a wall-clock one,
   per the measured table in SCALING.md "BPE merge-loop mode
   crossover"):
   - **driver mode**: collect the histogram (hard cap with a loud
     error when forced with ``distributed=False``, same contract as
     ops/sketch.py's fan-ins) and run the classic in-memory loop with
     incremental pair-count maintenance — what HF tokenizers does
     after its own word-count pass. Measured faster than the
     distributed loop at EVERY collectable vocab size.
   - **distributed mode**: the histogram stays a DataFrame of
     ``(symbols array, freq)``; each merge is one JVM-side aggregation
     (freq-weighted adjacent-pair counts -> argmax) plus one JVM-side
     ``aggregate()`` fold that applies the merge left-to-right. No
     Python touches row data; cost is ``num_merges`` small Spark jobs
     over vocab-sized data (a flat ~per-merge job floor), for
     vocabularies too large to collect.

Both modes implement the same deterministic contract: highest
freq-weighted pair count wins, ties broken by lexicographically
smallest ``(left, right)``; merges apply left-to-right greedily. The
test suite checks the two modes produce identical merge tables.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from filefilter_spark.ops.text import tokens
from filefilter_spark.session import lineage_cut


def word_histogram(
    df: DataFrame,
    text_col: str = "text",
    lowercase: bool = True,
    min_freq: int = 1,
) -> DataFrame:
    """Corpus -> (word, freq). The one corpus-sized job of BPE
    training; everything downstream runs on its output."""
    c: Column = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    out = (
        df.select(F.explode(tokens(c)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    if min_freq > 1:
        out = out.filter(F.col("freq") >= min_freq)
    return out


def char_pair_counts(hist: DataFrame) -> DataFrame:
    """Freq-weighted adjacent character-pair counts over a word
    histogram — the pair statistics BPE's first merge decision reads.
    Pure JVM expressions (split/transform/explode); the aggregation
    shuffles (pair, partial-sum) pairs, map-side combined."""
    cs = F.split(F.col("word"), "")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(cs) - 1),
        lambda i: F.concat(F.element_at(cs, i), F.element_at(cs, i + 1)),
    )
    return (
        hist.filter(F.length("word") >= 2)
        .select(F.col("freq"), F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
    )


def _apply_merge(syms: list[str], a: str, b: str) -> list[str]:
    """Left-to-right greedy application of one merge. A merged symbol
    is ``a + b`` and can never equal ``a`` (b is non-empty), so a fresh
    merge never becomes the left side of another within the same pass —
    which is what makes this loop equivalent to the JVM fold in
    :func:`_merge_expr`."""
    out: list[str] = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _word_pairs(syms: list[str]) -> Counter:
    return Counter(zip(syms[:-1], syms[1:]))


def train_bpe_histogram(
    hist: list[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """In-memory BPE merge loop over a (word, freq) histogram.

    Incremental maintenance: a pair->words inverted index limits each
    merge step to the words actually containing the winning pair (the
    index tolerates stale entries — membership is re-checked against
    the word's current pair multiset), so a step costs O(affected
    words) not O(vocab). Determinism: max count, ties to the
    lexicographically smallest (left, right).
    """
    words: list[tuple[list[str], int]] = [(list(w), f) for w, f in hist]
    pair_counts: Counter = Counter()
    pair_words: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, (syms, freq) in enumerate(words):
        for p, k in _word_pairs(syms).items():
            pair_counts[p] += k * freq
            pair_words[p].add(wi)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        live = [(c, p) for p, c in pair_counts.items() if c > 0]
        if not live:
            break
        best = min(live, key=lambda cp: (-cp[0], cp[1]))[1]
        merges.append(best)
        for wi in sorted(pair_words[best]):
            syms, freq = words[wi]
            old = _word_pairs(syms)
            if best not in old:  # stale index entry
                continue
            new_syms = _apply_merge(syms, *best)
            new = _word_pairs(new_syms)
            for p, k in old.items():
                pair_counts[p] -= k * freq
            for p, k in new.items():
                pair_counts[p] += k * freq
                pair_words[p].add(wi)
            words[wi] = (new_syms, freq)
        del pair_words[best]
        del pair_counts[best]
    return merges


def _merge_expr(col: Column, a: str, b: str) -> Column:
    """JVM-side left-to-right merge application over a symbol array:
    an ``aggregate`` fold that either merges the current symbol into
    the accumulator's last element or appends it. Mirrors
    :func:`_apply_merge` (see its docstring for the equivalence
    argument)."""
    la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)
    return F.aggregate(
        col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == la)
            & (s == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lab)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def train_bpe(
    df: DataFrame,
    num_merges: int,
    text_col: str = "text",
    lowercase: bool = True,
    min_freq: int = 1,
    max_vocab_collect: int = 2_000_000,
    distributed: bool | None = None,
) -> list[tuple[str, str]]:
    """Learn a BPE merge table from a corpus (see module docstring for
    the two execution modes and the scale argument).

    ``distributed``: ``None`` (auto, default) collects the histogram
    when it fits under ``max_vocab_collect`` and runs the driver loop,
    falling back to the distributed loop on overflow; ``False`` forces
    the driver loop (raises on overflow); ``True`` forces the
    distributed loop. Auto is the measured winner on both sides of the
    threshold (SCALING.md "BPE merge-loop mode crossover"): the driver
    loop's incremental in-memory maintenance beats the distributed
    loop's ~2-Spark-jobs-per-merge floor at EVERY collectable vocab
    size, and past the cap the driver loop isn't runnable at all — the
    crossover is a memory boundary, not a wall-clock one.
    """
    hist = word_histogram(df, text_col, lowercase, min_freq)
    if distributed is not True:
        # ONE corpus-sized job, not a count() + collect() pair: pull at
        # most cap+1 rows and treat the extra row as the overflow
        # signal (the repo's standard bounded-fan-in shape).
        rows = [
            (r["word"], r["freq"])
            for r in hist.limit(max_vocab_collect + 1).collect()
        ]
        if len(rows) <= max_vocab_collect:
            return train_bpe_histogram(rows, num_merges)
        if distributed is False:
            raise ValueError(
                f"word histogram exceeds max_vocab_collect="
                f"{max_vocab_collect}; raise min_freq, raise the cap, or "
                "use distributed=True"
            )
        # auto + overflow: the one regime where the distributed loop
        # is the right (and only) choice
    return train_bpe_distributed(hist, num_merges)


def train_bpe_distributed(
    hist: DataFrame, num_merges: int
) -> list[tuple[str, str]]:
    """Distributed BPE merge loop over a ``(word, freq)`` histogram
    DataFrame — for vocabularies too large to collect. Each merge is
    two vocab-sized Spark jobs (pair-count argmax + fold application),
    so wall time is ~``num_merges`` × the per-job floor regardless of
    corpus size; see the module docstring for when that trade wins."""
    # An eager lineage cut per merge, NOT a persist: persist keeps the
    # full logical plan, so each iteration's analysis (and the plan
    # string Spark renders for persist's RDD name) re-walks every
    # previous iteration's nested aggregate() lambda — measured
    # superlinear (4.9 s at 8 merges → 10.1 s at 12) and an 8 GiB-heap
    # OOM in treeString by 20 merges. The cut materializes the frame
    # AND truncates lineage to a constant-size LogicalRDD scan — the
    # standard iterative-algorithm pattern (GraphX/ALS do the same).
    # Superseded cuts are released by the ContextCleaner as each
    # iteration's frame goes out of reference; durability follows
    # session.lineage_cut.
    cur = lineage_cut(
        hist.select(F.split("word", "").alias("syms"), "freq"), eager=True
    )
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs = F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at("syms", i).alias("a"),
                F.element_at("syms", i + 1).alias("b"),
            ),
        )
        top = (
            cur.filter(F.size("syms") >= 2)
            .select(F.col("freq"), F.explode(pairs).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        cur = lineage_cut(
            cur.select(_merge_expr(F.col("syms"), a, b).alias("syms"), "freq"),
            eager=True,
        )
    return merges


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode one word with a learned merge table: repeatedly apply the
    lowest-rank pair present — replaying training's merge order
    restricted to this word, so training-corpus words reproduce their
    final training segmentation exactly."""
    syms = list(word)
    while len(syms) > 1:
        ranked = [
            (ranks[p], p)
            for p in set(zip(syms[:-1], syms[1:]))
            if p in ranks
        ]
        if not ranked:
            break
        _, best = min(ranked)
        syms = _apply_merge(syms, *best)
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    lowercase: bool = True,
) -> DataFrame:
    """Segment every document into BPE subword tokens.

    The merge-rank table broadcasts with the serialized UDF closure
    (32k merges ~ a few hundred KB — fine to ship per executor); the
    encoder is an Arrow-batched pandas UDF that memoizes per distinct
    word within each batch, so the per-word Python loop runs once per
    TYPE, not once per token — on natural text the distinct/total word
    ratio makes this the dominant saving. Zipf says the memo keeps
    paying at any corpus size; it is per-batch, so executor memory is
    bounded by batch vocabulary, not corpus vocabulary.
    """
    ranks = {p: i for i, p in enumerate(merges)}

    # Tokenizer parity with word_histogram: training splits with the
    # JVM regex \s+, and Java's \s is the ASCII class [ \t\n\x0B\f\r]
    # ONLY — Python's str.split()/\s are Unicode-aware and would break
    # e.g. NBSP-joined words ('foo\xa0bar', ubiquitous in scraped HTML)
    # into two words the model never saw. Same ASCII class here, and
    # the case fold runs as a JVM F.lower column BEFORE the UDF (not
    # Python str.lower(): JDK and CPython carry different Unicode
    # tables, and a code point they fold differently — e.g. dotted
    # capital İ — would desync a word from its training segmentation),
    # so every training-corpus word reproduces its training
    # segmentation through one shared tokenizer implementation.
    import re

    _ws = re.compile("[ \t\n\x0b\f\r]+")

    @F.pandas_udf("array<string>")
    def encode(texts: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def enc_doc(t):
            if t is None:
                return None
            out: list[str] = []
            for w in _ws.split(t):
                if not w:
                    continue
                got = memo.get(w)
                if got is None:
                    got = memo[w] = bpe_encode_word(w, ranks)
                out.extend(got)
            return out

        return texts.map(enc_doc)

    src = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    return df.withColumn(out_col, encode(src))


def save_merges(merges: list[tuple[str, str]], path: str) -> None:
    """Persist a learned merge table as JSON — the train-once /
    apply-everywhere workflow (the merge list IS the tokenizer; rank =
    list position)."""
    import json

    with open(path, "w") as fh:
        json.dump([[a, b] for a, b in merges], fh)


def load_merges(path: str) -> list[tuple[str, str]]:
    import json

    with open(path) as fh:
        raw = json.load(fh)
    out = []
    for pair in raw:
        if (not isinstance(pair, (list, tuple)) or len(pair) != 2
                or not all(isinstance(x, str) for x in pair)):
            raise ValueError(f"{path}: not a merge table (bad entry {pair!r})")
        out.append((pair[0], pair[1]))
    return out
