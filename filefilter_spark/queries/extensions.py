"""Extension-tier inventory (SURVEY.md §2.D + OP-B10): dedup, similarity
search, text analysis, streaming, multimodal plumbing.

Oracle notes: integer-arithmetic similarity (Jaccard) is exact
cross-engine; cosine similarities are rounded to 6dp to absorb fold
order; probabilistic candidate-generation ops (MinHash/SimHash/winnow/
pair-LSH) carry a ``RecallSpec`` — the local harness checks that they
recover >= min_recall of the DuckDB-computed exact set, and (where the
op exact-verifies its candidates) emit nothing outside it. Only the two
pure-ANN top-k entries (OP-D3-ivf / OP-D3-lsh) remain rows-only to the
driver; their recall@10 is measured in ``tests/test_ops.py``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from filefilter_spark.queries.registry import (
    RecallSpec,
    load_table,
    query,
)

# ---------------------------------------------------------------------------
# OP-B10 — as-of join (DuckDB-native operator, library pattern in Spark)
# ---------------------------------------------------------------------------


@query(
    "OP-B10",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, o.o_orderdate AS matched_ts
    FROM events e ASOF JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    doc="as-of join: each event matched to the latest prior order date of "
        "the same user — union+window pattern (ops.asof), oracle is DuckDB's "
        "native ASOF JOIN.",
)
def op_b10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    joined = asof_join(
        events.withColumnRenamed("user_id", "o_custkey"),
        orders,
        on="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        payload=[],
        how="inner",
    )
    return joined.select(
        "event_id", F.col("o_custkey").alias("user_id"), "ts", "matched_ts"
    )


_SESSIONS_ORACLE = """
    WITH flag AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flag
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS start_ts, max(ts) AS end_ts,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
    FROM sess GROUP BY 1, 2
    """


@query(
    "OP-B19-sessions",
    oracle=_SESSIONS_ORACLE,
    doc="batch gap-sessionization of the event log (30-min gap): lag + "
        "running-sum windows sharing ONE partitioning/ordering, so the "
        "events shuffle exactly once however many sessions emerge; stats "
        "are a map-combinable groupBy. Time arithmetic in integer "
        "microseconds (unix_micros / epoch_us) — exact cross-engine "
        "(ops/sessions.py; batch counterpart of the OP-D5-session "
        "streaming window).",
)
def op_b19_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.sessions import session_stats

    events = load_table(spark, sf_dir, "events")
    return session_stats(events, gap_seconds=1800)


@query(
    "OP-B19-sessions-skew",
    oracle=_SESSIONS_ORACLE,
    doc="skew-proof gap-sessionization — the ops/skew.py two-phase "
        "pattern applied to the window family (the r13 weak): events "
        "sessionize within (user, coarse time-chunk) so a power-law "
        "user spreads across its chunks instead of one task, then a "
        "|chunks|-sized summary window merges chunk-boundary sessions "
        "(bridge bookkeeping: offset = cum sessions - cum bridges). "
        "EXACTLY the same session ids as OP-B19-sessions for any chunk "
        "size — same DuckDB oracle; the salt is plan-pinned in the "
        "exchange keys (tests/test_sessions.py) and the straggler "
        "collapse measured on a zipf user in SCALING.md "
        "(ops/sessions.py sessionize_skewed).",
)
def op_b19_sessions_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.sessions import session_stats

    events = load_table(spark, sf_dir, "events")
    return session_stats(events, gap_seconds=1800, skewed=True,
                         chunk_seconds=86_400)


# ---------------------------------------------------------------------------
# OP-D1/D2 — deduplication
# ---------------------------------------------------------------------------


# The synthetic corpus has ZERO exact-duplicate texts (500 docs, 500
# distinct fingerprints at sf0.01), so a dedup entry over the raw table
# proves only that fingerprints match — never that a survivor decision
# was made. Every OP-D1* entry therefore augments the corpus with a
# deterministic case/whitespace-mangled copy of the first 50 docs
# (fingerprint-normalization collapses the mangling), making drops and
# n_dups > 1 REAL on both engines.
_DUPS_SQL = """
    SELECT doc_id, text, lang, source, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 10000, upper(text) || '  ', lang, source, n_chars
    FROM documents WHERE doc_id < 50
"""


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    mangled = d.filter(F.col("doc_id") < 50).selectExpr(
        "doc_id + 10000 AS doc_id", "upper(text) || '  ' AS text",
        "lang", "source", "n_chars",
    )
    return d.unionByName(mangled)


@query(
    "OP-D1",
    oracle=f"""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           min(doc_id) AS keep_id, count(*) AS n_dups
    FROM ({_DUPS_SQL}) GROUP BY 1
    """,
    doc="exact dedup: md5 fingerprint of normalized text, min-id survivor — "
        "shuffles 16-byte keys instead of document bodies; corpus augmented "
        "with 50 mangled duplicates so n_dups=2 groups are real.",
)
def op_d1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import exact_dedup

    return exact_dedup(_docs_with_dups(spark, sf_dir))


@query(
    "OP-D1-rows",
    oracle=f"""
    WITH corpus AS ({_DUPS_SQL})
    SELECT doc_id, text, lang, source, n_chars FROM corpus
    WHERE doc_id IN (
      SELECT min(doc_id) FROM corpus
      GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    )
    """,
    doc="exact-dedup survivor materialization: the deduplicated corpus "
        "itself (full rows via left-semi join on survivor ids) — drops the "
        "50 mangled duplicates, keeps the 500 originals.",
)
def op_d1_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import keep_survivors

    return keep_survivors(_docs_with_dups(spark, sf_dir))


def _quality_sql(col: str) -> str:
    """The OP-D4-quality score over an arbitrary column — shared with
    the keep-best oracle so both entries rank by the identical
    expression (every term is exact int counting or correctly-rounded
    IEEE arithmetic, so the two engines produce bit-identical doubles
    and therefore identical orderings)."""
    return f"""
           (CASE WHEN length({col}) BETWEEN 50 AND 20000 THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN CAST(length({col}) AS DOUBLE)
                        / greatest(len(list_filter(string_split_regex({col}, '\\s+'), x -> x != '')), 1)
                   BETWEEN 2.0 AND 12.0 THEN 0.3 ELSE 0.0 END)
           + CAST(length(regexp_replace({col}, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
             / greatest(length({col}), 1) * 0.3
    """


# Re-crawl fixture for keep-best dedup: every doc exists twice with the
# SAME fingerprint (whitespace doubling collapses under normalization)
# but different extraction quality, and — the part that makes the entry
# a real test of score-ordering — the CLEAN copy carries the HIGHER id
# for even doc_ids, so a min-id survivor rule would keep the dirty copy
# there. The winner must be chosen by quality, not arrival order.
_RECRAWL_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0
                THEN regexp_replace(text, ' ', '  ', 'g') ELSE text END AS text,
           lang, source, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 10000,
           CASE WHEN doc_id % 2 = 0
                THEN text ELSE regexp_replace(text, ' ', '  ', 'g') END AS text,
           lang, source, n_chars FROM documents
"""


def _docs_recrawled(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    dirty_evens = d.selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 2 = 0 THEN regexp_replace(text, ' ', '  ') "
        "ELSE text END AS text",
        "lang", "source", "n_chars",
    )
    copies = d.selectExpr(
        "doc_id + 10000 AS doc_id",
        "CASE WHEN doc_id % 2 = 0 THEN text "
        "ELSE regexp_replace(text, ' ', '  ') END AS text",
        "lang", "source", "n_chars",
    )
    return dirty_evens.unionByName(copies)


@query(
    "OP-D1-keepbest",
    oracle=f"""
    WITH corpus AS ({_RECRAWL_SQL}),
    scored AS (
      SELECT *,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             {_quality_sql("text")} AS q
      FROM corpus
    ),
    win AS (
      SELECT doc_id, text, lang, source, n_chars,
             row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id) AS rn
      FROM scored
    )
    SELECT doc_id, text, lang, source, n_chars FROM win WHERE rn = 1
    """,
    doc="keep-best exact dedup: per-fingerprint survivor chosen by "
        "quality score (not min id) — the re-crawl fixture gives the "
        "clean copy the higher id for even docs, so arrival-order dedup "
        "would keep the dirty extraction; argmax runs on a narrow "
        "(fp, score, id) projection via WindowGroupLimit, bodies never "
        "shuffle (ops/dedup.py keep_best).",
)
def op_d1_keepbest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import keep_best
    from filefilter_spark.ops.text import quality_score

    return keep_best(_docs_recrawled(spark, sf_dir), quality_score("text"))


_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') tk
  FROM documents
),
sh AS (
  SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3
      THEN [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]
      ELSE [array_to_string(tk, ' ')] END) AS shingles
  FROM toks
),
posting AS (SELECT doc_id, unnest(shingles) AS t FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM posting a JOIN posting b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_shared,
       CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.5
"""


@query(
    "OP-D2",
    oracle=_JACCARD_ORACLE,
    doc="exact near-dup: 3-gram-shingle Jaccard ≥ 0.5 via inverted-index "
        "self-join (recall 1.0; integer arithmetic → exact cross-engine).",
)
def op_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import token_jaccard_pairs

    # spread=True: the shingle fold dominates and the single-row-group
    # file would otherwise tokenize on one task (measured 2.4s -> 1.6s
    # warm at sf0.1).
    return token_jaccard_pairs(
        load_table(spark, sf_dir, "documents", spread=True),
        threshold=0.5, shingle_n=3,
    )


_JACCARD_PAIRS_ONLY = f"SELECT id_a, id_b FROM ({_JACCARD_ORACLE}) t"


@query(
    "OP-D2-minhash",
    oracle=None,  # probabilistic recall → RecallSpec, not a value hash
    doc="MinHash(64)+LSH(16 bands) candidate pairs, exact-Jaccard verified "
        "at 0.5 — sub-quadratic near-dup; recall-oracled against OP-D2's "
        "exact pair set (banding curve predicts ~97% per-pair at J=0.5; "
        "precision exact by construction).",
    recall=RecallSpec(_JACCARD_PAIRS_ONLY, ("id_a", "id_b"), 0.9),
)
def op_d2_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import minhash_near_dup

    # spread=True: the shingle+minhash fold is the cost center; spread
    # it over the cluster when the file layout can't (see load_table).
    return minhash_near_dup(
        load_table(spark, sf_dir, "documents", spread=True),
        threshold=0.5,
        shingle_n=3,
    )


@query(
    "OP-D2-simhash",
    oracle=None,
    doc="SimHash(32-bit) near-dup pairs within Hamming distance 3 via the "
        "pigeonhole block join; recall-oracled at 1.0 against the "
        "identical-token-set pair set (identical distinct-token sets -> "
        "identical simhash -> Hamming 0, a structural guarantee).",
    recall=RecallSpec(
        # Docs with identical DISTINCT token sets have identical simhash
        # (the fingerprint folds over array_distinct(tokens)), hence
        # Hamming 0 <= 3 and a shared block in every position — the
        # deterministic core of the otherwise-heuristic Hamming ball.
        """
        WITH k AS (
          SELECT doc_id,
                 md5(array_to_string(list_sort(list_distinct(
                   list_filter(string_split_regex(text, '\\s+'), x -> x != ''))),
                   chr(10))) AS h
          FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM k a JOIN k b ON a.h = b.h AND a.doc_id < b.doc_id
        """,
        ("id_a", "id_b"),
        1.0,
        exact_precision=False,  # Hamming<=3 legitimately finds more
    ),
)
def op_d2_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import simhash_near_dup

    return simhash_near_dup(
        load_table(spark, sf_dir, "documents", spread=True), max_hamming=3
    )


# ---------------------------------------------------------------------------
# OP-D3 — similarity search over embeddings
# ---------------------------------------------------------------------------


def _query_vec(
    spark: SparkSession, sf_dir: str, vid: int = 0
) -> list[float]:
    """Fetch the vec_id=``vid`` query vector — a one-row point lookup.

    Read driver-side with pyarrow (row-group predicate pushdown on one
    local file, ~10 ms) instead of launching a Spark job (~0.4 s of
    scheduler round-trip for one row). The Spark path remains as the
    fallback for stores pyarrow can't reach (s3a-only credentials,
    bucketed table layouts)."""
    try:
        import pyarrow.dataset as ds

        tbl = ds.dataset(f"{sf_dir}/embeddings.parquet").to_table(
            columns=["embedding"], filter=ds.field("vec_id") == vid
        )
        return [float(x) for x in tbl.column("embedding")[0].as_py()]
    except Exception:
        row = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == vid)
            .select("embedding")
            .first()
        )
        return [float(x) for x in row[0]]


@query(
    "OP-D3",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cos_sim
    FROM embeddings, q
    ORDER BY round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) DESC,
             vec_id
    LIMIT 10
    """,
    doc="brute-force cosine top-10 vs the vec_id=0 query vector: JVM-side "
        "zip_with/aggregate dot product + TakeOrderedAndProject (no sort, "
        "no shuffle of vectors).",
)
def op_d3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.similarity import topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    out = topk_cosine(emb, _query_vec(spark, sf_dir), k=10)
    return out.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


@query(
    "OP-D3-pairs",
    oracle="""
    WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.45
    """,
    doc="embedding-cosine near-dup: all pairs with cosine ≥ 0.45 "
        "(thresholded on the 6dp-rounded score both engines agree on).",
)
def op_d3_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.similarity import cosine_pairs

    out = cosine_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.45)
    return out.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


@query(
    "OP-D3-pairs-lsh",
    oracle=None,  # probabilistic recall → RecallSpec, not a value hash
    recall=RecallSpec(
        """
        WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.e, b.e) >= 0.45
        """,
        ("id_a", "id_b"),
        0.6,  # matches tests/test_ops.py auto-LSH recall floor
    ),
    doc="sub-quadratic embedding near-dup: LSH-bucketed candidate pairs "
        "+ exact cosine verification at 0.45 — the scale path for "
        "OP-D3-pairs' O(n²) baseline; recall measured in tests. Uses "
        "auto (planes, tables) sizing from the corpus count (read from "
        "the parquet footer — zero extra scans) so candidate generation "
        "stays near-linear as n grows; SCALING.md measures auto at slope "
        "0.96-1.39 vs 1.88 (quadratic) for a fixed plane count.",
)
def op_d3_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.similarity import lsh_cosine_pairs

    try:
        import os

        import pyarrow.parquet as pq

        n_rows = pq.ParquetFile(
            os.path.join(sf_dir, "embeddings.parquet")
        ).metadata.num_rows
    except Exception:
        # Stores pyarrow can't open (s3a-only creds, multi-file layouts):
        # lsh_cosine_pairs(n_rows=None) falls back to a df.count().
        n_rows = None
    out = lsh_cosine_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.45, n_planes="auto", n_rows=n_rows,
    )
    return out.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


_ANN_EXACT_TOP10 = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id FROM embeddings, q
ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id
LIMIT 10
"""


@query(
    "OP-D3-ivf",
    oracle=None,  # ANN top-k → recall oracle vs the exact top-10
    # exact_precision=False: an ANN result legitimately contains
    # near-misses outside the exact top-10 — recall is the contract.
    # Measured: 0.90 @ sf0.001, 0.70 @ sf0.01 (4/16 cells probed);
    # floor pinned at 0.6.
    recall=RecallSpec(_ANN_EXACT_TOP10, ("vec_id",), 0.6,
                      exact_precision=False),
    doc="IVF ANN top-10: KMeans coarse quantizer (16 cells), probe the 4 "
        "nearest cells, exact rerank — the data-adaptive counterpart to "
        "the LSH path; at scale cells are partition-pruned reads. "
        "Recall-oracled vs the exact top-10 (floor 0.6, measured "
        "0.7-0.9).",
)
def op_d3_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.similarity import ivf_topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk_cosine(emb, _query_vec(spark, sf_dir), k=10)
    return out.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


@query(
    "OP-D3-lsh",
    oracle=None,  # ANN top-k → recall oracle vs the exact top-10
    # Measured: 0.70 @ sf0.001, 0.90 @ sf0.01; floor pinned at 0.6.
    recall=RecallSpec(_ANN_EXACT_TOP10, ("vec_id",), 0.6,
                      exact_precision=False),
    doc="ANN top-10 via random-hyperplane LSH bucketing (4 tables × 8 "
        "planes) + exact rerank of candidates. Recall-oracled vs the "
        "exact top-10 (floor 0.6, measured 0.7-0.9).",
)
def op_d3_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.similarity import lsh_topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_topk_cosine(emb, _query_vec(spark, sf_dir), k=10)
    return out.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


# ---------------------------------------------------------------------------
# OP-D4 — text analysis
# ---------------------------------------------------------------------------

_STATS_ORACLE = """
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT) AS n_bpe_tokens,
       length(text) AS n_chars_actual,
       CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         / greatest(length(text), 1) AS alpha_ratio
FROM documents
"""


@query(
    "OP-D4",
    oracle=_STATS_ORACLE,
    doc="text stats battery: whitespace tokens, BPE-ish regex tokens, char "
        "count, alpha ratio — all JVM-side expressions.",
)
def op_d4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops import text as T

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.bpe_ish_token_count("text").cast("int").alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
        (
            F.length(F.regexp_replace("text", r"[^a-zA-Z]", "")).cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("alpha_ratio"),
    )


def _langid_oracle() -> str:
    from filefilter_spark.ops.text import LANG_STOPWORDS

    def hits(lang: str) -> str:
        lst = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        return (
            f"CAST(len(list_filter(toks, t -> list_contains([{lst}], lower(t)))) AS DOUBLE)"
            f" / greatest(len(toks), 1)"
        )

    return f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang,
             {hits('en')} AS r_en, {hits('es')} AS r_es, {hits('fr')} AS r_fr
      FROM toks
    )
    SELECT doc_id, lang AS lang_declared,
           CASE WHEN r_fr > r_en AND r_fr > r_es AND r_fr > 0 THEN 'fr'
                WHEN r_es > r_en AND r_es > 0 THEN 'es'
                WHEN r_en > 0 THEN 'en'
                ELSE 'und' END AS lang_detected
    FROM r
    """


@query(
    "OP-D4-langid",
    oracle=_langid_oracle(),
    doc="language-ID heuristic: argmax of per-language stopword hit-rate "
        "(lexicon broadcast as literals; heuristic shape is the scalable part).",
)
def op_d4_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.text import detect_language

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        detect_language("text").alias("lang_detected"),
    )


@query(
    "OP-D4-quality",
    oracle="""
    SELECT doc_id,
           (CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN CAST(length(text) AS DOUBLE)
                        / greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')), 1)
                   BETWEEN 2.0 AND 12.0 THEN 0.3 ELSE 0.0 END)
           + CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) * 0.3 AS quality
    FROM documents
    """,
    doc="quality scoring: length band + mean-word-length band + alpha ratio.",
)
def op_d4_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score("text").alias("quality"))


_QUALITYGATE_ORACLE = """
    WITH scored AS (
      SELECT doc_id, source,
             round((CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN CAST(length(text) AS DOUBLE)
                          / greatest(len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')), 1)
                     BETWEEN 2.0 AND 12.0 THEN 0.3 ELSE 0.0 END)
             + CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) * 0.3, 6) AS q
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rn,
             ceil(0.3 * count(*) OVER (PARTITION BY source)) AS cap
      FROM scored
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d SEMI JOIN (SELECT doc_id FROM ranked WHERE rn <= cap) k
      USING (doc_id)
    """


@query(
    "OP-D4-qualitygate",
    oracle=_QUALITYGATE_ORACLE,
    doc="percentile quality gate: keep the top 30% of every source by "
        "the composite quality score — relative gating that adapts to "
        "each source's score distribution instead of one global cutoff. "
        "Ranks on the 6dp-rounded score (id tiebreak), cap = "
        "ceil(frac * group count); ranking runs over a narrow "
        "(group, score, id) projection with one window shuffle, bodies "
        "return by id semi-join (ops/corpus.py keep_top_fraction).",
)
def op_d4_qualitygate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import keep_top_fraction
    from filefilter_spark.ops.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    return keep_top_fraction(
        d, quality_score("text"), frac=0.3
    ).select("doc_id", "source", "n_chars")


@query(
    "OP-D4-qualitygate-skew",
    oracle=_QUALITYGATE_ORACLE,
    doc="skew-proof percentile quality gate — identical kept set to "
        "OP-D4-qualitygate (same oracle) with NO per-group row "
        "ranking: the rank cutoff comes from map-combined score-class "
        "counts (windows run over distinct-score counter rows, never "
        "corpus rows), whole classes resolve by broadcast semi-join, "
        "and the one straddling class selects its remaining smallest "
        "ids by a 4-round distributed radix select over 16-bit id "
        "digits (<= 65,536 counter rows per group per round) — a "
        "source holding 90% of the corpus at one score value still "
        "never lands on one task (ops/corpus.py "
        "keep_top_fraction_skewed).",
)
def op_d4_qualitygate_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import keep_top_fraction_skewed
    from filefilter_spark.ops.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    return keep_top_fraction_skewed(
        d, quality_score("text"), frac=0.3
    ).select("doc_id", "source", "n_chars")


@query(
    "OP-D4-fingerprint",
    oracle="""
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
    doc="document fingerprinting: md5 over normalized text (cross-engine "
        "stable dedup key).",
)
def op_d4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fp"))


@query(
    "OP-D4-winnow",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') tk
      FROM documents
    ),
    seq AS (
      SELECT doc_id, CASE WHEN len(tk) >= 3
          THEN [md5(array_to_string(tk[i:i+2], ' ')) for i in range(1, len(tk) - 1)]
          ELSE [md5(array_to_string(tk, ' '))] END AS hs
      FROM toks
    )
    SELECT doc_id, list_sort(list_distinct(
        CASE WHEN len(hs) >= 4
          THEN [list_aggregate(hs[i:i+3], 'min') for i in range(1, len(hs) - 2)]
          ELSE [list_aggregate(hs, 'min')] END)) AS fps
    FROM seq
    """,
    doc="winnowing fingerprints (Schleimer et al. SIGMOD'03): windowed "
        "minima over the ordered 3-gram hash sequence — position-robust "
        "selective fingerprinting; md5-hex minima match DuckDB exactly.",
)
def op_d4_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.text import winnow_fingerprints

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", winnow_fingerprints("text").alias("fps"))


@query(
    "OP-D4-redact",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or https://example.com/u/'
                  || CAST(doc_id AS VARCHAR) || '?ref=x call +1-555-01'
                  || CAST(doc_id AS VARCHAR) AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               'https?://[^\\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\+[0-9][0-9-]{6,}[0-9]', '<PHONE>', 'g') AS redacted
    FROM seeded
    """,
    doc="PII redaction — the standard pre-release scrub for LLM corpora: "
        "URLs, emails, phone numbers replaced with typed placeholders via "
        "chained JVM-side regexp_replace (whole-stage codegen; patterns "
        "restricted to the Java/RE2 common subset). The synthetic corpus "
        "carries no PII, so the query seeds deterministic PII from doc_id "
        "on BOTH engines before scrubbing — the oracle verifies actual "
        "replacements, not a no-op pass.",
)
def op_d4_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.text import redact_pii

    d = load_table(spark, sf_dir, "documents")
    seeded = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or https://example.com/u/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=x call +1-555-01"), F.col("doc_id").cast("string"),
    )
    return d.select("doc_id", redact_pii(seeded).alias("redacted"))


@query(
    "OP-D2-fuzzy",
    oracle="""
    WITH s AS (SELECT doc_id, substr(text, 1, 24) AS s FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.s, b.s) AS INT) AS dist
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.s, b.s) <= 4
    """,
    doc="edit-distance fuzzy self-join on a short key field (24-char "
        "prefixes, levenshtein <= 4): positional q-gram inverted index "
        "under rarity-ordered PREFIX FILTERING (Ed-Join family — only "
        "the q*d+1 rarest tagged grams per string are indexed, here 13 "
        "of 22; lossless by the prefix-filter theorem over the Gravano "
        "count bound), length band, then a thresholded early-exit "
        "levenshtein verify — never all-pairs, and strings too short to "
        "guarantee a shared gram go through a length-banded bucket join "
        "over the short subset only (ops/dedup.py edit_distance_pairs). "
        "d=4 keeps the prefix selective (measured 17.5s at sf0.1 vs 46s "
        "at d=7 where the prefix covers every gram). Integer distances "
        "are exact cross-engine; the oracle is DuckDB's quadratic join.",
)
def op_d2_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import edit_distance_pairs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr("substring(text, 1, 24)").alias("s")
    )
    return edit_distance_pairs(docs, id_col="doc_id", str_col="s",
                               max_dist=4, q=3)


# --- OP-D4-bm25 / OP-D3-hybrid — keyword retrieval + rank fusion ----------
#
# The oracle SQL is assembled once at import from the same fixed term
# list and constants the Spark builder uses — a static string per run,
# written per-term so both engines evaluate the SAME operand order
# (registry float contract; the 6dp round absorbs the ln() last-ulp).

_BM25_TERMS = ("spark", "shuffle", "merge")  # df at sf0.01: 385 / 0 / 393


def _bm25_term_sql(t: str, i: int) -> str:
    tf = f"CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE)"
    idf = f"ln(1 + (n - df_{i} + 0.5) / (df_{i} + 0.5))"
    return (
        f"{idf} * (({tf} * 2.2) / "
        f"({tf} + 1.2 * (0.25 + 0.75 * CAST(len(tk) AS DOUBLE) / avgdl)))"
    )


_BM25_CTES = f"""
tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS tk
  FROM documents
),
stats AS (
  SELECT count(*) AS n,
         CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl,
         {', '.join(
             f"sum((len(list_filter(tk, x -> x = '{t}'))>0)::bigint) AS df_{i}"
             for i, t in enumerate(_BM25_TERMS))}
  FROM tok
),
bm AS (
  SELECT doc_id,
         round(0.0 + {' + '.join(_bm25_term_sql(t, i) for i, t in enumerate(_BM25_TERMS))},
               6) AS bm25
  FROM tok CROSS JOIN stats
)"""


@query(
    "OP-D4-bm25",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT doc_id, bm25 FROM bm
    WHERE bm25 > 0.0 ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    doc="BM25 keyword retrieval top-10 (k1=1.2, b=0.75, Lucene +1-floor "
        "idf) for a literal 3-term query — the lexical half of hybrid "
        "corpus search. Two corpus passes, zero wide shuffles: per-doc "
        "(dl, tf-per-term) computed IN-ROW (no explode — the query term "
        "list rides in as literals), folded through one map-combined "
        "single-row stats aggregate; scoring is a pure projection + "
        "TakeOrderedAndProject. Ranked on the 6dp-rounded score "
        "(ops/retrieval.py bm25_topk).",
)
def op_d4_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, list(_BM25_TERMS), k=10)


@query(
    "OP-D4-bm25-indexed",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT doc_id, bm25 FROM bm
    WHERE bm25 > 0.0 ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    doc="BM25 via a PERSISTED inverted index (build_text_index: postings "
        "partitionBy(bucket=pmod(xxhash64(term), 64)) with dl riding on "
        "every posting, a same-bucketed df table, a one-row exact-int "
        "stats sidecar) — the 100 TB query path: the probe reads ONLY "
        "the buckets the query terms hash into (PartitionFilters, "
        "plan-tested) instead of re-scanning the corpus, the text twin "
        "of OP-D3-ivfpq's partition-pruned cell probe. Same oracle as "
        "OP-D4-bm25: the index is an access path, results are identical "
        "(ops/retrieval.py bm25_topk_indexed).",
)
def op_d4_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.retrieval import (
        bm25_topk_indexed,
        build_text_index,
    )
    from filefilter_spark.queries.inventory import _scratch

    ix = _scratch("d4bm25ix/text_index")
    docs = load_table(spark, sf_dir, "documents")
    # 16 buckets at test SF (bounds the build's file churn); the
    # library default is 64 — pruning behavior is identical
    build_text_index(docs, ix, n_buckets=16)
    return bm25_topk_indexed(spark, ix, list(_BM25_TERMS), k=10,
                             n_buckets=16)


@query(
    "OP-D5-textindex",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT doc_id, bm25 FROM bm
    WHERE bm25 > 0.0 ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    doc="streaming inverted-index maintenance (OP-D5 x OP-D4-bm25, "
        "streaming/jobs.py text_index_stream_ingest): a BUILT-then-"
        "GROWN lifecycle — build_text_index persists the layout over a "
        "~70% day-1 split (including its terms/ df cache), then day-2 "
        "documents arrive as a file stream (maxFilesPerTrigger=1 over "
        "a multi-file layout, so the drain is MULTI-batch); each "
        "micro-batch is tokenized to postings and appended to the "
        "bucket-partitioned layout — existing postings never "
        "reshuffle, stats merge additively per batch (per-FILE-key "
        "idempotent under at-least-once replay, surviving checkpoint "
        "loss and batch regrouping — r15), the first append DROPS the "
        "build's terms/ df cache (left stale it silently inflated "
        "probe idfs — the r16 bug class this entry now stands oracle "
        "over), and in-stream maintenance (maintain_every=2) "
        "threshold-compacts fragmented buckets. The oracle is "
        "OP-D4-bm25's exact SQL over ALL documents: a query against "
        "the built-then-grown index must equal the corpus-scan BM25 "
        "exactly.",
)
def op_d5_textindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.retrieval import (
        bm25_topk_indexed,
        build_text_index,
    )
    from filefilter_spark.queries.inventory import _scratch
    from filefilter_spark.streaming.jobs import text_index_stream_ingest

    src = _scratch("d5tix/docs_in")
    ix = _scratch("d5tix/text_index")
    # fresh index per invocation: a second run in the same process
    # (bench min-of-2) would otherwise re-append the drained postings.
    # (The query path is replay-shielded and would still be exact —
    # this keeps the maintenance file counts deterministic too.)
    import shutil

    shutil.rmtree(ix, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents")
    day1 = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) < 7)
    day2 = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) >= 7)
    build_text_index(day1, ix, n_buckets=16)
    day2.repartition(4).write.mode("overwrite").parquet(src)
    text_index_stream_ingest(
        spark, src, ix,
        max_files_per_trigger=1, maintain_every=2,
        max_files_per_partition=4,
    )
    return bm25_topk_indexed(spark, ix, list(_BM25_TERMS), k=10,
                             n_buckets=16)


# batch variant: three queries over the union-term stats, one scan
_BM25_BATCH_QUERIES = {
    "q_spark": ["spark", "merge"],
    "q_window": ["window"],
    "q_mixed": ["merge", "window", "shuffle"],
}
_BATCH_TERMS: list[str] = []
for _ts in _BM25_BATCH_QUERIES.values():
    for _t in _ts:
        if _t not in _BATCH_TERMS:
            _BATCH_TERMS.append(_t)


def _bm25_batch_term_sql(t: str) -> str:
    i = _BATCH_TERMS.index(t)
    tf = f"CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE)"
    idf = f"ln(1 + (n - df_{i} + 0.5) / (df_{i} + 0.5))"
    return (
        f"{idf} * (({tf} * 2.2) / "
        f"({tf} + 1.2 * (0.25 + 0.75 * CAST(len(tk) AS DOUBLE) / avgdl)))"
    )


_BM25_BATCH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS tk
  FROM documents
),
stats AS (
  SELECT count(*) AS n,
         CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl,
         {', '.join(
             f"sum((len(list_filter(tk, x -> x = '{t}'))>0)::bigint) AS df_{i}"
             for i, t in enumerate(_BATCH_TERMS))}
  FROM tok
),
scored AS (
  SELECT doc_id,
         {', '.join(
             "round(0.0 + "
             + ' + '.join(_bm25_batch_term_sql(t) for t in ts)
             + f", 6) AS s_{j}"
             for j, ts in enumerate(_BM25_BATCH_QUERIES.values()))}
  FROM tok CROSS JOIN stats
),
u AS ({' UNION ALL '.join(
    f"SELECT '{q}' AS q_id, doc_id, s_{j} AS bm25 FROM scored"
    for j, q in enumerate(_BM25_BATCH_QUERIES))}),
r AS (
  SELECT q_id, doc_id, bm25,
         row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, doc_id) AS rank
  FROM u WHERE bm25 > 0.0
)
SELECT q_id, doc_id, bm25, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
"""


@query(
    "OP-D4-bm25-batch",
    oracle=_BM25_BATCH_ORACLE,
    doc="multi-query BM25 (3 queries, top-5 each) in ONE corpus scan — "
        "the retrieval-evaluation shape, lexical twin of OP-D3-batch: "
        "one stats aggregate over the UNION of all query terms, a "
        "scoring scan that binds the per-row tf array once and indexes "
        "it per query, then per-query top-k through a rank window Spark "
        "rewrites to WindowGroupLimit (partial per-partition top-k "
        "map-side — the single shuffle carries <= k*|queries| rows per "
        "partition, never the corpus; ops/retrieval.py bm25_batch_topk).",
)
def op_d4_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.retrieval import bm25_batch_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_batch_topk(docs, _BM25_BATCH_QUERIES, k=5)


@query(
    "OP-D4-bm25-batch-indexed",
    oracle=_BM25_BATCH_ORACLE,
    doc="multi-query BM25 via the PERSISTED inverted index (r14, "
        "ops/retrieval.py bm25_batch_topk_indexed): ONE partition-"
        "pruned read of the union terms' buckets serves every query — "
        "no corpus scan at all, the batch twin of OP-D4-bm25-indexed. "
        "Per-doc contributions pivot into fixed-order per-union-term "
        "columns and each query sums its own terms left-to-right "
        "before the 6dp round, so results equal the scan path "
        "bit-for-bit (same oracle as OP-D4-bm25-batch); per-query "
        "top-k through the WindowGroupLimit rank. Reachable from YAML "
        "via batchsearch.indexPath.",
)
def op_d4_bm25_batch_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.retrieval import (
        bm25_batch_topk_indexed,
        build_text_index,
    )
    from filefilter_spark.queries.inventory import _scratch

    ix = _scratch("d4bm25bix/text_index")
    docs = load_table(spark, sf_dir, "documents")
    build_text_index(docs, ix, n_buckets=16)
    return bm25_batch_topk_indexed(spark, ix, _BM25_BATCH_QUERIES, k=5,
                                   n_buckets=16)


_HYBRID_ORACLE = f"""
    WITH {_BM25_CTES},
    bm_rank AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_a
      FROM bm WHERE bm25 > 0.0 ORDER BY bm25 DESC, doc_id LIMIT 20
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT vec_id AS doc_id,
             round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cos_sim
      FROM embeddings, q
    ),
    cos_rank AS (
      SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rank_b
      FROM cos ORDER BY cos_sim DESC, doc_id LIMIT 20
    ),
    fused AS (
      SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
             round(coalesce(1.0 / CAST(60 + rank_a AS DOUBLE), 0.0)
                 + coalesce(1.0 / CAST(60 + rank_b AS DOUBLE), 0.0), 6) AS rrf_score,
             rank_a, rank_b
      FROM bm_rank a FULL OUTER JOIN cos_rank b USING (doc_id)
    )
    SELECT doc_id, rrf_score, rank_a, rank_b FROM fused
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """


@query(
    "OP-D3-hybrid",
    oracle=_HYBRID_ORACLE,
    doc="hybrid retrieval: reciprocal-rank fusion (Cormack 2009, k=60) of "
        "the BM25 top-20 and the exact-cosine top-20 (query = vec_id 0; "
        "doc_id pairs with vec_id in the synthetic corpus) — the standard "
        "find-docs-like-this shape for dataset curation with both lexical "
        "and semantic evidence. Both inputs are top-n lists, so the "
        "fusion join is broadcast-sized; ranks and fused order are taken "
        "on 6dp-rounded scores with id tiebreaks, making membership "
        "deterministic cross-engine (ops/retrieval.py rrf_fuse).",
)
def op_d3_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.retrieval import bm25_topk, ranked, rrf_fuse
    from filefilter_spark.ops.similarity import topk_cosine

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = ranked(bm25_topk(docs, list(_BM25_TERMS), k=20), "bm25", "doc_id")
    cs = topk_cosine(emb, _query_vec(spark, sf_dir), k=20).select(
        F.col("vec_id").alias("doc_id"), F.round("cos_sim", 6).alias("cos_sim")
    )
    cs = ranked(cs, "cos_sim", "doc_id")
    return rrf_fuse(bm, cs, id_col="doc_id", k=10)


_HYBRID_L2_EXACT_TOP10 = f"""
WITH {_BM25_CTES},
bm_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_a
  FROM bm WHERE bm25 > 0.0 ORDER BY bm25 DESC, doc_id LIMIT 20
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
l2 AS (
  SELECT vec_id AS doc_id, list_distance(embedding::DOUBLE[], qv) AS d
  FROM embeddings, q
),
l2_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY d, doc_id) AS rank_b
  FROM l2 ORDER BY d, doc_id LIMIT 20
),
fused AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         coalesce(1.0 / CAST(60 + rank_a AS DOUBLE), 0.0)
       + coalesce(1.0 / CAST(60 + rank_b AS DOUBLE), 0.0) AS rrf_score
  FROM bm_rank a FULL OUTER JOIN l2_rank b USING (doc_id)
)
SELECT doc_id FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
"""


@query(
    "OP-D3-hybrid-indexed",
    oracle=None,  # ANN tier inside → recall oracle vs the exact fusion
    recall=RecallSpec(_HYBRID_L2_EXACT_TOP10, ("doc_id",), 0.6,
                      exact_precision=False),
    doc="hybrid retrieval with ZERO corpus scans (r14): RRF fusion of "
        "the persisted inverted-index BM25 top-20 (bm25_topk_indexed — "
        "pruned bucket read, exact) and the persisted IVF×PQ L2 top-20 "
        "(ann_topk_indexed — pruned cell read + exact rerank of the "
        "auto-sized shortlist), both rankers index-backed — the 100 TB "
        "query path where neither tower touches the corpus. Recall-"
        "oracled (floor 0.6) against the EXACT fusion: scan BM25 + "
        "exact L2 top-20 fused with the same RRF — the lexical tower "
        "is exact, so the only approximation is the ANN tier's "
        "measured ~0.9 recall (ops/retrieval.py rrf_fuse, ranked "
        "ascending for the distance tower).",
)
def op_d3_hybrid_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.pq import ann_topk_indexed, build_ann_index
    from filefilter_spark.ops.retrieval import (
        bm25_topk_indexed,
        build_text_index,
        ranked,
        rrf_fuse,
    )
    from filefilter_spark.queries.inventory import _scratch

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tix = _scratch("d3hybix/text_index")
    aix = _scratch("d3hybix/ann_index")
    build_text_index(docs, tix, n_buckets=16)
    build_ann_index(emb, aix, n_lists=16, m=8, k=16, iters=1)
    bm = ranked(
        bm25_topk_indexed(spark, tix, list(_BM25_TERMS), k=20, n_buckets=16),
        "bm25", "doc_id",
    )
    nn = ann_topk_indexed(
        spark, aix, _query_vec(spark, sf_dir), topk=20, n_probe=4,
        vectors=emb,
    ).select(F.col("vec_id").alias("doc_id"), "dist2")
    nn = ranked(nn, "dist2", "doc_id", ascending=True)
    return rrf_fuse(bm, nn, id_col="doc_id", k=10)


# hybrid-batch: each batch query pairs its term list with a query
# vector (the retrieval-EVALUATION shape: N labeled eval queries, both
# towers index-backed). The exact-fusion reference below reuses the
# batch BM25 machinery (rank<=20 per query) and fuses with each
# query's exact L2 top-20 via the same RRF.
_HYBRID_BATCH_QVIDS = {"q_spark": 0, "q_window": 1, "q_mixed": 2}

_HYBRID_BATCH_EXACT_TOP10 = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS tk
  FROM documents
),
stats AS (
  SELECT count(*) AS n,
         CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl,
         {', '.join(
             f"sum((len(list_filter(tk, x -> x = '{t}'))>0)::bigint) AS df_{i}"
             for i, t in enumerate(_BATCH_TERMS))}
  FROM tok
),
scored AS (
  SELECT doc_id,
         {', '.join(
             "round(0.0 + "
             + ' + '.join(_bm25_batch_term_sql(t) for t in ts)
             + f", 6) AS s_{j}"
             for j, ts in enumerate(_BM25_BATCH_QUERIES.values()))}
  FROM tok CROSS JOIN stats
),
u AS ({' UNION ALL '.join(
    f"SELECT '{q}' AS q_id, doc_id, s_{j} AS bm25 FROM scored"
    for j, q in enumerate(_BM25_BATCH_QUERIES))}),
bm_rank AS (
  SELECT * FROM (
    SELECT q_id, doc_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY bm25 DESC, doc_id) AS rank_a
    FROM u WHERE bm25 > 0.0
  ) WHERE rank_a <= 20
),
qv AS ({' UNION ALL '.join(
    f"SELECT '{q}' AS q_id, embedding::DOUBLE[] AS qv "
    f"FROM embeddings WHERE vec_id = {v}"
    for q, v in _HYBRID_BATCH_QVIDS.items())}),
l2 AS (
  SELECT qv.q_id, e.vec_id AS doc_id,
         list_distance(e.embedding::DOUBLE[], qv.qv) AS d
  FROM embeddings e CROSS JOIN qv
),
l2_rank AS (
  SELECT * FROM (
    SELECT q_id, doc_id,
           row_number() OVER (PARTITION BY q_id ORDER BY d, doc_id) AS rank_b
    FROM l2
  ) WHERE rank_b <= 20
),
fused AS (
  SELECT coalesce(a.q_id, b.q_id) AS q_id,
         coalesce(a.doc_id, b.doc_id) AS doc_id,
         coalesce(1.0 / CAST(60 + rank_a AS DOUBLE), 0.0)
       + coalesce(1.0 / CAST(60 + rank_b AS DOUBLE), 0.0) AS rrf
  FROM bm_rank a FULL OUTER JOIN l2_rank b
    ON a.q_id = b.q_id AND a.doc_id = b.doc_id
)
SELECT q_id, doc_id FROM (
  SELECT q_id, doc_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY rrf DESC, doc_id) AS rk
  FROM fused
) WHERE rk <= 10
"""


@query(
    "OP-D3-hybrid-batch",
    oracle=None,  # ANN tier inside → recall oracle vs the exact fusion
    recall=RecallSpec(_HYBRID_BATCH_EXACT_TOP10, ("q_id", "doc_id"), 0.6,
                      exact_precision=False),
    doc="BATCH hybrid retrieval with zero corpus scans (r15, the "
        "retrieval-evaluation shape): N queries, each a term list + a "
        "query vector, fused per query — the lexical tower is ONE "
        "partition-pruned read of the union terms' buckets serving "
        "every query (bm25_batch_topk_indexed, exact), the semantic "
        "tower is ONE partition-pruned read of the union of all "
        "queries' probed cells (pq.ivfpq_batch_topk — per-query ADC "
        "over shared rows, WindowGroupLimit shortlists, one id-pruned "
        "exact-rerank pass for the union of shortlists), and "
        "rrf_fuse_batch joins the two small ranked tables with one "
        "per-query rank window. Recall-oracled (floor 0.6, keys "
        "(q_id, doc_id)) against the exact per-query fusion: scan "
        "BM25 rank<=20 + exact L2 rank<=20 through the same RRF — "
        "the only approximation is the ANN tier's measured ~0.9 "
        "recall, per query.",
)
def op_d3_hybrid_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.pq import ann_batch_topk_indexed, build_ann_index
    from filefilter_spark.ops.retrieval import (
        bm25_batch_topk_indexed,
        build_text_index,
        rrf_fuse_batch,
    )
    from filefilter_spark.queries.inventory import _scratch

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tix = _scratch("d3hybb/text_index")
    aix = _scratch("d3hybb/ann_index")
    build_text_index(docs, tix, n_buckets=16)
    build_ann_index(emb, aix, n_lists=16, m=8, k=16, iters=1)
    bm = bm25_batch_topk_indexed(
        spark, tix, _BM25_BATCH_QUERIES, k=20
    )
    vecs = {
        q: _query_vec(spark, sf_dir, v)
        for q, v in _HYBRID_BATCH_QVIDS.items()
    }
    nn = ann_batch_topk_indexed(
        spark, aix, vecs, topk=20, n_probe=4, vectors=emb,
    ).withColumnRenamed("vec_id", "doc_id")
    return rrf_fuse_batch(bm, nn, id_col="doc_id", k=10).orderBy(
        "q_id", "rank"
    )


_ANN_EXACT_L2_TOP10 = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id FROM embeddings, q
ORDER BY list_distance(embedding::DOUBLE[], qv), vec_id
LIMIT 10
"""


@query(
    "OP-D5-annindex",
    oracle=None,  # stream-grown ANN layout → recall oracle vs exact L2
    recall=RecallSpec(_ANN_EXACT_L2_TOP10, ("vec_id",), 0.6,
                      exact_precision=False),
    doc="streaming ANN-index maintenance (OP-D5 x OP-A8-annindex, "
        "streaming/jobs.py ann_index_stream_ingest) — the lifecycle "
        "twin of OP-D5-textindex: the persisted IVF×PQ layout is "
        "built on the day-1 corpus (70% by id hash), then the day-2 "
        "increment arrives as a multi-batch file stream "
        "(maxFilesPerTrigger=1); each micro-batch encodes against the "
        "FROZEN model (grid-exact, batch-arrival-invariant codes), "
        "appends to the cell-partitioned codes, and merges the meta "
        "sidecar's cell histogram additively (per-FILE-key idempotent "
        "surviving checkpoint loss — r15; temp+swap rewrite); "
        "in-stream maintenance threshold-compacts "
        "fragmented cells. ann_topk_indexed probes the grown layout "
        "unchanged (replay-shielded id dedup on the pruned read); "
        "recall-oracled vs the exact L2 top-10 of the FULL corpus "
        "(floor 0.6, measured 0.8 at sf0.01 with the widened probe — "
        "a frozen partial fit makes recall PROBE-bound, the drift "
        "lesson documented in the builder).",
)
def op_d5_annindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from filefilter_spark.ops.pq import ann_topk_indexed, build_ann_index
    from filefilter_spark.queries.inventory import _scratch
    from filefilter_spark.streaming.jobs import ann_index_stream_ingest

    emb = load_table(spark, sf_dir, "embeddings")
    src = _scratch("d5annix/emb_in")
    ix = _scratch("d5annix/ann_index")
    # fresh layout per invocation (bench min-of-2 would re-append)
    shutil.rmtree(ix, ignore_errors=True)
    day1 = emb.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(10)) < 7)
    day2 = emb.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(10)) >= 7)
    # the model fits on the DAY-1 SUBSET only and is then frozen — the
    # realistic ingest contract, and a measured lesson on top of
    # SCALING.md's sampled-fit law: with a drifted/partial fit, recall
    # becomes PROBE-bound (true neighbors land in cells the misplaced
    # centroids rank late), not shortlist-bound — measured at sf0.01:
    # 0.5 at n_probe=6 regardless of refine, 0.8 at n_probe=12 +
    # refine=20. Converge the coarse tier (coarse_iters=6), widen the
    # probe, and rebuild when drift accumulates (the layout is a
    # deterministic rebuild).
    build_ann_index(day1, ix, n_lists=16, m=8, k=16, iters=1,
                    coarse_iters=6)
    day2.repartition(3).write.mode("overwrite").parquet(src)
    ann_index_stream_ingest(
        spark, src, ix, max_files_per_trigger=1, maintain_every=2,
        max_files_per_partition=4,
    )
    return ann_topk_indexed(
        spark, ix, _query_vec(spark, sf_dir), topk=10, n_probe=12,
        refine=20, vectors=emb,
    ).select("vec_id", F.round("dist2", 6).alias("dist2"))


@query(
    "OP-D5-fuzzy",
    oracle="""
    WITH s AS (SELECT doc_id, substr(text, 1, 24) AS s FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.s, b.s) AS INT) AS dist
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.s, b.s) <= 3
    """,
    doc="streaming fuzzy-join maintenance (OP-D5 × OP-D2-fuzzy, r15 — "
        "the last batch-tier dedup to get a streaming mirror): "
        "build_fuzzy_index persists the Ed-Join layout (FROZEN-rarity "
        "gram order, bucketed postings/gramdf, DPP-prunable strings "
        "store, exact day-1 pair set) over a day-1 split, then "
        "fuzzy_index_stream_ingest drains day-2 in multi-file batches "
        "— each batch prefix-indexes under the frozen order, joins "
        "new-vs-store (broadcast batch prefix) and new-vs-new, "
        "length-bands the short block both directions, verifies with "
        "thresholded levenshtein, and appends exactly the new pairs. "
        "The frozen total order keeps prefix filtering LOSSLESS "
        "(rarity only buys selectivity), so the drained pairs store "
        "equals the batch op over the union corpus BIT-FOR-BIT — the "
        "oracle is DuckDB's quadratic join over ALL docs, exact, not "
        "a recall floor. Replays are per-file-key idempotent "
        "(streaming/jobs.py fuzzy_index_stream_ingest).",
)
def op_d5_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from filefilter_spark.ops.dedup import build_fuzzy_index
    from filefilter_spark.queries.inventory import _scratch
    from filefilter_spark.streaming.jobs import fuzzy_index_stream_ingest

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr("substring(text, 1, 24)").alias("s")
    )
    src = _scratch("d5fuzzy/docs_in")
    ix = _scratch("d5fuzzy/fuzzy_index")
    # fresh layout per invocation (bench min-of-2 would replay-skip)
    shutil.rmtree(ix, ignore_errors=True)
    day1 = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) < 7)
    day2 = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) >= 7)
    build_fuzzy_index(day1, ix, id_col="doc_id", str_col="s",
                      max_dist=3, q=2)
    day2.repartition(3).write.mode("overwrite").parquet(src)
    return fuzzy_index_stream_ingest(
        spark, src, ix, id_col="doc_id", str_col="s",
        max_files_per_trigger=1, maintain_every=2,
        max_files_per_partition=4,
    )


@query(
    "OP-A8-fuzzydedup",
    oracle="""
    WITH RECURSIVE s AS (
      SELECT doc_id, substr(text, 1, 24) AS k FROM documents
    ),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE levenshtein(a.k, b.k) <= 2
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM p
      UNION
      SELECT id_b, id_a FROM p
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    ),
    losers AS (
      SELECT src AS doc_id FROM reach GROUP BY src HAVING src != min(node)
    )
    SELECT d.doc_id, d.lang, d.source FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
    """,
    doc="zero-code fuzzy dedup (r15 — the YAML surface over the exact "
        "Ed-Join fuzzy join): a sql stage derives the 24-char key, then "
        "the fuzzydedup stage finds the exact levenshtein<=2 pair set "
        "(prefix-filtered, never all-pairs), clusters it via connected "
        "components, and keeps each cluster's min-id survivor — rows in "
        "no pair pass through untouched "
        "(stages/corpus_stage.py FuzzyDedupStage). Oracle: DuckDB's "
        "quadratic join + recursive-CTE transitive closure, exact.",
)
def op_a8_fuzzydedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    yaml = """
filters:
  - name: key
    actionType: sql
    code: "SELECT *, substring(text, 1, 24) AS k FROM df"
  - name: dedup
    actionType: fuzzydedup
    actionConfig: {keyField: k, maxDist: 2, q: 2}
"""
    pipe = Pipeline(spark, load_config_str(yaml))
    return pipe.run(load_table(spark, sf_dir, "documents")).df.select(
        "doc_id", "lang", "source"
    )


@query(
    "OP-A8-semdedup",
    oracle=None,  # clustering-dependent pair recall → RecallSpec
    recall=RecallSpec(
        """
        WITH RECURSIVE n AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        ),
        p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM n a JOIN n b ON a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.e, b.e) >= 0.45
        ),
        edges AS (
          SELECT id_a AS a, id_b AS b FROM p
          UNION
          SELECT id_b, id_a FROM p
        ),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        reach(src, node) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
        ),
        losers AS (
          SELECT src AS vec_id FROM reach
          GROUP BY src HAVING src != min(node)
        )
        SELECT vec_id FROM embeddings
        WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        """,
        ("vec_id",),
        1.0,  # structural: detected pairs ⊆ exact pairs (precision-
        # exact verify) ⇒ detected components REFINE exact components
        # ⇒ every exact component's min-id is also the min of its own
        # sub-component and survives — full recall of the exact
        # survivor set is a THEOREM here, and the check pins the
        # survivor-selection logic (a wrongly killed min-id fails it).
        exact_precision=False,  # boundary-pair misses over-RETAIN:
        # extra survivors (sub-component minima) are the honest cost
        # of recall<1 pair detection, measured on OP-D3-semdedup
    ),
    doc="zero-code SemDeDup (the YAML surface over "
        "ops/similarity.py semantic_dedup — KMeans cells + "
        "within-cell exact-cosine verify + CC min-id survivors, "
        "Abbas et al. 2023): one semdedup stage on the embeddings "
        "frame drops every row whose exact-cosine near-dup with a "
        "smaller id shares a cell. Oracle: DuckDB's quadratic cosine "
        "join + recursive-CTE transitive closure computes the EXACT "
        "survivor set; the stage's output is structurally a superset "
        "(precision-exact kills), so the recall floor is 1.0 "
        "(stages/corpus_stage.py SemDedupStage).",
)
def op_a8_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    yaml = """
filters:
  - name: dedup
    actionType: semdedup
    actionConfig: {vecField: embedding, idField: vec_id, threshold: 0.45}
"""
    pipe = Pipeline(spark, load_config_str(yaml))
    return pipe.run(load_table(spark, sf_dir, "embeddings")).df.select(
        "vec_id"
    )


@query(
    "OP-A8-searchindex",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, b.bm25
    FROM documents d
    JOIN (SELECT doc_id, bm25 FROM bm WHERE bm25 > 0.0
          ORDER BY bm25 DESC, doc_id LIMIT 10) b USING (doc_id)
    """,
    doc="zero-code index LIFECYCLE (the r13 gap: YAML could query an "
        "index but not create one): a searchindex stage builds the "
        "persisted inverted-index layout from the incoming frame, then "
        "the search stage in the SAME pipeline queries it via "
        "indexPath — a partition-pruned probe, the corpus never "
        "re-scanned at query time. The oracle is the corpus-scan BM25 "
        "joined back to the documents: index results == scan results "
        "through the pipeline path "
        "(stages/analytics_stage.py SearchIndexStage).",
)
def op_a8_searchindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline
    from filefilter_spark.queries.inventory import _scratch

    ix = _scratch("a8six/text_index")
    yaml = f"""
filters:
  - name: build_ix
    actionType: searchindex
    actionConfig: {{indexPath: {ix}, nBuckets: 16}}
  - name: shortlist
    actionType: search
    actionConfig:
      terms: [{', '.join(_BM25_TERMS)}]
      k: 10
      indexPath: {ix}
      nBuckets: 16
"""
    pipe = Pipeline(spark, load_config_str(yaml))
    return pipe.run(load_table(spark, sf_dir, "documents")).df


@query(
    "OP-A8-batchsearch",
    oracle=_BM25_BATCH_ORACLE,
    doc="zero-code multi-query retrieval: the batchsearch stage runs "
        "OP-D4-bm25-batch's one-scan evaluation shape from YAML — a "
        "RESULT-PRODUCING stage whose output is the ranked "
        "(q_id, doc_id, bm25, rank) table, composed like a report "
        "stage (stages/analytics_stage.py BatchSearchStage); same "
        "oracle as the library path.",
)
def op_a8_batchsearch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    qlines = "\n".join(
        f"        {q}: [{', '.join(ts)}]"
        for q, ts in _BM25_BATCH_QUERIES.items()
    )
    yaml = f"""
filters:
  - name: eval_queries
    actionType: batchsearch
    actionConfig:
      k: 5
      queries:
{qlines}
"""
    pipe = Pipeline(spark, load_config_str(yaml))
    return pipe.run(load_table(spark, sf_dir, "documents")).df


@query(
    "OP-A8-hybridsearch",
    oracle=_HYBRID_ORACLE,
    doc="zero-code hybrid retrieval: search stage with mode: hybrid "
        "fuses BM25 and exact cosine over the frame's embedding column "
        "via RRF (queryVector in actionConfig), matching OP-D3-hybrid's "
        "oracle exactly through the pipeline path; the trailing sql "
        "stage projects the fused columns "
        "(stages/analytics_stage.py SearchStage).",
)
def op_a8_hybridsearch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    qv = _query_vec(spark, sf_dir)
    yaml = f"""
filters:
  - name: fuse
    actionType: search
    actionConfig:
      mode: hybrid
      terms: [{', '.join(_BM25_TERMS)}]
      k: 10
      fusionN: 20
      queryVector: [{', '.join(repr(float(x)) for x in qv)}]
  - name: project
    actionType: sql
    code: SELECT doc_id, rrf_score, rank_a, rank_b FROM df
"""
    pipe = Pipeline(spark, load_config_str(yaml))
    return pipe.run(docs.join(emb, "doc_id")).df


# ---------------------------------------------------------------------------
# OP-D5 — Structured Streaming over events
#
# _STATE_PARTITIONS sizes each job's state-store shuffle to the test
# input (one small file): state partitions are a per-stream capacity
# decision frozen at the first checkpoint, and every partition costs a
# store instance + per-batch snapshot I/O, so the batch default (32)
# would spend most of the job's wall time on empty stores. On a real
# deployment this is the knob you raise with expected key cardinality.
_STATE_PARTITIONS = 4

# ---------------------------------------------------------------------------


@query(
    "OP-D5",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           count(*) AS n,
           (CAST(SUM(CAST(ROUND((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    doc="Structured Streaming: tumbling 1-hour event-time window with "
        "watermark, run to completion with availableNow trigger against the "
        "static events table — batch oracle is the same windowed aggregate.",
)
def op_d5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.streaming.jobs import windowed_counts_available_now

    return windowed_counts_available_now(
        spark, f"{sf_dir}/events.parquet", state_partitions=_STATE_PARTITIONS
    )


@query(
    "OP-D5-session",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             -- same (ts, event_id) total order as the lag window: an
             -- ORDER BY ts alone is nondeterministic on tied
             -- timestamps and could split a boundary event into a
             -- phantom session
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    doc="session windows (30-min inactivity gap) via F.session_window — "
        "dynamic data-driven windows with watermarked state; oracle is the "
        "batch gaps-and-islands formulation of the same sessions.",
)
def op_d5_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.streaming.jobs import session_window_counts_available_now

    return session_window_counts_available_now(
        spark, f"{sf_dir}/events.parquet", state_partitions=_STATE_PARTITIONS
    )


@query(
    "OP-D5-dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="streaming stateful dedup (dropDuplicatesWithinWatermark) — "
        "watermark-bounded state; emitting only the key columns makes the "
        "result exactly DISTINCT keys, so the batch oracle is exact.",
)
def op_d5_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.streaming.jobs import stateful_dedup_available_now

    return stateful_dedup_available_now(
        spark, f"{sf_dir}/events.parquet", state_partitions=_STATE_PARTITIONS
    )


@query(
    "OP-D5-state",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           (CAST(SUM(CAST(ROUND((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS total_value
    FROM events GROUP BY user_id
    """,
    doc="arbitrary stateful streaming via applyInPandasWithState: "
        "per-user running (count, cent-exact sum) kept in explicit "
        "state across micro-batches; final state equals the batch "
        "GROUP BY, which is the oracle.",
)
def op_d5_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.streaming.jobs import stateful_user_stats_available_now

    return stateful_user_stats_available_now(
        spark, f"{sf_dir}/events.parquet", state_partitions=_STATE_PARTITIONS
    )


_FB_YAML = """
filters:
  - name: clicks_only
    actionType: sql
    code: SELECT * FROM df WHERE event_type = 'click'
  - name: double
    actionType: python
    code: |
      row['value_x2'] = row['value'] * 2
"""


@query(
    "OP-D5-pipeline",
    oracle="""
    SELECT event_id, user_id, value, value * 2 AS value_x2
    FROM events WHERE event_type = 'click'
    """,
    doc="foreachBatch pipeline: the reference's chunked stage loop "
        "(filefilter.py:195-276) re-expressed on a stream — each "
        "micro-batch runs the same YAML sql+python stages; deterministic "
        "stages make the batch oracle exact.",
)
def op_d5_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.streaming.jobs import pipeline_foreach_batch

    out = pipeline_foreach_batch(spark, f"{sf_dir}/events.parquet", _FB_YAML)
    return out.select("event_id", "user_id", "value", "value_x2")


# ---------------------------------------------------------------------------
# OP-D6 — multimodal binary-column plumbing
# ---------------------------------------------------------------------------


@query(
    "OP-D6-multimodal",
    oracle="""
    SELECT doc_id AS media_id, 'image' AS media_type,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS content_len,
           sha256(text) AS sha256
    FROM documents
    """,
    doc="multimodal media-table plumbing: opaque binary payload + typed "
        "metadata (length, sha256) — hashing JVM-side; payload column "
        "dropped for comparison (DuckDB can't hash blobs).",
)
def op_d6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.multimodal import to_media_table

    d = load_table(spark, sf_dir, "documents")
    media = to_media_table(d, "doc_id", "text", media_type="image")
    return media.select("media_id", "media_type", "content_len", "sha256")


@query(
    "OP-D6-decode",
    # The decode kernel is a stub (no codecs in container), but its fake
    # output is a pure function of sha256(payload) — and the payload here
    # is UTF-8 text, which DuckDB's VARCHAR sha256 hashes identically. So
    # the plumbing gets a full value-hash oracle, not just rows-only.
    oracle="""
    SELECT doc_id AS media_id,
           CAST(64 + ('0x' || substr(sha256(text), 1, 2))::INT % 192 AS INT) AS width,
           CAST(64 + ('0x' || substr(sha256(text), 3, 2))::INT % 192 AS INT) AS height,
           3 AS n_channels,
           substr(sha256(text), 1, 16) AS feature_hash
    FROM documents
    """,
    doc="image decode/feature plumbing: Arrow-batched mapInPandas over the "
        "binary column; deterministic fake kernel (see ops.multimodal).",
)
def op_d6_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.multimodal import extract_image_features, to_media_table

    d = load_table(spark, sf_dir, "documents")
    media = to_media_table(d, "doc_id", "text", media_type="image")
    return extract_image_features(media, fake=True)


@query(
    "OP-D6-decode-jpeg",
    # The REAL decode path on real baseline-JFIF payloads (the from-spec
    # T.81 decoder in ops/imagecodec.py, fake=False) — no codec library
    # involved. Width/height/channels are ground truth from the frame
    # header; feature_hash pins the decoder's deterministic pixel output
    # (pixel CORRECTNESS vs an independent decoder — Java ImageIO — is
    # asserted with tolerance in tests/test_imagecodec.py; the hash here
    # turns any decoder regression into an oracle failure).
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(37 AS INT), CAST(23 AS INT), CAST(3 AS INT),
       'c21610790cfc8b89'),
      (CAST(1 AS BIGINT), CAST(64 AS INT), CAST(48 AS INT), CAST(3 AS INT),
       '49c4f8d836695a0d'),
      (CAST(2 AS BIGINT), CAST(32 AS INT), CAST(32 AS INT), CAST(1 AS INT),
       'bf3379b61b2ea923'),
      (CAST(3 AS BIGINT), CAST(45 AS INT), CAST(29 AS INT), CAST(3 AS INT),
       'bc8319c6d3f1fe55'),
      -- media 4 (progressive gray) hashes IDENTICALLY to media 2 (the
      -- sequential encoding of the same pattern): the oracle itself
      -- enforces cross-mode reconstruction equality.
      (CAST(4 AS BIGINT), CAST(32 AS INT), CAST(32 AS INT), CAST(1 AS INT),
       'bf3379b61b2ea923')
    ) AS t(media_id, width, height, n_channels, feature_hash)
    """,
    doc="REAL JPEG decode: baseline AND progressive (SOF2) JFIF fixtures "
        "(4:2:0 color with non-MCU-aligned dims, high quality, grayscale, "
        "progressive color + gray) through the from-spec T.81 decoder "
        "inside the Arrow-batched mapInPandas kernel — the same plumbing "
        "OP-D6-decode runs in fake mode, now with honest pixels.",
)
def op_d6_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from filefilter_spark.ops.multimodal import extract_image_features, to_media_table

    fix = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "tests", "fixtures", "jpeg",
    )
    payloads = [
        (i, open(os.path.join(fix, f"{n}.jpg"), "rb").read())
        for i, n in enumerate(
            ("rgb_q85", "rgb_q95", "gray_q90", "prog_rgb_q85", "prog_gray_q90")
        )
    ]
    df = spark.createDataFrame(payloads, "media_id long, payload binary")
    media = to_media_table(df, "media_id", "payload", media_type="image")
    return extract_image_features(media, fake=False)


@query(
    "OP-D6-audio",
    # Fake kernel is sha256-derived (see OP-D6-decode note) → full oracle.
    oracle="""
    SELECT doc_id AS media_id,
           (octet_length(CAST(text AS BLOB)) * 100 * 1000)
             // (CASE WHEN ('0x' || substr(sha256(text), 5, 2))::INT % 2 = 1
                      THEN 16000 ELSE 44100 END) AS duration_ms,
           CAST(CASE WHEN ('0x' || substr(sha256(text), 5, 2))::INT % 2 = 1
                     THEN 16000 ELSE 44100 END AS INT) AS sample_rate,
           octet_length(CAST(text AS BLOB)) * 100 AS n_samples,
           substr(sha256(text), 1, 16) AS mfcc_hash
    FROM documents
    """,
    doc="audio feature plumbing (duration/sample-rate/MFCC fingerprint): "
        "Arrow-batched mapInPandas, deterministic fake kernel.",
)
def op_d6_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.multimodal import extract_audio_features_stub, to_media_table

    d = load_table(spark, sf_dir, "documents")
    media = to_media_table(d, "doc_id", "text", media_type="audio")
    return extract_audio_features_stub(media, fake=True)


@query(
    "OP-D6-decode-gif",
    # REAL GIF decode (LZW from spec, ops/imagecodec.py, fake=False).
    # Unlike JPEG, palette lookup is lossless, so the pinned hashes are
    # BYTE-EXACT vs the independent decoder (Java ImageIO) — asserted
    # in tests/test_imagecodec.py, which also covers interlace and the
    # variable-width LZW path via a forward-implemented writer.
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(41 AS INT), CAST(27 AS INT), CAST(3 AS INT),
       'b2f4731194daca14'),
      (CAST(1 AS BIGINT), CAST(64 AS INT), CAST(64 AS INT), CAST(3 AS INT),
       'eb164e956a3b1197')
    ) AS t(media_id, width, height, n_channels, feature_hash)
    """,
    doc="REAL GIF decode: LZW fixtures through the from-spec decoder "
        "inside the Arrow-batched mapInPandas kernel; output byte-exact "
        "vs an independent decoder (palette lookup is lossless).",
)
def op_d6_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from filefilter_spark.ops.multimodal import extract_image_features, to_media_table

    fix = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "tests", "fixtures", "gif",
    )
    payloads = [
        (i, open(os.path.join(fix, f"{n}.gif"), "rb").read())
        for i, n in enumerate(("grad_41x27", "grad_64x64"))
    ]
    df = spark.createDataFrame(payloads, "media_id long, payload binary")
    media = to_media_table(df, "media_id", "payload", media_type="image")
    return extract_image_features(media, fake=False)


@query(
    "OP-D6-resize-real",
    # The REAL binary→binary resize path on a MIXED-format batch
    # (JPEG 4:2:0, GIF, TIFF-LZW, grayscale JPEG): decode via the
    # from-spec codecs, nearest-neighbor resample to 16x16, re-encode
    # as PNG. content_len and sha256 pin the full output payload —
    # end-to-end byte determinism of decode+resample+encode across
    # four different input codecs in one kernel run.
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), 'image', CAST(852 AS BIGINT),
       '355c87721fea8b0f02a506f0532d2649b4d88c768d79482c496a85ac9b6ef147'),
      (CAST(1 AS BIGINT), 'image', CAST(501 AS BIGINT),
       '58da550fe7ac56a1fe2c97a3282e9c984fe99298c2d8029dfb8db7878a9d5957'),
      (CAST(2 AS BIGINT), 'image', CAST(557 AS BIGINT),
       '3e0f2f0168826e703d04044f0b5a01a73a8379513b0deab3a22e3971c004bf31'),
      (CAST(3 AS BIGINT), 'image', CAST(274 AS BIGINT),
       '652ffc1571bf73dbe063e2d416e3739868820c9d19b58e3fce3de385e9b7bd73')
    ) AS t(media_id, media_type, content_len, sha256)
    """,
    doc="REAL mixed-format image resize: JPEG/GIF/TIFF payloads decoded, "
        "resampled to 16x16 and re-encoded as PNG inside one mapInPandas "
        "kernel run; output payload bytes pinned end-to-end.",
)
def op_d6_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from filefilter_spark.ops.multimodal import resize_images_stub, to_media_table

    fix = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "tests", "fixtures",
    )
    names = [
        "jpeg/rgb_q85.jpg", "gif/grad_41x27.gif",
        "tiff/rgb_lzw.tif", "jpeg/gray_q90.jpg",
    ]
    payloads = [
        (i, open(os.path.join(fix, n), "rb").read()) for i, n in enumerate(names)
    ]
    df = spark.createDataFrame(payloads, "media_id long, payload binary")
    media = to_media_table(df, "media_id", "payload", media_type="image")
    resized = resize_images_stub(media, width=16, height=16, fake=False)
    return resized.select("media_id", "media_type", "content_len", "sha256")


@query(
    "OP-A8-media",
    # Same deterministic fake-decode contract as OP-D6-decode, but
    # reached through the YAML pipeline surface (actionType: media) —
    # proving the zero-code stage wires the kernel identically.
    oracle="""
    SELECT doc_id AS media_id,
           CAST(64 + ('0x' || substr(sha256(text), 1, 2))::INT % 192 AS INT) AS width,
           CAST(64 + ('0x' || substr(sha256(text), 3, 2))::INT % 192 AS INT) AS height,
           3 AS n_channels,
           substr(sha256(text), 1, 16) AS feature_hash
    FROM documents
    """,
    doc="zero-code media pipeline stage: actionType media / op decode "
        "from YAML, dispatching into the same mapInPandas kernel as "
        "OP-D6-decode (stages/media_stage.py).",
)
def op_a8_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    pipe = Pipeline(spark, load_config_str(
        """
filters:
  - name: meta
    actionType: media
    actionConfig: {op: decode, fake: true}
"""
    ))
    return pipe.run(d).df


@query(
    "OP-D6-resize-jpeg",
    # Decode (JPEG/GIF/TIFF) -> resample -> re-encode as JPEG via the
    # from-spec baseline ENCODER — the thumbnail shape a web-scale
    # pipeline ships. Output payload bytes pinned end-to-end; the
    # encoder's own validity is cross-checked against ImageIO in
    # tests/test_imagecodec.py.
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), 'image', CAST(592 AS BIGINT),
       '039abda384ef4bbcdebda06246835f1828429e9de9ba757a4b5aae8198488d50'),
      (CAST(1 AS BIGINT), 'image', CAST(673 AS BIGINT),
       '18f5136188425d69d394de36169d0a1cb2f62797d18d75f1b47bd473aeb55878'),
      (CAST(2 AS BIGINT), 'image', CAST(711 AS BIGINT),
       '9e33f564587468d4b94c80243cb751c615464afae994cd58106abcab50d01d22')
    ) AS t(media_id, media_type, content_len, sha256)
    """,
    doc="REAL mixed-format resize with JPEG output: decode via the "
        "from-spec codecs, resample to 16x16, re-encode with the "
        "baseline JPEG encoder inside the mapInPandas kernel.",
)
def op_d6_resize_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from filefilter_spark.ops.multimodal import resize_images_stub, to_media_table

    fix = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "tests", "fixtures",
    )
    names = ["jpeg/rgb_q85.jpg", "gif/grad_41x27.gif", "tiff/rgb_lzw.tif"]
    payloads = [
        (i, open(os.path.join(fix, n), "rb").read()) for i, n in enumerate(names)
    ]
    df = spark.createDataFrame(payloads, "media_id long, payload binary")
    media = to_media_table(df, "media_id", "payload", media_type="image")
    resized = resize_images_stub(
        media, width=16, height=16, fake=False, out_format="jpeg"
    )
    return resized.select("media_id", "media_type", "content_len", "sha256")


@query(
    "OP-D6-decode-tiff",
    # REAL TIFF decode (IFD/strips/LZW/Deflate/PackBits from spec,
    # ops/imagecodec.py, fake=False); all supported compressions are
    # lossless so the pinned hashes are byte-exact vs Java ImageIO
    # (tests/test_imagecodec.py). none and LZW fixtures share content
    # → identical feature_hash, which is itself a cross-compression
    # consistency check the oracle enforces.
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(33 AS INT), CAST(21 AS INT), CAST(3 AS INT),
       '3103099ba183bac6'),
      (CAST(1 AS BIGINT), CAST(33 AS INT), CAST(21 AS INT), CAST(3 AS INT),
       '3103099ba183bac6'),
      (CAST(2 AS BIGINT), CAST(40 AS INT), CAST(30 AS INT), CAST(3 AS INT),
       '7ce0dfa6a22da9e4'),
      (CAST(3 AS BIGINT), CAST(24 AS INT), CAST(24 AS INT), CAST(1 AS INT),
       '45d04194b896f2f7')
    ) AS t(media_id, width, height, n_channels, feature_hash)
    """,
    doc="REAL TIFF decode: uncompressed / TIFF-LZW / Deflate / PackBits "
        "fixtures through the from-spec reader inside the Arrow-batched "
        "mapInPandas kernel; byte-exact vs an independent decoder.",
)
def op_d6_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from filefilter_spark.ops.multimodal import extract_image_features, to_media_table

    fix = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "tests", "fixtures", "tiff",
    )
    payloads = [
        (i, open(os.path.join(fix, f"{n}.tif"), "rb").read())
        for i, n in enumerate(
            ("rgb_none", "rgb_lzw", "rgb_deflate", "gray_packbits")
        )
    ]
    df = spark.createDataFrame(payloads, "media_id long, payload binary")
    media = to_media_table(df, "media_id", "payload", media_type="image")
    return extract_image_features(media, fake=False)


@query(
    "OP-D6-audio-wav",
    # REAL audio decode on real RIFF/WAVE payloads (stdlib parser +
    # numpy MFCC, ops/audiocodec.py, fake=False). Geometry columns are
    # ground truth from the generator parameters; mfcc_hash pins the
    # deterministic fingerprint (MFCC math is validated at the signal
    # level in tests/test_audiocodec.py — tone frequency recovery,
    # distinct tones fingerprinting apart; the 44.1 kHz hash was
    # re-pinned in round 6 when the FFT stopped cropping 25 ms frames
    # to 512 samples — the 8 kHz hashes are unchanged, proving the fix
    # left <=512-sample frames bit-identical).
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(250 AS BIGINT), CAST(8000 AS INT),
       CAST(2000 AS BIGINT), 'a5f8150fd45ad86b'),
      (CAST(1 AS BIGINT), CAST(100 AS BIGINT), CAST(44100 AS INT),
       CAST(4410 AS BIGINT), '3cbafb4a35dd9126'),
      (CAST(2 AS BIGINT), CAST(250 AS BIGINT), CAST(8000 AS INT),
       CAST(2000 AS BIGINT), '0588e31853e2a742')
    ) AS t(media_id, duration_ms, sample_rate, n_samples, mfcc_hash)
    """,
    doc="REAL WAV audio decode: PCM test tones (16-bit mono, 16-bit "
        "stereo, 8-bit mono; stdlib wave-module generator) through the "
        "from-spec RIFF parser and frame-averaged MFCC fingerprint inside "
        "the Arrow-batched mapInPandas kernel — the honest-pixels "
        "counterpart of OP-D6-decode-jpeg for the audio tier.",
)
def op_d6_audio_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.audiocodec import synth_wav
    from filefilter_spark.ops.multimodal import (
        extract_audio_features_stub,
        to_media_table,
    )

    payloads = [
        (0, synth_wav(8000, 1, 2, 0.25, [440.0])),
        (1, synth_wav(44100, 2, 2, 0.1, [440.0, 880.0])),
        (2, synth_wav(8000, 1, 1, 0.25, [440.0])),
    ]
    df = spark.createDataFrame(payloads, "media_id long, payload binary")
    media = to_media_table(df, "media_id", "payload", media_type="audio")
    return extract_audio_features_stub(media, fake=False)


@query(
    "OP-D6-frames",
    # Fake kernel is sha256-derived (see OP-D6-decode note) → full oracle,
    # including the 1:N fan-out cardinality via unnest(range(...)).
    oracle="""
    SELECT media_id,
           CAST(frame_idx AS INT) AS frame_idx,
           substr(sha256(sha256(text) || '-' || CAST(frame_idx AS VARCHAR)), 1, 16)
             AS frame_hash
    FROM (
        SELECT doc_id AS media_id, text,
               unnest(range(0, greatest(1, octet_length(CAST(text AS BLOB)) % 300), 30))
                 AS frame_idx
        FROM documents
    )
    """,
    doc="video frame-sampling plumbing: 1:N mapInPandas fan-out from one "
        "video row to frame rows; deterministic fake kernel.",
)
def op_d6_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.multimodal import frame_sample_stub, to_media_table

    d = load_table(spark, sf_dir, "documents")
    media = to_media_table(d, "doc_id", "text", media_type="video")
    return frame_sample_stub(media, every_n=30, fake=True)


@query(
    "OP-D6-frames-y4m",
    # REAL video frame sampling on a real YUV4MPEG2 clip (pure-stdlib
    # reader, ops/videocodec.py, fake=False): a 95-frame 32x18 4:2:0
    # test clip, every 30th frame hashed. Frame indices are ground
    # truth from the sampling arithmetic; hashes pin the deterministic
    # frame bytes (format offsets are spec-pinned in
    # tests/test_videocodec.py, so writer and reader can't co-drift).
    oracle="""
    SELECT * FROM (VALUES
      (CAST(7 AS BIGINT), CAST(0 AS INT),  'baf27306a9593f61'),
      (CAST(7 AS BIGINT), CAST(30 AS INT), 'f5978319e24fa6b4'),
      (CAST(7 AS BIGINT), CAST(60 AS INT), '56d1223b022778d4'),
      (CAST(7 AS BIGINT), CAST(90 AS INT), '023d90c6ce9ccba2')
    ) AS t(media_id, frame_idx, frame_hash)
    """,
    doc="REAL video frame sampling: an uncompressed y4m clip through the "
        "from-spec YUV4MPEG2 reader inside the 1:N mapInPandas fan-out — "
        "the honest-pixels counterpart of OP-D6-decode-jpeg for the video "
        "tier (compressed containers still refuse loudly).",
)
def op_d6_frames_y4m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.multimodal import frame_sample_stub, to_media_table
    from filefilter_spark.ops.videocodec import synth_y4m

    df = spark.createDataFrame(
        [(7, synth_y4m(32, 18, 95, fps=30))], "media_id long, payload binary"
    )
    media = to_media_table(df, "media_id", "payload", media_type="video")
    return frame_sample_stub(media, every_n=30, fake=False)


@query(
    "OP-D6-resize",
    # Fake kernel emits an ASCII hex payload precisely so the rewritten
    # payload's sha256 is reproducible by the VARCHAR-only oracle sha256
    # (see ops.multimodal.resize_images_stub) → full oracle.
    oracle="""
    SELECT doc_id AS media_id, 'image' AS media_type,
           CAST(256 AS BIGINT) AS content_len,
           sha256(repeat(sha256(text || '224x224'), 4)) AS sha256
    FROM documents
    """,
    doc="image resize plumbing: binary→binary mapInPandas rewrite keeping "
        "the canonical media schema; deterministic fake kernel.",
)
def op_d6_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.multimodal import resize_images_stub, to_media_table

    d = load_table(spark, sf_dir, "documents")
    media = to_media_table(d, "doc_id", "text", media_type="image")
    resized = resize_images_stub(media, fake=True)
    # payload column dropped for comparison (DuckDB can't hash blobs, but
    # the sha256 column proves the payload bytes end-to-end)
    return resized.select("media_id", "media_type", "content_len", "sha256")


# ---------------------------------------------------------------------------
# OP-D7 — corpus assembly (split / pack / contamination)
# ---------------------------------------------------------------------------

def _split_case_sql(id_expr: str, seed: int = 42) -> str:
    """CASE expression mirroring ops.corpus.hash_split — built from the
    SAME split_cutoffs() constants, so the oracle is the definition."""
    from filefilter_spark.ops.corpus import split_cutoffs

    prefix = f"substr(md5(CAST({id_expr} AS VARCHAR) || ':{seed}'), 1, 8)"
    arms = []
    for name, cutoff in split_cutoffs({"train": 0.9, "val": 0.05, "test": 0.05}):
        if cutoff is None:
            arms.append(f"ELSE '{name}'")
        else:
            arms.append(f"WHEN {prefix} < '{cutoff}' THEN '{name}'")
    return "CASE " + " ".join(arms) + " END"


@query(
    "OP-D7-split",
    oracle=f"""
    SELECT doc_id, {_split_case_sql('doc_id')} AS split FROM documents
    """,
    doc="deterministic hash-based train/val/test split (90/5/5): pure "
        "per-row md5-prefix projection — reproducible across engines, "
        "reruns, and cluster sizes, unlike randomSplit (ops/corpus.py).",
)
def op_d7_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import hash_split

    return hash_split(load_table(spark, sf_dir, "documents")).select("doc_id", "split")


@query(
    "OP-D4-qualityclf",
    oracle=None,  # learned model → recall oracle, not a value hash
    doc="GPT-3-style learned quality filter (Brown et al. 2020 §A): "
        "LogisticRegression over hashed-token vectors (SQL murmur3 "
        "buckets), trained reference-vs-crawl, scored natively in SQL "
        "by folding the broadcast nonzero coefficients (no "
        "model.transform). The synthetic corpus has no quality axis, so the "
        "entry trains on a SEPARABLE construct — docs containing the "
        "token 'spark' vs the rest — and the recall oracle checks the "
        "learned decision recovers ≥95% of that exact set (plus an "
        "exact-precision unit test on the same task); the mechanics "
        "(featurize → distributed L-BFGS → score) are the production "
        "path verbatim (ops/classifier.py).",
    recall=RecallSpec(
        r"""
        SELECT doc_id FROM documents
        WHERE list_contains(
          list_filter(string_split_regex(lower(text), '\s+'), x -> x != ''),
          'spark')
        """,
        ("doc_id",),
        0.95,
        exact_precision=False,  # a learned boundary has no precision proof
    ),
)
def op_d4_qualityclf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.classifier import (
        quality_scores, train_quality_classifier,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    has = docs.filter(F.array_contains(_tokens_lower("text"), "spark"))
    lacks = docs.filter(~F.array_contains(_tokens_lower("text"), "spark"))
    qm = train_quality_classifier(has, lacks)
    return (
        quality_scores(docs, qm)
        .filter(F.col("quality_prob") > 0.5)
        .select("doc_id")
    )


def _tokens_lower(text_col: str):
    from filefilter_spark.ops.text import tokens

    return tokens(F.lower(F.col(text_col)))


@query(
    "OP-D7-dsir",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x != '') AS tk
      FROM documents
    ),
    feats AS (
      SELECT doc_id, lang, unnest(tk) AS f FROM toks
      UNION ALL
      SELECT doc_id, lang,
             unnest([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]) AS f
      FROM toks
    ),
    bk AS (SELECT doc_id, lang, substr(md5(f), 1, 3) AS b FROM feats),
    qc AS (SELECT b, CAST(count(*) AS DOUBLE) AS qc FROM bk GROUP BY b),
    tc AS (SELECT b, CAST(count(*) AS DOUBLE) AS tc
           FROM bk WHERE lang = 'en' GROUP BY b),
    tot AS (SELECT (SELECT sum(qc) FROM qc) AS nq,
                   (SELECT sum(tc) FROM tc) AS nt),
    ratio AS (
      SELECT qc.b,
             ln(((COALESCE(tc.tc, 0) + 1.0) / (tot.nt + 4096.0))
                / ((qc.qc + 1.0) / (tot.nq + 4096.0))) AS lr
      FROM qc LEFT JOIN tc ON qc.b = tc.b CROSS JOIN tot
    )
    SELECT bk.doc_id, count(*) AS n_feats, round(sum(ratio.lr), 6) AS logw
    FROM bk JOIN ratio ON bk.b = ratio.b
    GROUP BY bk.doc_id
    """,
    doc="DSIR importance log-weights (Xie et al. 2023): score every doc "
        "by sum of ln(p_target/p_source) over hashed unigram+bigram "
        "buckets (md5-hex-prefix buckets, 4096 cells, add-1 smoothing; "
        "target = the corpus's English slice) — the published recipe for "
        "selecting target-flavored training data from a general crawl. "
        "r13 shape (ops/corpus.py dsir_logweights): ONE tagged counting "
        "scan (the predicate target rides the source scan), a 4096-row "
        "driver collect, then scoring as a zero-shuffle pure projection "
        "folding an O(1) dense literal-array lookup over each doc's "
        "in-row feature buckets — no explode, no join, no groupBy on "
        "the scoring path.",
)
def op_d7_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import dsir_logweights

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return dsir_logweights(docs, F.col("lang") == "en")


@query(
    "OP-D1-soft",
    oracle=f"""
    WITH RECURSIVE jp AS ({_JACCARD_ORACLE}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM jp
      UNION
      SELECT id_b, id_a FROM jp
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    ),
    cl AS (SELECT src AS doc_id, min(node) AS cluster_id
           FROM reach GROUP BY src),
    sz AS (SELECT cluster_id, count(*) AS csize FROM cl GROUP BY cluster_id)
    SELECT d.doc_id,
           CASE WHEN cl.doc_id IS NULL THEN 1.0
                ELSE 1.0 / sz.csize END AS weight
    FROM documents d
    LEFT JOIN cl ON d.doc_id = cl.doc_id
    LEFT JOIN sz ON cl.cluster_id = sz.cluster_id
    """,
    doc="duplicate-aware sampling weights (soft dedup): every "
        "Jaccard>=0.5 near-dup cluster member weighted 1/|cluster| "
        "(singletons 1.0), so a cluster contributes one document's "
        "worth of expected training mass while every variant stays "
        "samplable — the down-weight alternative to hard survivor "
        "selection (keeps phrasing diversity, removes duplicate "
        "over-representation). 1.0/count is one IEEE division on the "
        "same integers — exact cross-engine; pair graph is narrow "
        "(ids only), bodies shuffle once on id "
        "(ops/dedup.py soft_dedup_weights).",
)
def op_d1_soft(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import (
        soft_dedup_weights,
        token_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = token_jaccard_pairs(docs, threshold=0.5, shingle_n=3)
    return soft_dedup_weights(docs, pairs).select("doc_id", "weight")


@query(
    "OP-D7-safesplit",
    oracle=f"""
    WITH RECURSIVE jp AS ({_JACCARD_ORACLE}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM jp
      UNION
      SELECT id_b, id_a FROM jp
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    ),
    cl AS (SELECT src AS doc_id, min(node) AS cluster_id
           FROM reach GROUP BY src)
    SELECT d.doc_id,
           {_split_case_sql("COALESCE(cl.cluster_id, d.doc_id)")} AS split
    FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
    """,
    doc="near-dup-leakage-safe train/val/test split: the md5-prefix "
        "draw is keyed on the connected-component representative of the "
        "Jaccard>=0.5 pair graph (singletons on their own id), so no "
        "near-dup pair can straddle the train/test boundary — the "
        "train-on-paraphrase/eval-on-original contamination path plain "
        "per-doc splitting leaves open "
        "(ops/corpus.py leakage_safe_split).",
)
def op_d7_safesplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import leakage_safe_split
    from filefilter_spark.ops.dedup import token_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = token_jaccard_pairs(docs, threshold=0.5, shingle_n=3)
    return leakage_safe_split(docs, pairs).select("doc_id", "split")


@query(
    "OP-D7-budget",
    oracle="""
    WITH agg AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS available_tokens
      FROM documents GROUP BY source
    ),
    keys AS (SELECT * FROM (VALUES ('src0'), ('src1'), ('src2'),
                                   ('src_missing')) k(source)),
    j AS (
      SELECT source,
             coalesce(n_docs, 0) AS n_docs,
             coalesce(available_tokens, 0) AS available_tokens
      FROM agg FULL OUTER JOIN keys USING (source)
    ),
    w AS (
      SELECT *,
        CASE WHEN source = 'src0' THEN 0.5 / 1.0
             WHEN source = 'src1' THEN 0.2 / 1.0
             WHEN source = 'src2' THEN 0.1 / 1.0
             WHEN source = 'src_missing' THEN 0.2 / 1.0
             ELSE 0.0 END AS wn
      FROM j
    )
    SELECT source, n_docs, available_tokens,
           round(wn, 6) AS weight,
           round(1000000.0 * wn, 6) AS target_tokens,
           CASE WHEN available_tokens > 0 THEN
             round(1000000.0 * wn / CAST(available_tokens AS DOUBLE), 6)
           END AS rate,
           CASE WHEN available_tokens > 0 THEN
             CAST(ceil(1000000.0 * wn / CAST(available_tokens AS DOUBLE))
                  AS INTEGER)
           END AS epochs
    FROM w
    """,
    doc="mixture token budgeting (ops/corpus.py mixture_budget): the "
        "planning table behind 'how many epochs of each source does a "
        "1M-token run at this mixture need' — per source the available "
        "tokens (one map-combining agg, sources-bounded output), the "
        "normalized target share, target tokens, the implied sampling "
        "rate (>1 = the data-constrained repetition regime, "
        "Muennighoff et al. 2023, executed by OP-D7-epochs), and "
        "epochs = ceil(rate). A budgeted-but-ABSENT source "
        "(src_missing here) still gets a plan row with 0 available "
        "and NULL rate/epochs — unsatisfiable surfaces instead of "
        "vanishing. Runs BEFORE weighted/temperature sampling "
        "executes the plan; fixed-order double math over exact int64 "
        "sums and literal weights — exact cross-engine.",
)
def op_d7_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import mixture_budget

    docs = load_table(spark, sf_dir, "documents")
    return mixture_budget(
        docs, {"src0": 0.5, "src1": 0.2, "src2": 0.1, "src_missing": 0.2},
        token_budget=1_000_000,
    )


def _rep_cases_sql(
    rates: dict[str, float], default_rate: float
) -> tuple[str, str]:
    """(floor-epochs CASE, fractional-cutoff CASE) mirroring
    ops.corpus.repeat_sample — built from the SAME floor/cutoff
    constants as the Spark side so both engines compare identical
    literals (including any float-subtraction dust in ``r - floor(r)``)."""
    import math

    from filefilter_spark.ops.corpus import rate_cutoff_hex

    def arms(rate: float) -> tuple[int, str]:
        full = int(math.floor(rate))
        return full, rate_cutoff_hex(rate - full) or "00000000"

    nf_arms, fc_arms = [], []
    for name, rate in rates.items():
        full, cut = arms(rate)
        nf_arms.append(f"WHEN '{name}' THEN {full}")
        fc_arms.append(f"WHEN '{name}' THEN '{cut}'")
    d_full, d_cut = arms(default_rate)
    nf = f"CASE source {' '.join(nf_arms)} ELSE {d_full} END"
    fc = f"CASE source {' '.join(fc_arms)} ELSE '{d_cut}' END"
    return nf, fc


_REP_RATES = {"src0": 2.4, "src1": 1.0, "src2": 0.5, "src3": 0.0}
_REP_NF, _REP_FC = _rep_cases_sql(_REP_RATES, 1.0)


@query(
    "OP-D7-epochs",
    oracle=f"""
    SELECT doc_id, text, lang, source, n_chars, CAST(u.e AS INT) AS epoch
    FROM documents, unnest(range(0, ({_REP_NF}) + 1)) u(e)
    WHERE u.e < ({_REP_NF})
       OR substr(md5(CAST(doc_id AS VARCHAR) || '#rep42#e'
                     || CAST(u.e AS VARCHAR)), 1, 8) < ({_REP_FC})
    """,
    doc="epoch-repeat sampling (ops/corpus.py repeat_sample): EXECUTES "
        "mixture plans whose rates exceed 1 — the data-constrained "
        "repetition regime (Muennighoff et al. 2023) that OP-D7-budget "
        "plans but a keep-rate filter cannot materialize. rate r -> "
        "floor(r) full epochs + a fractional epoch at r-floor(r), "
        "epoch index folded into the md5 salt so copies are "
        "distinguishable and each fractional draw independent (here "
        "src0 x2.4, src1 x1, src2 x0.5, src3 dropped, rest x1). Pure "
        "projection + one row-generating explode — no join, no "
        "shuffle, no RNG state; output rows = input x rate at any "
        "scale.",
)
def op_d7_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import repeat_sample

    return repeat_sample(load_table(spark, sf_dir, "documents"), _REP_RATES)


_EXEC_BUDGET = 120_000
_EXEC_WNORM = {"src0": 0.75, "src1": 0.25}  # already normalized


@query(
    "OP-D7-execute",
    oracle=f"""
    WITH agg AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS avail
      FROM documents GROUP BY source
    ),
    r AS (
      SELECT source,
             {float(_EXEC_BUDGET)!r} * (CASE source
               WHEN 'src0' THEN {_EXEC_WNORM['src0']!r}
               WHEN 'src1' THEN {_EXEC_WNORM['src1']!r} END)
             / CAST(avail AS DOUBLE) AS rate
      FROM agg
      WHERE avail > 0 AND source IN ('src0', 'src1')
    )
    SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
           CAST(u.e AS INT) AS epoch
    FROM documents d JOIN r ON d.source = r.source,
         unnest(range(0, CAST(floor(r.rate) AS BIGINT) + 1)) u(e)
    WHERE u.e < floor(r.rate)
       OR substr(md5(CAST(d.doc_id AS VARCHAR) || '#rep42#e'
                     || CAST(u.e AS VARCHAR)), 1, 8)
          < lpad(lower(to_hex(CAST(floor(
                (r.rate - floor(r.rate)) * 4294967296.0) AS BIGINT))),
                 8, '0')
    """,
    doc="one-call budgeted-mixture execution (ops/corpus.py "
        "execute_budget = mixture_budget -> repeat_sample): given "
        "target weights (src0 0.75 / src1 0.25) and a 120k-token "
        "budget, derive each source's rate from the EXACT int64 token "
        "sums and literal weight fractions (budget x wnorm / "
        "available — fixed-order IEEE doubles, bit-identical across "
        "engines, deliberately NOT the plan's 6dp-rounded rate "
        "column), then materialize floor(rate) full epochs + a "
        "hash-sampled fractional epoch per source; unbudgeted src2 "
        "drops. One sources-bounded collect (rows = #sources) + the "
        "pure-projection epoch explode — no wide shuffle of document "
        "rows at any corpus size.",
)
def op_d7_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import execute_budget

    return execute_budget(
        load_table(spark, sf_dir, "documents"),
        dict(_EXEC_WNORM), _EXEC_BUDGET, token_col="n_chars",
    )


@query(
    "OP-D7-pack",
    oracle="""
    SELECT doc_id, source, n_chars,
           CAST(floor(COALESCE(SUM(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) / 4096.0) AS BIGINT) AS bin_id
    FROM documents
    """,
    doc="fixed-budget sequence packing: per-shard running-cost binning "
        "(floor(prev_cumsum/budget)) — the streaming formulation of "
        "context-window packing; per-shard windows avoid a global "
        "ordering bottleneck (ops/corpus.py pack_sequences).",
)
def op_d7_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    return pack_sequences(d, "n_chars", 4096).select(
        "doc_id", "source", "n_chars", "bin_id"
    )


@query(
    "OP-D7-pack-assemble",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(text, '\s+'), x -> x != '')
               AS tk
      FROM documents
    ),
    b AS (
      SELECT *, CAST(floor(COALESCE(SUM(len(tk)) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / 256.0) AS BIGINT) AS bin_id
      FROM toks
    ),
    g AS (
      SELECT source, bin_id,
             flatten(list_transform(list(tk ORDER BY doc_id),
               t -> list_prepend('<eos>', t)))[2:] AS tokens,
             list(doc_id ORDER BY doc_id) AS doc_ids,
             list(len(tk) ORDER BY doc_id) AS lens
      FROM b GROUP BY source, bin_id
    )
    SELECT source, bin_id, tokens, doc_ids,
           list_transform(range(1, len(lens) + 1),
             i -> CAST(coalesce(list_sum(lens[1:i-1]), 0) + (i - 1)
                       AS BIGINT))
             AS doc_offsets,
           CAST(len(tokens) AS INTEGER) AS n_tokens
    FROM g
    """,
    doc="packed-sequence assembly (ops/corpus.py "
        "assemble_packed_sequences): the last mile after bin "
        "assignment — each 256-token bin's documents concatenate in "
        "doc_id order, separated by an '<eos>' token (r12: inserted "
        "BETWEEN docs, the way trainers pack), into one training row "
        "with doc_ids + 0-based doc_offsets (each doc's first OWN "
        "token, past its leading separator — the boundary metadata "
        "that resets position ids and masks cross-document attention) "
        "and the packed length incl. separators. One per-shard "
        "packing window + one (shard, bin) groupBy whose payload is "
        "bounded by ~budget tokens; in-bin order restored by "
        "array_sort, offsets an exact int64 fold — "
        "partition-invariant, exact cross-engine.",
)
def op_d7_pack_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import assemble_packed_sequences
    from filefilter_spark.ops.text import tokens

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", tokens("text").alias("tk")
    )
    return assemble_packed_sequences(d, "tk", budget=256, sep_token="<eos>")


_CONTAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') tk
  FROM documents
),
sh AS (
  SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3
      THEN [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]
      ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM toks
),
bench AS (
  SELECT DISTINCT unnest(sh) AS t FROM sh WHERE doc_id % 50 = 0
),
posting AS (SELECT doc_id, unnest(sh) AS t FROM sh),
hits AS (
  SELECT doc_id, count(*) AS n_contaminated
  FROM posting WHERE t IN (SELECT t FROM bench)
  GROUP BY doc_id
)
SELECT s.doc_id, len(s.sh) AS n_shingles,
       COALESCE(h.n_contaminated, 0) AS n_contaminated,
       CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / len(s.sh) AS contamination
FROM sh s LEFT JOIN hits h ON s.doc_id = h.doc_id
"""


@query(
    "OP-D7-contamination",
    oracle=_CONTAM_ORACLE,
    doc="benchmark-contamination check (train/test leakage): share of each "
        "doc's distinct 3-gram shingles present anywhere in the benchmark "
        "set (here: every 50th doc); benchmark shingles broadcast, corpus "
        "bodies never shuffle (ops/corpus.py contamination).",
)
def op_d7_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import contamination

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return contamination(d, bench)


@query(
    "OP-D4-repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id, CASE WHEN len(tk) >= 3
          THEN [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]
          ELSE [array_to_string(tk, ' ')] END AS sh
      FROM toks
    )
    SELECT doc_id,
           1 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh) AS repetition
    FROM sh
    """,
    doc="Gopher-style repetition signal: duplicated-3-gram fraction over "
        "the n-gram multiset (1 - distinct/total), all JVM expressions "
        "with single tokenization (ops/text.py repetition_score).",
)
def op_d4_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.text import repetition_score

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", repetition_score("text").alias("repetition"))


@query(
    "OP-D4-tfidf",
    oracle="""
    WITH tok AS (
      SELECT source AS grp,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT grp, tok, count(*) AS tf FROM tok
      WHERE length(tok) >= 2 GROUP BY 1, 2
    ),
    stats AS (SELECT tok, count(*) AS df_groups FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT grp) AS n_groups FROM tf),
    scored AS (
      SELECT tf.grp, tf.tok, tf.tf, s.df_groups,
             round(tf.tf * ln(CAST(n.n_groups AS DOUBLE) / s.df_groups), 6) AS tfidf
      FROM tf JOIN stats s USING (tok) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY grp ORDER BY tfidf DESC, tok) AS rank
      FROM scored
    )
    SELECT grp AS source, tok, tf, df_groups, tfidf, rank
    FROM ranked WHERE rank <= 5
    """,
    doc="corpus profiling: top-5 tf-idf terms per source — one postings "
        "aggregation, doc-frequency as a window over the tf rows, scalar "
        "group count broadcast; scores rounded before ranking so both "
        "engines rank identical keys (ops/text.py tfidf_top_terms).",
)
def op_d4_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.text import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"))


@query(
    "OP-D4-bpe",
    oracle="""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') tk
      FROM documents
    ),
    hist AS (
      SELECT w AS word, count(*) AS freq
      FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w
    ),
    chars AS (
      SELECT freq, string_split(word, '') AS cs FROM hist WHERE length(word) >= 2
    ),
    pairs AS (
      SELECT freq, unnest([cs[i] || cs[i+1] for i in range(1, len(cs))]) AS pair
      FROM chars
    )
    SELECT pair, sum(freq) AS cnt FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair ASC LIMIT 20
    """,
    doc="BPE trainer's first decision, distributed: corpus -> word "
        "histogram (the ONE corpus-sized job; everything after runs on "
        "vocab-bounded data) -> freq-weighted adjacent char-pair counts "
        "-> top 20 (the first merge candidates). Pure JVM split/"
        "transform/explode; tie-broken pair-ascending so the top-k set "
        "is total-ordered (ops/bpe.py word_histogram + char_pair_counts).",
)
def op_d4_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.bpe import char_pair_counts, word_histogram

    hist = word_histogram(load_table(spark, sf_dir, "documents"))
    return (
        char_pair_counts(hist)
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(20)
    )


def _mix_case_sql(rates: dict[str, float], default_rate: float, seed: int = 42) -> str:
    """Filter predicate mirroring ops.corpus.weighted_sample — built
    from the SAME rate_cutoff_hex constants as the Spark side."""
    from filefilter_spark.ops.corpus import rate_cutoff_hex

    arms = []
    for name, rate in rates.items():
        c = rate_cutoff_hex(rate)
        arms.append(f"WHEN '{name}' THEN '{c if c is not None else 'g'}'")
    dflt = rate_cutoff_hex(default_rate)
    case = f"CASE source {' '.join(arms)} ELSE '{dflt if dflt is not None else 'g'}' END"
    return f"substr(md5(CAST(doc_id AS VARCHAR) || '#mix{seed}'), 1, 8) < {case}"


_MIX_RATES = {"src0": 0.5, "src1": 0.25, "src2": 0.0}


@query(
    "OP-D7-mix",
    oracle=f"""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    WHERE {_mix_case_sql(_MIX_RATES, 1.0)}
    """,
    doc="data-mixing weighted sample: per-source deterministic keep-rates "
        "(here src0 50%, src1 25%, src2 dropped, rest kept) via md5-prefix "
        "cutoffs — reproducible across engines/partitionings, no RNG state "
        "(ops/corpus.py weighted_sample).",
)
def op_d7_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import weighted_sample

    return weighted_sample(load_table(spark, sf_dir, "documents"), _MIX_RATES)


@query(
    "OP-D7-temperature",
    # Mirrors ops.corpus.temperature_rates step for step: exact integer
    # sums, one correctly-rounded division + sqrt per group, and an
    # ORDERED left fold (list_reduce over list(... ORDER BY g)) for the
    # normalizer Z — the same IEEE operation sequence as the Python
    # driver code, so the per-group cutoffs agree bit-for-bit.
    oracle="""
    WITH counts AS (
      -- NULL groups are excluded from the rate computation (and from
      -- N and Z), mirroring temperature_sample's NULL contract; their
      -- rows pass through at the default rate via the LEFT join below.
      SELECT lang AS g, CAST(count(*) AS DOUBLE) AS n
      FROM documents WHERE lang IS NOT NULL GROUP BY lang
    ),
    tot AS (SELECT sum(n) AS N FROM counts),
    sh AS (SELECT g, n, sqrt(n / (SELECT N FROM tot)) AS s FROM counts),
    z AS (SELECT list_reduce(list(s ORDER BY g), (a, b) -> a + b) AS Z FROM sh),
    rates AS (
      SELECT g, least(1.0, (SELECT N FROM tot) * s / (SELECT Z FROM z) / n) AS rate
      FROM sh
    ),
    cut AS (
      SELECT g,
             CASE WHEN rate >= 1.0 THEN 'g'
                  ELSE lpad(lower(hex(CAST(trunc(rate * 4294967296.0) AS BIGINT))), 8, '0')
             END AS cutoff
      FROM rates
    )
    SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
    FROM documents d LEFT JOIN cut ON d.lang = cut.g
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || '#temp42'), 1, 8)
          < coalesce(cut.cutoff, 'g')
    """,
    doc="temperature-flattened source mixing (mT5/XLM-R p^0.5 scheme): "
        "per-language keep-rates from one tiny count agg (lang is the "
        "skewed axis in this corpus: en 44%), rare languages capped at "
        "1.0, common ones deterministically downsampled via "
        "md5-prefix cutoffs under an independent salt; NULL-lang rows "
        "pass through at the default rate "
        "(ops/corpus.py temperature_sample).",
)
def op_d7_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import temperature_sample

    return temperature_sample(
        load_table(spark, sf_dir, "documents"), group_col="lang"
    )


@query(
    "OP-D7-report",
    oracle=f"""
    WITH base AS (
      SELECT source, lang,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS tok,
             length(text) AS chars,
             {_quality_sql("text")} AS q
      FROM documents
    )
    SELECT grouping(source, lang) AS gset, source, lang,
           count(*) AS n_docs, sum(tok) AS n_tokens,
           sum(chars) AS n_chars_total, min(q) AS q_min, max(q) AS q_max
    FROM base GROUP BY GROUPING SETS ((source), (lang), ())
    """,
    doc="dataset card: per-source, per-language, and overall corpus "
        "composition in ONE grouping-sets pass — doc counts, token/char "
        "volume (integer sums: exact at any aggregation order), quality "
        "envelope as min/max (order-independent; a float MEAN could not "
        "be promised bit-identical cross-engine) "
        "(ops/corpus.py dataset_report).",
)
def op_d7_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import dataset_report

    return dataset_report(load_table(spark, sf_dir, "documents"))


@query(
    "OP-D7-clean",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id, len(tk) AS n_tokens,
             CASE WHEN len(tk) >= 3
                 THEN [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]
                 ELSE [array_to_string(tk, ' ')] END AS sh
      FROM toks
    ),
    scored AS (
      SELECT doc_id, n_tokens,
             1 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh) AS repetition
      FROM sh
    )
    SELECT d.doc_id, d.source, s.n_tokens, s.repetition
    FROM documents d JOIN scored s USING (doc_id)
    WHERE s.n_tokens >= 30 AND s.repetition <= 0.02
    """,
    doc="composite cleaning filter (the C4/Gopher-style gate): keep docs "
        "with >= 30 tokens AND duplicated-3-gram fraction <= 0.02 — one "
        "pass, single tokenization feeding both signals, pure projection "
        "+ filter before any shuffle.",
)
def op_d7_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.text import repetition_score, token_count

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "source",
        token_count("text").cast("long").alias("n_tokens"),
        repetition_score("text").alias("repetition"),
    )
    return scored.filter((F.col("n_tokens") >= 30) & (F.col("repetition") <= 0.02))


@query(
    "OP-D5-sliding",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             date_trunc('hour', ts) + CASE WHEN minute(ts) >= 30
                 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS b
      FROM events
    ),
    expanded AS (
      SELECT event_type, b AS win_start FROM ev
      UNION ALL
      SELECT event_type, b - INTERVAL 30 MINUTE AS win_start FROM ev
    )
    SELECT win_start, event_type, count(*) AS n
    FROM expanded GROUP BY 1, 2
    """,
    doc="sliding (hopping) event-time windows, 1h window / 30m slide: each "
        "event lands in exactly 2 overlapping windows; batch oracle "
        "expands each event to both window starts and re-aggregates "
        "(streaming/jobs.py sliding_window_counts_available_now).",
)
def op_d5_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.streaming.jobs import sliding_window_counts_available_now

    return sliding_window_counts_available_now(
        spark, f"{sf_dir}/events.parquet", state_partitions=_STATE_PARTITIONS
    )


_CORPUS_PIPE_YAML = """
filters:
  - name: drop_dupes
    actionType: dedup
  - name: assign_split
    actionType: split
  - name: mix
    actionType: sample
    actionConfig:
      rates: {src0: 0.5, src2: 0.0}
"""


@query(
    "OP-A8-corpus",
    oracle=f"""
    SELECT doc_id, text, lang, source, n_chars,
           {_split_case_sql('doc_id')} AS split
    FROM documents
    WHERE doc_id IN (
      SELECT min(doc_id) FROM documents
      GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    )
    AND {_mix_case_sql({"src0": 0.5, "src2": 0.0}, 1.0)}
    """,
    doc="zero-code corpus pipeline: dedup -> split -> sample as YAML "
        "actionTypes (stages/corpus_stage.py) folded into ONE lazy plan — "
        "the reference's stage-composition surface carrying the "
        "corpus-assembly tier.",
)
def op_a8_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    pipe = Pipeline(spark, load_config_str(_CORPUS_PIPE_YAML))
    return pipe.run(load_table(spark, sf_dir, "documents")).df


_EPOCHS_PIPE_NF, _EPOCHS_PIPE_FC = _rep_cases_sql(
    {"src0": 2.4, "src2": 0.0}, 1.0
)
_EPOCHS_PIPE_YAML = """
filters:
  - name: drop_dupes
    actionType: dedup
  - name: repeat
    actionType: epochs
    actionConfig:
      rates: {src0: 2.4, src2: 0.0}
      defaultRate: 1.0
"""


@query(
    "OP-A8-epochs",
    oracle=f"""
    WITH kept AS (
      SELECT doc_id, text, lang, source, n_chars
      FROM documents
      WHERE doc_id IN (
        SELECT min(doc_id) FROM documents
        GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
      )
    )
    SELECT doc_id, text, lang, source, n_chars, CAST(u.e AS INT) AS epoch
    FROM kept, unnest(range(0, ({_EPOCHS_PIPE_NF}) + 1)) u(e)
    WHERE u.e < ({_EPOCHS_PIPE_NF})
       OR substr(md5(CAST(doc_id AS VARCHAR) || '#rep42#e'
                     || CAST(u.e AS VARCHAR)), 1, 8)
          < ({_EPOCHS_PIPE_FC})
    """,
    doc="zero-code repetition tier (r13): dedup -> epochs as YAML "
        "actionTypes folded into ONE lazy plan — the r12 repeat_sample "
        "capability (rates may exceed 1: src0 x2.4 here, src2 dropped, "
        "rest x1, 0-based epoch column distinguishing the copies) "
        "reachable from the reference's config-driven surface "
        "(stages/corpus_stage.py EpochsStage; BudgetStage is the "
        "token-budget sibling). The sample actionType now raises with "
        "a pointer here for rates above 1 instead of being a dead end.",
)
def op_a8_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    pipe = Pipeline(spark, load_config_str(_EPOCHS_PIPE_YAML))
    return pipe.run(load_table(spark, sf_dir, "documents")).df


@query(
    "OP-D4-quantiles",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           quantile_cont(n_chars, 0.25) AS q25,
           quantile_cont(n_chars, 0.50) AS q50,
           quantile_cont(n_chars, 0.75) AS q75
    FROM documents GROUP BY lang
    """,
    doc="corpus length profile: exact interpolated quartiles of doc size "
        "per language (both engines use the type-7 linear-interpolation "
        "definition, so values match bit-for-bit). At 100 TB swap "
        "percentile for approx_percentile — same plan shape, sketch "
        "merge instead of exact sort.",
)
def op_d4_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.expr("count(*) AS n_docs"),
        F.expr("percentile(n_chars, 0.25D) AS q25"),
        F.expr("percentile(n_chars, 0.50D) AS q50"),
        F.expr("percentile(n_chars, 0.75D) AS q75"),
    )


@query(
    "OP-D3-batch",
    oracle="""
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.q_id, e.vec_id,
             list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS raw
      FROM embeddings e CROSS JOIN q
    ),
    ranked AS (
      SELECT q_id, vec_id, round(raw, 6) AS cos_sim,
             row_number() OVER (PARTITION BY q_id ORDER BY round(raw, 6) DESC, vec_id) AS rank
      FROM scored
    )
    SELECT q_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
    doc="batch retrieval: exact top-5 cosine neighbors for each of 5 query "
        "vectors in ONE corpus pass — queries broadcast (nested-loop on the "
        "tiny side), corpus vectors never shuffle, per-query top-k window "
        "(ops/similarity.py batch_topk_cosine).",
)
def op_d3_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.similarity import batch_topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = batch_topk_cosine(emb, queries, k=5)
    return out.select("q_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rank")


@query(
    "OP-D1-incremental",
    oracle="""
    WITH seen AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    new_batch AS (
      SELECT doc_id, text, lang, source, n_chars
      FROM documents WHERE doc_id % 2 = 1
      UNION ALL  -- cross-batch dups: re-ingested copies of seen docs
      SELECT doc_id + 10000, upper(text) || '  ', lang, source, n_chars
      FROM documents WHERE doc_id % 2 = 0 AND doc_id < 100
      UNION ALL  -- within-batch dups: a mangled copy of new docs
      SELECT doc_id + 20000, upper(text), lang, source, n_chars
      FROM documents WHERE doc_id % 2 = 1 AND doc_id < 40
    ),
    fp AS (
      SELECT *, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      FROM new_batch
    ),
    fresh AS (
      SELECT * FROM fp WHERE f NOT IN (
        SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) FROM seen
      )
    )
    SELECT doc_id, text, lang, source, n_chars FROM fresh
    WHERE doc_id IN (SELECT min(doc_id) FROM fresh GROUP BY f)
    """,
    doc="incremental exact dedup (daily-ingest shape): new batch anti-joined "
        "against the running corpus' fingerprints (drops 50 re-ingested "
        "copies), then min-id survivor within the batch (drops 20 "
        "within-batch copies) — hashes shuffle, bodies never do "
        "(ops/dedup.py dedup_against).",
)
def op_d1_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import dedup_against

    # Fixture shared with OP-D1-bloom (defined below) — the two entries
    # share a byte-identical oracle, so they must share the input too.
    seen, new = _incr_seen_new(spark, sf_dir)
    return dedup_against(new, seen)


@query(
    "OP-D5-join",
    oracle="""
    SELECT c_mktsegment, event_type, count(*) AS n,
           (CAST(SUM(CAST(ROUND((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
    doc="stream-static dimension join: the event stream enriched against "
        "the broadcast customer dim per micro-batch, then aggregated — "
        "no join state, only aggregation state "
        "(streaming/jobs.py stream_static_join_available_now).",
)
def op_d5_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.streaming.jobs import stream_static_join_available_now

    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return stream_static_join_available_now(
        spark, f"{sf_dir}/events.parquet", dim, state_partitions=_STATE_PARTITIONS
    )


@query(
    "OP-D5-ssjoin",
    oracle="""
    SELECT c.event_id AS click_id, v.event_id AS view_id,
           c.user_id, c.ts AS click_ts, v.ts AS view_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id
     AND v.ts BETWEEN c.ts - INTERVAL 2 HOUR AND c.ts
    """,
    doc="stream-stream watermarked join (attribution shape): clicks join "
        "same-user views within a 2h lookback; the event-time range bound "
        "is what lets Spark evict join state "
        "(streaming/jobs.py stream_stream_join_available_now).",
)
def op_d5_ssjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.streaming.jobs import stream_stream_join_available_now

    return stream_stream_join_available_now(
        spark, f"{sf_dir}/events.parquet", state_partitions=_STATE_PARTITIONS
    )


@query(
    "OP-D2-clusters",
    oracle=f"""
    WITH RECURSIVE jp AS ({_JACCARD_ORACLE}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM jp
      UNION
      SELECT id_b, id_a FROM jp
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    )
    SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src
    """,
    doc="near-dup clustering: connected components over the Jaccard>=0.5 "
        "pair graph via iterative min-label propagation (the GraphX CC "
        "shape, O(diameter) rounds of narrow join+agg) — the step between "
        "pair detection and survivor selection; oracle is the recursive-"
        "CTE transitive closure over the same pairs "
        "(ops/dedup.py cluster_pairs).",
)
def op_d2_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import cluster_pairs, token_jaccard_pairs

    pairs = token_jaccard_pairs(
        load_table(spark, sf_dir, "documents", spread=True),
        threshold=0.5, shingle_n=3,
    )
    return cluster_pairs(pairs)


@query(
    "OP-D2-rows",
    oracle=f"""
    WITH RECURSIVE jp AS ({_JACCARD_ORACLE}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM jp
      UNION
      SELECT id_b, id_a FROM jp
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    ),
    losers AS (
      SELECT src AS doc_id FROM reach GROUP BY src
      HAVING src != min(node)
    )
    SELECT doc_id, text, lang, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """,
    doc="near-dup survivor materialization: the corpus minus every "
        "non-representative cluster member (anti-join against the small "
        "loser set, corpus bodies never shuffle) — the end-to-end output "
        "of detect -> cluster -> dedup (ops/dedup.py keep_neardup_survivors).",
)
def op_d2_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import keep_neardup_survivors, token_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = token_jaccard_pairs(
        load_table(spark, sf_dir, "documents", spread=True),
        threshold=0.5, shingle_n=3,
    )
    return keep_neardup_survivors(d, pairs)


@query(
    "OP-D2-winnow",
    oracle=None,  # winnow-selected candidates → RecallSpec, not a hash
    recall=RecallSpec(_JACCARD_PAIRS_ONLY, ("id_a", "id_b"), 0.9),
    doc="near-dup via winnowing fingerprints (MOSS / Schleimer et al.): "
        "any shared >= window+n-1 token run structurally shares a "
        "fingerprint (deterministic recall on long verbatim overlap, "
        "complementing MinHash's probabilistic recall); bucket-join on "
        "fingerprints + exact-Jaccard verify (ops/dedup.py winnow_near_dup).",
)
def op_d2_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import winnow_near_dup

    return winnow_near_dup(
        load_table(spark, sf_dir, "documents", spread=True), threshold=0.5
    )


# ---------------------------------------------------------------------------
# Round-5 training-pipeline additions: line-level dedup (C4/CCNet),
# bloom-accelerated incremental dedup, bigram-LM perplexity scoring,
# per-source quota sampling, SemDeDup semantic dedup.
# ---------------------------------------------------------------------------

from filefilter_spark.queries.registry import REGISTRY as _REGISTRY

# The synthetic documents are single-line; build a deterministic
# multi-line corpus IN BOTH ENGINES: two 80-char body chunks plus a
# newsletter line shared by every doc and a rights line shared by every
# third doc — so line-level dedup makes real global first-occurrence
# decisions. (doc#N is < 30 normalized chars: exercises the
# short-line-never-deduped rule.)
_MULTILINE_CORPUS_SQL = """
    SELECT doc_id, concat_ws(chr(10),
      substr(text, 1, 80),
      'Subscribe to our newsletter for updates and special offers',
      substr(text, 81, 80),
      CASE WHEN doc_id % 3 = 0 THEN 'All rights reserved - Example Corp'
           ELSE 'doc#' || doc_id END) AS text
    FROM documents
"""


def _multiline_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OP-D2-lines multi-line fixture over the documents table."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.expr("substr(text, 1, 80)"),
            F.lit("Subscribe to our newsletter for updates and special offers"),
            F.expr("substr(text, 81, 80)"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("All rights reserved - Example Corp"),
            ).otherwise(F.concat(F.lit("doc#"), F.col("doc_id").cast("string"))),
        ).alias("text"),
    )


@query(
    "OP-D2-lines",
    oracle=f"""
    WITH corpus AS ({_MULTILINE_CORPUS_SQL}),
    lin AS (
      SELECT doc_id, unnest(generate_series(1, len(l))) AS pos, unnest(l) AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM corpus)
    ),
    keyed AS (
      SELECT doc_id, pos, line,
             trim(regexp_replace(lower(line), '\\s+', ' ', 'g')) AS nrm
      FROM lin
    ),
    kept AS (
      SELECT doc_id, pos, line FROM keyed WHERE length(nrm) < 30
      UNION ALL
      SELECT doc_id, pos, line FROM (
        SELECT doc_id, pos, line,
               row_number() OVER (PARTITION BY md5(nrm) ORDER BY doc_id, pos) AS rn
        FROM keyed WHERE length(nrm) >= 30) WHERE rn = 1
    ),
    tot AS (SELECT doc_id, len(string_split(text, chr(10))) AS n_total FROM corpus)
    SELECT k.doc_id,
           string_agg(k.line, chr(10) ORDER BY k.pos) AS text,
           count(*) AS n_kept,
           any_value(t.n_total) - count(*) AS n_dropped
    FROM kept k JOIN tot t ON k.doc_id = t.doc_id
    GROUP BY k.doc_id
    """,
    doc="line-level exact dedup across the corpus (C4/CCNet boilerplate "
        "removal): every normalized line >= 30 chars survives only at its "
        "first (doc_id, pos) occurrence; docs reassembled from surviving "
        "lines in order. Two line-granularity shuffles — hash rank, then "
        "doc_id reassembly (ops/dedup.py line_dedup).",
)
def op_d2_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import line_dedup

    return line_dedup(_multiline_corpus(spark, sf_dir))


def _incr_seen_new(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The OP-D1-incremental daily-ingest fixture: evens are the running
    corpus; the new batch is odds + 50 re-ingested mangled evens + 20
    mangled odds (within-batch dups)."""
    d = load_table(spark, sf_dir, "documents")
    seen = d.filter(F.col("doc_id") % 2 == 0)
    new = (
        d.filter(F.col("doc_id") % 2 == 1)
        .unionByName(
            d.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 100)).selectExpr(
                "doc_id + 10000 AS doc_id", "upper(text) || '  ' AS text",
                "lang", "source", "n_chars",
            )
        )
        .unionByName(
            d.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") < 40)).selectExpr(
                "doc_id + 20000 AS doc_id", "upper(text) AS text",
                "lang", "source", "n_chars",
            )
        )
    )
    return seen, new


@query(
    "OP-D1-bloom",
    # Byte-identical oracle to OP-D1-incremental: the bloom pre-filter is
    # an EXECUTION strategy, not a semantics change — false positives are
    # resolved by the exact anti-join, so output must be exactly equal.
    oracle=_REGISTRY["OP-D1-incremental"].oracle,
    doc="incremental exact dedup with a broadcast Bloom pre-filter: the "
        "seen corpus folds into an m-bit bitmap WITHOUT shuffling (per-"
        "partition numpy OR-fold), new rows whose k xxhash64 probes miss "
        "skip the anti-join entirely; bloom hits (true dups + ~1% false "
        "positives) are resolved exactly. Same output as OP-D1-"
        "incremental, ~99% less anti-join input at low daily dup rates "
        "(ops/dedup.py bloom_dedup_against).",
)
def op_d1_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import bloom_dedup_against

    seen, new = _incr_seen_new(spark, sf_dir)
    return bloom_dedup_against(new, seen)


@query(
    "OP-D4-perplexity",
    oracle="""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ),
    bi AS (
      SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM tk WHERE len(t) >= 2
    ),
    c12 AS (SELECT w1, w2, count(*) AS n12 FROM bi GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c12 GROUP BY 1),
    v AS (SELECT count(DISTINCT tok) AS vocab
          FROM (SELECT unnest(t) AS tok FROM tk)),
    model AS (
      SELECT w1, w2, (n12 + 0.5) / (n1 + 0.5 * vocab) AS p
      FROM c12 JOIN c1 USING (w1) CROSS JOIN v
    )
    SELECT doc_id, count(*) AS n_bigrams, round(-avg(ln(p)), 6) AS nll
    FROM bi JOIN model USING (w1, w2)
    GROUP BY doc_id
    """,
    doc="bigram-LM perplexity scoring (CCNet/KenLM-style quality filter): "
        "add-0.5-smoothed bigram model trained on the corpus, each doc "
        "scored by mean negative log-prob — two map-combining count aggs "
        "+ one model join, no UDFs; 6dp round absorbs double fold order "
        "(ops/text.py bigram_nll).",
)
def op_d4_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.text import bigram_nll

    return bigram_nll(load_table(spark, sf_dir, "documents"))


@query(
    "OP-D7-quota",
    oracle="""
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(doc_id || '#quota42'), doc_id) AS rn
      FROM documents) WHERE rn <= 30
    """,
    doc="per-source quota sampling: cap every source at 30 docs chosen by "
        "salted-hash rank — deterministic, engine-portable, uncorrelated "
        "with the split/mix salts; compiles to WindowGroupLimit so memory "
        "is O(quota) per group (ops/corpus.py quota_sample).",
)
def op_d7_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import quota_sample

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return quota_sample(d, quota=30)


@query(
    "OP-D3-semdedup",
    oracle=None,  # clustering-dependent recall → RecallSpec, not a hash
    recall=RecallSpec(
        """
        WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.e, b.e) >= 0.45
        """,
        ("id_a", "id_b"),
        0.8,  # measured 0.93 at sf0.01 / 0.88 at sf0.1 (top-3 cells)
    ),
    doc="SemDeDup semantic near-dup (Abbas et al. 2023): KMeans cells + "
        "within-cell exact cosine at 0.45 — the data-adaptive complement "
        "to the LSH path; precision exact (candidates cosine-verified), "
        "recall misses only cell-boundary pairs, measured by the recall "
        "oracle (ops/similarity.py semantic_dedup).",
)
def op_d3_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.similarity import semantic_dedup

    out = semantic_dedup(load_table(spark, sf_dir, "embeddings"), threshold=0.45)
    return out.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


_DOMAIN_CASE = """CASE CAST(doc_id % 6 AS INT)
      WHEN 0 THEN 'example.com' WHEN 1 THEN 'blog.example.org'
      WHEN 2 THEN 'spam.example.net' WHEN 3 THEN 'news.example.io'
      WHEN 4 THEN 'example.edu' ELSE 'ads.example.net' END"""


@query(
    "OP-D4-domains",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, source,
             'https://' || {_DOMAIN_CASE} || '/doc/' || doc_id AS url
      FROM documents
    ),
    dom AS (
      SELECT doc_id, source, url,
             lower(regexp_extract(url, '^[a-z]+://([^/]+)', 1)) AS domain
      FROM corpus
    )
    SELECT doc_id, source, url, domain FROM dom
    WHERE domain NOT IN ('spam.example.net', 'ads.example.net')
    """,
    doc="URL-domain extraction + blocklist filtering (web-corpus domain "
        "curation): host via the parse_url JVM intrinsic, blocklist as a "
        "broadcast anti-join so the corpus never shuffles; URLs "
        "synthesized deterministically in both engines "
        "(ops/text.py domain_filter).",
)
def op_d4_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.text import domain_filter

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    corpus = d.withColumn(
        "url",
        F.expr(f"concat('https://', {_DOMAIN_CASE}, '/doc/', doc_id)"),
    )
    blocklist = spark.createDataFrame(
        [("spam.example.net",), ("ads.example.net",)], "domain string"
    )
    return domain_filter(corpus, blocklist).select(
        "doc_id", "source", "url", "domain"
    )


@query(
    "OP-D7-chunk",
    oracle="""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ),
    st AS (
      SELECT doc_id, t,
             generate_series(0, greatest(len(t) - 16 - 1, 0), 48) AS starts
      FROM tk
    ),
    ch AS (
      SELECT doc_id,
             unnest(generate_series(0, len(starts) - 1)) AS chunk_id,
             unnest(list_transform(starts, s -> t[s + 1 : s + 64])) AS ck
      FROM st
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           array_to_string(ck, ' ') AS chunk_text,
           len(ck) AS n_tokens
    FROM ch WHERE len(ck) > 0
    """,
    doc="fixed-size overlapping token chunking (64-token chunks, 16 "
        "overlap) — the context-window prep step; pure array exprs, "
        "zero shuffle, linear in token count "
        "(ops/corpus.py chunk_documents).",
)
def op_d7_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


@query(
    "OP-D4-heavyhitters",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                    x -> x != '')) AS tok
      FROM documents
    )
    SELECT tok, count(*) AS n FROM tok
    GROUP BY tok ORDER BY n DESC, tok LIMIT 10
    """,
    doc="exact top-10 heavy-hitter tokens via Misra-Gries sketch + "
        "bounded exact recount: per-partition summaries (no shuffle of "
        "the token multiset), candidates re-counted exactly, and the "
        "MG absent-item bound PROVES the top-k exact before returning — "
        "which is why a plain GROUP BY/LIMIT oracle applies "
        "(ops/sketch.py frequent_tokens).",
)
def op_d4_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.sketch import frequent_tokens

    return frequent_tokens(
        load_table(spark, sf_dir, "documents", spread=True), k=10
    )


@query(
    "OP-D3-quantize",
    oracle="""
    WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    m AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) AS mx,
             greatest(list_max(list_transform(e, x -> abs(x))), 1e-300) AS safe
      FROM n
    ),
    q AS (
      SELECT vec_id, e, mx, mx / 127.0 AS scale,
             list_transform(e, x -> CAST(round(x * 127.0 / safe) AS INT)) AS codes
      FROM m
    )
    SELECT vec_id, scale, codes,
           round(list_sum(list_transform(generate_series(1, len(e)),
                 i -> (e[i] - codes[i] * mx / 127.0)
                    * (e[i] - codes[i] * mx / 127.0)))
                 / greatest(len(e), 1), 9) AS mse
    FROM q
    """,
    doc="int8 embedding quantization (vector-store compression): "
        "per-vector absmax scaling, codes + dequant scale + 9dp "
        "reconstruction MSE — one shuffle-free projection, absmax "
        "let-bound so the O(d) fold runs once per row "
        "(ops/similarity.py quantize_embeddings).",
)
def op_d3_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.similarity import quantize_embeddings

    return quantize_embeddings(load_table(spark, sf_dir, "embeddings"))


def _projection_oracle(in_dim: int = 64, out_dim: int = 8) -> str:
    """SQL replay of ops.similarity.random_projection: same literal
    Rademacher matrix (repr round-trips doubles exactly), same
    0.0-seeded ordered left fold per output dim — bit-identical
    results, not approximately-equal ones."""
    from filefilter_spark.ops.similarity import projection_matrix

    mat = projection_matrix(in_dim, out_dim)
    exprs = []
    for j in range(out_dim):
        # Explicit DOUBLE[] casts on BOTH operands: DuckDB types a bare
        # decimal-literal list as DECIMAL[] and FLOAT*DECIMAL -> FLOAT,
        # which would silently degrade the whole fold to float32.
        col_j = ", ".join(repr(mat[i][j]) for i in range(in_dim))
        exprs.append(
            f"list_reduce([0.0] || [e[i] * ([{col_j}]::DOUBLE[])[i] "
            f"for i in range(1, {in_dim + 1})], (a, b) -> a + b)"
        )
    return (
        "SELECT vec_id, [" + ", ".join(exprs) + "] AS proj FROM "
        "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"
    )


@query(
    "OP-D3-project",
    oracle=_projection_oracle(),
    doc="Johnson-Lindenstrauss random projection 64->8 (Achlioptas "
        "Rademacher matrix, hash-derived — no RNG state): shuffle-free "
        "JVM fold per output dim; the oracle replays the identical "
        "IEEE operation sequence against the identical literal matrix, "
        "so the comparison is bit-exact "
        "(ops/similarity.py random_projection).",
)
def op_d3_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.similarity import random_projection

    return random_projection(load_table(spark, sf_dir, "embeddings"))


@query(
    "OP-D2-incremental",
    oracle=None,  # probabilistic recall → RecallSpec, not a value hash
    recall=RecallSpec(
        f"""SELECT id_a, id_b FROM ({_JACCARD_ORACLE}) t
            WHERE id_a % 2 = 1 OR id_b % 2 = 1""",
        ("id_a", "id_b"),
        0.9,
    ),
    doc="incremental NEAR-dup (daily-ingest shape of OP-D2-minhash): odd "
        "docs are the new batch, evens the running corpus; MinHash-LSH "
        "candidates restricted to pairs touching the batch, exact-Jaccard "
        "verified — precision exact, recall vs the exact batch-touching "
        "pair set (ops/dedup.py minhash_dedup_against).",
)
def op_d2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import minhash_dedup_against

    d = load_table(spark, sf_dir, "documents", spread=True)
    seen = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    return minhash_dedup_against(new, seen, threshold=0.5, shingle_n=3)


@query(
    "OP-D7-decontaminate",
    oracle=f"""
    WITH contam AS ({_CONTAM_ORACLE})
    SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (
      SELECT doc_id FROM contam WHERE contamination > 0.1
    )
    """,
    doc="benchmark decontamination (enforcement counterpart of "
        "OP-D7-contamination): drop docs whose contaminated-shingle "
        "share exceeds 10% — offender ids anti-joined, corpus bodies "
        "never shuffle (ops/corpus.py decontaminate).",
)
def op_d7_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import decontaminate

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return decontaminate(d, bench, max_contamination=0.1)


@query(
    "OP-A8-lines",
    # The YAML pipeline (sql multiline fixture -> linededup) must equal
    # the library-level OP-D2-lines result exactly — oracle reused
    # verbatim, proving the zero-code surface drives the same operator.
    oracle=_REGISTRY["OP-D2-lines"].oracle,
    doc="zero-code pipeline surface for the round-5 ops: a YAML config "
        "(sql stage building the multiline fixture, then the linededup "
        "actionType) reproduces OP-D2-lines byte-for-byte "
        "(stages/corpus_stage.py LineDedupStage).",
)
def op_a8_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    cfg = load_config_str("""
filters:
  - name: build_multiline
    actionType: sql
    code: |
      SELECT doc_id, concat_ws(chr(10),
        substr(text, 1, 80),
        'Subscribe to our newsletter for updates and special offers',
        substr(text, 81, 80),
        CASE WHEN doc_id % 3 = 0 THEN 'All rights reserved - Example Corp'
             ELSE 'doc#' || doc_id END) AS text
      FROM df
  - name: strip_boilerplate
    actionType: linededup
""")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return Pipeline(spark, cfg).run(d).df


@query(
    "OP-A8-expect",
    oracle="""
    SELECT 'min_rows' AS check, count(*) >= 100 AS passed,
           CAST(count(*) AS VARCHAR) AS observed FROM documents
    UNION ALL
    SELECT 'not_null:text', sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) = 0,
           CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'unique:doc_id', count(doc_id) = count(DISTINCT doc_id),
           CAST(count(doc_id) - count(DISTINCT doc_id) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'range:n_chars',
           min(n_chars) >= 1 AND max(n_chars) <= 100000,
           CAST(min(n_chars) AS VARCHAR) || '..' || CAST(max(n_chars) AS VARCHAR)
    FROM documents
    """,
    doc="data-quality expectation report (Deequ shape): row-count floor, "
        "null-free and unique columns, numeric range — ALL checks from "
        "ONE aggregation pass, exploded into (check, passed, observed) "
        "rows; the YAML `expect` actionType gates pipelines on the same "
        "engine (ops/expect.py).",
)
def op_a8_expect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.expect import expectation_report

    return expectation_report(
        load_table(spark, sf_dir, "documents"),
        min_rows=100,
        not_null=["text"],
        unique=["doc_id"],
        ranges={"n_chars": (1, 100000)},
    )


# ---------------------------------------------------------------------------
# Round 6: substring-level duplication (Lee et al. 2022 shape)
# ---------------------------------------------------------------------------

_SPAN_OCC_CTE = """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') tk
      FROM documents
    ),
    sp AS (
      SELECT doc_id,
             unnest([array_to_string(tk[i:i+7], ' ')
                     for i in range(1, len(tk) - 6)]) AS span
      FROM toks WHERE len(tk) >= 8
    )
"""


@query(
    "OP-D2-spans",
    oracle=_SPAN_OCC_CTE + """
    SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS n_occ
    FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    """,
    doc="corpus-wide exact repeated-span report (the detection half of "
        "Lee et al. 2022 substring dedup): every 8-token window present "
        "in >= 2 distinct docs, with doc and occurrence counts — one "
        "explode + one map-combining groupBy, output bounded by distinct "
        "repeated spans (ops/dedup.py duplicate_spans).",
)
def op_d2_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import duplicate_spans

    return duplicate_spans(load_table(spark, sf_dir, "documents"))


@query(
    "OP-D4-boilerplate",
    oracle=_SPAN_OCC_CTE + """
    , dup AS (
      SELECT span FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT doc_id, count(*) AS n_spans,
           CAST(sum(CASE WHEN span IN (SELECT span FROM dup)
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_ratio
    FROM sp GROUP BY doc_id
    """,
    doc="per-doc cross-corpus boilerplate share: fraction of each doc's "
        "8-token span occurrences that recur in >= 2 distinct docs — the "
        "actionable quality filter over OP-D2-spans; complements "
        "OP-D4-repetition (within-doc repeats) "
        "(ops/dedup.py boilerplate_ratio).",
)
def op_d4_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import boilerplate_ratio

    return boilerplate_ratio(load_table(spark, sf_dir, "documents"))


@query(
    "OP-D2-spans-remove",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') tk
      FROM documents
    ),
    sp AS (
      SELECT doc_id, i,
             array_to_string(tk[i:i+7], ' ') AS span
      FROM toks, unnest(range(1, len(tk) - 6)) u(i)
      WHERE len(tk) >= 8
    ),
    dup AS (
      SELECT span FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    ),
    cov AS (
      SELECT DISTINCT doc_id, unnest(range(i, i + 8)) AS j
      FROM sp WHERE span IN (SELECT span FROM dup)
    ),
    tok_pos AS (
      SELECT doc_id, generate_subscripts(tk, 1) AS j, unnest(tk) AS tok
      FROM toks
    ),
    kept AS (
      SELECT t.doc_id, t.j, t.tok
      FROM tok_pos t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.j = c.j
      WHERE c.doc_id IS NULL
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS text_clean,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(r.text_clean, '') AS text_clean,
           CAST(len(t.tk) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
    FROM toks t LEFT JOIN rebuilt r USING (doc_id)
    """,
    doc="the ACTION half of Lee et al. 2022 substring dedup: cut every "
        "token covered by a corpus-duplicated 8-token span out of each "
        "doc, rebuild text from survivors (whitespace-normalized), "
        "report tokens removed — duplicated-span table types-bounded, "
        "covered indices collapse to one per-doc set, bodies shuffle "
        "once (ops/dedup.py remove_duplicate_spans).",
)
def op_d2_spans_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.dedup import remove_duplicate_spans

    return remove_duplicate_spans(load_table(spark, sf_dir, "documents"))


@query(
    "OP-D4-gopher",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, coalesce(text, '') AS t,
             list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                         x -> x != '') AS tk,
             list_filter(list_transform(
                 string_split(coalesce(text, ''), chr(10)), x -> trim(x)),
                 x -> x != '') AS ln,
             list_filter(list_transform(
                 string_split(coalesce(text, ''), chr(10) || chr(10)),
                 x -> trim(x)),
                 x -> x != '') AS pr
      FROM documents
    ),
    m AS (
      SELECT doc_id,
        CAST(len(tk) AS BIGINT) AS n_words,
        CASE WHEN len(tk) > 0 THEN round(
          CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
          / len(tk), 6) ELSE 0.0 END AS mean_word_len,
        CASE WHEN len(tk) > 0 THEN round(
          CAST(len(regexp_extract_all(t, '#'))
               + len(regexp_extract_all(t, '\.\.\.')) AS DOUBLE)
          / len(tk), 6) ELSE 0.0 END AS symbol_ratio,
        CASE WHEN len(ln) > 0 THEN round(
          CAST(len(list_filter(ln,
               x -> regexp_matches(x, '^([-*•]|[0-9]+[.)] )'))) AS DOUBLE)
          / len(ln), 6) ELSE 0.0 END AS bullet_frac,
        CASE WHEN len(ln) > 0 THEN round(
          CAST(len(list_filter(ln,
               x -> ends_with(x, '...') OR ends_with(x, '…'))) AS DOUBLE)
          / len(ln), 6) ELSE 0.0 END AS ellipsis_frac,
        CASE WHEN len(tk) > 0 THEN round(
          CAST(len(list_filter(tk,
               x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
          / len(tk), 6) ELSE 0.0 END AS alpha_word_frac,
        CAST(len(list_filter(
            ['the','be','to','of','and','that','have','with'],
            s -> list_contains(list_transform(tk, x -> lower(x)), s)))
          AS INTEGER) AS stopword_hits,
        CASE WHEN len(ln) > 0 THEN round(
          CAST(len(ln) - len(list_distinct(ln)) AS DOUBLE) / len(ln), 6)
          ELSE 0.0 END AS dup_line_frac,
        CASE WHEN coalesce(list_sum(list_transform(ln, x -> length(x))), 0) > 0
          THEN round(
            CAST(list_sum(list_transform(ln, x -> length(x)))
                 - list_sum(list_transform(list_distinct(ln),
                                           x -> length(x))) AS DOUBLE)
            / list_sum(list_transform(ln, x -> length(x))), 6)
          ELSE 0.0 END AS dup_line_char_frac,
        CASE WHEN len(pr) > 0 THEN round(
          CAST(len(pr) - len(list_distinct(pr)) AS DOUBLE) / len(pr), 6)
          ELSE 0.0 END AS dup_para_frac,
        CASE WHEN coalesce(list_sum(list_transform(pr, x -> length(x))), 0) > 0
          THEN round(
            CAST(list_sum(list_transform(pr, x -> length(x)))
                 - list_sum(list_transform(list_distinct(pr),
                                           x -> length(x))) AS DOUBLE)
            / list_sum(list_transform(pr, x -> length(x))), 6)
          ELSE 0.0 END AS dup_para_char_frac
      FROM base
    )
    SELECT *,
      (n_words BETWEEN 50 AND 100000) AS words_ok,
      (mean_word_len BETWEEN 3.0 AND 10.0) AS word_len_ok,
      (symbol_ratio <= 0.1) AS symbol_ok,
      (bullet_frac <= 0.9) AS bullet_ok,
      (ellipsis_frac <= 0.3) AS ellipsis_ok,
      (alpha_word_frac >= 0.8) AS alpha_ok,
      (stopword_hits >= 2) AS stopword_ok,
      (dup_line_frac <= 0.3) AS dup_line_ok,
      (dup_line_char_frac <= 0.2) AS dup_char_ok,
      (dup_para_frac <= 0.3) AS dup_para_ok,
      (dup_para_char_frac <= 0.2) AS dup_para_char_ok,
      ((n_words BETWEEN 50 AND 100000)
       AND (mean_word_len BETWEEN 3.0 AND 10.0)
       AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
       AND ellipsis_frac <= 0.3 AND alpha_word_frac >= 0.8
       AND stopword_hits >= 2 AND dup_line_frac <= 0.3
       AND dup_line_char_frac <= 0.2 AND dup_para_frac <= 0.3
       AND dup_para_char_frac <= 0.2) AS keep
    FROM m
    """,
    doc="Gopher document-quality rule battery (Rae et al. 2021 A1.1): "
        "word count/mean word length bands, symbol ('#'/'...') per-word "
        "ratio, bullet-start and ellipsis-end line fractions, "
        "alphabetic-word fraction, required-stopword hits, duplicate-"
        "line AND duplicate-paragraph count/char fractions (paragraphs "
        "= trimmed non-empty \\n\\n splits) — per-rule booleans + keep. "
        "Pure projection, ZERO shuffles: every signal is an array/"
        "regex expression over the row's own text "
        "(ops/text.py gopher_rules).",
)
def op_d4_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.text import gopher_rules

    return gopher_rules(load_table(spark, sf_dir, "documents"))


@query(
    "OP-D4-gopher-rep",
    oracle=r"""
    WITH ns AS (SELECT CAST(unnest([2,3,4,5,6,7,8,9,10]) AS INTEGER) AS n),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                         x -> x != '') AS tk
      FROM documents
    ),
    tot AS (
      SELECT doc_id,
             coalesce(list_sum(list_transform(tk, x -> length(x))), 0)
               AS total_chars
      FROM toks
    ),
    ex AS (
      SELECT t.doc_id, ns.n, CAST(u.i AS INTEGER) AS i,
             array_to_string(t.tk[u.i:u.i + ns.n - 1], ' ') AS gram
      FROM toks t, ns, unnest(range(1, len(t.tk) - ns.n + 2)) u(i)
      WHERE len(t.tk) >= ns.n
    ),
    counts AS (
      SELECT doc_id, n, gram, count(*) AS cnt FROM ex GROUP BY ALL
    ),
    top AS (
      SELECT doc_id, n, cnt * (length(gram) - (n - 1)) AS chars
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
                                         ORDER BY cnt DESC, gram) AS rk
            FROM counts WHERE n IN (2, 3, 4))
      WHERE rk = 1
    ),
    cov AS (
      SELECT DISTINCT e.doc_id, e.n, CAST(u.j AS INTEGER) AS j
      FROM ex e
      JOIN counts c ON e.doc_id = c.doc_id AND e.n = c.n AND e.gram = c.gram,
           unnest(range(e.i, e.i + e.n)) u(j)
      WHERE c.n >= 5 AND c.cnt >= 2
    ),
    tl AS (
      SELECT doc_id, generate_subscripts(tk, 1) AS j, length(unnest(tk)) AS ln
      FROM toks
    ),
    dupc AS (
      SELECT cov.doc_id, cov.n, sum(tl.ln) AS chars
      FROM cov JOIN tl ON cov.doc_id = tl.doc_id AND cov.j = tl.j
      GROUP BY ALL
    ),
    chars AS (SELECT * FROM top UNION ALL SELECT * FROM dupc),
    f AS (
      SELECT t.doc_id,
        round(coalesce(max(CASE WHEN c.n = 2 THEN c.chars END), 0)::DOUBLE
              / greatest(t.total_chars, 1), 6) AS top_2gram_char_frac,
        round(coalesce(max(CASE WHEN c.n = 3 THEN c.chars END), 0)::DOUBLE
              / greatest(t.total_chars, 1), 6) AS top_3gram_char_frac,
        round(coalesce(max(CASE WHEN c.n = 4 THEN c.chars END), 0)::DOUBLE
              / greatest(t.total_chars, 1), 6) AS top_4gram_char_frac,
        round(coalesce(max(CASE WHEN c.n = 5 THEN c.chars END), 0)::DOUBLE
              / greatest(t.total_chars, 1), 6) AS dup_5gram_char_frac,
        round(coalesce(max(CASE WHEN c.n = 6 THEN c.chars END), 0)::DOUBLE
              / greatest(t.total_chars, 1), 6) AS dup_6gram_char_frac,
        round(coalesce(max(CASE WHEN c.n = 7 THEN c.chars END), 0)::DOUBLE
              / greatest(t.total_chars, 1), 6) AS dup_7gram_char_frac,
        round(coalesce(max(CASE WHEN c.n = 8 THEN c.chars END), 0)::DOUBLE
              / greatest(t.total_chars, 1), 6) AS dup_8gram_char_frac,
        round(coalesce(max(CASE WHEN c.n = 9 THEN c.chars END), 0)::DOUBLE
              / greatest(t.total_chars, 1), 6) AS dup_9gram_char_frac,
        round(coalesce(max(CASE WHEN c.n = 10 THEN c.chars END), 0)::DOUBLE
              / greatest(t.total_chars, 1), 6) AS dup_10gram_char_frac
      FROM tot t LEFT JOIN chars c USING (doc_id)
      GROUP BY t.doc_id, t.total_chars
    )
    SELECT *,
      (top_2gram_char_frac <= 0.20) AS top_2gram_ok,
      (top_3gram_char_frac <= 0.18) AS top_3gram_ok,
      (top_4gram_char_frac <= 0.16) AS top_4gram_ok,
      (dup_5gram_char_frac <= 0.15) AS dup_5gram_ok,
      (dup_6gram_char_frac <= 0.14) AS dup_6gram_ok,
      (dup_7gram_char_frac <= 0.13) AS dup_7gram_ok,
      (dup_8gram_char_frac <= 0.12) AS dup_8gram_ok,
      (dup_9gram_char_frac <= 0.11) AS dup_9gram_ok,
      (dup_10gram_char_frac <= 0.10) AS dup_10gram_ok,
      (top_2gram_char_frac <= 0.20 AND top_3gram_char_frac <= 0.18
       AND top_4gram_char_frac <= 0.16 AND dup_5gram_char_frac <= 0.15
       AND dup_6gram_char_frac <= 0.14 AND dup_7gram_char_frac <= 0.13
       AND dup_8gram_char_frac <= 0.12 AND dup_9gram_char_frac <= 0.11
       AND dup_10gram_char_frac <= 0.10) AS keep
    FROM f
    """,
    doc="Gopher repetition battery, char-fraction tier (Rae et al. 2021 "
        "A1.1 — completes OP-D4-gopher's line/paragraph tier): "
        "top-2/3/4-gram char fraction (most-frequent n-gram's chars "
        "across all occurrences; count ties break lexicographic) and "
        "dup-5..10-gram char fraction (token positions covered by any "
        "n-gram occurring >=2x — coverage, not double-counted), paper "
        "thresholds as booleans + keep. Token chars only on both sides "
        "of every ratio (separators excluded). Pure per-row projection "
        "(r12): every n-gram of a doc is born in its row, so per n the "
        "grams become a SORTED in-row array (array_sort groups equal "
        "grams into runs, O(S log S)); the top pick is one aggregate() "
        "run-length scan (strict > on the ascending stream = count "
        "desc / gram asc argmax) and dup coverage keeps elements whose "
        "sorted neighbor matches, expands positions, array_distinct, "
        "folds token lengths. Zero shuffles beyond an input-splits<"
        "cores round-robin rebalance, one column-pruned scan (ops/"
        "text.py gopher_repetition; a per-row O(len^2) array count "
        "stays rejected for 100k-word docs).",
)
def op_d4_gopher_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.text import gopher_repetition

    return gopher_repetition(load_table(spark, sf_dir, "documents"))


@query(
    "OP-D4-entropy",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\s+'),
                                x -> x != '')) AS t
      FROM documents
    ),
    c AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY doc_id, t),
    h AS (
      SELECT doc_id, sum(c) AS n_tokens,
             round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy
      FROM c GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.n_tokens, 0) AS BIGINT) AS n_tokens,
           coalesce(h.entropy, 0.0) AS entropy
    FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
    """,
    doc="per-doc Shannon entropy of the token distribution in bits "
        "(H = log2 N − (Σ c·log2 c)/N): low H flags looping/gibberish "
        "repetition, high H at fixed N flags random-string spam — the "
        "distributional complement to OP-D4-repetition (positional "
        "repeats) and OP-D4-perplexity (model likelihood). One "
        "map-combinable (doc,token) shuffle; the identity form folds "
        "Σc and Σ c·log2 c in the same aggregate, no second corpus "
        "pass (ops/text.py token_entropy).",
)
def op_d4_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.text import token_entropy

    return token_entropy(load_table(spark, sf_dir, "documents"))


@query(
    "OP-D3-kmeans",
    oracle=r"""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))
               AS q
      FROM embeddings
    ),
    qd AS (
      SELECT vec_id, q,
             list_transform(q, v -> CAST(v AS DOUBLE) / 1000000.0) AS x
      FROM q
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl,
             x AS c
      FROM (SELECT vec_id, x FROM qd ORDER BY vec_id LIMIT 8)
    ),
    a0 AS (
      SELECT * FROM (
        SELECT vec_id, q, cl,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
        FROM (
          SELECT qd.vec_id, qd.q, c.cl,
                 list_reduce([0.0] || list_transform(list_zip(qd.x, c.c),
                   p -> (p[1] - p[2]) * (p[1] - p[2])),
                   (a, b) -> a + b) AS d2
          FROM qd CROSS JOIN c0 c))
      WHERE rn = 1
    ),
    s0 AS (
      SELECT cl, u.pos AS pos, sum(u.qv) AS s, count(*) AS n
      FROM (SELECT cl,
                   unnest(list_transform(q, (v, i) -> {'pos': i, 'qv': v}))
                     AS u
            FROM a0)
      GROUP BY cl, u.pos
    ),
    c1r AS (
      SELECT cl, list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS c
      FROM s0 GROUP BY cl
    ),
    c1 AS (
      SELECT c0.cl, coalesce(c1r.c, c0.c) AS c
      FROM c0 LEFT JOIN c1r ON c0.cl = c1r.cl
    ),
    a1 AS (
      SELECT * FROM (
        SELECT vec_id, q, cl,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
        FROM (
          SELECT qd.vec_id, qd.q, c.cl,
                 list_reduce([0.0] || list_transform(list_zip(qd.x, c.c),
                   p -> (p[1] - p[2]) * (p[1] - p[2])),
                   (a, b) -> a + b) AS d2
          FROM qd CROSS JOIN c1 c))
      WHERE rn = 1
    ),
    s1 AS (
      SELECT cl, u.pos AS pos, sum(u.qv) AS s, count(*) AS n
      FROM (SELECT cl,
                   unnest(list_transform(q, (v, i) -> {'pos': i, 'qv': v}))
                     AS u
            FROM a1)
      GROUP BY cl, u.pos
    ),
    c2r AS (
      SELECT cl, list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS c
      FROM s1 GROUP BY cl
    ),
    c2 AS (
      SELECT c1.cl, coalesce(c2r.c, c1.c) AS c
      FROM c1 LEFT JOIN c2r ON c1.cl = c2r.cl
    )
    SELECT vec_id, cl AS cluster, d2 AS dist2 FROM (
      SELECT vec_id, cl, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
      FROM (
        SELECT qd.vec_id, c.cl,
               list_reduce([0.0] || list_transform(list_zip(qd.x, c.c),
                 p -> (p[1] - p[2]) * (p[1] - p[2])),
                 (a, b) -> a + b) AS d2
        FROM qd CROSS JOIN c2 c))
    WHERE rn = 1
    """,
    doc="deterministic distributed Lloyd k-means (k=8, 2 iterations) "
        "over 1e-6-quantized embeddings: (vec_id, cluster, dist2), "
        "BIT-IDENTICAL across engines, partitionings, and task "
        "retries because every cross-row reduction is an exact BIGINT "
        "sum and every float op is a fixed-order IEEE fold — the "
        "reproducible alternative to pyspark.ml KMeans for "
        "assignments that feed dedup/split decisions (SemDeDup cells, "
        "IVF partitions). Per-iteration shuffle is map-side-combined "
        "(cluster, pos) partials: <= partitions x k x d rows of three "
        "longs regardless of corpus size; the driver holds only the "
        "k x d centroid matrix. The DuckDB oracle unrolls both "
        "Lloyd iterations and reproduces every bit "
        "(ops/cluster.py lloyd_kmeans).",
)
def op_d3_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.cluster import lloyd_kmeans

    return lloyd_kmeans(
        load_table(spark, sf_dir, "embeddings"), k=8, iters=2
    )


@query(
    "OP-D3-balanced",
    # the kmeans oracle text is reused verbatim as a nested-CTE
    # subquery: the balanced sample IS kmeans + the quota rank, so the
    # oracle proves the composition end to end (assignments AND the
    # within-cell hash choice).
    oracle=None,  # set right after op_d3_kmeans's registration below
    doc="diversity-balanced sampling: cap every deterministic-k-means "
        "cell at 20 rows chosen by salted-hash rank — the embedding-"
        "space counterpart of per-source quota sampling (flattens "
        "near-dup-dense regions a uniform sample would reproduce; the "
        "sampling half of the cluster-and-prune recipe). Exact oracle: "
        "the unrolled-Lloyd kmeans SQL wrapped with the '#quota' rank "
        "(ops/cluster.py cluster_balanced_sample).",
)
def op_d3_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.cluster import cluster_balanced_sample

    return cluster_balanced_sample(
        load_table(spark, sf_dir, "embeddings"), k=8, iters=2,
        per_cluster=20,
    )


from filefilter_spark.queries.registry import REGISTRY as _REG  # noqa: E402

_REG["OP-D3-balanced"].oracle = f"""
    WITH km AS ({_REG["OP-D3-kmeans"].oracle})
    SELECT vec_id, cluster FROM (
      SELECT vec_id, cluster,
             row_number() OVER (PARTITION BY cluster
               ORDER BY md5(vec_id || '#quota42'), vec_id) AS rn
      FROM km) WHERE rn <= 20
    """


def _zorder_oracle() -> str:
    """Generate the OP-A9-zorder oracle: the same exact-integer
    normalize + Morton interleave as ops/layout.py, unrolled to the
    identical 32 shift/mask terms (bits=16, two columns — column
    shift amounts aren't portable SQL, literal unrolling is)."""
    terms = []
    for i in range(16):
        for c, u in enumerate(("up", "us")):
            terms.append(f"(({u} >> {i}) & 1) * {1 << (i * 2 + c)}")
    interleave = "\n             + ".join(terms)
    return f"""
    WITH b AS (
      SELECT min(l_partkey) AS plo, max(l_partkey) AS phi,
             min(l_suppkey) AS slo, max(l_suppkey) AS shi
      FROM lineitem
    ),
    u AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             ((l_partkey - plo) * 65535) // (phi - plo) AS up,
             ((l_suppkey - slo) * 65535) // (shi - slo) AS us,
             plo, phi, slo, shi
      FROM lineitem CROSS JOIN b
    )
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           CAST({interleave} AS BIGINT) AS zkey
    FROM u
    WHERE l_partkey BETWEEN plo AND plo + (phi - plo) // 10
      AND l_suppkey BETWEEN slo AND slo + (shi - slo) // 10
    """


@query(
    "OP-A9-compact",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem
    """,
    doc="small-files compaction round-trip: lineitem deliberately "
        "shattered into 64 tiny parquet files, rewritten by "
        "ops/layout.py compact_files as ceil(input_bytes/target) "
        "range-clustered files (one FileSystem listing for sizing — "
        "no data read; one range-exchange shuffle; each output file a "
        "contiguous (l_orderkey, l_linenumber) range so the leading "
        "key's parquet stats prune later scans), then re-read and "
        "compared to the source — the standing operational chore of "
        "any long-lived 100 TB table with streaming/per-batch "
        "writers. Content equality is the oracle; the file-count "
        "collapse and required-order contract are pinned in "
        "tests/test_ops.py.",
)
def op_a9_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.layout import compact_files

    from filefilter_spark.queries.inventory import _scratch

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"
    )
    src = _scratch("a9c/lineitem_small")
    out = _scratch("a9c/lineitem_compact")
    li.repartition(64).write.mode("overwrite").parquet(src)
    compact_files(
        spark, src, out,
        order_by=["l_orderkey", "l_linenumber"],
        target_bytes=1 << 20,
    )
    return spark.read.parquet(out)


@query(
    "OP-A9-zorder",
    oracle=_zorder_oracle(),
    doc="Z-order (Morton) layout sink + round-trip: lineitem written "
        "range-partitioned and sorted by the bit-interleaved "
        "(l_partkey, l_suppkey) key, read back, filtered to a 2-D "
        "predicate box (lowest decile of both dims), and re-keyed — "
        "verifying both the exact-integer key math (normalize DIV + "
        "32 unrolled shift/mask terms, bit-identical cross-engine, "
        "no floats anywhere) and write/read completeness. The layout "
        "is the 100 TB story: row groups become 2-D tiles so a "
        "selective predicate on EITHER interleaved column prunes via "
        "parquet min/max stats — measured (SCALING.md \"Z-order "
        "layout\") against a single-column sort "
        "(ops/layout.py).",
)
def op_a9_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.layout import (
        column_bounds,
        with_zorder,
        write_zordered,
    )

    from filefilter_spark.queries.inventory import _scratch

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    out = _scratch("a9z/lineitem_z")
    # One bounds pass shared by the write, the filter box, and the
    # re-key (was two identical full-scan min/max jobs over lineitem).
    bounds = column_bounds(li, ["l_partkey", "l_suppkey"])
    write_zordered(li, out, ["l_partkey", "l_suppkey"], bits=16,
                   num_files=8, bounds=bounds)
    (plo, phi), (slo, shi) = bounds["l_partkey"], bounds["l_suppkey"]
    back = spark.read.parquet(out).filter(
        F.col("l_partkey").between(plo, plo + (phi - plo) // 10)
        & F.col("l_suppkey").between(slo, slo + (shi - slo) // 10)
    )
    return with_zorder(back, ["l_partkey", "l_suppkey"], bits=16,
                       bounds=bounds)


@query(
    "OP-D7-novelty",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x != '') tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3
          THEN [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]
          ELSE [array_to_string(tk, ' ')] END) AS sh
      FROM toks
    ),
    posting AS (SELECT doc_id, unnest(sh) AS t FROM sh),
    first AS (SELECT t, min(doc_id) AS fd FROM posting GROUP BY t),
    novel AS (SELECT fd AS doc_id, count(*) AS n_novel FROM first GROUP BY fd),
    tot AS (SELECT doc_id, count(*) AS n_shingles FROM posting GROUP BY doc_id)
    SELECT tot.doc_id, n_shingles,
           coalesce(n_novel, 0) AS n_novel,
           CAST(coalesce(n_novel, 0) AS DOUBLE) / n_shingles AS novelty
    FROM tot LEFT JOIN novel ON tot.doc_id = novel.doc_id
    """,
    doc="marginal novelty in ingest order: share of each doc's distinct "
        "3-gram shingles first seen in THIS doc (min-doc_id credit) — "
        "ranks sources by new-content contribution and tracks dedup "
        "pressure as a crawl grows; the self-referential complement to "
        "OP-D7-contamination's external-reference overlap. Two "
        "map-combinable aggregations over one posting explode, no "
        "window and no posting self-join (both would put a stop-phrase "
        "shingle's whole posting list on one reducer); final join is "
        "doc-bounded (ops/corpus.py marginal_novelty).",
)
def op_d7_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.corpus import marginal_novelty

    return marginal_novelty(load_table(spark, sf_dir, "documents"))


_IVFPQ_CODES_ORACLE = r"""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))
               AS q
      FROM embeddings
    ),
    qd AS (
      SELECT vec_id,
             list_transform(q, v -> CAST(v AS DOUBLE) / 1000000.0) AS x
      FROM q
    ),
    subs AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS s),
    cent AS (
      SELECT subs.s,
             CAST(row_number() OVER (PARTITION BY subs.s
                                     ORDER BY seed.vec_id) - 1 AS INTEGER)
               AS c,
             list_slice(seed.x, subs.s * 8 + 1, subs.s * 8 + 8) AS cv
      FROM (SELECT vec_id, x FROM qd ORDER BY vec_id LIMIT 16) seed
      CROSS JOIN subs
    ),
    chunk AS (
      SELECT qd.vec_id, subs.s,
             list_slice(qd.x, subs.s * 8 + 1, subs.s * 8 + 8) AS cx
      FROM qd CROSS JOIN subs
    ),
    assign AS (
      SELECT vec_id, s, c FROM (
        SELECT ch.vec_id, ch.s, cent.c,
               row_number() OVER (
                 PARTITION BY ch.vec_id, ch.s
                 ORDER BY list_reduce(
                   [0.0] || list_transform(list_zip(ch.cx, cent.cv),
                                           p -> (p[1]-p[2])*(p[1]-p[2])),
                   (a, b) -> a + b), cent.c) AS rn
        FROM chunk ch JOIN cent ON ch.s = cent.s)
      WHERE rn = 1
    )
    SELECT vec_id, list(c ORDER BY s) AS codes FROM assign GROUP BY vec_id
    """


@query(
    "OP-D5-ivfpq",
    oracle=_IVFPQ_CODES_ORACLE,
    doc="streaming IVF x PQ index maintenance (OP-D5 x OP-D3, "
        "streaming/jobs.py ivfpq_stream_ingest): embeddings arrive as "
        "a file stream; every micro-batch is assigned + PQ-encoded "
        "against the FROZEN index (ops/pq.py ivfpq_encode_batch — "
        "grid-exact projections, so codes are batch-arrival-invariant) "
        "and appended to the cell-partitioned code table; existing "
        "data never reshuffles and probes stay partition-pruned as "
        "the table grows. availableNow drains the bounded input; the "
        "oracle recomputes the seeded PQ codes per vector in SQL "
        "(cells carry no oracle: DuckDB sees codes only). Multi-batch "
        "arrival invariance is pinned in tests/test_ops.py.",
)
def op_d5_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.pq import fit_pq_codebooks
    from filefilter_spark.ops.similarity import build_ivf_index
    from filefilter_spark.streaming.jobs import ivfpq_stream_ingest

    emb = load_table(spark, sf_dir, "embeddings")
    books = fit_pq_codebooks(emb, m=8, k=16, iters=0)
    _, cents = build_ivf_index(emb, n_lists=16, method="lloyd")
    out = ivfpq_stream_ingest(
        spark, f"{sf_dir}/embeddings.parquet", books, cents
    )
    return out.select("vec_id", "codes")


@query(
    "OP-D5-ivfpq-compact",
    oracle=_IVFPQ_CODES_ORACLE,
    doc="streaming-index maintenance (ops/layout.py "
        "compact_files(partition_by=...) composed with streaming/jobs.py "
        "ivfpq_stream_ingest): the per-batch appends accumulate one "
        "file set per cell per micro-batch, so a long-lived index "
        "degrades to thousands of KB files per cell; this compacts "
        "WITHIN the cell= partition layout (partition col leads the "
        "range keys, write.partitionBy preserves the dirs) so probe "
        "partition pruning survives, rows sorted by vec_id for tight "
        "min/max stats. The oracle is the SAME exact per-vector code "
        "recomputation as OP-D5-ivfpq — proving compaction moved "
        "file boundaries and NOTHING else; the file-count drop and "
        "pruning preservation are pinned in tests/test_ops.py.",
)
def op_d5_ivfpq_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from filefilter_spark.ops.layout import compact_files
    from filefilter_spark.ops.pq import fit_pq_codebooks
    from filefilter_spark.ops.similarity import build_ivf_index
    from filefilter_spark.streaming.jobs import ivfpq_stream_ingest

    emb = load_table(spark, sf_dir, "embeddings")
    books = fit_pq_codebooks(emb, m=8, k=16, iters=0)
    _, cents = build_ivf_index(emb, n_lists=16, method="lloyd")
    base = tempfile.mkdtemp(prefix="ffspark_ivfpq_idx_")
    try:
        idx = f"{base}/codes"
        ivfpq_stream_ingest(
            spark, f"{sf_dir}/embeddings.parquet", books, cents,
            out_dir=idx,
        )
        compact_files(spark, idx, f"{base}/compact", ["vec_id"],
                      partition_by="cell")
        # materialize before the scratch dir vanishes: the oracle
        # compare collects AFTER this callable returns
        out = spark.read.parquet(f"{base}/compact").select(
            "vec_id", "codes"
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


_NEARDUP_SURVIVOR_ORACLE = f"""
    WITH RECURSIVE jp AS ({_JACCARD_ORACLE}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM jp
      UNION
      SELECT id_b, id_a FROM jp
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    ),
    losers AS (
      SELECT src AS doc_id FROM reach GROUP BY src
      HAVING src != min(node)
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """


@query(
    "OP-D5-neardup",
    oracle=None,  # LSH recall is probabilistic → RecallSpec
    # Exact-graph survivors are a structural SUBSET of LSH survivors on
    # a single-batch drain (verified LSH pairs ⊆ exact pairs, so CCs
    # only split; a doc that is min of its exact component is min of
    # any sub-component containing it) — recall vs the exact-survivor
    # oracle is 1.0 by construction, floored at 0.95; precision is NOT
    # exact (an LSH-missed pair leaves an extra survivor in).
    recall=RecallSpec(_NEARDUP_SURVIVOR_ORACLE, ("doc_id",), 0.95,
                      exact_precision=False),
    doc="streaming NEAR-dedup (OP-D5 x OP-D2, streaming/jobs.py "
        "minhash_stream_dedup): documents arrive as a file stream; "
        "each micro-batch is LSH-banded, candidates against the "
        "survivor store come from ONE equi-join of batch bands vs the "
        "PERSISTED band table (history never re-hashed), verified by "
        "exact Jaccard reading only candidate texts, then the "
        "remainder is near-deduped within-batch and survivors append "
        "(docs + bands). Arrival-order-greedy across batches (first "
        "copy wins — pinned against a sequential batch-op reference "
        "in tests/test_ops.py); a single-batch drain equals the batch "
        "pipeline exactly. Recall-oracled vs the exact-Jaccard "
        "connected-component survivors.",
)
def op_d5_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from filefilter_spark.streaming.jobs import minhash_stream_dedup

    base = tempfile.mkdtemp(prefix="ffspark_neardup_store_")
    try:
        out = minhash_stream_dedup(
            spark, f"{sf_dir}/documents.parquet",
            threshold=0.5, shingle_n=3, out_dir=f"{base}/store",
        ).select("doc_id")
        # materialize before the scratch store vanishes: the oracle
        # compare collects AFTER this callable returns
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


_SEMDEDUP_SURVIVOR_ORACLE = r"""
    WITH RECURSIVE n AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    jp AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.e, b.e) >= 0.45
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM jp
      UNION
      SELECT id_b, id_a FROM jp
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    ),
    losers AS (
      SELECT src AS vec_id FROM reach GROUP BY src
      HAVING src != min(node)
    )
    SELECT vec_id FROM embeddings
    WHERE vec_id NOT IN (SELECT vec_id FROM losers)
    """


@query(
    "OP-D5-semdedup",
    oracle=None,  # cell-boundary recall is probabilistic → RecallSpec
    # Same structural-subset argument as OP-D5-neardup: verified
    # shared-cell pairs are a subset of the exact cosine pairs, so
    # components only split and a component min stays a sub-component
    # min — recall vs the exact-survivor oracle is 1.0 on a
    # single-batch drain; precision is not exact (a boundary-missed
    # pair leaves an extra survivor in).
    recall=RecallSpec(_SEMDEDUP_SURVIVOR_ORACLE, ("vec_id",), 0.95,
                      exact_precision=False),
    doc="streaming SEMANTIC near-dedup (OP-D5 x OP-D3 — SemDeDup's "
        "production shape, streaming/jobs.py semdedup_stream_dedup): "
        "embeddings arrive as a file stream; each micro-batch is "
        "assigned its top-3 nearest FROZEN KMeans cells "
        "(ops/similarity.py cell_memberships — zero-shuffle literal "
        "expression, batch-arrival-invariant), candidates against the "
        "survivor store come from ONE equi-join of batch memberships "
        "vs the PERSISTED membership table (history never re-scored), "
        "verified by EXACT cosine reading only candidate vectors, "
        "then the remainder near-dups within-batch (same pieces as "
        "batch semantic_dedup — a single-batch drain equals it "
        "exactly, pinned in tests) and survivors append (vecs + "
        "cells). Replay-safe via the self-pair kill; in-stream store "
        "compaction via maintain_every. Recall-oracled vs the exact "
        "cosine-pair-graph survivors.",
)
def op_d5_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from filefilter_spark.ops.similarity import build_ivf_index
    from filefilter_spark.streaming.jobs import semdedup_stream_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    _, cents = build_ivf_index(emb, n_lists=16, method="lloyd")
    base = tempfile.mkdtemp(prefix="ffspark_semdedup_store_")
    try:
        out = semdedup_stream_dedup(
            spark, f"{sf_dir}/embeddings.parquet", cents,
            threshold=0.45, out_dir=f"{base}/store",
        ).select("vec_id")
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# OP-D3-pca — distributed PCA: exact-integer covariance (ops/pca.py)
# ---------------------------------------------------------------------------


@query(
    "OP-D3-pca",
    oracle=r"""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 10000.0 + 0.5) AS BIGINT))
               AS q
      FROM embeddings
    ),
    pos AS (
      SELECT vec_id, CAST(u.i - 1 AS INTEGER) AS i, u.v AS v
      FROM (SELECT vec_id,
                   unnest(list_transform(q, (v, i) -> {'i': i, 'v': v})) AS u
            FROM q)
    ),
    s AS (
      SELECT a.i AS i, b.i AS j, sum(a.v * b.v) AS s
      FROM pos a JOIN pos b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    ),
    m AS (SELECT i, sum(v) AS m FROM pos GROUP BY i),
    n AS (SELECT count(*) AS n FROM q)
    SELECT s.i, s.j,
           (CAST(s.s AS DOUBLE)
              - CAST(mi.m AS DOUBLE) * CAST(mj.m AS DOUBLE)
                / CAST(n.n AS DOUBLE))
             / ((CAST(n.n AS DOUBLE) - 1.0) * 100000000.0) AS cov
    FROM s JOIN m mi ON s.i = mi.i JOIN m mj ON s.j = mj.i CROSS JOIN n
    """,
    doc="distributed PCA, covariance pass (ops/pca.py): exact-integer "
        "d x d second moments folded per-partition with one numpy matmul "
        "per Arrow batch (mapInPandas emits d(d+1)/2+d+1 partial rows per "
        "partition — independent of n), merged by one tiny groupBy — the "
        "decorrelation/whitening front end SemDeDup-style embedding "
        "curation runs before clustering. The covariance formula is a "
        "fixed-order double expression over exact int64 moments, so the "
        "oracle matches bit-for-bit; eigh stays driver-side on the d x d "
        "matrix (tested in tests/test_ops.py, not oracle-able: DuckDB has "
        "no eigensolver).",
)
def op_d3_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.pca import covariance

    return covariance(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# OP-D7-shuffle / OP-D7-curriculum — deterministic global ordering
# (ops/order.py: bucket-parallel exact rank, no single-partition sort)
# ---------------------------------------------------------------------------


@query(
    "OP-D7-shuffle",
    oracle="""
    SELECT doc_id,
           row_number() OVER (
             ORDER BY md5('r9:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS pos
    FROM documents
    """,
    doc="reproducible global corpus shuffle: 1-based position in the "
        "permutation ordered by md5(seed:doc_id) — same seed, same "
        "permutation on any partitioning/cluster/engine (no "
        "orderBy(rand()), which is nondeterministic under task retry). "
        "Computed bucket-parallel (ops/order.py ranked_by): md5-prefix "
        "buckets + per-bucket row_number + cumulative bucket offsets "
        "from one <=4096-row agg — the oracle's single-partition "
        "row_number OVER (ORDER BY ...) is exactly what this avoids at "
        "100 TB.",
)
def op_d7_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.order import deterministic_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(docs, id_col="doc_id", seed="r9")


@query(
    "OP-D7-curriculum",
    oracle="""
    WITH base AS (
      SELECT doc_id, CAST(length(coalesce(text, '')) AS BIGINT) AS score
      FROM documents
    ),
    r AS (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score, doc_id) AS r,
             count(*) OVER () AS n
      FROM base
    ),
    p AS (
      SELECT doc_id, score,
             CAST(((r - 1) * 4) // n AS INTEGER) AS phase
      FROM r
    )
    SELECT doc_id, phase,
           row_number() OVER (
             ORDER BY phase, md5('cur:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS pos
    FROM p
    """,
    doc="curriculum ordering (Bengio et al. 2009 for LLM pretraining): "
        "rank docs by a difficulty score (here: char length, short -> "
        "long), split the rank range into 4 contiguous equal phases by "
        "EXACT integer rank arithmetic (((rank-1)*phases) div n — no "
        "approximate quantiles, so phase boundaries are "
        "partition-independent and cross-engine exact), then "
        "deterministically md5-shuffle within each phase. Both rank "
        "passes are bucket-parallel (ops/order.py) — no global sort.",
)
def op_d7_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.order import curriculum_order

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return curriculum_order(
        docs,
        F.length(F.coalesce(F.col("text"), F.lit(""))),
        id_col="doc_id",
        phases=4,
        seed="cur",
        lo=0.0,
        hi=4096.0,
    ).select("doc_id", "phase", "pos")


# ---------------------------------------------------------------------------
# OP-D3-pq — product quantization ANN (ops/pq.py)
# ---------------------------------------------------------------------------


@query(
    "OP-D3-pq",
    oracle=r"""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))
               AS q
      FROM embeddings
    ),
    qd AS (
      SELECT vec_id,
             list_transform(q, v -> CAST(v AS DOUBLE) / 1000000.0) AS x
      FROM q
    ),
    subs AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS s),
    cent AS (
      SELECT subs.s,
             CAST(row_number() OVER (PARTITION BY subs.s
                                     ORDER BY seed.vec_id) - 1 AS INTEGER)
               AS c,
             list_slice(seed.x, subs.s * 8 + 1, subs.s * 8 + 8) AS cv
      FROM (SELECT vec_id, x FROM qd ORDER BY vec_id LIMIT 16) seed
      CROSS JOIN subs
    ),
    chunk AS (
      SELECT qd.vec_id, subs.s,
             list_slice(qd.x, subs.s * 8 + 1, subs.s * 8 + 8) AS cx
      FROM qd CROSS JOIN subs
    ),
    assign AS (
      SELECT vec_id, s, c FROM (
        SELECT ch.vec_id, ch.s, cent.c,
               row_number() OVER (
                 PARTITION BY ch.vec_id, ch.s
                 ORDER BY list_reduce(
                   [0.0] || list_transform(list_zip(ch.cx, cent.cv),
                                           p -> (p[1]-p[2])*(p[1]-p[2])),
                   (a, b) -> a + b), cent.c) AS rn
        FROM chunk ch JOIN cent ON ch.s = cent.s)
      WHERE rn = 1
    ),
    lut AS (
      SELECT cent.s, cent.c,
             list_reduce(
               [0.0] || list_transform(list_zip(qv.cx, cent.cv),
                                       p -> (p[1]-p[2])*(p[1]-p[2])),
               (a, b) -> a + b) AS v
      FROM cent JOIN (SELECT s, cx FROM chunk
                      WHERE vec_id = (SELECT min(vec_id) FROM qd)) qv
        ON cent.s = qv.s
    )
    SELECT vec_id, adc FROM (
      SELECT a.vec_id,
             list_reduce([0.0] || list(l.v ORDER BY a.s),
                         (x, y) -> x + y) AS adc
      FROM assign a JOIN lut l ON a.s = l.s AND a.c = l.c
      GROUP BY a.vec_id)
    ORDER BY adc, vec_id LIMIT 10
    """,
    doc="product quantization ANN (Jegou et al. 2011, ops/pq.py): 64-dim "
        "embeddings split into 8 subspaces, each mapped to its nearest of "
        "16 deterministic per-subspace centroids (codes = 8 small ints — "
        "32x smaller than float64; what a 100 TB index persists instead "
        "of vectors), then top-10 by asymmetric distance: the query "
        "(lowest vec_id) builds an 8x16 LUT driver-side and each row "
        "folds Sum_s LUT[s][code_s] — table lookups, no per-row vector "
        "math. Encode and search are pure codegen projections (codebook "
        "and LUT ride as literals); TakeOrderedAndProject for the top-k. "
        "All folds fixed left-to-right on grid-quantized values: exact "
        "cross-engine (codebook seeds here; Lloyd-refined tier is "
        "pytest-pinned in tests/test_ops.py).",
)
def op_d3_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.pq import (
        fit_pq_codebooks,
        pq_adc_topk,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = fit_pq_codebooks(emb, m=8, k=16, iters=0)
    qrow = emb.orderBy("vec_id").limit(1).collect()[0]
    codes = pq_encode(emb, books)
    return pq_adc_topk(
        codes, books, [float(x) for x in qrow["embedding"]], topk=10
    )


# ---------------------------------------------------------------------------
# OP-D3-ivfpq — composed IVF coarse probing × PQ-ADC ranking (ops/pq.py)
# ---------------------------------------------------------------------------

@query(
    "OP-D3-ivfpq",
    oracle=None,  # ANN top-k → recall oracle vs the exact L2 top-10
    # Measured: 0.9 @ sf0.001 and sf0.01 (4/16 cells probed, 5·k ADC
    # shortlist, exact rerank); floor pinned at 0.6 like its siblings.
    recall=RecallSpec(_ANN_EXACT_L2_TOP10, ("vec_id",), 0.6,
                      exact_precision=False),
    doc="composed IVF×PQ ANN top-10 (Jegou et al. 2011 §IV-V, "
        "ops/pq.py): deterministic Lloyd coarse cells (16) hold "
        "8-code PQ rows (one shared raw-vector codebook, 1 Lloyd "
        "round); the query probes its 4 nearest cells by the same "
        "grid-quantized L2 the ADC approximates, ADC-shortlists 50 "
        "candidates INSIDE the probed cells only, and an exact "
        "grid-L2 rerank of those 50 point-lookups emits the top-10 "
        "— neither tier alone survives 100 TB (full-scan ADC touches "
        "every code row; raw IVF re-reads full vectors per probe), "
        "composed the probe is a cell-partition-pruned read of "
        "4/16ths of the 32x-compressed codes. All folds fixed "
        "left-to-right on grid values: index bit-identical under any "
        "partitioning (pinned in tests/test_ops.py). Recall-oracled "
        "vs the exact L2 top-10 (floor 0.6, measured 0.9). Sizing at "
        "scale (SCALING.md 'recall@10 vs n_probe/refine', measured on "
        "the x8-x64 fixtures): recall FALLS with extra probed cells "
        "at fixed refine — the ADC shortlist is the binding "
        "constraint — so the r13 refine=None default APPLIES that "
        "law: one partition-pruned count of the probed cells sizes "
        "refine = max(5, probed/16/topk), reproducing both measured "
        "0.9-recall points (5 here, 50 at 128k vectors); this entry "
        "runs the auto default.",
)
def op_d3_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.pq import build_ivfpq_index, ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    indexed, books, cents = build_ivfpq_index(
        emb, n_lists=16, m=8, k=16, iters=1
    )
    return ivfpq_topk(
        indexed, books, cents, _query_vec(spark, sf_dir),
        topk=10, n_probe=4, vectors=emb,
    ).select("vec_id", F.round("dist2", 6).alias("dist2"))


@query(
    "OP-A8-annindex",
    oracle=None,  # ANN top-k → recall oracle vs the exact L2 top-10
    recall=RecallSpec(_ANN_EXACT_L2_TOP10, ("vec_id",), 0.6,
                      exact_precision=False),
    doc="zero-code ANN index lifecycle — the IVF×PQ twin of "
        "OP-A8-searchindex: an annindex stage persists the composed "
        "index (codes partitionBy(cell) + a driver-small meta sidecar "
        "holding codebooks/centroids/cell histogram — ops/pq.py "
        "build_ann_index), then search with mode: ann probes it in the "
        "same pipeline (ann_topk_indexed: centroid order and the "
        "auto-refine shortlist size come from the sidecar with zero "
        "extra jobs, the codes read is partition-pruned, the exact "
        "rerank reads the frame's vectors). Same recall oracle as "
        "OP-D3-ivfpq (floor 0.6, measured 0.9) — the layout is an "
        "access path, not a different operator.",
)
def op_a8_annindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline
    from filefilter_spark.queries.inventory import _scratch

    ix = _scratch("a8annix/ann_index")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    yaml = f"""
filters:
  - name: build_ix
    actionType: annindex
    actionConfig: {{indexPath: {ix}, idField: vec_id}}
  - name: neighbors
    actionType: search
    actionConfig:
      mode: ann
      indexPath: {ix}
      idField: vec_id
      k: 10
      nProbe: 4
      queryVector: [{', '.join(repr(float(x)) for x in qv)}]
  - name: project
    actionType: sql
    code: SELECT vec_id, round(dist2, 6) AS dist2 FROM df
"""
    pipe = Pipeline(spark, load_config_str(yaml))
    return pipe.run(emb).df
