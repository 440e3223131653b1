"""Library-op tests: recall of the probabilistic near-dup/ANN paths
against their exact baselines (promised in queries/extensions.py), asof
semantics, dedup determinism. Runs at sf0.001."""

import datetime

import pyspark.sql.functions as F
import pytest

from filefilter_spark.ops.layout import _read_sidecar, _write_sidecar


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_minhash_recall_vs_exact(documents):
    """MinHash(64)+LSH(16 bands) must recover ≥90% of the exact
    Jaccard≥0.5 pairs (theory: ~97% per-pair at J=0.5) with perfect
    precision (candidates are verified with exact Jaccard)."""
    from filefilter_spark.ops.dedup import minhash_near_dup, token_jaccard_pairs

    exact = {
        (r["id_a"], r["id_b"])
        for r in token_jaccard_pairs(documents, threshold=0.5, shingle_n=3).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dup(documents, threshold=0.5, shingle_n=3).collect()
    }
    assert approx <= exact  # verification ⇒ no false positives
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.9, f"minhash recall {recall:.2f} < 0.9 ({len(exact)} true pairs)"


def test_simhash_finds_exact_duplicates(documents):
    """Identical normalized texts have identical simhash → hamming 0;
    every exact-dup pair must appear in the hamming≤3 output."""
    from filefilter_spark.ops.dedup import exact_dedup, simhash_near_dup

    dup_groups = exact_dedup(documents).filter(F.col("n_dups") >= 2)
    n_dup_groups = dup_groups.count()
    pairs = simhash_near_dup(documents, max_hamming=0)
    zero_ham = pairs.filter(F.col("hamming") == 0).count()
    assert (n_dup_groups == 0) == (zero_ham == 0) or zero_ham >= n_dup_groups


def test_chunked_list_pairs_exact_across_chunk_boundaries(spark):
    """The r16 chunked pair kernel must emit every unordered in-list
    pair EXACTLY once (multiset equality, not set — token_jaccard
    counts shared tokens by pair row multiplicity) for lists on both
    sides of, exactly at, and far past the _PAIR_CHUNK boundary, for
    plain ids and for struct elements, unsorted input order."""
    import itertools

    from filefilter_spark.ops.dedup import _PAIR_CHUNK, _chunked_list_pairs

    c = _PAIR_CHUNK
    sizes = [2, 3, c - 1, c, c + 1, 2 * c + 17]
    rows = [
        (k, [((k + 1) * 100_000 + i * 7) % (10**9) for i in range(n)][::-1])
        for k, n in enumerate(sizes)
    ]
    df = spark.createDataFrame(rows, "k int, ids array<bigint>")
    got = sorted((r.a, r.b) for r in _chunked_list_pairs(df, "ids").collect())
    want = sorted(
        p
        for _, ids in rows
        for p in itertools.combinations(sorted(ids), 2)
    )
    assert got == want  # multiset: every pair once, a < b

    # struct elements: order is by leading id; the payload field rides
    sdf = spark.createDataFrame(
        [(1, [(i, i % 3) for i in range(c + 5, 0, -1)])],
        "k int, ds array<struct<id:int,n:int>>",
    )
    spairs = _chunked_list_pairs(sdf, "ds").collect()
    assert len(spairs) == (c + 5) * (c + 4) // 2
    assert all(r.a.id < r.b.id and r.a.n == r.a.id % 3 for r in spairs)


def test_cc_map_broadcast_gate_is_byte_based():
    """The _cc_driver broadcast hint gates on estimated id BYTES, not
    row count — wide string ids stop qualifying long before 2M rows,
    also when they appear only late in the list."""
    from filefilter_spark.ops.dedup import (
        CC_BROADCAST_MAX_BYTES,
        _cc_map_bytes,
    )

    # 2M narrow bigint rows ≈ 32 MB -> under the 64 MB gate
    narrow = [(1, 2)] * 1000
    assert _cc_map_bytes(narrow) / len(narrow) * 2_000_000 \
        <= CC_BROADCAST_MAX_BYTES
    # 2M rows of 200-byte string ids ≈ 800 MB -> over the gate
    wide = [("x" * 200, "y" * 200)] * 1000
    assert _cc_map_bytes(wide) / len(wide) * 2_000_000 \
        > CC_BROADCAST_MAX_BYTES
    # the estimator samples: width measured from the head scales out
    assert _cc_map_bytes(wide * 3000) > CC_BROADCAST_MAX_BYTES
    # _cc_driver emits first-seen order: narrow ids at the head, wide
    # string ids later. 2M rows, half of them 200-byte ids ≈ 416 MB ->
    # over the gate; the sample must span the list, not its head
    skewed = [(1, 2)] * 1_000_000 + [("x" * 200, "y" * 200)] * 1_000_000
    assert _cc_map_bytes(skewed) > CC_BROADCAST_MAX_BYTES


def test_reliable_checkpoint_dir_passthrough(spark, tmp_path):
    """An application-set ``setCheckpointDir`` turns every lineage cut
    durable: the pair kernel and the CC loop give the local cut's rows,
    checkpoint files land under the set dir, and the upstream of a
    durable cut is evaluated once. The dir is unset again afterwards —
    the ``spark`` fixture is session-wide, and a leftover dir would
    make every later test's cuts durable. The files are deleted once
    the cut frames are released."""
    import gc
    import itertools
    import os
    import time

    from pyspark.storagelevel import StorageLevel

    from filefilter_spark.ops.dedup import (
        _chunked_list_pairs,
        cluster_pairs,
    )
    from filefilter_spark.session import lineage_cut

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    # local cuts: driver_max_edges=0 forces the distributed CC loop
    want_cc = sorted(
        tuple(r) for r in cluster_pairs(pairs, driver_max_edges=0).collect()
    )
    assert want_cc == sorted(tuple(r) for r in cluster_pairs(pairs).collect())

    ckdir = str(tmp_path / "reliable_ck")
    sc.setCheckpointDir(ckdir)
    try:
        df = spark.range(1).selectExpr(
            "cast(id as int) k", "array(5L, 3L, 9L, 1L) AS ids"
        )
        got = sorted(
            (r.a, r.b) for r in _chunked_list_pairs(df, "ids").collect()
        )
        assert got == sorted(itertools.combinations(sorted([5, 3, 9, 1]), 2))
        got_cc = sorted(
            tuple(r)
            for r in cluster_pairs(pairs, driver_max_edges=0).collect()
        )
        assert got_cc == want_cc

        # upstream evaluated once: a counting UDF under a lazy-requested
        # cut consumed twice
        evals = sc.accumulator(0)

        def tick(x):
            evals.add(1)
            return x

        src = spark.range(4).select(F.udf(tick, "bigint")("id").alias("x"))
        cut = lineage_cut(src)
        assert sorted(r.x for r in cut.collect()) == [0, 1, 2, 3]
        assert cut.count() == 4
        assert evals.value == 4
        assert src.storageLevel == StorageLevel.NONE  # its cache is dropped

        def files():
            return [f for _, _, fs in os.walk(ckdir) for f in fs]

        assert files(), "no durable checkpoint files written"
        # the cleaner (cleanCheckpoints, set by get_spark) deletes them
        # once the cut frames are released and the JVM collects them
        del cut, src
        for _ in range(80):
            gc.collect()
            sc._jvm.System.gc()
            if not files():
                break
            time.sleep(0.25)
        assert not files(), "durable checkpoint files not cleaned up"
    finally:
        sc._jsc.sc().setCheckpointDir(None)
    assert sc.getCheckpointDir() is None


def test_bucket_pairs_hot_bucket_same_result_as_small(spark):
    """_bucket_pairs output is independent of which kernel branch a
    bucket takes: a bucket larger than _PAIR_CHUNK (chunked path) and
    small buckets (in-place explode) produce the same distinct ordered
    pair set as brute force."""
    import itertools

    from filefilter_spark.ops.dedup import _PAIR_CHUNK, _bucket_pairs

    hot = [(i, "hot") for i in range(_PAIR_CHUNK + 9)]
    cold = [(10_000 + i, "cold") for i in range(4)]
    # id 0 also in a second bucket shared with a cold id: the pair
    # (0, 10_000) must appear once despite _bucket_pairs' distinct
    both = [(0, "mix"), (10_000, "mix")]
    df = spark.createDataFrame(hot + cold + both, "doc_id int, bucket string")
    got = sorted((r.id_a, r.id_b) for r in _bucket_pairs(df, ["bucket"]).collect())
    want = sorted(
        set(itertools.combinations(range(_PAIR_CHUNK + 9), 2))
        | set(itertools.combinations(range(10_000, 10_004), 2))
        | {(0, 10_000)}
    )
    assert got == want


def test_exact_dedup_min_id_survivor(spark):
    from filefilter_spark.ops.dedup import exact_dedup

    df = spark.createDataFrame(
        [(10, "same  text"), (3, "same text"), (7, "other")], "doc_id int, text string"
    )
    rows = {r["keep_id"]: r["n_dups"] for r in exact_dedup(df).collect()}
    # whitespace-normalized: ids 3 and 10 collapse; min id 3 survives
    assert rows == {3: 2, 7: 1}


def test_keep_best_score_beats_arrival_order(spark):
    """keep_best keeps the highest-scoring copy per fingerprint group
    even when it has the HIGHER id (min-id dedup would keep the other),
    falls back to min id on exact score ties, and leaves singletons
    untouched."""
    from filefilter_spark.ops.dedup import keep_best

    df = spark.createDataFrame(
        [
            (1, "good doc", 0.2),   # dirty copy, low id
            (9, "good  doc", 0.9),  # clean copy, high id -> must win
            (4, "tie doc", 0.5),    # tie -> min id 4 wins
            (6, "tie  doc", 0.5),
            (8, "only one", 0.1),   # singleton survives regardless
        ],
        "doc_id int, text string, score double",
    )
    got = sorted(r["doc_id"] for r in keep_best(df, F.col("score")).collect())
    assert got == [4, 8, 9]


def test_minhash_hot_bucket_capped(spark):
    """A mass-duplicate corpus (10k copies of one doc) lands all copies
    in one LSH bucket per band. With the default max_bucket=4096 those
    buckets are dropped — the job completes without emitting the ~50M
    quadratic pairs — while pairs among normal docs survive. The
    distinct near-dup pair (100, 101) shares no band with the hot group
    and must still be found."""
    from filefilter_spark.ops.dedup import minhash_near_dup, simhash_near_dup

    rows = [(i, "lorem ipsum dolor boilerplate page") for i in range(10_000)]
    rows += [
        (100_000, "the quick brown fox jumps over the lazy dog tonight"),
        (100_001, "the quick brown fox jumps over the lazy dog today"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dup(df, threshold=0.5).collect()
    }
    assert (100_000, 100_001) in pairs
    # every hot-bucket pair (both ids < 10k) was dropped by the cap
    assert not any(a < 10_000 and b < 10_000 for a, b in pairs)
    sim = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dup(df, max_hamming=3).collect()
    }
    assert not any(a < 10_000 and b < 10_000 for a, b in sim)


def test_verify_jaccard_requires_both_sides(spark):
    """A candidate pair whose doc is absent from the docs side must be
    dropped, not scored 1.0 off a single-side join."""
    from filefilter_spark.ops.dedup import _verify_jaccard

    candidates = spark.createDataFrame(
        [(1, 2), (1, 99)], "id_a int, id_b int"
    )
    docs = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a", "b"])],
        "doc_id int, toks array<string>",
    )
    got = {(r["id_a"], r["id_b"]) for r in _verify_jaccard(candidates, docs, 0.5).collect()}
    assert got == {(1, 2)}


def test_lsh_ann_recall_vs_exact_topk(spark, embeddings):
    from filefilter_spark.ops.similarity import lsh_topk_cosine, topk_cosine

    qv = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["vec_id"] for r in topk_cosine(embeddings, qv, k=10).collect()]
    approx = [r["vec_id"] for r in lsh_topk_cosine(embeddings, qv, k=10).collect()]
    # every ANN result must be a real vector, ranked by true cosine;
    # recall@10 ≥ 0.5 for the bucket-probe config on this data
    overlap = len(set(exact) & set(approx))
    assert overlap >= 5, f"ANN recall@10 = {overlap}/10"
    assert approx[0] == exact[0] == 0  # the query vector itself is its own top-1


def test_ivf_ann_recall_vs_exact_topk(spark, embeddings):
    from filefilter_spark.ops.similarity import ivf_topk_cosine, topk_cosine

    qv = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["vec_id"] for r in topk_cosine(embeddings, qv, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk_cosine(embeddings, qv, k=10).collect()]
    overlap = len(set(exact) & set(approx))
    assert overlap >= 5, f"IVF recall@10 = {overlap}/10"
    assert approx[0] == 0  # query vector is its own top-1


def test_lsh_cosine_pairs_recall_vs_exact(embeddings):
    """Bucketed embedding near-dup: exact precision (verification step)
    and high recall vs the O(n²) baseline at threshold 0.45."""
    from filefilter_spark.ops.similarity import cosine_pairs, lsh_cosine_pairs

    exact = {(r["id_a"], r["id_b"]) for r in cosine_pairs(embeddings, 0.45).collect()}
    approx = {
        (r["id_a"], r["id_b"])
        for r in lsh_cosine_pairs(embeddings, 0.45, n_planes=4, n_tables=12).collect()
    }
    assert approx <= exact
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.6, f"lsh pairs recall {recall:.2f} ({len(exact)} true pairs)"


def test_plan_lsh_pairs_scales_planes_with_corpus():
    """Auto-sizing must deepen the hash as n grows (constant expected
    bucket occupancy ⇒ linear candidate generation) and re-derive the
    table count from the banding curve so recall holds."""
    import math

    from filefilter_spark.ops.similarity import plan_lsh_pairs

    r_small, b_small = plan_lsh_pairs(1_000, threshold=0.45)
    r_big, b_big = plan_lsh_pairs(1_000_000, threshold=0.45)
    assert r_big > r_small  # occupancy control
    assert b_big >= b_small  # deeper hash ⇒ more tables for same recall
    # banding curve holds the recall target when not capped
    a = 1 - math.acos(0.45) / math.pi
    recall = 1 - (1 - a**r_small) ** b_small
    assert recall >= 0.9
    # tight thresholds need few tables even at depth
    r_t, b_t = plan_lsh_pairs(100_000, threshold=0.95)
    assert b_t <= 6


def test_lsh_cosine_pairs_auto_recall_vs_exact(embeddings):
    """n_planes='auto' must keep exact precision and useful recall."""
    from filefilter_spark.ops.similarity import cosine_pairs, lsh_cosine_pairs

    exact = {(r["id_a"], r["id_b"]) for r in cosine_pairs(embeddings, 0.45).collect()}
    approx = {
        (r["id_a"], r["id_b"])
        for r in lsh_cosine_pairs(embeddings, 0.45, n_planes="auto").collect()
    }
    assert approx <= exact
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.6, f"auto lsh recall {recall:.2f} ({len(exact)} true pairs)"


def test_asof_join_backward_inclusive(spark):
    from filefilter_spark.ops.asof import asof_join

    ts = lambda d: datetime.datetime(2024, 1, d)
    left = spark.createDataFrame(
        [(1, ts(5)), (1, ts(2)), (2, ts(1))], "k int, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, ts(2), "r1"), (1, ts(4), "r2"), (2, ts(9), "r3")],
        "k int, rts timestamp, v string",
    )
    out = {(r["k"], r["ts"].day): (r["v"], r["matched_ts"].day)
           for r in asof_join(left, right, on="k", left_ts="ts", right_ts="rts").collect()}
    # inclusive backward: left@2 matches right@2; left@5 matches right@4;
    # k=2 left@1 has no prior right row → dropped (inner)
    assert out == {(1, 5): ("r2", 4), (1, 2): ("r1", 2)}


def test_asof_left_keeps_unmatched(spark):
    from filefilter_spark.ops.asof import asof_join

    ts = lambda d: datetime.datetime(2024, 1, d)
    left = spark.createDataFrame([(2, ts(1))], "k int, ts timestamp")
    right = spark.createDataFrame([(2, ts(9), "r")], "k int, rts timestamp, v string")
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="rts", how="left").collect()
    assert len(out) == 1 and out[0]["v"] is None and out[0]["matched_ts"] is None


def test_streaming_session_windows_match_gaps_and_islands(spark, sf_dir):
    """session_window sessions == batch gaps-and-islands sessions."""
    from pyspark.sql import Window
    from filefilter_spark.queries.registry import load_table
    from filefilter_spark.streaming.jobs import session_window_counts_available_now

    out = session_window_counts_available_now(spark, f"{sf_dir}/events.parquet")
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        ev.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev").isNull()
                | (F.col("ts") >= F.col("prev") + F.expr("INTERVAL 30 MINUTES")),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("session_start"), F.count("*").alias("n_events"))
    )
    s = {(r["user_id"], r["session_start"]): r["n_events"] for r in out.collect()}
    b = {(r["user_id"], r["session_start"]): r["n_events"] for r in batch.collect()}
    assert s == b


def test_salted_agg_matches_plain(spark):
    from filefilter_spark.ops.skew import salted_agg

    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(500)] + [("cold", 1.0), ("cold", 2.0)],
        "k string, v double",
    )
    out = {
        r["k"]: (r["c"], r["s"])
        for r in salted_agg(
            df, ["k"],
            partial={"c": F.count("*"), "s": F.sum("v")},
            combine={"c": F.sum("c"), "s": F.sum("s")},
        ).collect()
    }
    assert out == {"hot": (500, sum(float(i) for i in range(500))), "cold": (2, 3.0)}


def test_salted_join_matches_plain(spark):
    from filefilter_spark.ops.skew import salted_join

    big = spark.createDataFrame(
        [("hot", i) for i in range(200)] + [("x", 0)], "k string, v int"
    )
    small = spark.createDataFrame([("hot", "H"), ("y", "Y")], "k string, tag string")
    salted = salted_join(big, small, on=["k"]).collect()
    plain = big.join(small, "k").collect()
    assert sorted((r["k"], r["v"], r["tag"]) for r in salted) == sorted(
        (r["k"], r["v"], r["tag"]) for r in plain
    )


def test_op_b5_skew_plan_salts_the_shuffle(spark):
    """The OP-B5-skew plan must actually spread the hot key: a pinned
    shuffle_hash join whose exchange hash-partitions on (key, salt) —
    without the salt, one reducer would hold 75% of the big side."""
    from filefilter_spark.queries.registry import all_queries

    df = all_queries()["OP-B5-skew"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan[:2000]
    assert "__salt" in plan, plan[:2000]
    # salt must be part of the join keys, not just a carried column
    import re

    m = re.search(r"ShuffledHashJoin \[([^\]]*)\]", plan)
    assert m and "__salt" in m.group(1), m.group(0) if m else plan[:500]


def test_op_b12_skew_plan_two_phase(spark):
    """OP-B12-skew's phase-1 aggregate must group by (key, salt) so the
    holistic collect_set of the hot key spreads across reducers."""
    from filefilter_spark.queries.registry import all_queries

    df = all_queries()["OP-B12-skew"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan, plan[:2000]
    # two aggregation layers: (key, salt) then (key)
    assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") >= 2


def test_multimodal_plumbing(spark, sf_dir):
    """Media-table schema + each stub kernel's Spark-side plumbing:
    decode (1:1), audio (1:1), resize (binary→binary), frames (1:N)."""
    from filefilter_spark.ops.multimodal import (
        extract_audio_features_stub,
        extract_image_features,
        frame_sample_stub,
        resize_images_stub,
        to_media_table,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    media = to_media_table(docs, "doc_id", "text", media_type="image")
    n = media.count()
    assert extract_image_features(media, fake=True).count() == n
    assert extract_audio_features_stub(media, fake=True).count() == n
    resized = resize_images_stub(media, fake=True)
    assert resized.columns == media.columns
    assert resized.select("content_len").distinct().count() == 1  # fixed-size fake
    frames = frame_sample_stub(media, every_n=10, fake=True)
    assert frames.count() >= n  # 1:N fan-out
    # determinism: same payload → same feature hash
    f1 = {r["media_id"]: r["feature_hash"]
          for r in extract_image_features(media, fake=True).collect()}
    f2 = {r["media_id"]: r["feature_hash"]
          for r in extract_image_features(media, fake=True).collect()}
    assert f1 == f2


def test_multimodal_real_kernel_raises():
    from filefilter_spark.ops.multimodal import decode_image_stub

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_image_stub(b"xx", fake=False)


def test_streaming_windowed_counts_matches_batch(spark, sf_dir):
    """OP-D5: the streaming windowed aggregate equals the same aggregate
    run as a plain batch query."""
    from filefilter_spark.queries.registry import load_table
    from filefilter_spark.streaming.jobs import windowed_counts_available_now

    stream_out = windowed_counts_available_now(spark, f"{sf_dir}/events.parquet")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("win_start"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    s = {(r["win_start"], r["event_type"]): r["n"] for r in stream_out.collect()}
    b = {(r["win_start"], r["event_type"]): r["n"] for r in batch.collect()}
    assert s == b


def test_winnow_fingerprints_match_python_reference(documents):
    """Winnowing (OP-D4-winnow): the JVM array-expression pipeline must
    reproduce a direct Python implementation of Schleimer et al. —
    ordered 3-gram md5 sequence, window-4 minima, distinct+sorted."""
    import hashlib
    import re

    from filefilter_spark.ops.text import winnow_fingerprints

    sample = documents.orderBy("doc_id").limit(20)
    got = {
        r["doc_id"]: r["fps"]
        for r in sample.select(
            "doc_id", winnow_fingerprints("text").alias("fps")
        ).collect()
    }

    def ref(text: str) -> list[str]:
        tk = [t for t in re.split(r"\s+", text) if t]
        sh = (
            [" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)]
            if len(tk) >= 3
            else [" ".join(tk)]
        )
        hs = [hashlib.md5(s.encode()).hexdigest() for s in sh]
        sel = (
            [min(hs[i : i + 4]) for i in range(len(hs) - 3)]
            if len(hs) >= 4
            else [min(hs)]
        )
        return sorted(set(sel))

    for row in sample.select("doc_id", "text").collect():
        assert got[row["doc_id"]] == ref(row["text"]), row["doc_id"]


def test_redact_pii_matches_python_reference(spark):
    """PII redaction (OP-D4-redact): the chained JVM regexp_replace must
    agree with a direct Python re.sub chain on adversarial cases —
    multiple hits per row, adjacent PII, no-op rows, pattern order."""
    import re

    from filefilter_spark.ops.text import PII_PATTERNS, redact_pii

    cases = [
        "plain text, nothing to scrub",
        "mail a@b.io and c.d+tag@e-f.org twice",
        "see https://x.io/p?q=1#f and http://y.org/z then mail z@w.dev",
        "call +1-555-0100 or +44-20-7946-0958 now",
        "edge https://a.io/u?e=x@y.com packs a url-embedded email",
        "",
    ]

    def ref(s: str) -> str:
        for pat, repl in PII_PATTERNS:
            s = re.sub(pat, repl, s)
        return s

    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i int, t string")
    got = {r["i"]: r["red"] for r in df.select("i", redact_pii("t").alias("red")).collect()}
    for i, s in enumerate(cases):
        assert got[i] == ref(s), (i, s)


def test_io_round_trips(spark, sf_dir, tmp_path):
    """ORC, JSONL, and gzip-CSV round-trips preserve values; the
    compressed path exercises the extension dispatch through .gz."""
    from filefilter_spark.io import read_input, write_csv, write_jsonl, write_orc

    src = spark.read.parquet(f"{sf_dir}/region.parquet").select("r_regionkey", "r_name")
    want = sorted((r["r_regionkey"], r["r_name"]) for r in src.collect())

    orc = str(tmp_path / "region.orc")
    write_orc(src, orc)
    got = sorted((r["r_regionkey"], r["r_name"]) for r in read_input(spark, orc).collect())
    assert got == want

    jl = str(tmp_path / "region.jsonl")
    write_jsonl(src, jl)
    got = sorted(
        (r["r_regionkey"], r["r_name"])
        for r in read_input(spark, jl, schema="r_regionkey bigint, r_name string").collect()
    )
    assert got == want

    gz = str(tmp_path / "region.csv.gz")
    write_csv(src, gz, compression="gzip")
    import glob

    assert glob.glob(gz + "/part-*.csv.gz"), "expected gzip part files"
    got = sorted(
        (int(r["r_regionkey"]), r["r_name"])
        for r in read_input(spark, gz, schema="r_regionkey string, r_name string").collect()
    )
    assert got == want


def test_foreach_batch_hot_config_reload(spark, tmp_path):
    """config_path is re-read at each micro-batch boundary (the
    reference's reloadConfigEverySeconds intent, filefilter.py:160-170):
    batch 1's stage swaps the config file, so batch 2 must tag rows with
    the NEW stage list."""
    import pyspark.sql.functions as F

    from filefilter_spark.streaming.jobs import pipeline_foreach_batch

    src = str(tmp_path / "events_dir")
    (
        spark.range(10)
        .select(
            F.col("id").alias("event_id"),
            F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
        )
        .repartition(2)  # two part files -> two micro-batches
        .write.parquet(src)
    )

    cfg = tmp_path / "cfg.yml"
    v2 = tmp_path / "cfg_v2.yml"
    v2.write_text(
        """
filters:
  - name: tag
    actionType: python
    code: |
      row['ver'] = 2
"""
    )
    # v1's stage swaps the active config from inside batch 1, so the
    # interleaving is deterministic: by the time batch 2's handler
    # re-reads the path, v2 is in place.
    cfg.write_text(
        f"""
filters:
  - name: tag
    actionType: python
    code: |
      import shutil
      shutil.copy({str(v2)!r}, {str(cfg)!r})
      row['ver'] = 1
"""
    )

    out = pipeline_foreach_batch(
        spark, src, config_path=str(cfg), max_files_per_trigger=1
    )
    assert out.count() == 10
    vers = sorted(r.ver for r in out.select("ver").distinct().collect())
    assert vers == [1, 2]

    with pytest.raises(ValueError, match="exactly one"):
        pipeline_foreach_batch(spark, src)


def test_keep_survivors_materializes_dedup(spark):
    from filefilter_spark.ops.dedup import keep_survivors

    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world"), (3, "unique doc")],
        "doc_id int, text string",
    )
    out = keep_survivors(df).orderBy("doc_id").collect()
    # normalized-equal texts collapse to the min-id row, full row kept
    assert [(r.doc_id, r.text) for r in out] == [(1, "Hello  world"), (3, "unique doc")]


def test_hash_split_deterministic_and_shuffle_free(spark):
    from filefilter_spark.ops.corpus import hash_split, split_cutoffs

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    out = hash_split(df)
    # pure projection: no Exchange in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["train"] / 2000 - 0.9) < 0.03
    assert abs(counts["val"] / 2000 - 0.05) < 0.02
    assert abs(counts["test"] / 2000 - 0.05) < 0.02
    # same ids -> same assignment regardless of partitioning
    again = {r.doc_id: r.split for r in hash_split(df.repartition(7)).collect()}
    first = {r.doc_id: r.split for r in out.collect()}
    assert first == again
    with pytest.raises(ValueError, match="positive"):
        split_cutoffs({"a": -1.0})


def test_pack_sequences_respects_budget(spark):
    from filefilter_spark.ops.corpus import pack_sequences

    df = spark.createDataFrame(
        [(i, "s", 100) for i in range(10)], "doc_id int, source string, cost int"
    )
    out = pack_sequences(df, "cost", 250, part_col="source").collect()
    bins = {}
    for r in out:
        bins.setdefault(r.bin_id, []).append(r.doc_id)
    # prev-cumsum binning: bin 0 gets docs 0-2 (prev 0,100,200), bin 1
    # docs 3-4 (prev 300,400), ... — first doc of each bin starts below
    # the budget boundary
    assert bins[0] == [0, 1, 2]
    assert bins[1] == [3, 4]


def test_contamination_fractions(spark):
    from filefilter_spark.ops.corpus import contamination

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),        # 3 shingles, some shared
            (2, "totally different words here now"),  # disjoint
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(99, "the quick brown fox")], "doc_id int, text string"
    )
    got = {r.doc_id: (r.n_shingles, r.n_contaminated) for r in contamination(docs, bench).collect()}
    # doc 1: shingles {the quick brown, quick brown fox, brown fox jumps};
    # bench has the first two -> 2/3 contaminated
    assert got[1] == (3, 2)
    assert got[2] == (3, 0)


def test_repetition_score_values(spark):
    from filefilter_spark.ops.text import repetition_score

    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),   # heavy 3-gram repetition
            (2, "one two three four"),  # no repetition
            (3, "x y"),                 # shorter than n -> single shingle, 0
        ],
        "doc_id int, text string",
    )
    got = {r.doc_id: r.rep for r in df.select("doc_id", repetition_score("text").alias("rep")).collect()}
    # doc 1: 7 shingles, 3 distinct -> 1 - 3/7
    assert abs(got[1] - (1 - 3 / 7)) < 1e-9
    assert got[2] == 0.0
    assert got[3] == 0.0


def test_weighted_sample_rates_and_determinism(spark):
    from filefilter_spark.ops.corpus import weighted_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(4000)], "doc_id int, source string"
    )
    out = weighted_sample(df, {"a": 0.5, "b": 0.0})
    rows = out.collect()
    # b fully dropped, a kept at ~50%
    assert all(r.source == "a" for r in rows)
    assert abs(len(rows) / 2000 - 0.5) < 0.05
    # deterministic under repartitioning
    again = sorted(r.doc_id for r in weighted_sample(df.repartition(9), {"a": 0.5, "b": 0.0}).collect())
    assert sorted(r.doc_id for r in rows) == again
    with pytest.raises(ValueError, match="rate"):
        weighted_sample(df, {"a": 1.5})


def test_temperature_rates_flatten_toward_uniform():
    """alpha=0.5 shrinks the majority group's share and caps minority
    groups at 1.0; alpha=1.0 is a no-op (rates all 1); expected sampled
    sizes hit the target budget."""
    import math

    from filefilter_spark.ops.corpus import temperature_rates

    counts = {"en": 800, "fr": 100, "de": 100}
    r = temperature_rates(counts, alpha=0.5)
    # minority groups over-allocated by flattening -> capped
    assert r["fr"] == 1.0 and r["de"] == 1.0
    # majority downsampled, and by the exact sqrt formula (ordered fold)
    z = 0.0
    for g in sorted(counts):
        z += math.sqrt(counts[g] / 1000.0)
    assert r["en"] == min(1.0, 1000.0 * math.sqrt(0.8) / z / 800.0)
    # alpha=1 preserves the distribution exactly
    assert set(temperature_rates(counts, alpha=1.0).values()) == {1.0}
    # explicit budget scales every rate down proportionally
    half = temperature_rates(counts, alpha=0.5, target_total=500)
    assert all(half[g] <= r[g] for g in counts)


def test_temperature_sample_flattens_skew(spark):
    """End to end on a 9:1 skewed corpus: the majority group's share of
    the sample drops toward the flattened target, minority rows are all
    kept, and the gate is deterministic under repartitioning."""
    from filefilter_spark.ops.corpus import temperature_sample

    df = spark.createDataFrame(
        [(i, "web" if i % 10 else "books") for i in range(5000)],
        "doc_id int, source string",
    )
    rows = temperature_sample(df).collect()
    kept_books = sum(1 for r in rows if r.source == "books")
    kept_web = sum(1 for r in rows if r.source == "web")
    assert kept_books == 500          # rare source fully kept (capped)
    # rate_web = N*sqrt(0.9)/Z/n_web = 0.8333...; the md5 gate keeps
    # close to that fraction
    assert abs(kept_web / 4500 - 0.8333) < 0.03
    again = sorted(
        r.doc_id for r in temperature_sample(df.repartition(7)).collect()
    )
    assert sorted(r.doc_id for r in rows) == again


def test_cluster_pairs_transitive_chain(spark):
    from filefilter_spark.ops.dedup import cluster_pairs

    # chain 1-2-3-4 (diameter 3) plus a separate pair 10-11: labels must
    # propagate the chain's min to every member, not just direct
    # neighbors
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a int, id_b int"
    )
    got = {r.doc_id: r.cluster_id for r in cluster_pairs(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cluster_pairs_raises_when_not_converged(spark):
    from filefilter_spark.ops.dedup import cluster_pairs

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a int, id_b int"
    )
    # the guard lives in the DISTRIBUTED loop (driver_max_edges=0
    # forces it; the r16 driver union-find mode never iterates)
    with pytest.raises(RuntimeError, match="did not converge"):
        cluster_pairs(chain, max_iter=1, driver_max_edges=0)
    # and converges fine when allowed enough rounds
    got = {r.doc_id: r.cluster_id for r in cluster_pairs(
        chain, driver_max_edges=0).collect()}
    assert set(got.values()) == {1}


def test_winnow_near_dup_recall_vs_exact(documents):
    """Winnow-bucketed near-dup must recover the exact Jaccard pairs on
    this corpus — shared runs here are long, inside winnowing's
    structural-recall guarantee."""
    from filefilter_spark.ops.dedup import token_jaccard_pairs, winnow_near_dup

    exact = {
        (r.id_a, r.id_b)
        for r in token_jaccard_pairs(documents, threshold=0.5, shingle_n=3).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in winnow_near_dup(documents, threshold=0.5).collect()
    }
    assert exact, "baseline must be non-empty"
    # precision is exact (verified); recall measured
    assert got <= exact or not exact
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall}"


def test_auto_band_tracks_value_scale(spark):
    """The measured band width must scale WITH the data so per-interval
    bucket explosion stays bounded when the value scale changes 100x —
    the failure mode of a hardcoded width."""
    from filefilter_spark.ops.rangejoin import auto_band

    base = spark.range(1000).selectExpr(
        "cast(id * 97 + 1000 as double) AS price"
    )
    for scale in (1.0, 100.0):
        iv = base.selectExpr(
            f"price * {scale} * 0.99 AS lo", f"price * {scale} * 1.01 AS hi"
        )
        band = auto_band(iv, "lo", "hi")
        # avg buckets per interval = width/band + 1; median-width band
        # keeps it small at ANY scale
        explosion = iv.selectExpr(
            f"avg(floor(hi / {band}) - floor(lo / {band}) + 1) AS e"
        ).first()["e"]
        assert explosion <= 4, f"scale {scale}: {explosion} buckets/interval"


def test_banded_range_join_matches_naive(spark):
    from filefilter_spark.ops.rangejoin import banded_range_join

    pts = spark.createDataFrame([(i, float(i * 7 % 50)) for i in range(40)],
                                "pid int, v double")
    ivs = spark.createDataFrame(
        [(j, float(j * 3 % 40), float(j * 3 % 40 + 5)) for j in range(30)],
        "iid int, lo double, hi double",
    )
    got = {(r.pid, r.iid) for r in banded_range_join(pts, ivs, "v", "lo", "hi").collect()}
    naive = {
        (r.pid, r.iid)
        for r in pts.crossJoin(ivs).filter("v BETWEEN lo AND hi").collect()
    }
    assert got == naive and got


def test_auto_band_degenerate_zero_width(spark):
    from filefilter_spark.ops.rangejoin import auto_band

    iv = spark.createDataFrame([(1.0, 1.0), (2.0, 2.0)], "lo double, hi double")
    assert auto_band(iv, "lo", "hi") == 1.0


# --- round-5 training-pipeline ops -----------------------------------------


def test_line_dedup_first_occurrence_wins(spark):
    from filefilter_spark.ops.dedup import line_dedup

    boiler = "this boilerplate footer line is well over thirty characters"
    docs = spark.createDataFrame(
        [
            (1, "unique first body line that is quite long indeed\n" + boiler),
            (2, "another unique body line that is also long enough\n" + boiler),
            (3, boiler + "\nshort tail"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    # doc 1 keeps both lines (first occurrence of the boilerplate)
    assert out[1]["n_dropped"] == 0 and boiler in out[1]["text"]
    # docs 2 and 3 lose the boilerplate
    assert out[2]["n_dropped"] == 1 and boiler not in out[2]["text"]
    assert out[3]["n_dropped"] == 1
    # short lines never dedup: 'short tail' survives even if repeated
    assert out[3]["text"] == "short tail"


def test_line_dedup_short_lines_never_dedup(spark):
    from filefilter_spark.ops.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "ok\nok"), (2, "ok")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert out[1]["text"] == "ok\nok" and out[1]["n_dropped"] == 0
    assert out[2]["text"] == "ok"


def test_line_dedup_drops_fully_duplicated_doc(spark):
    from filefilter_spark.ops.dedup import line_dedup

    long_line = "a duplicated line of text that clears the minimum length bar"
    docs = spark.createDataFrame(
        [(1, long_line), (2, long_line)], "doc_id int, text string"
    )
    rows = line_dedup(docs).collect()
    assert {r["doc_id"] for r in rows} == {1}


def test_bloom_dedup_matches_plain_anti_join(spark):
    from filefilter_spark.ops.dedup import bloom_dedup_against, dedup_against

    seen = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(100)], "doc_id int, text string"
    )
    new = spark.createDataFrame(
        # 30 re-ingested dups (mangled), 40 fresh, 2 within-batch copies
        [(1000 + i, f"DOC NUMBER {i}  ") for i in range(30)]
        + [(2000 + i, f"fresh doc {i}") for i in range(40)]
        + [(3000, "fresh doc 0"), (3001, "fresh doc 1")],
        "doc_id int, text string",
    )
    expect = sorted(r["doc_id"] for r in dedup_against(new, seen).collect())
    got = sorted(r["doc_id"] for r in bloom_dedup_against(new, seen).collect())
    assert got == expect
    assert len(got) == 40  # only the fresh docs, min-id survivors


def test_bloom_dedup_empty_seen(spark):
    from filefilter_spark.ops.dedup import bloom_dedup_against

    seen = spark.createDataFrame([], "doc_id int, text string")
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id int, text string"
    )
    got = sorted(r["doc_id"] for r in bloom_dedup_against(new, seen).collect())
    assert got == [1, 2]


def test_bigram_nll_matches_hand_computation(spark):
    import math

    from filefilter_spark.ops.text import bigram_nll

    # corpus: "a b a b" and "a b" -> bigrams: (a,b)x3, (b,a)x1; vocab=2
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "solo")], "doc_id int, text string"
    )
    rows = {r["doc_id"]: r for r in bigram_nll(docs, alpha=0.5).collect()}
    vocab = 3  # a, b, solo
    p_ab = (3 + 0.5) / (3 + 0.5 * vocab)  # c1(a)=3
    p_ba = (1 + 0.5) / (1 + 0.5 * vocab)  # c1(b)=1... c1 counts bigram starts
    # c1 counts occurrences AS w1: a appears 3x as w1, b 1x
    nll_1 = -(2 * math.log(p_ab) + math.log(p_ba)) / 3
    assert rows[1]["n_bigrams"] == 3
    assert abs(rows[1]["nll"] - round(nll_1, 6)) < 1e-9
    assert rows[2]["n_bigrams"] == 1
    assert 3 not in rows  # single-token doc has no bigrams


def test_quota_sample_caps_each_group(spark):
    from filefilter_spark.ops.corpus import quota_sample

    df = spark.createDataFrame(
        [(i, "big" if i < 95 else "small") for i in range(100)],
        "doc_id int, source string",
    )
    out = quota_sample(df, quota=10)
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts["big"] == 10
    assert counts["small"] == 5  # under quota: all kept
    # deterministic: same selection on rerun
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in quota_sample(df, quota=10).collect())
    assert a == b


def test_semantic_dedup_recall_vs_exact(embeddings):
    from filefilter_spark.ops.dedup import cluster_pairs  # noqa: F401 (import check)
    from filefilter_spark.ops.similarity import cosine_pairs, semantic_dedup

    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs(embeddings, threshold=0.45).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup(embeddings, threshold=0.45).collect()
    }
    assert got <= exact  # precision exact: every pair cosine-verified
    if exact:
        assert len(got & exact) / len(exact) >= 0.6


def test_bloom_dedup_exact_under_heavy_false_positives(spark):
    # A dense bloom (fpp=0.5 -> tiny bitmap, k=1) routes many genuinely
    # fresh docs through the hit path; the exact anti-join resolve must
    # keep the output byte-identical to the plain path regardless.
    from filefilter_spark.ops.dedup import bloom_dedup_against, dedup_against

    seen = spark.createDataFrame(
        [(i, f"history doc {i}") for i in range(200)], "doc_id int, text string"
    )
    new = spark.createDataFrame(
        [(1000 + i, f"brand new doc {i}") for i in range(200)],
        "doc_id int, text string",
    )
    expect = sorted(r["doc_id"] for r in dedup_against(new, seen).collect())
    got = sorted(
        r["doc_id"] for r in bloom_dedup_against(new, seen, fpp=0.5).collect()
    )
    assert got == expect == [1000 + i for i in range(200)]


def test_domain_filter_blocks_and_extracts(spark):
    from filefilter_spark.ops.text import domain_filter

    docs = spark.createDataFrame(
        [
            (1, "https://good.example.com/a?x=1"),
            (2, "http://SPAM.example.net/b"),
            (3, "https://other.example.org/c/d"),
        ],
        "doc_id int, url string",
    )
    block = spark.createDataFrame([("spam.example.net",)], "domain string")
    rows = {r["doc_id"]: r["domain"] for r in domain_filter(docs, block).collect()}
    # host is lowercased before the blocklist match, so doc 2 is gone
    assert rows == {1: "good.example.com", 3: "other.example.org"}


def test_chunk_documents_boundaries_and_overlap(spark):
    from filefilter_spark.ops.corpus import chunk_documents

    toks = " ".join(str(i) for i in range(10))  # 10 tokens
    docs = spark.createDataFrame(
        [(1, toks), (2, "a b"), (3, "")], "doc_id int, text string"
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_text"], r["n_tokens"])
        )
    # stride 3: starts 0,3,6 cover 0..9 (last chunk 6..9 full); start 9
    # would leave only the 1-token overlap tail -> not emitted
    assert by_doc[1] == [
        (0, "0 1 2 3", 4), (1, "3 4 5 6", 4), (2, "6 7 8 9", 4)
    ]
    # short doc: one partial chunk; empty doc: no chunks
    assert by_doc[2] == [(0, "a b", 2)]
    assert 3 not in by_doc


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest

    from filefilter_spark.ops.corpus import chunk_documents

    docs = spark.createDataFrame([(1, "a")], "doc_id int, text string")
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=8, overlap=8)
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=8, overlap=-1)


def test_frequent_tokens_matches_exact_groupby(spark, documents):
    from filefilter_spark.ops.sketch import frequent_tokens
    from filefilter_spark.ops.text import tokens as _tokens

    got = [(r["tok"], r["n"]) for r in frequent_tokens(documents, k=10).collect()]
    expect = [
        (r["tok"], r["n"])
        for r in documents.select(F.explode(_tokens("text")).alias("tok"))
        .groupBy("tok").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok")).limit(10).collect()
    ]
    assert got == expect


def test_frequent_tokens_tree_reduce_identical(spark, documents):
    # Past tree_threshold partitions an intermediate coalesce(sqrt P)
    # MG-merge level kicks in; the result must be identical to the
    # flat fan-in whatever the partitioning.
    from filefilter_spark.ops.sketch import frequent_tokens

    flat = [(r["tok"], r["n"])
            for r in frequent_tokens(documents, k=10).collect()]
    tree = [(r["tok"], r["n"])
            for r in frequent_tokens(
                documents.repartition(512), k=10, tree_threshold=16
            ).collect()]
    assert tree == flat


def test_build_bloom_tree_reduce_identical(spark):
    # The bitmap OR is commutative/associative: the coalesce(sqrt P)
    # tree level must produce the byte-identical bitmap.
    import numpy as np

    from filefilter_spark.ops.dedup import _bloom_params, _build_bloom

    fps = spark.createDataFrame(
        [(f"fp{i}",) for i in range(500)], "f string"
    )
    m, k = _bloom_params(500, 0.01)
    flat = _build_bloom(fps.coalesce(2), "f", m, k)
    tree = _build_bloom(fps.repartition(512), "f", m, k, tree_threshold=16)
    assert np.array_equal(flat, tree)


def test_build_bloom_slice_traffic_bounded_by_set_bits(spark):
    # The 100 TB acceptance criterion for the r8 sparse-slice fan-in
    # (r7 verdict "What's wrong" #2): stage-1 emitted bytes must be
    # bounded by the SET-BIT count (~4·n·k sparse offsets), never by
    # P × m/8 dense partials — the shape that stored ~120 TB to build
    # a 1.2 GB bitmap. 500 fps on 512 partitions at m≈4.8k bits:
    # dense-partials traffic would be 512 × m/8 ≈ 307 kB; sparse must
    # come in under 4·n·k + per-row overhead.
    import pyspark.sql.functions as SF

    from filefilter_spark.ops.dedup import (
        _bloom_params,
        _bloom_positions,
        _bloom_slice_emitter,
    )

    n = 500
    fps = spark.createDataFrame([(f"fp{i}",) for i in range(n)], "f string")
    m, k = _bloom_params(n, 0.01)
    pos_df = fps.repartition(512).select(
        _bloom_positions(SF.col("f"), m, k).alias("pos")
    )
    stage1 = pos_df.mapInPandas(
        _bloom_slice_emitter(m, 1 << 23),
        "slice_id long, dense boolean, payload binary",
    )
    row = stage1.agg(
        SF.sum(SF.length("payload")).alias("bytes"),
        SF.sum(SF.when(SF.col("dense"), 1).otherwise(0)).alias("n_dense"),
    ).collect()[0]
    assert row["bytes"] <= 4 * n * k          # sparse offsets, ≤ uint32 each
    assert row["bytes"] < 512 * (m // 8) / 10  # nowhere near P × m/8
    assert row["n_dense"] == 0                 # sparse partitions stay sparse


def test_build_bloom_dense_promotion(spark):
    # A partition that sets ≥1/32 of a slice's bits must promote to the
    # dense encoding (smaller than its offset list) and still produce
    # the correct bitmap end-to-end.
    import numpy as np

    from filefilter_spark.ops.dedup import _build_bloom

    n = 4000
    fps = spark.createDataFrame([(f"fp{i}",) for i in range(n)], "f string")
    m, k = 1024, 3  # tiny m: 4000·3 positions over 1024 bits → dense wins
    flat = _build_bloom(fps.coalesce(2), "f", m, k)
    sliced = _build_bloom(fps.repartition(8), "f", m, k, tree_threshold=4)
    assert np.array_equal(flat, sliced)


def test_frequent_tokens_refuses_unprovable_capacity(spark):
    import pytest as _pytest

    from filefilter_spark.ops.sketch import frequent_tokens

    # 3000 distinct singleton tokens, capacity 4: the k-th count (1)
    # cannot beat N/capacity (750) — must raise, never return a
    # maybe-wrong top-k.
    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1000} tok{i + 2000}") for i in range(1000)],
        "doc_id int, text string",
    )
    with _pytest.raises(ValueError, match="not provable"):
        frequent_tokens(docs, k=10, capacity=4)


def test_bigram_nll_regimes_agree(spark):
    # The sketch/map-literal regime and the distributed-join fallback
    # must produce identical rows; force the fallback with a 1-type cap.
    from filefilter_spark.ops.text import bigram_nll

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{(i + 1) % 5} w{i % 3} w{(i + 2) % 7}") for i in range(40)],
        "doc_id int, text string",
    )
    a = {r["doc_id"]: (r["n_bigrams"], r["nll"]) for r in bigram_nll(docs).collect()}
    b = {
        r["doc_id"]: (r["n_bigrams"], r["nll"])
        for r in bigram_nll(docs, max_model_literal=1).collect()
    }
    assert a == b and len(a) == 40


def test_duplicate_spans_and_boilerplate_hand_example(spark):
    from filefilter_spark.ops.dedup import boilerplate_ratio, duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i"),        # spans: a..h, b..i
            (2, "x a b c d e f g h"),        # spans: x..g, a..h
            (3, "q r s t u v w x y z"),      # 3 unique spans
            (4, "too short"),                # < 8 tokens: no spans
        ],
        "doc_id int, text string",
    )
    dup = duplicate_spans(docs, span_tokens=8).collect()
    assert [(r["span"], r["n_docs"], r["n_occ"]) for r in dup] == [
        ("a b c d e f g h", 2, 2)
    ]
    ratios = {
        r["doc_id"]: (r["n_spans"], r["dup_ratio"])
        for r in boilerplate_ratio(docs, span_tokens=8).collect()
    }
    assert ratios == {1: (2, 0.5), 2: (2, 0.5), 3: (3, 0.0)}

    from filefilter_spark.ops.dedup import remove_duplicate_spans

    cleaned = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in remove_duplicate_spans(docs, span_tokens=8).collect()
    }
    assert cleaned == {
        1: ("i", 8),                       # dup span covers tokens 0-7
        2: ("x", 8),                       # dup span covers tokens 1-8
        3: ("q r s t u v w x y z", 0),     # untouched
        4: ("too short", 0),               # < 8 tokens: passes through
    }


def test_remove_duplicate_spans_matches_bruteforce(spark):
    """Differential check vs a pure-Python reference on random small
    corpora (tiny vocab so spans genuinely repeat): same survivors,
    same removal counts, every doc present exactly once."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from filefilter_spark.ops.dedup import remove_duplicate_spans

    n = 3  # span_tokens

    def brute(corpus):
        toks = {i: t.split() for i, t in corpus}
        spans: dict = {}
        for i, tk in toks.items():
            for j in range(len(tk) - n + 1):
                spans.setdefault(" ".join(tk[j:j + n]), set()).add(i)
        dup = {s for s, docs in spans.items() if len(docs) >= 2}
        out = {}
        for i, tk in toks.items():
            cov = set()
            for j in range(len(tk) - n + 1):
                if " ".join(tk[j:j + n]) in dup:
                    cov.update(range(j, j + n))
            kept = [t for j, t in enumerate(tk) if j not in cov]
            out[i] = (" ".join(kept), len(cov))
        return out

    docs_strategy = st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=10).map(
            " ".join
        ),
        min_size=1, max_size=8,
    )

    @settings(max_examples=5, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(docs_strategy)
    def run(texts):
        corpus = list(enumerate(texts))
        df = spark.createDataFrame(corpus, "doc_id int, text string")
        got = {
            r["doc_id"]: (r["text_clean"], r["n_removed"])
            for r in remove_duplicate_spans(df, span_tokens=n).collect()
        }
        assert got == brute(corpus)

    run()


def _rate_soak(spark, num_batches, timeout_sec):
    """Long-lived micro-batch soak on the unbounded ``rate`` source:
    watermark (2 s) → tumbling 1 s window → count over 10 keys, update
    mode to a memory sink, 20k rows/s at a 200 ms trigger, until
    ``num_batches`` data-carrying micro-batches have completed. One
    dict per batch: ``batch_id``, ``input_rows``, ``add_batch_ms``
    (the execution part of the trigger) and ``state_rows`` (live
    aggregation state after the batch)."""
    import json
    import time
    import uuid

    import pyspark.sql.functions as SF

    from filefilter_spark.streaming.jobs import _stop_and_clear, _tmpfs_dir

    stream = spark.readStream.format("rate").option("rowsPerSecond", 20_000).load()
    agg = (
        stream.withWatermark("timestamp", "2 seconds")
        .groupBy(SF.window("timestamp", "1 second").alias("win"),
                 (SF.col("value") % 10).alias("k"))
        .agg(SF.count("*").alias("n"))
    )
    qname = "soak_" + uuid.uuid4().hex[:8]
    ckpt = _tmpfs_dir("soak")
    # The state-partition count freezes at the first checkpoint: set it
    # for start() only, then restore the session's batch setting
    # (unset when it was never set explicitly).
    conf_key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "4")
    try:
        query = (
            agg.writeStream.outputMode("update").format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
    finally:
        if prev is not None:
            spark.conf.set(conf_key, prev)
        else:
            spark.conf.unset(conf_key)
    out = {}
    deadline = time.time() + timeout_sec
    try:
        while len(out) < num_batches and time.time() < deadline:
            time.sleep(0.2)
            for p in query.recentProgress:
                d = json.loads(p.json) if hasattr(p, "json") else p
                if d.get("numInputRows", 0) <= 0:
                    continue
                ops = d.get("stateOperators") or [{}]
                out[d["batchId"]] = {
                    "batch_id": d["batchId"],
                    "input_rows": d["numInputRows"],
                    "add_batch_ms": (d.get("durationMs") or {}).get("addBatch", 0),
                    "state_rows": ops[0].get("numRowsTotal", 0),
                }
    finally:
        # best effort: stop() throws if the query already died, and the
        # memory sink may never register its view
        try:
            _stop_and_clear(spark, query, ckpt)
        except Exception:
            pass
        try:
            spark.catalog.dropTempView(qname)
        except Exception:
            pass
    return [out[b] for b in sorted(out)][:num_batches]


def test_streaming_soak_flat_addbatch_and_bounded_state(spark):
    """OP-D5 long-lived soak: 50+ micro-batches on the unbounded rate
    source. Per-batch addBatch time must be FLAT (no cost growing with
    total rows processed — the amortization claim in SCALING.md) and
    live state BOUNDED (watermark eviction pins state at
    ~(watermark+window)/window windows x key cardinality regardless of
    runtime — a state leak shows as monotonic growth here)."""
    import glob
    import os
    import statistics as st

    from filefilter_spark.streaming.jobs import _tmpfs_dir

    ckpts = os.path.join(os.path.dirname(_tmpfs_dir("soak")),
                         "ffspark_ckpt_soak_*")
    before = set(glob.glob(ckpts))
    rows = _rate_soak(spark, num_batches=50, timeout_sec=150)
    # the checkpoint is deleted after the stopped query's last task
    assert set(glob.glob(ckpts)) <= before
    assert len(rows) >= 50
    mid = st.median(r["add_batch_ms"] for r in rows[5:20])
    late = st.median(r["add_batch_ms"] for r in rows[-15:])
    # flat within generous sandbox noise, never growing with history
    assert late <= 2.0 * max(mid, 50), (mid, late)
    state_mid = max(r["state_rows"] for r in rows[15:25])
    state_late = max(r["state_rows"] for r in rows[-10:])
    assert state_late <= 1.5 * state_mid, (state_mid, state_late)
    # sanity: ~4 live windows x 10 keys; 10x that means no eviction
    assert state_late <= 400, state_late


def test_quantize_embeddings_reconstruction(spark, embeddings):
    import math

    from filefilter_spark.ops.similarity import quantize_embeddings

    orig = {r["vec_id"]: list(r["embedding"]) for r in embeddings.limit(20).collect()}
    q = {
        r["vec_id"]: (r["scale"], list(r["codes"]), r["mse"])
        for r in quantize_embeddings(embeddings.limit(20)).collect()
    }
    for vid, v in orig.items():
        scale, codes, mse = q[vid]
        assert all(-127 <= c <= 127 for c in codes)
        recon = [c * scale for c in codes]
        dot = sum(a * b for a, b in zip(v, recon))
        na = math.sqrt(sum(a * a for a in v))
        nb = math.sqrt(sum(b * b for b in recon))
        assert dot / (na * nb) > 0.999  # int8 keeps cosine to 3 nines
        assert mse < (scale / 2) ** 2 * 1.01  # per-dim error bounded by half a step


def test_random_projection_jl_distortion(spark, embeddings):
    """JL property on real vectors: the Rademacher projection to 8 dims
    preserves pairwise Euclidean distances in aggregate (E[||Px||²] =
    ||x||²). Per-pair distortion at k=8 is loose, so assert the MEDIAN
    distortion over pairs is near 1 and no pair collapses to zero."""
    import math

    from filefilter_spark.ops.similarity import random_projection

    vecs = {r["vec_id"]: list(r["embedding"])
            for r in embeddings.limit(12).collect()}
    proj = {r["vec_id"]: list(r["proj"])
            for r in random_projection(embeddings.limit(12)).collect()}
    assert all(len(p) == 8 for p in proj.values())

    def d(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    ids = sorted(vecs)
    ratios = sorted(
        d(proj[a], proj[b]) / d(vecs[a], vecs[b])
        for i, a in enumerate(ids) for b in ids[i + 1:]
    )
    assert all(r > 0.2 for r in ratios)          # nothing collapses
    assert 0.7 < ratios[len(ratios) // 2] < 1.3  # median near isometry


def test_projection_matrix_deterministic_and_rademacher():
    from filefilter_spark.ops.similarity import projection_matrix

    m1 = projection_matrix(16, 4, seed=7)
    assert m1 == projection_matrix(16, 4, seed=7)
    assert m1 != projection_matrix(16, 4, seed=8)
    c = 0.5  # 1/sqrt(4)
    assert all(v in (c, -c) for row in m1 for v in row)
    # signs are balanced-ish (hash, not constant)
    n_pos = sum(v > 0 for row in m1 for v in row)
    assert 16 <= n_pos <= 48


def test_quantize_embeddings_zero_vector(spark):
    from filefilter_spark.ops.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0])], "vec_id int, embedding array<double>"
    )
    r = quantize_embeddings(df).first()
    assert r["codes"] == [0, 0, 0] and r["scale"] == 0.0 and r["mse"] == 0.0


def test_minhash_dedup_against_matches_restricted_full(documents):
    # Incremental near-dup must find the same batch-touching pairs as
    # the full all-pairs run restricted to pairs with an odd (new) id.
    import pyspark.sql.functions as _F

    from filefilter_spark.ops.dedup import minhash_dedup_against, minhash_near_dup

    seen = documents.filter(_F.col("doc_id") % 2 == 0)
    new = documents.filter(_F.col("doc_id") % 2 == 1)
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dup(documents, threshold=0.5, shingle_n=3).collect()
        if r["id_a"] % 2 == 1 or r["id_b"] % 2 == 1
    }
    incr = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_against(new, seen, threshold=0.5, shingle_n=3).collect()
    }
    assert incr == full


def test_frequent_tokens_small_vocab_exact_not_rejected(spark):
    # vocab (3) < k (10): no partition ever evicts, so the summary is
    # exact and the short answer is correct — must NOT raise even
    # though N/capacity >> every count (reviewer scenario).
    from filefilter_spark.ops.sketch import frequent_tokens

    docs = spark.createDataFrame(
        [(i, "yes no maybe yes") for i in range(2000)], "doc_id int, text string"
    )
    rows = [(r["tok"], r["n"]) for r in frequent_tokens(docs, k=10, capacity=256).collect()]
    assert rows == [("yes", 4000), ("maybe", 2000), ("no", 2000)]


def test_decontaminate_drops_only_offenders(spark):
    from filefilter_spark.ops.corpus import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # = benchmark: dropped
            (2, "one two three four five six seven"),     # clean: kept
            (3, "alpha beta gamma delta unrelated tail words here"),  # partial
        ],
        "doc_id int, text string",
    )
    bench = docs.filter("doc_id = 1")
    kept_strict = {r["doc_id"] for r in decontaminate(docs, bench, 0.0).collect()}
    assert kept_strict == {2}  # doc 3 shares shingles -> dropped at 0 tolerance
    kept_loose = {r["doc_id"] for r in decontaminate(docs, bench, 0.9).collect()}
    assert kept_loose == {2, 3}  # partial overlap tolerated, exact copy not


def test_line_dedup_and_chunk_honor_custom_columns(spark):
    from filefilter_spark.ops.corpus import chunk_documents
    from filefilter_spark.ops.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, "a long enough body line exceeding the thirty char floor")],
        "page_id int, body string",
    )
    ld = line_dedup(df, text_col="body", id_col="page_id")
    assert ld.columns == ["page_id", "body", "n_kept", "n_dropped"]
    ch = chunk_documents(df, chunk_tokens=4, overlap=1, text_col="body", id_col="page_id")
    assert ch.columns == ["page_id", "chunk_id", "chunk_text", "n_tokens"]


def test_frequent_tokens_raises_when_evictions_empty_summary(spark):
    import pytest as _pytest

    from filefilter_spark.ops.sketch import frequent_tokens

    # all-distinct token stream with a tiny capacity: evictions can
    # empty the summary; an empty "exact top-k" would be a silent lie.
    docs = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(8)))], "doc_id int, text string"
    )
    with _pytest.raises(ValueError, match="not provable"):
        frequent_tokens(docs, k=3, capacity=2)


def test_expectation_report_single_job_and_enforce(spark):
    from filefilter_spark.ops.expect import enforce, expectation_report

    df = spark.createDataFrame(
        [(1, 5.0), (2, 25.0), (3, None)], "id int, v double"
    )
    rep = {
        r["check"]: (r["passed"], r["observed"])
        for r in expectation_report(
            df, min_rows=2, not_null=["v"], unique=["id"], ranges={"v": (0, 10)}
        ).collect()
    }
    assert rep["min_rows"] == (True, "3")
    assert rep["not_null:v"] == (False, "1")
    assert rep["unique:id"] == (True, "0")
    assert rep["range:v"] == (False, "5.0..25.0")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="range:v"):
        enforce(df, ranges={"v": (0, 10)})
    assert enforce(df, min_rows=1).count() == 3


def test_expectation_validates_names_dupes_and_dotted_columns(spark):
    import pytest as _pytest

    from filefilter_spark.ops.expect import expectation_report

    df = spark.createDataFrame([(1, 2.0)], "id int, `a.b` double")
    # unknown column -> clear error, not an AnalysisException
    with _pytest.raises(ValueError, match="unknown column"):
        expectation_report(df, not_null=["nope"])
    # duplicates de-duplicated (would alias-collide otherwise); dotted
    # names resolved literally, not as struct paths
    rep = {r["check"]: r["passed"] for r in expectation_report(
        df, not_null=["a.b", "a.b"], unique=["id", "id"],
        ranges={"a.b": (0, 10)}).collect()}
    assert rep == {"not_null:a.b": True, "unique:id": True,
                   "range:a.b": True}


def test_expectation_range_vacuous_on_empty_or_all_null(spark):
    from filefilter_spark.ops.expect import expectation_report

    empty = spark.createDataFrame([], "id int, v double")
    rep = {r["check"]: r["passed"] for r in expectation_report(
        empty, min_rows=1, ranges={"v": (0, 1)}).collect()}
    assert rep["range:v"] is True  # vacuous; emptiness is min_rows' job
    assert rep["min_rows"] is False


def test_dataset_report_composition(spark):
    from filefilter_spark.ops.corpus import dataset_report

    df = spark.createDataFrame(
        [
            (1, "one two three", "web", "en"),
            (2, "four five", "web", "fr"),
            (3, "six", "books", "en"),
        ],
        "doc_id int, text string, source string, lang string",
    )
    rows = dataset_report(df).collect()
    # gset bitmask disambiguates rollup markers from REAL null group
    # values: (gset, source, lang) is a unique key even with nullable
    # group columns
    by_key = {(r["gset"], r["source"], r["lang"]): r for r in rows}
    assert len(by_key) == len(rows)
    # per-source (lang aggregated -> bit0), per-lang (bit1), total (3)
    assert set(by_key) == {
        (1, "web", None), (1, "books", None), (2, None, "en"),
        (2, None, "fr"), (3, None, None),
    }
    assert by_key[(1, "web", None)]["n_docs"] == 2
    assert by_key[(1, "web", None)]["n_tokens"] == 5
    assert by_key[(2, None, "en")]["n_tokens"] == 4
    total = by_key[(3, None, None)]
    assert total["n_docs"] == 3 and total["n_tokens"] == 6
    assert total["q_min"] <= total["q_max"]


def test_temperature_sample_group_cardinality_guard(spark):
    from filefilter_spark.ops.corpus import temperature_sample

    df = spark.createDataFrame(
        [(i, str(i)) for i in range(50)], "doc_id int, source string"
    )
    with pytest.raises(ValueError, match="distinct 'source' groups"):
        temperature_sample(df, max_groups=10)
    # under the cap the same frame works
    assert temperature_sample(df, max_groups=100).count() <= 50


def test_span_ops_honor_custom_id_column(spark):
    from filefilter_spark.ops.dedup import (
        boilerplate_ratio,
        remove_duplicate_spans,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i"), (2, "x a b c d e f g h")],
        "page_id int, text string",
    )
    cleaned = remove_duplicate_spans(df, id_col="page_id", span_tokens=8)
    assert "page_id" in cleaned.columns and "doc_id" not in cleaned.columns
    ratio = boilerplate_ratio(df, id_col="page_id", span_tokens=8)
    assert "page_id" in ratio.columns and "doc_id" not in ratio.columns
    assert cleaned.count() == 2 and ratio.count() == 2


def test_random_projection_dim_mismatch_raises(spark):
    from filefilter_spark.ops.similarity import random_projection

    df = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3])], "vec_id int, embedding array<double>"
    )
    with pytest.raises(Exception, match="expected 64-dim vector, got 3"):
        random_projection(df).collect()


def test_temperature_sample_null_groups_pass_through(spark):
    from filefilter_spark.ops.corpus import temperature_sample

    df = spark.createDataFrame(
        [(i, "web" if i % 10 else "books") for i in range(1000)]
        + [(10_000 + i, None) for i in range(20)],
        "doc_id int, source string",
    )
    rows = temperature_sample(df).collect()
    # unattributed rows all survive at the default rate; NULL never
    # enters the rate computation (which would TypeError on sort)
    assert sum(1 for r in rows if r.source is None) == 20
    assert sum(1 for r in rows if r.source == "books") == 100


def test_expect_not_null_vacuous_on_empty(spark):
    """Zero rows contain zero nulls: not_null/unique must pass on an
    empty frame (emptiness is min_rows' job), not fail on a NULL sum."""
    from filefilter_spark.ops.expect import enforce, expectation_report

    empty = spark.createDataFrame([], "doc_id int, text string")
    rep = {r["check"]: r["passed"]
           for r in expectation_report(empty, not_null=["doc_id"],
                                       unique=["doc_id"]).collect()}
    assert rep == {"not_null:doc_id": True, "unique:doc_id": True}
    assert enforce(empty, not_null=["doc_id"]) is empty
    with pytest.raises(ValueError, match="min_rows"):
        enforce(empty, min_rows=1, not_null=["doc_id"])


def test_streaming_reads_directory_shaped_parquet(spark, sf_dir, tmp_path):
    """A Spark-written DATASET DIRECTORY named *.parquet must stream
    every row — the single-file glob branch would match zero leaf
    part files and silently return nothing."""
    from filefilter_spark.streaming.jobs import windowed_counts_available_now

    dataset = str(tmp_path / "events.parquet")
    spark.read.parquet(f"{sf_dir}/events.parquet").limit(500).repartition(
        3
    ).write.parquet(dataset)
    out = windowed_counts_available_now(spark, dataset)
    assert sum(r["n"] for r in out.collect()) == 500


def test_asof_join_ignores_null_right_ts(spark):
    """A right row with NULL ts can never be a match: it must not leak
    its payload into left rows via the nulls-first sort."""
    from filefilter_spark.ops.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k int, lts int")
    right = spark.createDataFrame(
        [(1, None, 99.0), (1, 50, 1.0)],
        "k int, rts int, price double",
    )
    out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts",
                    how="left").collect()
    assert len(out) == 1
    assert out[0]["price"] is None and out[0]["matched_ts"] is None


def test_salted_join_rejects_small_side_preserving_hows(spark):
    from filefilter_spark.ops.skew import salted_join

    big = spark.createDataFrame([(1, "x")], "k int, v string")
    small = spark.createDataFrame([(1, "d")], "k int, w string")
    with pytest.raises(ValueError, match="big-side-preserving"):
        salted_join(big, small, on=["k"], how="full")
    assert salted_join(big, small, on=["k"], how="left").count() == 1


def test_resume_keyed_to_input_identity(spark, tmp_path):
    """--resume must not replay stage outputs materialized from a
    DIFFERENT input: the fingerprint carries the input's semantic
    hash."""
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    a = str(tmp_path / "a.parquet")
    b = str(tmp_path / "b.parquet")
    spark.createDataFrame([(1,)], "x int").write.parquet(a)
    spark.createDataFrame([(2,)], "x int").write.parquet(b)
    yaml_text = """
filters:
  - name: bump
    actionType: sql
    code: SELECT x + 100 AS x FROM df
"""
    ckpt = str(tmp_path / "ckpt")
    p1 = Pipeline(spark, load_config_str(yaml_text), checkpoint_dir=ckpt)
    assert p1.run(spark.read.parquet(a)).df.collect()[0]["x"] == 101
    p2 = Pipeline(spark, load_config_str(yaml_text), checkpoint_dir=ckpt,
                  resume=True)
    assert p2.run(spark.read.parquet(b)).df.collect()[0]["x"] == 102
    # and same-input resume genuinely resumes
    p3 = Pipeline(spark, load_config_str(yaml_text), checkpoint_dir=ckpt,
                  resume=True)
    r3 = p3.run(spark.read.parquet(b))
    assert r3.df.collect()[0]["x"] == 102
    assert r3.metrics[0].resumed


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Two tables bucketed alike on the join key (written by
    ``write_bucketed_table``) join with NO shuffle Exchange."""
    from filefilter_spark.io import write_bucketed_table

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    for name in ("b_orders", "b_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed_table(orders, "b_orders", ["o_custkey"], 8,
                             sort_cols=["o_custkey"])
        write_bucketed_table(
            customer.withColumnRenamed("c_custkey", "o_custkey"),
            "b_customer", ["o_custkey"], 8, sort_cols=["o_custkey"],
        )
        joined = spark.table("b_orders").join(
            spark.table("b_customer"), ["o_custkey"]
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() == orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for name in ("b_orders", "b_customer"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_table_join_skips_shuffle(spark):
    """The bucketing lever: a self-join on the bucket key over the
    bucketed table plans with ZERO shuffle exchanges (both sides read
    co-located buckets)."""
    from filefilter_spark.io import write_bucketed_table

    df = spark.createDataFrame(
        [(i, i % 7) for i in range(2000)], "doc_id int, grp int"
    )
    spark.sql("DROP TABLE IF EXISTS ff_bucket_test")
    write_bucketed_table(df, "ff_bucket_test", ["doc_id"], 8,
                         sort_cols=["doc_id"])
    try:
        t = spark.table("ff_bucket_test")
        joined = t.alias("a").join(t.alias("b"), "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        n_shuffle = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert n_shuffle == 0, plan[:2000]
        assert joined.count() == 2000
    finally:
        spark.sql("DROP TABLE IF EXISTS ff_bucket_test")


def test_leakage_safe_split_properties(spark, documents):
    # 1) no near-dup pair may straddle a split boundary; 2) docs with
    # no near-dup get the IDENTICAL assignment hash_split gives them,
    # so pair coverage moves whole clusters and nothing else.
    from filefilter_spark.ops.corpus import hash_split, leakage_safe_split
    from filefilter_spark.ops.dedup import token_jaccard_pairs

    pairs = token_jaccard_pairs(documents, threshold=0.5, shingle_n=3)
    safe = {r["doc_id"]: r["split"]
            for r in leakage_safe_split(documents, pairs)
            .select("doc_id", "split").collect()}
    plain = {r["doc_id"]: r["split"]
             for r in hash_split(documents)
             .select("doc_id", "split").collect()}
    pair_rows = pairs.collect()
    assert pair_rows, "fixture must contain near-dup pairs"
    clustered = set()
    for r in pair_rows:
        assert safe[r["id_a"]] == safe[r["id_b"]]
        clustered |= {r["id_a"], r["id_b"]}
    for d, s in safe.items():
        if d not in clustered:
            assert s == plain[d]
    # the fixture's dup clusters force at least one doc to move
    # relative to the per-doc split (otherwise the test is vacuous)
    assert any(safe[d] != plain[d] for d in clustered) or all(
        plain[a] == plain[b] for a, b in
        ((r["id_a"], r["id_b"]) for r in pair_rows))


def test_dsir_logweights_favors_target_like_docs(spark):
    # Docs resembling the target distribution must score higher logw
    # than off-target docs; zero-token docs drop out. r13 plan shape:
    # the SCORING pass is a pure projection — the bucket counts were
    # collected at call time and the log-ratio table rides along as a
    # literal map, so the returned plan has NO join, NO aggregate, NO
    # exchange, one scan (the r12 shape broadcast-joined an exploded
    # feature stream and shuffled a per-doc aggregate — the last
    # data-heavy >2x-DuckDB bench row).
    import pyspark.sql.functions as SF

    from filefilter_spark.ops.corpus import dsir_logweights

    src = spark.createDataFrame(
        [(1, "the cat sat on the mat"),
         (2, "the dog sat on the rug"),
         (3, "uno dos tres cuatro cinco seis"),
         (4, "uno dos tres gato perro"),
         (5, "")],
        "doc_id bigint, text string",
    )
    tgt = spark.createDataFrame(
        [(10, "the cat sat on the mat"), (11, "the dog ran on the mat")],
        "doc_id bigint, text string",
    )
    out = dsir_logweights(src, tgt)
    assert [f.name for f in out.schema.fields] == ["doc_id", "n_feats", "logw"]
    got = {r["doc_id"]: r["logw"] for r in out.collect()}
    assert 5 not in got                       # no tokens, no features
    assert min(got[1], got[2]) > max(got[3], got[4])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "HashAggregate" not in plan and "Exchange" not in plan
    assert "Generate" not in plan  # no explode on the scoring path


def test_quality_classifier_separable_task_exact(spark):
    # On a linearly separable construct the learned filter must reach
    # BOTH perfect recall and perfect precision (the registry's recall
    # oracle can only assert recall — exact_precision=False — so the
    # precision half of the claim lives here).
    import pyspark.sql.functions as SF

    from filefilter_spark.ops.classifier import (
        quality_scores, train_quality_classifier,
    )
    from filefilter_spark.ops.text import tokens as _tk

    docs = spark.createDataFrame(
        [(i, ("good clean prose spark here" if i % 3 == 0
              else "noisy junk tokens everywhere"))
         for i in range(120)],
        "doc_id bigint, text string",
    )
    pos = docs.filter(SF.array_contains(_tk(SF.lower("text")), "spark"))
    neg = docs.filter(~SF.array_contains(_tk(SF.lower("text")), "spark"))
    qm = train_quality_classifier(pos, neg, n_features=1 << 12)
    got = {r["doc_id"] for r in quality_scores(docs, qm)
           .filter(SF.col("quality_prob") > 0.5).collect()}
    want = {i for i in range(120) if i % 3 == 0}
    assert got == want


def test_quality_scores_match_model_coefficients(spark):
    # The native JVM scorer (pmod-hash buckets -> broadcast nonzero
    # weights -> sigmoid) must reproduce sigmoid(intercept + tf . w)
    # computed driver-side with numpy from the fitted model's
    # coefficients, on the SAME featurization, to double precision --
    # the same linear model, independently executed arithmetic.
    # (Deliberately NOT via qm.model.transform: its prediction-UDF
    # closure throws NotSerializableException in any session where a
    # df.observe() Observation exists -- the exact trap
    # classifier.py documents and the next test pins; calling it here
    # made the full suite order-dependent in r8.)
    import numpy as np
    import pyspark.sql.functions as SF

    from filefilter_spark.ops.classifier import (
        _bucket, quality_scores, train_quality_classifier,
    )
    from filefilter_spark.ops.text import tokens as _tk

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} common spark word{i % 3}") for i in range(60)]
        + [(60, ""), (61, None)],
        "doc_id bigint, text string",
    )
    qm = train_quality_classifier(
        docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1"),
        n_features=1 << 12, max_iter=10,
    )
    native = {r["doc_id"]: r["quality_prob"]
              for r in quality_scores(docs, qm).collect()}
    # replay the training featurization (same tokens -> same SQL-hash
    # buckets) and fold against the coefficient vector in numpy
    counts = (
        docs.select("doc_id",
                    SF.explode(_tk(SF.lower("text"))).alias("__t"))
        .withColumn("__b", _bucket(SF.col("__t"), qm.n_features))
        .groupBy("doc_id", "__b").count().collect()
    )
    coefs = np.asarray(qm.model.coefficients.toArray(), dtype=np.float64)
    margins = {i: float(qm.model.intercept) for i in range(62)}
    for r in counts:
        margins[r["doc_id"]] += coefs[r["__b"]] * r["count"]
    want = {d: 1.0 / (1.0 + np.exp(-m)) for d, m in margins.items()}
    assert set(native) == set(want)
    assert all(abs(native[d] - want[d]) < 1e-9 for d in native)


def test_quality_scores_survive_observed_session(spark):
    # Regression: scoring must not go through ml transform, whose
    # prediction-UDF closure drags the session ObservationManager into
    # task serialization and throws once ANY df.observe() Observation
    # exists in the session (as every Pipeline run registers).
    import pyspark.sql.functions as SF
    from pyspark.sql import Observation

    from filefilter_spark.ops.classifier import (
        quality_scores, train_quality_classifier,
    )

    obs = Observation("poison_probe")
    spark.range(10).observe(obs, SF.count(SF.lit(1)).alias("n")).collect()
    docs = spark.createDataFrame(
        [(i, "spark good" if i % 2 else "junk bad") for i in range(40)],
        "doc_id bigint, text string",
    )
    qm = train_quality_classifier(
        docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0"),
        n_features=1 << 12, max_iter=10,
    )
    got = {r["doc_id"] for r in quality_scores(docs, qm)
           .filter(SF.col("quality_prob") > 0.5).collect()}
    assert got == {i for i in range(40) if i % 2}


def test_quality_classifier_training_job_budget(spark, monkeypatch):
    # Training runs one featurized plan: the persisted term counts are
    # counted once to size the fit, and the vectors are built in the
    # fit's own ceil(n / _FIT_ROWS_PER_PARTITION) partitions, persisted
    # for the fit. 19 jobs on this fixture at max_iter=10.
    import math

    from pyspark.ml.classification import LogisticRegression

    import filefilter_spark.ops.classifier as C
    from conftest import jobs_in_group

    docs = spark.createDataFrame(
        [(i, "spark good prose" if i % 2 else "junk noise here")
         for i in range(40)] + [(40, ""), (41, None)],
        "doc_id bigint, text string",
    )
    monkeypatch.setattr(C, "_FIT_ROWS_PER_PARTITION", 16)
    fits = []
    real_fit = LogisticRegression.fit

    def spy(self, dataset, params=None):
        model = real_fit(self, dataset, params)
        fits.append((dataset.rdd.getNumPartitions(),
                     dataset.storageLevel.useMemory))
        return model

    monkeypatch.setattr(LogisticRegression, "fit", spy)
    qm, n_jobs = jobs_in_group(spark, "quality-train", lambda: C.train_quality_classifier(
        docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0"),
        n_features=1 << 12, max_iter=10,
    ))
    assert fits == [(math.ceil(42 / 16), True)]
    assert qm.model.summary.totalIterations == 10
    assert n_jobs == 19


def test_gopher_rules_battery(spark):
    # Handcrafted fixtures pin each rule's semantics independently:
    # a clean doc passes everything; each defective doc trips exactly
    # the rule it was built to trip (plus the length band where the
    # fixture is deliberately short).
    from filefilter_spark.ops.text import gopher_rules

    clean = ("the quick brown fox jumps over the lazy dog and then "
             "runs off to be with that other fox which seems to have "
             "a den withmore room " * 3)  # >50 words, stopwords, alpha
    bullets = "\n".join(f"- item {i}" for i in range(10))
    dup_lines = "same line here\n" * 8 + "one unique line"
    ellipses = "\n".join(f"trailing thought {i}..." for i in range(10))
    symbols = "# " * 60
    # paragraph tier (r11): repeating a whole paragraph trips BOTH
    # tiers (its lines repeat too); repeating single lines spread
    # across distinct paragraphs trips ONLY the line tier — the pair
    # pins that the tiers measure different granularities.
    para = "aaa bbb\nccc ddd"
    dup_paras = "\n\n".join([para, para, para, "eee fff"])
    dup_lines_only = "same\nuniq1\n\nsame\nuniq2\n\nsame\nuniq3"
    docs = spark.createDataFrame(
        [(0, clean), (1, bullets), (2, dup_lines), (3, ellipses),
         (4, symbols), (5, ""), (6, None), (7, dup_paras),
         (8, dup_lines_only)],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in gopher_rules(docs).collect()}

    assert rows[0]["keep"] and all(
        rows[0][k] for k in ("words_ok", "word_len_ok", "symbol_ok",
                             "bullet_ok", "ellipsis_ok", "alpha_ok",
                             "stopword_ok", "dup_line_ok", "dup_char_ok",
                             "dup_para_ok", "dup_para_char_ok"))
    assert rows[1]["bullet_frac"] == 1.0 and not rows[1]["bullet_ok"]
    assert rows[2]["dup_line_frac"] == round(7 / 9, 6)
    assert not rows[2]["dup_line_ok"] and not rows[2]["dup_char_ok"]
    assert rows[3]["ellipsis_frac"] == 1.0 and not rows[3]["ellipsis_ok"]
    assert rows[4]["symbol_ratio"] == 1.0 and not rows[4]["symbol_ok"]
    assert not rows[4]["alpha_ok"] and not rows[4]["stopword_ok"]
    for d in (5, 6):  # empty and NULL text: all-zero signals, dropped
        assert rows[d]["n_words"] == 0 and not rows[d]["keep"]
    # 4 paragraphs, 2 distinct -> 0.5; chars 3*15+7=52, distinct 15+7=22
    assert rows[7]["dup_para_frac"] == 0.5 and not rows[7]["dup_para_ok"]
    assert rows[7]["dup_para_char_frac"] == round((52 - 22) / 52, 6)
    assert not rows[7]["dup_para_char_ok"]
    assert not rows[7]["dup_line_ok"]  # whole-para repeat trips lines too
    # 6 lines / 4 distinct -> 1/3 trips the line tier; all 3 paragraphs
    # distinct -> paragraph tier clean
    assert rows[8]["dup_line_frac"] == round(2 / 6, 6)
    assert not rows[8]["dup_line_ok"]
    assert rows[8]["dup_para_frac"] == 0.0 and rows[8]["dup_para_ok"]
    assert rows[8]["dup_para_char_ok"]

    # id_col=None attaches in place: all original columns survive
    attached = gopher_rules(docs, id_col=None)
    assert {"doc_id", "text", "keep", "n_words"} <= set(attached.columns)


def test_token_entropy_exact_values(spark):
    # Closed-form cases: uniform 4 tokens -> 2 bits; two tokens twice
    # -> 1 bit; constant doc -> 0; empty/null -> 0 with n_tokens 0.
    from filefilter_spark.ops.text import token_entropy

    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b a b"), (2, "x x x x x"),
         (3, ""), (4, None)],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: (r["n_tokens"], r["entropy"])
            for r in token_entropy(docs).collect()}
    assert rows[0] == (4, 2.0)
    assert rows[1] == (4, 1.0)
    assert rows[2] == (5, 0.0)
    assert rows[3] == (0, 0.0) and rows[4] == (0, 0.0)


def test_lloyd_kmeans_deterministic_and_correct(spark):
    # Hand-placed 2-D points in two tight groups; k=2 seeded by the two
    # lowest ids (one per group by construction) must recover the
    # grouping, and the output must be IDENTICAL under a different
    # input partitioning (the determinism contract that motivates the
    # quantized design — ml.KMeans does not offer it).
    from filefilter_spark.ops.cluster import lloyd_kmeans

    pts = [
        (0, [0.0, 0.0]), (2, [0.1, -0.1]), (4, [-0.1, 0.1]),
        (1, [5.0, 5.0]), (3, [5.1, 4.9]), (5, [4.9, 5.1]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in pts],
        "vec_id bigint, embedding array<float>",
    )
    out = {r["vec_id"]: (r["cluster"], r["dist2"])
           for r in lloyd_kmeans(df, k=2, iters=2).collect()}
    assert {i for i, (c, _) in out.items() if c == 0} == {0, 2, 4}
    assert {i for i, (c, _) in out.items() if c == 1} == {1, 3, 5}
    # centroid of cluster 0 after any iteration = mean(0,.1,-.1)=0 etc;
    # dist2 for vec 0 to centroid (0, 0) is 0.0 exactly on the grid
    assert out[0][1] == 0.0

    again = {r["vec_id"]: (r["cluster"], r["dist2"])
             for r in lloyd_kmeans(df.repartition(7), k=2, iters=2)
             .collect()}
    assert again == out  # bit-identical under repartition


def test_lloyd_kmeans_empty_cluster_keeps_seed(spark):
    # A seed that captures no points (duplicate location, higher id)
    # keeps its previous centroid instead of NaN-ing out.
    from filefilter_spark.ops.cluster import lloyd_kmeans

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [9.0, 9.0]),
         (3, [9.1, 9.0])],
        "vec_id bigint, embedding array<float>",
    )
    # Seeds are ids 0,1 — the SAME point, so iteration 1 assigns every
    # row to cluster 0 (distance ties go to the lowest index) and
    # cluster 1 is EMPTY. The keep-previous-centroid rule holds it at
    # [0,0]; after cluster 0's centroid moves to the global mean
    # (~[4.5, 4.5]), iteration 2 lets the dormant centroid RECAPTURE
    # the near-origin points — the reason the rule exists (a NaN or
    # dropped centroid could never recover).
    out = {r["vec_id"]: r["cluster"]
           for r in lloyd_kmeans(df, k=2, iters=2).collect()}
    assert len(out) == 4
    assert out[0] == 1 and out[1] == 1  # recaptured by the kept seed
    assert out[2] == 0 and out[3] == 0


def test_lloyd_kmeans_init_ids(spark):
    from filefilter_spark.ops.cluster import lloyd_kmeans

    df = spark.createDataFrame(
        [(10, [0.0]), (20, [1.0]), (30, [10.0]), (40, [11.0])],
        "vec_id bigint, embedding array<float>",
    )
    out = {r["vec_id"]: r["cluster"]
           for r in lloyd_kmeans(df, k=2, iters=1,
                                 init_ids=[20, 30]).collect()}
    # seeds 20 -> cluster 0, 30 -> cluster 1 (ordered by id)
    assert out[10] == 0 and out[20] == 0
    assert out[30] == 1 and out[40] == 1


def test_zorder_key_is_morton_curve(spark):
    # bits=2 over a 4x4 integer grid must produce the canonical Morton
    # order 0..15, each exactly once (x in even bits, y in odd).
    from filefilter_spark.ops.layout import with_zorder

    df = spark.createDataFrame(
        [(x, y) for x in range(4) for y in range(4)], "x long, y long"
    )
    rows = with_zorder(df, ["x", "y"], bits=2).collect()
    by_xy = {(r["x"], r["y"]): r["zkey"] for r in rows}
    assert sorted(by_xy.values()) == list(range(16))
    assert by_xy[(0, 0)] == 0 and by_xy[(1, 0)] == 1
    assert by_xy[(0, 1)] == 2 and by_xy[(3, 3)] == 15


def test_zorder_degenerate_and_clamped(spark):
    from filefilter_spark.ops.layout import with_zorder

    # constant column -> contributes 0 to every key (no divide-by-zero)
    df = spark.createDataFrame([(1, 7), (2, 7), (3, 7)], "x long, y long")
    ks = [r["zkey"] for r in with_zorder(df, ["x", "y"], bits=4).collect()]
    assert len(set(ks)) == 3  # x still discriminates
    # explicit bounds narrower than the data: out-of-range rows clamp
    # to the edge cells instead of corrupting the key
    ks2 = {
        r["x"]: r["zkey"]
        for r in with_zorder(
            df, ["x"], bits=4, bounds={"x": (2, 3)}
        ).collect()
    }
    assert ks2[1] == ks2[2]  # clamped to lo edge


def test_write_zordered_roundtrip_and_stats(spark, tmp_path):
    # Round-trip preserves every row; the written files' footer stats
    # must show BOTH columns' per-file ranges narrowed vs the full
    # domain for most files (the property scan pruning feeds on) —
    # a partkey-only sort would leave suppkey spanning ~full domain
    # in every file.
    import pyarrow.parquet as pq

    from filefilter_spark.ops.layout import write_zordered

    n = 4096
    df = spark.range(n).selectExpr(
        "id", "CAST(id % 64 AS LONG) AS a",
        "CAST((id * 37) % 64 AS LONG) AS b",
    )
    out = str(tmp_path / "z")
    write_zordered(df, out, ["a", "b"], bits=6, num_files=16)
    back = spark.read.parquet(out)
    assert back.count() == n
    assert {r["id"] for r in back.select("id").collect()} == set(range(n))

    import os

    narrow_a = narrow_b = total = 0
    for fn in os.listdir(out):
        if not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, fn)).metadata
        names = {md.schema.column(i).name: i
                 for i in range(md.num_columns)}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            total += 1
            sa = rg.column(names["a"]).statistics
            sb = rg.column(names["b"]).statistics
            if sa.max - sa.min <= 32:
                narrow_a += 1
            if sb.max - sb.min <= 32:
                narrow_b += 1
    assert total >= 8
    assert narrow_a >= total // 2 and narrow_b >= total // 2


def test_write_zordered_precomputed_bounds_identical(spark, tmp_path):
    # r16: callers that already hold column_bounds pass them in to skip
    # the internal min/max scan — the layout must be byte-identical to
    # the self-computed path (same bounds -> same keys -> same files).
    from filefilter_spark.ops.layout import column_bounds, write_zordered

    df = spark.range(1024).selectExpr(
        "id", "CAST(id % 32 AS LONG) AS a",
        "CAST((id * 11) % 32 AS LONG) AS b",
    )
    b = column_bounds(df, ["a", "b"])
    assert b == {"a": (0, 31), "b": (0, 31)}
    o1, o2 = str(tmp_path / "self"), str(tmp_path / "given")
    write_zordered(df, o1, ["a", "b"], bits=5, num_files=4)
    write_zordered(df, o2, ["a", "b"], bits=5, num_files=4, bounds=b)
    r1 = sorted(spark.read.parquet(o1).collect(), key=lambda r: r["id"])
    r2 = sorted(spark.read.parquet(o2).collect(), key=lambda r: r["id"])
    assert r1 == r2


def test_ivf_lloyd_method_deterministic_and_recalls(spark, embeddings):
    # method="lloyd" gives bit-stable cell assignments (identical under
    # repartition — ml.KMeans offers no such contract) and the probe
    # path still recovers the query's neighborhood.
    from filefilter_spark.ops.similarity import (
        build_ivf_index,
        ivf_topk_cosine,
        topk_cosine,
    )

    a1, c1 = build_ivf_index(embeddings, n_lists=8, method="lloyd")
    a2, c2 = build_ivf_index(
        embeddings.repartition(13), n_lists=8, method="lloyd"
    )
    cells1 = {r["vec_id"]: r["cell"] for r in a1.collect()}
    cells2 = {r["vec_id"]: r["cell"] for r in a2.collect()}
    assert cells1 == cells2
    assert c1 == c2  # centroid matrices identical too

    qv = [float(x)
          for x in embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["vec_id"] for r in topk_cosine(embeddings, qv, k=10).collect()]
    approx = [r["vec_id"]
              for r in ivf_topk_cosine(embeddings, qv, k=10,
                                       method="lloyd").collect()]
    overlap = len(set(exact) & set(approx))
    assert overlap >= 5, f"IVF(lloyd) recall@10 = {overlap}/10"
    assert approx[0] == 0


def test_marginal_novelty_first_occurrence_credit(spark):
    # doc 0 is all-new; doc 1 repeats doc 0 verbatim (novelty 0); doc 2
    # shares a 3-token overlap window with doc 0; doc 3 is disjoint.
    from filefilter_spark.ops.corpus import marginal_novelty

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta"),
            (2, "gamma delta epsilon zeta"),
            (3, "eta theta iota kappa"),
        ],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r.asDict()
            for r in marginal_novelty(docs).collect()}
    # 4 tokens -> 2 distinct trigram shingles per doc
    assert rows[0]["n_shingles"] == 2 and rows[0]["novelty"] == 1.0
    assert rows[1]["n_novel"] == 0 and rows[1]["novelty"] == 0.0
    # doc 2: shingles {"gamma delta epsilon", "delta epsilon zeta"} are
    # both unseen (doc 0's are "alpha beta gamma"/"beta gamma delta")
    assert rows[2]["novelty"] == 1.0
    assert rows[3]["novelty"] == 1.0
    # ingest-order dependence: swapping ids moves the credit
    swapped = spark.createDataFrame(
        [(5, "alpha beta gamma delta"), (4, "alpha beta gamma delta")],
        "doc_id bigint, text string",
    )
    srows = {r["doc_id"]: r["n_novel"]
             for r in marginal_novelty(swapped).collect()}
    assert srows[4] == 2 and srows[5] == 0


def test_pca_covariance_exact_and_partition_invariant(spark):
    # Known 2-D data: covariance must equal numpy.cov to grid
    # precision, and be bit-identical under a different partitioning
    # (all cross-row sums are int64).
    import numpy as np

    from filefilter_spark.ops.pca import covariance

    pts = [(i, [float(x), float(y)]) for i, (x, y) in
           enumerate([(1.0, 2.0), (3.0, 5.0), (0.5, -1.0), (2.5, 4.0)])]
    df = spark.createDataFrame(pts, "vec_id bigint, embedding array<double>")
    got = {(r["i"], r["j"]): r["cov"] for r in covariance(df).collect()}
    ref = np.cov(np.array([p[1] for p in pts]).T)
    for (i, j), c in got.items():
        assert abs(c - ref[i][j]) < 1e-3, (i, j, c, ref[i][j])
    re_got = {(r["i"], r["j"]): r["cov"]
              for r in covariance(df.repartition(7)).collect()}
    assert re_got == got  # exact, not approximate


def test_pca_fit_project_whiten(spark):
    # Anisotropic Gaussian-ish cloud (seeded): each eigenvalue
    # matches the sample variance of the projected
    # scores; whitened scores have ~unit variance; components are
    # orthonormal.
    import numpy as np

    from filefilter_spark.ops.pca import fit_pca, project

    rng = np.random.RandomState(7)
    base = rng.randn(400, 3) * np.array([5.0, 1.0, 0.2])
    rot, _ = np.linalg.qr(rng.randn(3, 3))
    data = base @ rot.T
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(data)],
        "vec_id bigint, embedding array<double>",
    )
    model = fit_pca(df, k=3)
    comps = np.array(model.components)
    assert np.allclose(comps @ comps.T, np.eye(3), atol=1e-9)
    scores = np.array(
        [r["pca"] for r in
         project(df, model).orderBy("vec_id").collect()]
    )
    v = scores.var(axis=0, ddof=1)
    assert np.allclose(v, model.eigenvalues, rtol=1e-3)
    assert model.eigenvalues[0] > model.eigenvalues[1] > model.eigenvalues[2]
    white = np.array(
        [r["pca"] for r in
         project(df, model, whiten=True).orderBy("vec_id").collect()]
    )
    assert np.allclose(white.var(axis=0, ddof=1), 1.0, rtol=1e-3)


def test_pca_moments_overflow_guard(spark):
    import pytest as _pytest

    from filefilter_spark.ops.pca import quantized_moments

    df = spark.createDataFrame(
        [(0, [1.0]), (1, [1.0])], "vec_id bigint, embedding array<double>"
    )
    with _pytest.raises(Exception, match="2\\^63|OverflowError"):
        quantized_moments(df, scale=4e9).collect()


def test_deterministic_shuffle_permutation_and_invariance(spark):
    # pos is a permutation of 1..n; identical under repartition;
    # different seeds give different permutations; and the bucketed
    # computation equals the naive global sort.
    from filefilter_spark.ops.order import deterministic_shuffle, md5_key

    df = spark.createDataFrame(
        [(i,) for i in range(300)], "doc_id bigint"
    )
    out = {r["doc_id"]: r["pos"]
           for r in deterministic_shuffle(df, seed="a").collect()}
    assert sorted(out.values()) == list(range(1, 301))
    re_out = {r["doc_id"]: r["pos"]
              for r in deterministic_shuffle(
                  df.repartition(13), seed="a").collect()}
    assert re_out == out
    other = {r["doc_id"]: r["pos"]
             for r in deterministic_shuffle(df, seed="b").collect()}
    assert other != out
    naive = [r["doc_id"] for r in
             df.withColumn("k", md5_key("doc_id", "a"))
               .orderBy("k", "doc_id").collect()]
    assert [d for d, _ in sorted(out.items(), key=lambda kv: kv[1])] == naive


def test_ranked_by_has_no_global_data_sort(spark):
    # The only unpartitioned Window in the plan must be over the tiny
    # bucket-counts side, not the data rows: assert the data-side
    # Window carries a partition spec.
    from filefilter_spark.ops.order import deterministic_shuffle

    df = spark.createDataFrame([(i,) for i in range(10)], "doc_id bigint")
    plan = deterministic_shuffle(df, seed="a")._jdf.queryExecution() \
        .optimizedPlan().toString()
    import re

    windows = re.findall(r"Window \[.*?\]", plan)
    data_windows = [w for w in windows if "row_number" in w]
    assert data_windows, plan
    for w in data_windows:
        assert "__bucket" in w, w  # partitioned by bucket


def test_curriculum_order_phases_and_intra_phase_shuffle(spark):
    from filefilter_spark.ops.order import curriculum_order

    rows = [(i, "x" * (7 * i % 101)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    import pyspark.sql.functions as F

    out = curriculum_order(
        df, F.length("text"), phases=4, seed="t", lo=0.0, hi=128.0
    ).collect()
    assert sorted(r["pos"] for r in out) == list(range(1, 201))
    by_phase = {}
    for r in out:
        by_phase.setdefault(r["phase"], []).append(r)
    assert sorted(by_phase) == [0, 1, 2, 3]
    assert all(len(v) == 50 for v in by_phase.values())
    # curriculum property: every doc in phase k is <= every doc in
    # phase k+1 by score (ties broken by id make this weak <=).
    lens = {r[0]: len(r[1]) for r in rows}
    for k in range(3):
        assert max(lens[r["doc_id"]] for r in by_phase[k]) <= min(
            lens[r["doc_id"]] for r in by_phase[k + 1]
        ) + 0  # contiguous rank split; equal scores may straddle
    # pos ordering groups phases contiguously
    ordered = sorted(out, key=lambda r: r["pos"])
    assert [r["phase"] for r in ordered] == sorted(
        r["phase"] for r in ordered
    )


def test_pq_encode_deterministic_and_bounded(spark):
    from filefilter_spark.ops.pq import fit_pq_codebooks, pq_encode

    from filefilter_spark.queries.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = fit_pq_codebooks(emb, m=8, k=16, iters=0)
    codes = {r["vec_id"]: r["codes"]
             for r in pq_encode(emb, books).collect()}
    assert all(len(c) == 8 and all(0 <= v < 16 for v in c)
               for c in codes.values())
    # seeds encode as themselves (their own subvectors are centroids)
    assert codes[0] == [0] * 8 and codes[5] == [5] * 8
    re_codes = {r["vec_id"]: r["codes"]
                for r in pq_encode(emb.repartition(11), books).collect()}
    assert re_codes == codes


def test_pq_lloyd_refinement_reduces_quantization_error(spark):
    # One Lloyd round must not increase total quantization error
    # (k-means objective is non-increasing), and refined books stay
    # deterministic under repartition.
    import pyspark.sql.functions as F

    from filefilter_spark.ops.cluster import _sq_dist, quantize_to_grid
    from filefilter_spark.ops.pq import (
        _chunked,
        _code_expr,
        fit_pq_codebooks,
    )
    from filefilter_spark.queries.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def total_err(books):
        qd = F.transform(
            quantize_to_grid("embedding", 1e6), lambda v: v / F.lit(1e6)
        )
        cents = F.array(
            *[F.array(*[F.array(*[F.lit(float(v)) for v in c])
                        for c in book]) for book in books]
        )
        chunks = _chunked(qd, 8, 8)
        codes = _code_expr(qd, books)
        err = F.aggregate(
            F.zip_with(
                chunks,
                F.sequence(F.lit(0), F.lit(7)),
                lambda ch, s: _sq_dist(
                    ch,
                    F.element_at(
                        F.element_at(cents, s + 1),
                        F.element_at(codes, s + 1) + 1,
                    ),
                ),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        return emb.agg(F.sum(err)).collect()[0][0]

    b0 = fit_pq_codebooks(emb, m=8, k=16, iters=0)
    b1 = fit_pq_codebooks(emb, m=8, k=16, iters=1)
    assert total_err(b1) <= total_err(b0)
    b1r = fit_pq_codebooks(emb.repartition(9), m=8, k=16, iters=1)
    assert b1 == b1r  # exact-integer centroid updates


def test_pq_adc_topk_finds_query_first(spark):
    from filefilter_spark.ops.pq import (
        fit_pq_codebooks,
        pq_adc_topk,
        pq_encode,
    )
    from filefilter_spark.queries.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = fit_pq_codebooks(emb, m=8, k=16, iters=1)
    codes = pq_encode(emb, books)
    q = emb.filter("vec_id = 42").collect()[0]["embedding"]
    top = pq_adc_topk(codes, books, [float(x) for x in q], topk=5).collect()
    # the query's own code-cell distance is minimal (ADC of its own
    # reconstruction) — it must appear in the top-5
    assert 42 in [r["vec_id"] for r in top]
    assert top[0]["adc"] <= top[-1]["adc"]


def test_pca_global_overflow_guard_cross_partition(spark):
    # ADVICE r10 (medium): the partition-local check sees only its own
    # n, so P partitions can each pass while the MERGED Gram wraps
    # int64. Construct exactly that: scale=1e9, x=1.5 -> q=1.5e9,
    # q^2 = 2.25e18 < 2^62 (~4.61e18) per single-row partition, but
    # the 4-row global sum 9e18 >= 2^62. Both consumers must raise
    # loudly via the merged grid-peak row.
    import pytest as _pytest

    from filefilter_spark.ops.pca import covariance, fit_pca

    rdd = spark.sparkContext.parallelize(
        [(i, [1.5, 1.5]) for i in range(4)], 4
    )
    df = spark.createDataFrame(rdd, "vec_id bigint, embedding array<double>")
    with _pytest.raises(Exception, match="GLOBAL"):
        fit_pca(df, k=1, scale=1e9)
    with _pytest.raises(Exception, match="GLOBAL"):
        covariance(df, scale=1e9).collect()
    # sanity: the same data is fine at a scale inside the bound
    assert len(covariance(df, scale=1e4).collect()) == 3


def test_pca_whiten_clamps_negative_eigenvalues(spark):
    # ADVICE r10: eigh on a near-singular covariance returns tiny
    # NEGATIVE eigenvalues (order ||cov||*machine-eps, which can
    # exceed the 1e-12 jitter); unclamped, sqrt(ev + eps) is NaN and
    # poisons the whitened column.
    import math

    from filefilter_spark.ops.pca import PCAModel, project

    model = PCAModel(
        mean=[0.0, 0.0],
        eigenvalues=[1.0, -1e-9],  # the eigh near-zero artifact
        components=[[1.0, 0.0], [0.0, 1.0]],
    )
    df = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id bigint, embedding array<double>"
    )
    row = project(df, model, whiten=True).collect()[0]["pca"]
    assert all(math.isfinite(v) for v in row), row


def test_order_reserved_column_collision_raises(spark):
    # ADVICE r10: the ordering ops stage internal/output columns via
    # withColumn, which silently REPLACES same-named input columns —
    # they must raise instead.
    import pyspark.sql.functions as F
    import pytest as _pytest

    from filefilter_spark.ops.order import (
        curriculum_order,
        deterministic_shuffle,
        ranked_by,
    )

    base = spark.createDataFrame([(1,), (2,)], "doc_id bigint")
    with _pytest.raises(ValueError, match="reserved"):
        deterministic_shuffle(base.withColumn("pos", F.lit(0)))
    with _pytest.raises(ValueError, match="reserved"):
        deterministic_shuffle(base.withColumn("__key", F.lit("x")))
    with _pytest.raises(ValueError, match="reserved"):
        curriculum_order(base.withColumn("phase", F.lit(0)), F.lit(0.5))
    with _pytest.raises(ValueError, match="reserved"):
        curriculum_order(base.withColumn("__rank", F.lit(0)), F.lit(0.5))
    with _pytest.raises(ValueError, match="reserved"):
        ranked_by(
            base.withColumn("__bucket", F.lit(0)), F.lit(0), [F.col("doc_id")]
        )


def test_pq_registry_query_vector_pinning_parity(spark, tmp_path):
    # ADVICE r10: the OP-D3-pq oracle used to hardcode vec_id = 0
    # while the Spark side picks the min-id row — silently diverging
    # on any corpus whose ids don't start at 0. Both now pin to
    # min(vec_id); prove parity on a shifted-id copy of the corpus.
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    from filefilter_spark.queries import extensions  # noqa: F401 - registers
    from filefilter_spark.queries.registry import REGISTRY

    t = papq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    t = t.set_column(
        t.schema.get_field_index("vec_id"),
        "vec_id",
        pc.add(t["vec_id"], 1000),
    )
    papq.write_table(t, str(tmp_path / "embeddings.parquet"))

    spec = REGISTRY["OP-D3-pq"]
    got = {
        (r["vec_id"], round(r["adc"], 9))
        for r in spec.builder(spark, str(tmp_path)).collect()
    }
    with duckdb.connect() as con:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{tmp_path}/embeddings.parquet')"
        )
        want = {
            (r[0], round(r[1], 9)) for r in con.execute(spec.oracle).fetchall()
        }
    assert got == want and len(got) == 10
    assert min(i for i, _ in got) >= 1000  # really the shifted corpus


def test_ivfpq_composed_recall_and_determinism(spark):
    # VERDICT r9/r10 directive: IVF coarse probing composed with
    # PQ-ADC ranking in ONE operator — probe top-P cells, ADC-shortlist
    # inside them only, exact-rerank the shortlist. Checks: (a) recall
    # >= the registry floor vs the exact grid-L2 top-10, (b) the index
    # and result are bit-identical under repartition, (c) refine
    # demands the vectors frame, (d) the ADC tier scans ONLY probed
    # cells (cell filter present in the shortlist plan).
    import pyspark.sql.functions as F

    from filefilter_spark.ops.pq import build_ivfpq_index, ivfpq_topk
    from filefilter_spark.queries.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = [float(x) for x in
         emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]]

    # exact L2 top-10 (brute force — oracle-scale only)
    qlit = F.array(*[F.lit(v) for v in q])
    d2 = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), qlit,
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda a, v: a + v)
    exact = {r["vec_id"] for r in
             emb.select("vec_id", d2.alias("d2"))
                .orderBy("d2", "vec_id").limit(10).collect()}

    indexed, books, cents = build_ivfpq_index(
        emb, n_lists=16, m=8, k=16, iters=1)
    got = [r["vec_id"] for r in
           ivfpq_topk(indexed, books, cents, q, topk=10, n_probe=4,
                      refine=5, vectors=emb).collect()]
    assert len(set(got) & exact) / 10 >= 0.6, (got, exact)

    i2, b2, c2 = build_ivfpq_index(
        emb.repartition(9), n_lists=16, m=8, k=16, iters=1)
    assert b2 == books and c2 == cents
    got2 = [r["vec_id"] for r in
            ivfpq_topk(i2, b2, c2, q, topk=10, n_probe=4,
                       refine=5, vectors=emb).collect()]
    assert got2 == got

    import pytest as _pytest
    with _pytest.raises(ValueError, match="vectors"):
        ivfpq_topk(indexed, books, cents, q, refine=5)

    # r13: refine=None (the default) auto-sizes the shortlist from
    # the measured recall law — so nobody lands on the weak ADC-only
    # tier silently. The formula reproduces both measured 0.9-recall
    # points (refine=5 at the sf0.01-shaped probed pop ~500,
    # refine=50 at 128k vectors / n_probe 4 of 64 -> probed ~8000),
    # and never drops below the 5x retrieval tier.
    from filefilter_spark.ops.pq import _auto_refine
    assert _auto_refine(500, 10) == 5
    assert _auto_refine(8000, 10) == 50
    assert _auto_refine(10, 10) == 5
    assert _auto_refine(0, 10) == 5

    # auto default end-to-end: same answer as the explicit refine=5
    # shape here (probed pop at sf0.001 is far under 800), requires
    # vectors, and explicit refine=0 is a quiet opt-in (no warning)
    got_auto = [r["vec_id"] for r in
                ivfpq_topk(indexed, books, cents, q, topk=10,
                           n_probe=4, vectors=emb).collect()]
    assert got_auto == got

    # r13: the once-per-rebuild histogram replaces the per-query
    # sizing count — same answer, and provably ZERO count() jobs
    # (DataFrame.count is poisoned for the duration of the plan
    # build; only the sizing ran eagerly before).
    from unittest import mock

    from pyspark.sql import DataFrame

    from filefilter_spark.ops.pq import ivfpq_cell_counts
    counts = ivfpq_cell_counts(indexed)
    assert sum(counts.values()) == emb.count()
    with mock.patch.object(
        DataFrame, "count",
        side_effect=AssertionError("auto-refine counted the corpus"),
    ):
        plan_cc = ivfpq_topk(indexed, books, cents, q, topk=10,
                             n_probe=4, vectors=emb, cell_counts=counts)
    assert [r["vec_id"] for r in plan_cc.collect()] == got
    with _pytest.raises(ValueError, match="refine=0 explicitly"):
        ivfpq_topk(indexed, books, cents, q, topk=10, n_probe=4)
    import warnings as _warnings
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        ivfpq_topk(indexed, books, cents, q, topk=10, n_probe=4,
                   refine=0)
        ivfpq_topk(indexed, books, cents, q, topk=10, n_probe=4,
                   refine=5, vectors=emb)

    # probe pruning is real: with an unbounded topk and refine=0,
    # the ADC tier emits exactly the probed cells' rows — strictly
    # fewer than the corpus (Catalyst inlines the `cell` alias into
    # the filter expression, so a plan-string name check can't see it)
    probed_n = ivfpq_topk(
        indexed, books, cents, q, topk=1_000_000, n_probe=4, refine=0
    ).count()
    assert 0 < probed_n < emb.count()


def test_gopher_repetition_char_fractions(spark):
    # Closed-form fixtures for the char-fraction tier (r11): values
    # computed by hand; token chars only (separators excluded) on both
    # sides of every ratio.
    from filefilter_spark.ops.text import gopher_repetition

    docs = spark.createDataFrame(
        [
            # "ab cd " x4: top bigram is "ab cd" (4 occurrences of 4
            # token chars... "ab cd" token chars = 4) over total 16;
            # but "cd ab" x3 also repeats — count ties break to the
            # lexicographically smallest, and 4 > 3 anyway.
            (0, "ab cd " * 4),
            # all-distinct 50 tokens: every n-gram unique; top-n claims
            # its own chars once (small at this length), dup tiers 0.
            # (A SHORT distinct doc legitimately fails: one 4-gram of a
            # 12-token doc claims 33% of chars — the paper applies
            # these rules after gopher_rules' 50-word floor.)
            (1, " ".join(f"w{i:02d}" for i in range(50))),
            # a repeated 5-gram inside otherwise-unique filler: dup5
            # covers exactly the two occurrences' positions
            (2, "p q r s t " + "x1 x2 x3 " + "p q r s t"),
            (3, ""),
        ],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r.asDict()
            for r in gopher_repetition(docs).collect()}

    # doc 0: 8 tokens of 2 chars, total 16. top bigram "ab cd" count 4,
    # chars 4*4=16 -> 1.0; dup5: 5-grams ("ab cd ab cd ab" etc.) each
    # occur twice across the 4 start positions -> all 8 positions
    # covered -> 1.0
    assert rows[0]["top_2gram_char_frac"] == 1.0
    assert not rows[0]["top_2gram_ok"]
    assert rows[0]["dup_5gram_char_frac"] == 1.0 and not rows[0]["keep"]
    # doc 1: 50 3-char tokens, total 150; top bigram = 6 chars once
    # -> 6/150; top 4-gram 12/150 = 0.08 <= 0.16; no duplicated
    # n-gram of any size
    assert rows[1]["top_2gram_char_frac"] == round(6 / 150, 6)
    assert rows[1]["top_4gram_char_frac"] == round(12 / 150, 6)
    assert rows[1]["dup_5gram_char_frac"] == 0.0
    assert rows[1]["keep"] is True
    # doc 2: tokens p q r s t x1 x2 x3 p q r s t — total chars
    # 5*1 + 3*2 + 5*1 = 16; the 5-gram "p q r s t" occurs twice,
    # covering 10 one-char positions -> 10/16; no 6-gram repeats
    assert rows[2]["dup_5gram_char_frac"] == round(10 / 16, 6)
    assert not rows[2]["dup_5gram_ok"]
    assert rows[2]["dup_6gram_char_frac"] == 0.0
    # empty doc: all zeros, keeps
    assert rows[3]["top_2gram_char_frac"] == 0.0 and rows[3]["keep"]

    # partition invariance (deterministic tie-breaks, exact sums)
    re_rows = {r["doc_id"]: r.asDict()
               for r in gopher_repetition(docs.repartition(7)).collect()}
    assert re_rows == rows


def test_ivfpq_residual_and_sampled_fit(spark):
    # r11 follow-ons to the composed index: residual encoding (Jegou
    # IVFADC shape — per-probed-cell LUTs) and content-addressed
    # sampled fit. Both must be bit-reproducible under repartition;
    # residual must hold the registry recall floor.
    import pyspark.sql.functions as F
    import pytest as _pytest

    from filefilter_spark.ops.pq import (
        build_ivfpq_index,
        hash_sample,
        ivfpq_topk,
    )
    from filefilter_spark.queries.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    q = [float(x) for x in
         emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    qlit = F.array(*[F.lit(v) for v in q])
    d2 = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), qlit,
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda a, v: a + v)
    exact = {r["vec_id"] for r in
             emb.select("vec_id", d2.alias("d2"))
                .orderBy("d2", "vec_id").limit(10).collect()}

    # hash_sample: deterministic, partition-invariant, ~frac-sized
    ids = {r["vec_id"] for r in hash_sample(emb, 0.5).collect()}
    assert 0.35 * n <= len(ids) <= 0.65 * n
    ids_re = {r["vec_id"]
              for r in hash_sample(emb.repartition(9), 0.5).collect()}
    assert ids_re == ids
    assert hash_sample(emb, 1.0) is emb
    with _pytest.raises(ValueError, match="frac"):
        hash_sample(emb, 0.0)

    # residual: recall holds the floor, index bit-identical under
    # repartition
    idx, books, cents = build_ivfpq_index(
        emb, n_lists=16, m=8, k=16, iters=1, residual=True)
    got = [r["vec_id"] for r in
           ivfpq_topk(idx, books, cents, q, topk=10, n_probe=4,
                      refine=5, vectors=emb, residual=True).collect()]
    assert len(set(got) & exact) / 10 >= 0.6
    i2, b2, c2 = build_ivfpq_index(
        emb.repartition(7), n_lists=16, m=8, k=16, iters=1,
        residual=True)
    assert b2 == books and c2 == cents
    codes1 = {r["vec_id"]: r["codes"] for r in idx.collect()}
    codes2 = {r["vec_id"]: r["codes"] for r in i2.collect()}
    assert codes2 == codes1

    # sampled fit: runs end-to-end and reproduces exactly
    s1, sb1, sc1 = build_ivfpq_index(
        emb, n_lists=16, m=8, k=16, iters=1, fit_frac=0.5)
    s2, sb2, sc2 = build_ivfpq_index(
        emb.repartition(11), n_lists=16, m=8, k=16, iters=1,
        fit_frac=0.5)
    assert sb2 == sb1 and sc2 == sc1
    r1 = [r["vec_id"] for r in
          ivfpq_topk(s1, sb1, sc1, q, topk=10, n_probe=4,
                     refine=0).collect()]
    r2 = [r["vec_id"] for r in
          ivfpq_topk(s2, sb2, sc2, q, topk=10, n_probe=4,
                     refine=0).collect()]
    assert r1 == r2 and len(r1) == 10


def test_compact_files_collapses_and_clusters(spark, tmp_path):
    # r11: small-files compaction — 64 shattered files collapse to the
    # input-bytes/target estimate, content round-trips exactly, each
    # output file holds a contiguous key range, and the
    # reproducibility contract (order_by required) is enforced.
    import glob

    import pyarrow.parquet as papq
    import pytest as _pytest

    from filefilter_spark.ops.layout import compact_files, input_bytes
    from filefilter_spark.queries.registry import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    src = str(tmp_path / "small")
    out = str(tmp_path / "compact")
    li.repartition(64).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*")) == 64

    total = input_bytes(spark, src)
    n = compact_files(
        spark, src, out, order_by=["l_orderkey", "l_linenumber"],
        target_bytes=max(1, total // 3),
    )
    files = sorted(glob.glob(f"{out}/part-*"))
    assert len(files) == n <= 4  # ceil(total / (total//3)) is 3 or 4

    # exact content round-trip
    a = sorted(map(tuple, li.collect()))
    b = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert a == b

    # contiguous key ranges: per-file (min, max) of the leading key
    # must not overlap across files
    spans = []
    for f in files:
        t = papq.read_table(f, columns=["l_orderkey"])
        if t.num_rows:
            col = t["l_orderkey"].to_pylist()
            spans.append((min(col), max(col)))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, spans

    with _pytest.raises(ValueError, match="order_by"):
        compact_files(spark, src, str(tmp_path / "x"), order_by=[])


def test_ivfpq_encode_batch_appends_consistently(spark):
    # r11: incremental maintenance — a later batch encoded against the
    # FROZEN index must produce exactly the codes/cells the original
    # build gave the same vectors (so appends land in the existing
    # partitionBy(cell) layout without refit or reshuffle).
    import pyspark.sql.functions as F

    from filefilter_spark.ops.pq import (
        build_ivfpq_index,
        ivfpq_encode_batch,
    )
    from filefilter_spark.queries.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    for residual in (False, True):
        indexed, books, cents = build_ivfpq_index(
            emb, n_lists=16, m=8, k=16, iters=1, residual=residual)
        built = {r["vec_id"]: (r["cell"], r["codes"])
                 for r in indexed.collect()}
        # "new ingest": the same vectors arriving under fresh ids
        batch = emb.select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding")
        appended = {r["vec_id"] - 100000: (r["cell"], r["codes"])
                    for r in ivfpq_encode_batch(
                        batch, books, cents, residual=residual).collect()}
        assert appended == built, f"residual={residual}"


def test_ivfpq_stream_ingest_matches_batch(spark, tmp_path):
    # r11: streaming index maintenance — embeddings arriving across
    # several micro-batches must land with exactly the codes/cells the
    # one-shot batch encode gives them (grid-exact projections are
    # batch-arrival-invariant), in a cell-partitioned layout.
    import glob

    from filefilter_spark.ops.pq import (
        build_ivfpq_index,
        ivfpq_encode_batch,
    )
    from filefilter_spark.queries.registry import load_table
    from filefilter_spark.streaming.jobs import ivfpq_stream_ingest

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    _, books, cents = (None, None, None)
    indexed, books, cents = build_ivfpq_index(
        emb, n_lists=16, m=8, k=16, iters=0)

    src = str(tmp_path / "arrivals")
    emb.repartition(4).write.parquet(src)  # 4 files -> 4 micro-batches

    idx_dir = str(tmp_path / "index")
    got = ivfpq_stream_ingest(
        spark, src, books, cents, max_files_per_trigger=1,
        out_dir=idx_dir)
    want = ivfpq_encode_batch(emb, books, cents)
    g = {r["vec_id"]: (r["cell"], r["codes"]) for r in got.collect()}
    w = {r["vec_id"]: (r["cell"], r["codes"]) for r in want.collect()}
    assert g == w and len(g) == emb.count()

    # per-cell compaction — the 4-micro-batch ingest left several
    # files per cell= dir; compact_files(partition_by=) must collapse them
    # while PRESERVING the cell= layout (probe pruning) and moving no
    # rows/values
    from filefilter_spark.ops.layout import compact_files

    def cell_files(d):
        out = {}
        for p in glob.glob(f"{d}/cell=*/*.parquet"):
            cell = p.split("cell=")[1].split("/")[0]
            out[cell] = out.get(cell, 0) + 1
        return out

    before = cell_files(idx_dir)
    assert max(before.values()) > 1  # fragmentation actually happened

    comp_dir = str(tmp_path / "compacted")
    compact_files(spark, idx_dir, comp_dir, ["vec_id"], partition_by="cell")
    after = cell_files(comp_dir)
    assert set(after) == set(before)          # same cell= dirs
    assert all(v == 1 for v in after.values())  # one file per cell here
    assert sum(after.values()) < sum(before.values())

    comp = spark.read.parquet(comp_dir)
    g2 = {r["vec_id"]: (r["cell"], r["codes"]) for r in comp.collect()}
    assert g2 == g

    # pruning survives: a cell filter reads strictly fewer rows than
    # the table (partition dirs still drive the scan)
    some_cell = int(next(iter(after)))
    n = comp.filter(F.col("cell") == some_cell).count()
    assert 0 < n < len(g2)

    # r12: the threshold-gated maintenance call — a healthy table is a
    # metadata-only no-op (nothing written), a fragmented one compacts
    import os

    from filefilter_spark.ops.layout import maybe_compact

    noop_dir = str(tmp_path / "noop")
    assert maybe_compact(spark, comp_dir, noop_dir, "cell", ["vec_id"],
                         max_files_per_partition=16) is False
    assert not os.path.exists(noop_dir)
    auto_dir = str(tmp_path / "auto")
    assert maybe_compact(spark, idx_dir, auto_dir, "cell", ["vec_id"],
                         max_files_per_partition=1) is True
    assert cell_files(auto_dir) == after


def test_ivfpq_stream_ingest_inline_maintenance(spark, tmp_path):
    # r13: maintain_every wires the threshold-gated compaction INTO
    # the ingest loop — after every Nth micro-batch the gate checks
    # fragmentation and swaps in a compacted table, without losing or
    # changing a single code row and while preserving the cell=
    # layout. With 6 single-file batches, maintain_every=2 and a
    # 1-file threshold, the last maintenance (after batch 6) leaves
    # exactly one data file per cell.
    import glob

    from filefilter_spark.ops.pq import build_ivfpq_index, ivfpq_encode_batch
    from filefilter_spark.queries.registry import load_table
    from filefilter_spark.streaming.jobs import ivfpq_stream_ingest

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    indexed, books, cents = build_ivfpq_index(
        emb, n_lists=16, m=8, k=16, iters=0)

    src = str(tmp_path / "arrivals")
    emb.repartition(6).write.parquet(src)  # 6 files -> 6 micro-batches
    idx_dir = str(tmp_path / "index")
    got = ivfpq_stream_ingest(
        spark, src, books, cents, max_files_per_trigger=1,
        out_dir=idx_dir, maintain_every=2, max_files_per_partition=1)

    want = ivfpq_encode_batch(emb, books, cents)
    g = {r["vec_id"]: (r["cell"], r["codes"]) for r in got.collect()}
    w = {r["vec_id"]: (r["cell"], r["codes"]) for r in want.collect()}
    assert g == w and len(g) == emb.count()

    per_cell: dict[str, int] = {}
    for p in glob.glob(f"{idx_dir}/cell=*/*.parquet"):
        c = p.split("cell=")[1].split("/")[0]
        per_cell[c] = per_cell.get(c, 0) + 1
    assert per_cell and max(per_cell.values()) == 1, per_cell
    # no leftover __old/__compact working dirs after the swap
    assert not glob.glob(f"{idx_dir}__*")


def test_minhash_stream_dedup_single_batch_equals_batch(spark, tmp_path):
    # r13: a one-batch drain of the streaming near-dedup is exactly the
    # batch pipeline (minhash_near_dup + keep_neardup_survivors) — the
    # streaming op is composed from the batch tier's pieces, so the
    # bounded case must agree row for row.
    from filefilter_spark.ops.dedup import (
        keep_neardup_survivors, minhash_near_dup)
    from filefilter_spark.queries.registry import load_table
    from filefilter_spark.streaming.jobs import minhash_stream_dedup

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    src = str(tmp_path / "arrivals")
    docs.coalesce(1).write.parquet(src)

    got = minhash_stream_dedup(
        spark, src, threshold=0.5, shingle_n=3,
        out_dir=str(tmp_path / "store"))
    want = keep_neardup_survivors(
        docs, minhash_near_dup(docs, threshold=0.5, shingle_n=3))
    g = {r["doc_id"] for r in got.collect()}
    w = {r["doc_id"] for r in want.collect()}
    assert g == w and 0 < len(g) < docs.count()


def test_minhash_stream_dedup_greedy_across_batches(spark, tmp_path):
    # r13: multi-batch semantics — first arrival wins. Reference is a
    # sequential loop over the SAME batches built from the batch ops
    # (minhash_dedup_against re-hashes history; the stream joins the
    # PERSISTED band table — two independent code paths that must
    # produce the same verified pairs, hence the same survivors).
    import time

    from filefilter_spark.ops.dedup import (
        keep_neardup_survivors, minhash_dedup_against, minhash_near_dup)
    from filefilter_spark.queries.registry import load_table
    from filefilter_spark.streaming.jobs import minhash_stream_dedup

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    parts = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    src = str(tmp_path / "arrivals")
    for p in parts:
        p.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order

    batch_stats = []
    got = minhash_stream_dedup(
        spark, src, threshold=0.5, shingle_n=3, max_files_per_trigger=1,
        out_dir=str(tmp_path / "store"), on_batch=batch_stats.append)

    store = None
    for p in parts:
        remaining = p
        if store is not None:
            seen_ids = {r["doc_id"] for r in store.collect()}
            pairs = minhash_dedup_against(
                p, store, threshold=0.5, shingle_n=3).collect()
            killed = {r["id_a"] if r["id_b"] in seen_ids else r["id_b"]
                      for r in pairs
                      if (r["id_a"] in seen_ids) != (r["id_b"] in seen_ids)}
            remaining = p.filter(~F.col("doc_id").isin(list(killed) or [-1]))
        surv = keep_neardup_survivors(
            remaining,
            minhash_near_dup(remaining, threshold=0.5, shingle_n=3))
        store = surv if store is None else store.unionByName(surv)
        store = store.localCheckpoint()

    g = {r["doc_id"] for r in got.collect()}
    w = {r["doc_id"] for r in store.collect()}
    assert g == w and 0 < len(g) < docs.count()

    # the opt-in metrics hook saw every micro-batch, conserved rows,
    # and its survivor counts sum to the final store
    assert [s["batch_id"] for s in batch_stats] == [0, 1, 2]
    assert sum(s["n_in"] for s in batch_stats) == docs.count()
    assert sum(s["n_survived"] for s in batch_stats) == len(g)
    assert all(s["seconds"] > 0 for s in batch_stats)


def test_minhash_stream_dedup_store_agnostic_uri(spark, tmp_path):
    # r13: the survivor-store existence gate goes through the Hadoop
    # FileSystem API. With os.path.isdir a scheme-qualified out_dir
    # (file:///…, the same API surface as s3a://) reads as ABSENT every
    # batch — history is never consulted and cross-batch near-dups
    # silently survive. Two batches, second carries a near-dup of the
    # first: it must drop.
    import time

    from filefilter_spark.streaming.jobs import minhash_stream_dedup

    a = "the quick brown fox jumps over the lazy dog again and again"
    a2 = "the quick brown fox jumps over the lazy dog again and AGAIN"
    b = "completely unrelated text about spark structured streaming"
    src = str(tmp_path / "arrivals")
    spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame([(3, a2)], "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(src)

    got = minhash_stream_dedup(
        spark, src, threshold=0.5, shingle_n=1, max_files_per_trigger=1,
        out_dir=f"file://{tmp_path}/store",
        maintain_every=1, max_files_per_store=1)
    assert {r["doc_id"] for r in got.collect()} == {1, 2}

    # in-stream store maintenance (r13): with a 1-file threshold the
    # docs and bands dirs each end compacted to one data file, through
    # the same scheme-qualified URI, with no leftover working dirs
    import glob

    for d in ("store/docs", "store/bands"):
        files = [p for p in glob.glob(f"{tmp_path}/{d}/*")
                 if not p.rsplit("/", 1)[1].startswith(("_", "."))]
        assert len(files) == 1, (d, files)
    assert not glob.glob(f"{tmp_path}/store/*__*")


def test_minhash_stream_dedup_reingest_is_idempotent(spark, tmp_path):
    # r13: foreachBatch is at-least-once — a replayed/re-ingested doc
    # must not duplicate in the survivor store. The replayed doc
    # collides with its stored self in every band; the self-pair kills
    # it on id equality. Run the SAME arrivals through one store twice:
    # the second pass appends nothing.
    from filefilter_spark.queries.registry import load_table
    from filefilter_spark.streaming.jobs import minhash_stream_dedup

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text").limit(100)
    store = str(tmp_path / "store")
    for i in range(2):
        src = str(tmp_path / f"arrivals{i}")
        docs.coalesce(1).write.parquet(src)
        got = minhash_stream_dedup(
            spark, src, threshold=0.5, shingle_n=3, out_dir=store)
    out = got.collect()
    assert len(out) == len({r["doc_id"] for r in out})  # no duplicates
    assert 0 < len(out) <= 100


def test_semdedup_stream_dedup_matches_batch_and_is_idempotent(spark, tmp_path):
    # r13: the embedding mirror of minhash_stream_dedup. A one-batch
    # drain equals the batch pipeline (cell memberships -> bucket
    # pairs -> exact-cosine verify -> CC min-id survivors) against the
    # SAME frozen centroids; re-ingesting the same arrivals through
    # the store appends nothing (self-pair kill), and in-stream
    # maintenance leaves compacted store dirs with no leftovers.
    import glob

    from filefilter_spark.ops.dedup import (
        _bucket_pairs, keep_neardup_survivors)
    from filefilter_spark.ops.similarity import (
        _as_double_array, _pair_cosine_verify, build_ivf_index,
        cell_memberships)
    from filefilter_spark.queries.registry import load_table
    from filefilter_spark.streaming.jobs import semdedup_stream_dedup

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    _, cents = build_ivf_index(emb, n_lists=16, method="lloyd")

    src = str(tmp_path / "arrivals")
    emb.coalesce(1).write.parquet(src)
    store = str(tmp_path / "store")
    got = semdedup_stream_dedup(
        spark, src, cents, threshold=0.45, out_dir=store,
        maintain_every=1, max_files_per_store=1)

    pairs = _pair_cosine_verify(
        _bucket_pairs(cell_memberships(emb, cents), ["cell"], id_col="id",
                      max_bucket=4096),
        emb, _as_double_array("embedding"), "vec_id", 0.45)
    want = keep_neardup_survivors(emb, pairs, id_col="vec_id")
    g = {r["vec_id"] for r in got.collect()}
    w = {r["vec_id"] for r in want.collect()}
    assert g == w and 0 < len(g) < emb.count()

    # re-ingest the same vectors: every one collides with its stored
    # self in every membership cell -> second pass appends nothing
    src2 = str(tmp_path / "arrivals2")
    emb.coalesce(1).write.parquet(src2)
    got2 = semdedup_stream_dedup(
        spark, src2, cents, threshold=0.45, out_dir=store)
    rows2 = got2.collect()
    assert {r["vec_id"] for r in rows2} == g and len(rows2) == len(g)

    # maintenance ran through the swap helper: compacted, no leftovers
    for d in ("store/vecs", "store/cells"):
        files = [p for p in glob.glob(f"{tmp_path}/{d}/*")
                 if not p.rsplit("/", 1)[1].startswith(("_", "."))]
        assert files, d
    assert not glob.glob(f"{tmp_path}/store/*__*")


def test_maybe_compact_store_agnostic(spark, tmp_path):
    # r13: the fragmentation gate lists via the Hadoop FileSystem API,
    # not a local glob — a scheme-qualified URI (file:///…, the same
    # resolution path as hdfs:// and s3a://) must count files and fire;
    # the old glob.glob check matched NOTHING for any scheme-qualified
    # path and returned False forever. Also: a mis-pointed path (no
    # partition_by= dirs at all) raises instead of reporting healthy.
    import os

    import pytest as _pytest

    from filefilter_spark.ops.layout import (
        _partition_file_counts, maybe_compact,
    )

    df = spark.createDataFrame(
        [(i % 3, i, f"v{i}") for i in range(60)],
        "cell int, vec_id bigint, payload string",
    )
    frag = str(tmp_path / "frag")
    # 4 writer tasks per cell -> several files under each cell= dir
    df.repartition(4).write.partitionBy("cell").parquet(frag)

    uri = "file://" + frag  # scheme-qualified: glob.glob sees nothing
    counts = _partition_file_counts(spark, uri, "cell")
    assert set(counts) == {"cell=0", "cell=1", "cell=2"}
    assert max(counts.values()) > 1

    out = "file://" + str(tmp_path / "out")
    assert maybe_compact(spark, uri, out, "cell", ["vec_id"],
                         max_files_per_partition=1) is True
    got = {(r["cell"], r["vec_id"], r["payload"])
           for r in spark.read.parquet(out).collect()}
    want = {(r["cell"], r["vec_id"], r["payload"]) for r in df.collect()}
    assert got == want

    # healthy table via the same URI tier: metadata-only no-op
    noop = str(tmp_path / "noop")
    assert maybe_compact(spark, out, noop, "cell", ["vec_id"],
                         max_files_per_partition=16) is False
    assert not os.path.exists(noop)

    # wrong partition column / mis-pointed path: loud, not "healthy"
    with _pytest.raises(ValueError, match="no bucket=.*directories"):
        maybe_compact(spark, uri, str(tmp_path / "x"), "bucket",
                      ["vec_id"])


def test_soft_dedup_weights(spark):
    # r11: down-weight-instead-of-drop dedup — a 3-member chain
    # cluster (A~B, B~C) weighs 1/3 each, singletons 1.0, so total
    # expected mass = distinct-content count; reserved-name collision
    # raises.
    import pyspark.sql.functions as F
    import pytest as _pytest

    from filefilter_spark.ops.dedup import soft_dedup_weights

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a bigint, id_b bigint"
    )
    out = {r["doc_id"]: r["weight"]
           for r in soft_dedup_weights(docs, pairs).collect()}
    assert out[0] == out[1] == out[2] == 1.0 / 3
    assert out[3] == 1.0
    assert out[4] == out[5] == 0.5
    # 6 docs, 3 distinct contents -> total mass 3
    assert abs(sum(out.values()) - 3.0) < 1e-12

    with _pytest.raises(ValueError, match="weight"):
        soft_dedup_weights(docs.withColumn("weight", F.lit(2.0)), pairs)


def test_mixture_budget_planning(spark):
    # r11: token-budget planning — rate > 1 flags the data-constrained
    # repetition regime and epochs = ceil(rate); absent sources get
    # weight 0; unnormalized weights normalize over their own sum.
    import pytest as _pytest

    from filefilter_spark.ops.corpus import mixture_budget

    docs = spark.createDataFrame(
        [(i, "web" if i < 8 else "books", 100) for i in range(10)],
        "doc_id bigint, source string, n_chars int",
    )
    # web: 800 tokens available; books: 200. Budget 1000 at 3:1 ->
    # web target 750 (rate 0.9375, 1 epoch), books target 250
    # (rate 1.25 -> REPEATS, 2 epochs).
    rows = {r["source"]: r.asDict()
            for r in mixture_budget(
                docs, {"web": 3.0, "books": 1.0}, token_budget=1000
            ).collect()}
    assert rows["web"]["available_tokens"] == 800
    assert rows["web"]["weight"] == 0.75
    assert rows["web"]["target_tokens"] == 750.0
    assert rows["web"]["rate"] == 0.9375 and rows["web"]["epochs"] == 1
    assert rows["books"]["rate"] == 1.25 and rows["books"]["epochs"] == 2

    # a source outside the mixture plans to zero
    extra = docs.union(spark.createDataFrame(
        [(99, "junk", 50)], "doc_id bigint, source string, n_chars int"))
    rows2 = {r["source"]: r.asDict()
             for r in mixture_budget(
                 extra, {"web": 3.0, "books": 1.0}, token_budget=1000
             ).collect()}
    assert rows2["junk"]["weight"] == 0.0
    assert rows2["junk"]["target_tokens"] == 0.0
    assert rows2["junk"]["epochs"] == 0

    with _pytest.raises(ValueError, match="token_budget"):
        mixture_budget(docs, {"web": 1.0}, token_budget=0)
    with _pytest.raises(ValueError, match="weights"):
        mixture_budget(docs, {"web": 0.0}, token_budget=10)

    # r12: a budgeted-but-ABSENT source surfaces as an unsatisfiable
    # plan row (0 available, NULL rate/epochs) instead of vanishing
    rows3 = {r["source"]: r.asDict()
             for r in mixture_budget(
                 docs, {"web": 3.0, "books": 1.0, "ghost": 1.0},
                 token_budget=1000,
             ).collect()}
    g = rows3["ghost"]
    assert g["n_docs"] == 0 and g["available_tokens"] == 0
    assert g["weight"] == 0.2 and g["target_tokens"] == 200.0
    assert g["rate"] is None and g["epochs"] is None


def test_repeat_sample_executes_epochs(spark):
    # r12: repeat_sample materializes rate>1 plans — floor(r) full
    # epochs + an independently-hashed fractional epoch, epoch column
    # distinguishing the copies; realized token mass tracks
    # rate x available per source.
    from filefilter_spark.ops.corpus import mixture_budget, repeat_sample

    docs = spark.createDataFrame(
        [(i, "books" if i < 200 else ("junk" if i < 240 else "web"), 10)
         for i in range(1000)],
        "doc_id bigint, source string, n_chars int",
    )
    rates = {"books": 2.5, "web": 0.5, "junk": 0.0}
    out = repeat_sample(docs, rates).cache()

    # full epochs are exact copies: every books doc appears at epochs
    # 0 and 1; epoch 2 is the fractional draw; junk vanishes
    per_epoch = {(r["source"], r["epoch"]): r["n"] for r in
                 out.groupBy("source", "epoch").count()
                 .withColumnRenamed("count", "n").collect()}
    assert per_epoch[("books", 0)] == 200 and per_epoch[("books", 1)] == 200
    assert 0 < per_epoch[("books", 2)] < 200
    assert not any(s == "junk" for s, _ in per_epoch)
    # fractional epoch ~ 0.5 of its source (hash-uniform, n=760)
    assert abs(per_epoch[("web", 0)] / 760 - 0.5) < 0.1

    # realized token mass ~ rate x available (books: 2.5 x 2000)
    realized = {r["source"]: r["t"] for r in
                out.groupBy("source")
                .agg(F.sum("n_chars").alias("t")).collect()}
    assert abs(realized["books"] / 5000 - 1.0) < 0.1

    # and it executes what mixture_budget PLANS: derive rates from a
    # plan whose books row repeats, realize it, land near target
    plan = {r["source"]: r["rate"] for r in mixture_budget(
        docs, {"books": 2.0, "web": 1.0}, token_budget=9000
    ).collect() if r["rate"] is not None}
    got = {r["source"]: r["t"] for r in
           repeat_sample(docs, plan).groupBy("source")
           .agg(F.sum("n_chars").alias("t")).collect()}
    assert abs(got["books"] / 6000 - 1.0) < 0.1   # 9000 * 2/3
    assert abs(got["web"] / 3000 - 1.0) < 0.15    # 9000 * 1/3

    # determinism + partition invariance
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, repeat_sample(docs.repartition(7), rates).collect()))
    assert a == b
    out.unpersist()


def test_execute_budget_one_call(spark):
    # r12: plan AND execute in one call — rates derived from the exact
    # per-source token sums (books 2000, web 7600 tokens here), budget
    # realized within sampling noise, unbudgeted source dropped,
    # deterministic under repartitioning.
    from filefilter_spark.ops.corpus import execute_budget

    docs = spark.createDataFrame(
        [(i, "books" if i < 200 else ("junk" if i < 240 else "web"), 10)
         for i in range(1000)],
        "doc_id bigint, source string, n_chars int",
    )
    out = execute_budget(
        docs, {"books": 2.0, "web": 1.0}, 9000, token_col="n_chars"
    ).cache()
    got = {r["source"]: r["t"] for r in
           out.groupBy("source").agg(F.sum("n_chars").alias("t")).collect()}
    assert set(got) == {"books", "web"}          # junk (unbudgeted) drops
    assert abs(got["books"] / 6000 - 1.0) < 0.1  # 9000 * 2/3, rate 3.0
    assert abs(got["web"] / 3000 - 1.0) < 0.15   # 9000 * 1/3, rate ~0.39
    # books rate = 9000*(2/3)/2000 = 3.0 exactly -> epochs 0,1,2 full
    eps = {r["epoch"] for r in
           out.filter("source = 'books'").select("epoch").distinct()
           .collect()}
    assert eps == {0, 1, 2}
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, execute_budget(
        docs.repartition(7), {"books": 2.0, "web": 1.0}, 9000,
        token_col="n_chars").collect()))
    assert a == b
    out.unpersist()

    import pytest

    with pytest.raises(ValueError, match="sum"):
        execute_budget(docs, {"books": 0.0}, 10, token_col="n_chars")

    # r13: the per-source aggregate collect is loud-failure capped
    # (same contract as temperature_sample) — an id column passed as
    # group_col raises instead of pulling the corpus onto the driver
    with pytest.raises(ValueError, match="coarser group_col"):
        execute_budget(docs, {"books": 1.0}, 10, token_col="n_chars",
                       group_col="doc_id", max_groups=100)


def test_compact_files_jsonl_to_parquet(spark, tmp_path):
    # r11: convert-while-compacting — the jsonl ingestion chore lands
    # range-clustered parquet in one pass with content intact.
    import glob

    from filefilter_spark.ops.layout import compact_files
    from filefilter_spark.queries.registry import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    src = str(tmp_path / "jsonl")
    out = str(tmp_path / "pq")
    li.repartition(16).write.json(src)
    assert len(glob.glob(f"{src}/part-*")) == 16

    compact_files(
        spark, src, out, order_by=["l_orderkey", "l_linenumber"],
        target_bytes=1 << 30, fmt="json", out_fmt="parquet",
    )
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == 1  # 1 GiB target swallows the tiny corpus
    a = sorted((r["l_orderkey"], r["l_linenumber"], float(r["l_quantity"]))
               for r in li.collect())
    b = sorted((r["l_orderkey"], r["l_linenumber"], float(r["l_quantity"]))
               for r in spark.read.parquet(out).collect())
    assert a == b


def test_assemble_packed_sequences(spark):
    # r11: packed-sequence assembly — closed-form fixture: budget 5,
    # one shard, docs of sizes 3/3/2/4 pack as bins {0: [d0, d1]}
    # (prev-cumsum 0, 3), {1: [d2, d3]} (prev 6, 8); offsets restart
    # per bin; partition-invariant.
    from filefilter_spark.ops.corpus import assemble_packed_sequences

    docs = spark.createDataFrame(
        [
            (0, "s", ["a", "b", "c"]),
            (1, "s", ["d", "e", "f"]),
            (2, "s", ["g", "h"]),
            (3, "s", ["i", "j", "k", "l"]),
        ],
        "doc_id bigint, source string, tk array<string>",
    )
    rows = {r["bin_id"]: r.asDict()
            for r in assemble_packed_sequences(
                docs, "tk", budget=5, part_col="source"
            ).collect()}
    assert rows[0]["doc_ids"] == [0, 1]
    assert rows[0]["tokens"] == list("abcdef")
    assert rows[0]["doc_offsets"] == [0, 3]
    assert rows[0]["n_tokens"] == 6
    assert rows[1]["doc_ids"] == [2, 3]
    assert rows[1]["tokens"] == list("ghijkl")
    assert rows[1]["doc_offsets"] == [0, 2]
    re_rows = {r["bin_id"]: r.asDict()
               for r in assemble_packed_sequences(
                   docs.repartition(5), "tk", budget=5, part_col="source"
               ).collect()}
    assert re_rows == rows

    # r12: sep_token inserted BETWEEN docs (not before first / after
    # last); offsets point past each doc's leading separator;
    # n_tokens counts separators
    sep = {r["bin_id"]: r.asDict()
           for r in assemble_packed_sequences(
               docs, "tk", budget=5, part_col="source", sep_token="<eos>"
           ).collect()}
    assert sep[0]["tokens"] == ["a", "b", "c", "<eos>", "d", "e", "f"]
    assert sep[0]["doc_offsets"] == [0, 4]
    assert sep[0]["n_tokens"] == 7
    assert sep[1]["tokens"] == ["g", "h", "<eos>", "i", "j", "k", "l"]
    assert sep[1]["doc_offsets"] == [0, 3]


def test_edit_distance_pairs_matches_python_reference(spark):
    """Mixed corpus crossing both blocks: tiny strings (below the
    gram-guarantee threshold T, including the 'ab'/'ba' zero-shared-gram
    adversary), long strings, a null, and an exact duplicate — the
    distributed result must equal a quadratic Python levenshtein."""
    import itertools

    from filefilter_spark.ops.dedup import edit_distance_pairs

    rows = [
        (1, "ab"), (2, "ba"), (3, "abc"), (4, "xyz"), (5, "ab"),
        (6, None),
        (7, "abcdefghijklmnopqrstuvwxyz"),
        (8, "abcdefghijklmnopqrstuvwxyZ"),
        (9, "the cat sat on the mat"),
        (10, "the cat sat on the hat"),
        (11, "completely different words entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, s string")

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    for d in (0, 1, 2, 3):
        expect = sorted(
            (a, b, lev(sa, sb))
            for (a, sa), (b, sb) in itertools.combinations(rows, 2)
            if sa is not None and sb is not None and lev(sa, sb) <= d
        )
        got = sorted(
            tuple(r)
            for r in edit_distance_pairs(df, max_dist=d, q=2).collect()
        )
        assert got == expect, f"max_dist={d}"


def test_reduced_prefix_location_filter(spark):
    """r17 (VERDICT r16 #4): the location-based prefix reduction.

    (a) SHORTER prefix when the rarest grams are position-spread:
    unique grams at pairwise distance >= q each need their own edit,
    so the prefix stops at d+1 grams instead of q*d+1.
    (b) The cut is LOSSLESS on an adversarial corpus where edits
    cluster (one edit destroys q grams at once) — those strings keep
    the longer prefix and still collide.
    (c) All-duplicate-gram strings (content uniqueness never true,
    derived in-expression from repeated (g, occ) entries) keep the
    full q*d+1 fallback.
    """
    import pyspark.sql.functions as F

    from filefilter_spark.ops.dedup import _reduced_prefix_expr

    q, d = 2, 2
    # gl entries: (gdf, g, occ, pos) already rarity-keyed; content
    # uniqueness is computed by the expression itself (no other entry
    # shares g)
    def gl(entries):
        return [
            {"gdf": i, "g": g, "occ": occ, "pos": p}
            for i, (g, occ, p) in enumerate(entries)
        ]

    rows = [
        # (a) spread unique grams: positions 0, 4, 8, 12, 16 — cover
        # exceeds d=2 at the 3rd gram -> prefix d+1 = 3, not q*d+1 = 5
        (1, gl([("aa", 0, 0), ("bb", 0, 4), ("cc", 0, 8),
                ("dd", 0, 12), ("ee", 0, 16), ("ff", 0, 20)])),
        # (b) clustered unique grams: positions 0,1,2,3,... — one edit
        # window (q=2) covers 2 starts, cover reaches 3 only at the
        # 5th gram -> full q*d+1 = 5
        (2, gl([("aa", 0, 0), ("ab", 0, 1), ("ac", 0, 2),
                ("ad", 0, 3), ("ae", 0, 4), ("af", 0, 5)])),
        # (c) one content repeated 6 times (occ 0..5): no entry is
        # content-unique -> fallback to q*d+1
        (3, gl([("aa", 0, 0), ("aa", 1, 2), ("aa", 2, 4),
                ("aa", 3, 6), ("aa", 4, 8), ("aa", 5, 10)])),
    ]
    df = spark.createDataFrame(
        rows,
        "k long, gl array<struct<gdf:long,g:string,occ:int,pos:int>>",
    )
    got = {
        r["k"]: r["n"]
        for r in df.select(
            "k", F.size(F.expr(_reduced_prefix_expr("gl", q, d))).alias("n")
        ).collect()
    }
    assert got == {1: d + 1, 2: q * d + 1, 3: q * d + 1}, got

    # and the reduced prefix is a PREFIX of the rarity sort (never a
    # reorder or subset from the middle)
    row = df.filter("k = 1").select(
        F.expr(_reduced_prefix_expr("gl", q, d)).alias("p")
    ).first()
    assert [e["g"] for e in row["p"]] == ["aa", "bb", "cc"]


def test_edit_distance_pairs_clustered_edit_adversary(spark):
    """Losslessness of the location reduction under the adversary it
    must survive: pairs whose d edits each destroy a whole window of
    clustered rare grams. Exact equality with a quadratic Python
    reference over strings engineered so the rarest grams sit adjacent
    (one edit kills q of them at once)."""
    import itertools

    from filefilter_spark.ops.dedup import edit_distance_pairs

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    # hot shared body, rare cluster "xyz" in the middle; edits hit the
    # cluster so every rare gram of the original dies in <= d edits
    body = "aaaaaaaa{}aaaaaaaa"
    rows = [
        (1, body.format("xyz")),
        (2, body.format("xYz")),     # 1 sub inside the cluster
        (3, body.format("YxW")),     # 2 subs inside the cluster
        (4, body.format("")),        # 3-char delete of the cluster
        (5, body.format("qrs")),     # different rare cluster
        (6, body.format("xyz") + "b"),  # 1 insert outside
    ]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    for d, q in [(1, 2), (2, 2), (3, 2), (2, 3), (3, 3)]:
        expect = sorted(
            (a, b, lev(sa, sb))
            for (a, sa), (b, sb) in itertools.combinations(rows, 2)
            if lev(sa, sb) <= d
        )
        got = sorted(
            tuple(r)
            for r in edit_distance_pairs(df, max_dist=d, q=q).collect()
        )
        assert got == expect, f"d={d} q={q}"


def test_edit_distance_pairs_prefix_bounds_postings(spark):
    """The rarity-ordered prefix keeps at most q*d+1 postings per
    string — ubiquitous grams must NOT enter the index when a string
    has rarer ones. With 100 strings sharing a hot 20-char prefix and
    differing in a rare 8-char tail (q=2, d=1 → prefix 3), candidate
    pairs collapse to near-zero instead of ~100²/2 per hot gram."""
    import pyspark.sql.functions as F

    from filefilter_spark.ops.dedup import edit_distance_pairs

    hot = "aaaaaaaaaaaaaaaaaaaa"  # shared low-entropy head
    # doubled tails: any two distinct i differ in >= 2 positions
    rows = [(i, hot + f"{i:04d}" * 2) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    out = edit_distance_pairs(df, max_dist=1, q=2)
    assert out.count() == 0
    # and one seeded near-dup IS found through the rare tail grams
    df2 = df.union(
        spark.createDataFrame([(1000, hot + "00420042x")],
                              "doc_id long, s string")
    )
    got = [tuple(r) for r in
           edit_distance_pairs(df2, max_dist=1, q=2).collect()]
    assert got == [(42, 1000, 1)]


def test_edit_distance_pairs_build_py4j_budget(spark):
    """Building the fuzzy self-join stays cheap on the driver: its
    expression trees are SQL strings parsed JVM-side, one Py4J call
    each, not Column-API chains that pay one call per node. Counts the
    commands a warm build sends (object releases, which the garbage
    collector sends at its own pace, are left out): 373 on this input,
    where a Column-API build sent 1,120."""
    from filefilter_spark.ops.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(i, f"string number {i:03d}") for i in range(40)],
        "doc_id long, s string")
    edit_distance_pairs(df, max_dist=2, q=2)
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command

    def counting(command, *args, **kwargs):
        sent.append(command[:2])
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        edit_distance_pairs(df, max_dist=2, q=2)
    finally:
        del client.send_command
    n = sum(1 for kind in sent if kind != "m\n")
    assert n <= 400, n


def test_edit_distance_pairs_posting_lists_carry_ids_only(spark):
    """Posting lists buffer (id, length) structs — never the strings —
    so a degenerate identical-prefix cluster bounds each aggregation
    row at 16 bytes/entry (VERDICT r13 #2): one cluster collapsing
    every string into a single posting list still verifies EXACTLY
    (no posting list is capped, so the op stays exact, matching the
    registered oracle), and the collect_list input schema is pinned
    string-free."""
    from filefilter_spark.ops.dedup import edit_distance_pairs

    rows = [(i, "exactlythesamestring") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    out = edit_distance_pairs(df, max_dist=1, q=2)
    assert out.count() == 500 * 499 // 2
    assert out.filter("dist != 0").count() == 0
    # plan pin: every collect_list aggregates the (id, l) struct only
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.split("\n"):
        if "collect_list" in line:
            assert " s#" not in line and "(s#" not in line, line


def test_text_index_stream_ingest_matches_batch(spark, tmp_path):
    """Multi-batch stream-grown index answers EXACTLY like the scan
    path and the batch-built index, with in-stream maintenance on."""
    import pyspark.sql.functions as F

    from filefilter_spark.ops.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        build_text_index,
    )
    from filefilter_spark.streaming.jobs import text_index_stream_ingest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "in")
    docs.repartition(5).write.parquet(src)
    six = str(tmp_path / "six")
    text_index_stream_ingest(
        spark, src, six, n_buckets=16,
        max_files_per_trigger=1, maintain_every=2,
        max_files_per_partition=2,
    )
    terms = ["spark", "merge"]
    scan = [tuple(r) for r in bm25_topk(docs, terms, k=10).collect()]
    got = [tuple(r) for r in
           bm25_topk_indexed(spark, six, terms, k=10, n_buckets=16).collect()]
    assert got == scan
    bix = str(tmp_path / "bix")
    build_text_index(docs, bix, n_buckets=16)
    via_batch = [tuple(r) for r in
                 bm25_topk_indexed(spark, bix, terms, k=10,
                                   n_buckets=16).collect()]
    assert got == via_batch
    # store cleanliness: no temp/aside dirs leaked by the stats swap
    # or the in-stream compaction after a clean drain
    import os
    leaked = [d for d in os.listdir(six) if "__tmp" in d or "__old" in d
              or "__compact" in d]
    assert not leaked, leaked


def test_text_index_stream_reingest_is_idempotent(spark, tmp_path):
    """An at-least-once replay must not change query results, in ALL
    THREE failure models: (a) the durable default checkpoint makes a
    rerun a no-op at the source (committed files never redeliver);
    (b) after CHECKPOINT LOSS (explicit fresh checkpoint_dir — batch
    ids renumber AND the drain regroups files into one big batch) the
    per-FILE key guard drops every committed file; (c) checkpoint loss
    WITH new data arrived — the regrouped batch mixes committed and
    new files, and only the new ones may be ingested (the case a
    batch-level guard double-counts or drops)."""
    import pyspark.sql.functions as F

    from filefilter_spark.ops.retrieval import bm25_topk, bm25_topk_indexed
    from filefilter_spark.streaming.jobs import text_index_stream_ingest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    part1 = docs.filter(F.col("doc_id") % 5 != 0)
    part2 = docs.filter(F.col("doc_id") % 5 == 0)
    src = str(tmp_path / "in")
    part1.repartition(3).write.parquet(src)
    ix = str(tmp_path / "ix")
    text_index_stream_ingest(spark, src, ix, n_buckets=8,
                             max_files_per_trigger=1)
    terms = ["spark", "merge"]
    first = [tuple(r) for r in
             bm25_topk_indexed(spark, ix, terms, k=10, n_buckets=8).collect()]
    stats1 = _read_sidecar(spark, f"{ix}/stats")
    n_post1 = spark.read.parquet(f"{ix}/postings").count()
    # (a) durable default: rerun redelivers nothing at all
    text_index_stream_ingest(spark, src, ix, max_files_per_trigger=1)
    assert spark.read.parquet(f"{ix}/postings").count() == n_post1
    # (b) checkpoint loss: full re-drain, all files in ONE batch (ids
    # renumber, grouping shifts) — the per-file guard drops everything
    text_index_stream_ingest(spark, src, ix,
                             checkpoint_dir=str(tmp_path / "ckb"))
    stats2 = _read_sidecar(spark, f"{ix}/stats")
    assert spark.read.parquet(f"{ix}/postings").count() == n_post1
    assert (stats2["n_docs"], stats2["sum_dl"]) == (
        stats1["n_docs"], stats1["sum_dl"])
    assert [tuple(r) for r in
            bm25_topk_indexed(spark, ix, terms, k=10).collect()] == first
    # (c) checkpoint loss + new data: the re-drain sees old AND new
    # files in one batch; only the new files may count
    part2.coalesce(1).write.mode("append").parquet(src)
    text_index_stream_ingest(spark, src, ix,
                             checkpoint_dir=str(tmp_path / "ckc"))
    stats3 = _read_sidecar(spark, f"{ix}/stats")
    assert stats3["n_docs"] == docs.count()
    assert [tuple(r) for r in
            bm25_topk_indexed(spark, ix, terms, k=10).collect()] == [
        tuple(r) for r in bm25_topk(docs, terms, k=10).collect()]
    # r16 growth signal: a stream-created layout freezes built_n_docs
    # at its FIRST write, so growth measures from there
    assert int(stats3["built_n_docs"]) > 0


def test_text_index_growth_signal(spark, tmp_path):
    """The text-index growth wire (r16): built_n_docs freezes at
    build, the stream carries it through swaps, on_batch reports the
    growth action, the rule flips at TEXT_GROWTH_REBUCKET, and a
    rebuild re-freezes the baseline. Results stay exact regardless
    (pinned by the idempotence test above)."""
    import pyspark.sql.functions as F

    from filefilter_spark.ops.retrieval import (
        TEXT_GROWTH_REBUCKET,
        build_text_index,
        text_index_growth,
    )
    from filefilter_spark.streaming.jobs import text_index_stream_ingest

    assert text_index_growth(100, None)["action"] == "unknown"
    assert text_index_growth(700, 100)["action"] == "ok"
    assert text_index_growth(
        int(100 * TEXT_GROWTH_REBUCKET), 100)["action"] == "rebucket"

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seed = docs.filter(F.col("doc_id") < 40)
    ix, src = str(tmp_path / "ix"), str(tmp_path / "src")
    build_text_index(seed, ix, n_buckets=8)
    assert int(
        _read_sidecar(spark, f"{ix}/stats")["built_n_docs"]
    ) == seed.count()
    # stream in >8x the build size: the hook must flip to rebucket
    rest = docs.filter(F.col("doc_id") >= 40)
    assert rest.count() > TEXT_GROWTH_REBUCKET * seed.count()
    rest.coalesce(1).write.parquet(src)
    signals = []
    text_index_stream_ingest(spark, src, ix, on_batch=signals.append)
    assert signals and signals[-1]["action"] == "rebucket"
    assert signals[-1]["growth_factor"] >= TEXT_GROWTH_REBUCKET
    # rebuild (rebucket) over the grown corpus re-freezes the baseline
    build_text_index(docs, ix, n_buckets=64)
    s = _read_sidecar(spark, f"{ix}/stats")
    assert int(s["built_n_docs"]) == docs.count()
    assert text_index_growth(
        int(s["n_docs"]), int(s["built_n_docs"]))["action"] == "ok"


def test_text_index_built_then_grown_probe_exact(spark, tmp_path):
    """r16 regression (found by the rebucket test): the BATCH build
    caches per-term dfs in terms/, and a stream append used to leave
    it stale — probes of a built-then-grown layout scored with
    build-era dfs (idf inflated ~3.6x at 50% growth, silently). The
    ingest now drops the cache before its first append; probes fall
    back to the always-fresh pruned distinct-doc count and must equal
    the corpus scan exactly."""
    import os

    import pyspark.sql.functions as F

    from filefilter_spark.ops.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        build_text_index,
    )
    from filefilter_spark.streaming.jobs import text_index_stream_ingest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seed = docs.filter(F.col("doc_id") < 250)
    ix, src = str(tmp_path / "ix"), str(tmp_path / "src")
    build_text_index(seed, ix, n_buckets=8)
    assert os.path.isdir(f"{ix}/terms")  # the batch build caches dfs
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.parquet(src)
    text_index_stream_ingest(spark, src, ix)
    assert not os.path.isdir(f"{ix}/terms")  # cache dropped, not stale
    q = ["data", "spark", "model"]
    want = [(r["doc_id"], round(r["bm25"], 6))
            for r in bm25_topk(docs, q, k=10).collect()]
    got = [(r["doc_id"], round(r["bm25"], 6))
           for r in bm25_topk_indexed(spark, ix, q, k=10).collect()]
    assert got == want


def test_text_index_stream_rebucket_on_growth(spark, tmp_path):
    """rebucket_on_growth closes the text loop: when the growth signal
    flips to rebucket, the loop re-sizes the bucket count at the batch
    boundary (stats first — n_buckets authoritative, built_n_docs
    re-frozen — then the postings rewrite), and an indexed probe of
    the rebucketed layout still equals the corpus scan EXACTLY. A
    dangling rebucket_pending marker heals with the flag on (postings
    re-derived from the stats sidecar) and refuses loudly with it
    off."""
    import os

    import pyspark.sql.functions as F

    from filefilter_spark.ops.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        build_text_index,
    )
    from filefilter_spark.streaming.jobs import text_index_stream_ingest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seed = docs.filter(F.col("doc_id") < 40)
    ix, src = str(tmp_path / "ix"), str(tmp_path / "src")
    build_text_index(seed, ix, n_buckets=4)
    rest = docs.filter(F.col("doc_id") >= 40)
    rest.coalesce(1).write.parquet(src)
    sig = []
    text_index_stream_ingest(
        spark, src, ix, on_batch=sig.append, rebucket_on_growth=True)
    last = sig[-1]
    assert last["action"] == "rebucket" and last["rebucketed"] is True
    growth = last["growth_factor"]
    s = _read_sidecar(spark, f"{ix}/stats")
    # stats: target = 4 * 2^ceil(log2(growth)), baseline re-frozen
    assert int(s["n_buckets"]) == int(last["n_buckets"]) > 4
    assert int(s["built_n_docs"]) == int(s["n_docs"]) == docs.count()
    assert not os.path.isdir(f"{ix}/rebucket_pending")
    # postings physically re-hashed: bucket dirs span the new count
    bkts = {int(d.split("=")[1]) for d in os.listdir(f"{ix}/postings")
            if d.startswith("bucket=")}
    assert max(bkts) >= 4 and len(bkts) > 4
    # exactness through the rebucketed layout
    q = ["data", "spark", "model"]
    want = [(r["doc_id"], round(r["bm25"], 6))
            for r in bm25_topk(docs, q, k=10).collect()]
    got = [(r["doc_id"], round(r["bm25"], 6))
           for r in bm25_topk_indexed(spark, ix, q, k=10).collect()]
    assert got == want and growth > 4

    # crash fence: marker + flag off -> loud refusal; flag on -> heal
    os.makedirs(f"{ix}/rebucket_pending", exist_ok=True)
    src2 = str(tmp_path / "src2")
    docs.filter(F.col("doc_id") < 5).selectExpr(
        "doc_id + 100000 AS doc_id", "text", "lang", "source", "n_chars"
    ).coalesce(1).write.parquet(src2)
    with pytest.raises(Exception, match="rebucket_pending"):
        text_index_stream_ingest(
            spark, src2, ix, checkpoint_dir=str(tmp_path / "ck2"))
    text_index_stream_ingest(
        spark, src2, ix, checkpoint_dir=str(tmp_path / "ck3"),
        rebucket_on_growth=True)
    assert not os.path.isdir(f"{ix}/rebucket_pending")
    docs2 = docs.unionByName(docs.filter(F.col("doc_id") < 5).selectExpr(
        "doc_id + 100000 AS doc_id", "text", "lang", "source", "n_chars"))
    want2 = [(r["doc_id"], round(r["bm25"], 6))
             for r in bm25_topk(docs2, q, k=10).collect()]
    got2 = [(r["doc_id"], round(r["bm25"], 6))
            for r in bm25_topk_indexed(spark, ix, q, k=10).collect()]
    assert got2 == want2


def test_keep_top_fraction_exact_semantics(spark):
    """ceil(frac*count) per group, rounded-score ranking, id tiebreak;
    frac=1.0 keeps everything; bad frac raises."""
    import pyspark.sql.functions as F

    from filefilter_spark.ops.corpus import keep_top_fraction

    rows = [
        # group a: scores 5 > 4 > 3 > 2 > 1 → ceil(0.4*5)=2 kept
        (1, "a", 5.0), (2, "a", 4.0), (3, "a", 3.0), (4, "a", 2.0),
        (5, "a", 1.0),
        # group b: tie on score → lowest id wins the single slot
        (6, "b", 7.0), (7, "b", 7.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, s double")
    kept = {r["doc_id"] for r in
            keep_top_fraction(df, F.col("s"), 0.4).collect()}
    assert kept == {1, 2, 6}
    assert keep_top_fraction(df, F.col("s"), 1.0).count() == 7
    import pytest as _pytest
    with _pytest.raises(ValueError, match="frac"):
        keep_top_fraction(df, F.col("s"), 0.0)


def test_top_key_shares_detector(spark):
    """The skew detector returns (key, count, share) hottest-first
    with deterministic tie order; empty frame → empty list."""
    from filefilter_spark.ops.skew import top_key_shares

    df = spark.createDataFrame(
        [(0, "x")] * 6 + [(1, "x")] * 3 + [(2, "x")], "k long, v string"
    )
    got = top_key_shares(df, "k", n=2)
    assert got == [((0,), 6, 0.6), ((1,), 3, 0.3)]
    assert top_key_shares(df.limit(0), "k") == []
    # composite keys
    got2 = top_key_shares(df, ["k", "v"], n=1)
    assert got2 == [((0, "x"), 6, 0.6)]


def test_ann_index_persisted_layout_roundtrip(spark, tmp_path):
    """build_ann_index -> ann_topk_indexed equals the in-memory
    ivfpq_topk (the layout is an access path); the probe plan carries
    the cell partition filter; meta sidecar round-trips ints; empty
    corpus refuses at build."""
    import re as _re

    from filefilter_spark.ops.pq import (
        ann_topk_indexed,
        build_ann_index,
        build_ivfpq_index,
        ivfpq_topk,
        load_ann_meta,
    )
    from tests.test_plans import _plan

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter("vec_id = 3").first()["embedding"]]
    ix = str(tmp_path / "annix")
    build_ann_index(emb, ix, n_lists=16, m=8, k=16, iters=1)
    meta = load_ann_meta(spark, ix)
    assert all(isinstance(c, int) for c in meta["cell_counts"])
    assert sum(meta["cell_counts"].values()) == emb.count()
    got = ann_topk_indexed(spark, ix, qv, topk=5, n_probe=4, vectors=emb)
    indexed, books, cents = build_ivfpq_index(
        emb, n_lists=16, m=8, k=16, iters=1
    )
    want = ivfpq_topk(indexed, books, cents, qv, topk=5, n_probe=4,
                      vectors=emb)
    assert ([(r["vec_id"], round(r["dist2"], 9)) for r in got.collect()]
            == [(r["vec_id"], round(r["dist2"], 9)) for r in want.collect()])
    # ADC-only probe (refine=0) prunes to the probed cells' partitions
    plan = _plan(ann_topk_indexed(spark, ix, qv, topk=5, n_probe=4,
                                  refine=0))
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1)
    with pytest.raises(ValueError, match="empty corpus"):
        build_ann_index(emb.limit(0), str(tmp_path / "annix0"))


def test_ann_index_stream_ingest_replay_idempotent(spark, tmp_path):
    """The stream-grown ANN layout under at-least-once REPLAYS across
    all three failure models: (a) a rerun on the durable default
    checkpoint redelivers nothing; (b) a re-drain after CHECKPOINT
    LOSS (fresh checkpoint_dir, files regrouped into one batch) is
    dropped file-by-file by the per-file key guard — neither the meta
    histogram nor the codes table may change; (c) checkpoint loss with
    NEW data arrived ingests exactly the new files once. The on_batch
    hook reports applied=False + a drift signal for replayed batches."""
    import pyspark.sql.functions as F

    from filefilter_spark.ops.pq import (
        ann_topk_indexed,
        build_ann_index,
        load_ann_meta,
    )
    from filefilter_spark.streaming.jobs import ann_index_stream_ingest

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    day1 = emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(10)) < 6)
    day2 = emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(10)).isin(6, 7))
    day3 = emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(10)) >= 8)
    ix, src = str(tmp_path / "ix"), str(tmp_path / "src")
    build_ann_index(day1, ix, n_lists=16, m=8, k=16, iters=1)
    day2.repartition(2).write.parquet(src)
    ann_index_stream_ingest(spark, src, ix, max_files_per_trigger=1)
    meta1 = load_ann_meta(spark, ix)
    assert sum(meta1["cell_counts"].values()) == day1.count() + day2.count()
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    first = [tuple(r) for r in ann_topk_indexed(
        spark, ix, qv, topk=5, n_probe=6, vectors=emb).collect()]
    n_codes = spark.read.parquet(f"{ix}/codes").count()
    # (a) durable default: rerun is a source-level no-op
    ann_index_stream_ingest(spark, src, ix, max_files_per_trigger=1)
    assert spark.read.parquet(f"{ix}/codes").count() == n_codes
    # (b) checkpoint loss: full re-drain, one regrouped batch — the
    # per-file guard must drop every committed file
    batches = []
    ann_index_stream_ingest(spark, src, ix,
                            checkpoint_dir=str(tmp_path / "ckb"),
                            on_batch=batches.append)
    meta2 = load_ann_meta(spark, ix)
    assert meta2["cell_counts"] == meta1["cell_counts"]  # guarded
    assert spark.read.parquet(f"{ix}/codes").count() == n_codes
    assert batches and all(not b["applied"] for b in batches)
    assert all(b["action"] in ("ok", "widen_probe", "rebuild")
               for b in batches)
    second = [tuple(r) for r in ann_topk_indexed(
        spark, ix, qv, topk=5, n_probe=6, vectors=emb).collect()]
    assert second == first
    # (c) checkpoint loss + new data: only day3's file may ingest
    day3.coalesce(1).write.mode("append").parquet(src)
    ann_index_stream_ingest(spark, src, ix,
                            checkpoint_dir=str(tmp_path / "ckc"))
    meta3 = load_ann_meta(spark, ix)
    assert sum(meta3["cell_counts"].values()) == emb.count()
    # store cleanliness: every temp/aside dir from the swap protocol
    # must be gone after the drains (a crash between renames keeps the
    # __old copy BY DESIGN; a clean run must not)
    import os
    leaked = [d for d in os.listdir(ix) if "__tmp" in d or "__old" in d
              or "__compact" in d or "__build" in d]
    assert not leaked, leaked


def test_ann_index_stream_auto_rebuild(spark, tmp_path):
    """The drift loop CLOSES (r16): with ``rebuild_source`` set, the
    ingest loop acts on its own ``action == "rebuild"`` signal —
    temp+swap re-fit over the full corpus, re-sized (n_lists →
    ~sqrt(n)) and re-seeded (kmeanspar) — after which the signal
    re-freezes at ok, every source file is marked applied (no
    double-ingest of files the rebuild already indexed), and the
    sidecar carries the persisted verdict + recommended_n_probe."""
    import numpy as np

    from filefilter_spark.ops.pq import build_ann_index, load_ann_meta
    from filefilter_spark.streaming.jobs import ann_index_stream_ingest

    rng = np.random.default_rng(5)
    dim, n_modes, per = 16, 8, 30

    def mk(centers, id_base):
        rows = []
        for ci, c in enumerate(centers):
            for j in range(per):
                v = c + rng.normal(0, 0.05, size=dim)
                rows.append((id_base + ci * per + j,
                             [float(x) for x in v]))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    df_a = mk(rng.normal(0, 1, size=(n_modes, dim)), 0)
    df_b = mk(rng.normal(0, 1, size=(n_modes, dim)) + 5.0, 10_000)
    corpus_a = str(tmp_path / "corpus_a")
    src = str(tmp_path / "src")
    ix = str(tmp_path / "ix")
    df_a.coalesce(1).write.parquet(corpus_a)
    df_b.repartition(3).write.parquet(src)
    build_ann_index(df_a, ix, n_lists=8, m=8, k=16, iters=1,
                    coarse_iters=4)
    batches = []
    ann_index_stream_ingest(
        spark, src, ix, max_files_per_trigger=1,
        rebuild_source=[corpus_a, src], on_batch=batches.append,
    )
    # the shifted first batch fires the rebuild; every later file was
    # in the rebuild snapshot, so the guard drops it (applied=False)
    assert batches[0]["rebuilt"] and batches[0]["action"] == "ok"
    assert all(not b["applied"] and not b["rebuilt"]
               for b in batches[1:]), batches
    meta = load_ann_meta(spark, ix)
    n_total = df_a.count() + df_b.count()
    assert meta["n_lists"] == max(8, round(n_total ** 0.5))  # re-sized
    assert meta["seeding"] == "kmeanspar"  # re-seeded
    assert meta["last_drift"]["action"] == "ok"  # signal re-frozen
    assert meta["recommended_n_probe"] == 4  # healthy width persisted
    codes = spark.read.parquet(f"{ix}/codes")
    assert codes.select("vec_id").distinct().count() == n_total
    assert codes.count() == n_total  # no double-append either
    # alert-only without rebuild_source: unchanged layout, signal fires
    ix2 = str(tmp_path / "ix2")
    build_ann_index(df_a, ix2, n_lists=8, m=8, k=16, iters=1,
                    coarse_iters=4)
    b2 = []
    ann_index_stream_ingest(spark, src, ix2, on_batch=b2.append)
    assert any(b["action"] == "rebuild" for b in b2)
    assert all(not b["rebuilt"] for b in b2)
    assert load_ann_meta(spark, ix2)["n_lists"] == 8
    import os
    leaked = [d for d in os.listdir(ix) if "__tmp" in d or "__old" in d
              or "__compact" in d or "__build" in d]
    assert not leaked, leaked


def test_text_index_nbuckets_from_sidecar(spark, tmp_path):
    """The stats sidecar records n_buckets at build; probes default to
    it (no parameter to remember), a contradicting explicit value
    raises instead of silently pruning the wrong buckets, and the
    stream ingest refuses to append with a mismatched count
    (ADVICE r14 medium)."""
    import pytest as _pytest

    from filefilter_spark.ops.retrieval import (
        bm25_batch_topk_indexed,
        bm25_topk,
        bm25_topk_indexed,
        build_text_index,
    )
    from filefilter_spark.streaming.jobs import text_index_stream_ingest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ix = str(tmp_path / "ix")
    build_text_index(docs, ix, n_buckets=8)
    assert int(_read_sidecar(spark, f"{ix}/stats")["n_buckets"]) == 8
    terms = ["spark", "merge"]
    scan = [tuple(r) for r in bm25_topk(docs, terms, k=10).collect()]
    # no parameter: the sidecar's value drives the bucket hash
    got = [tuple(r) for r in
           bm25_topk_indexed(spark, ix, terms, k=10).collect()]
    assert got == scan
    # matching explicit value still accepted
    assert [tuple(r) for r in
            bm25_topk_indexed(spark, ix, terms, k=10,
                              n_buckets=8).collect()] == scan
    # contradicting value: loud error, not silent partial results
    with _pytest.raises(ValueError, match="n_buckets=16 contradicts"):
        bm25_topk_indexed(spark, ix, terms, k=10, n_buckets=16).collect()
    with _pytest.raises(ValueError, match="contradicts"):
        bm25_batch_topk_indexed(spark, ix, {"q": terms}, k=10,
                                n_buckets=32).collect()
    # the stream ingest must not append postings hashed differently
    src = str(tmp_path / "in")
    docs.limit(10).write.parquet(src)
    with _pytest.raises(ValueError, match="contradicts"):
        text_index_stream_ingest(spark, src, ix, n_buckets=64)
    # omitted: appends with the recorded value
    text_index_stream_ingest(spark, src, ix)


def test_build_text_index_rebuild_swaps_atomically(spark, tmp_path):
    """Rebuilding a text index over an existing layout stages to temp
    dirs and swaps (r15, the build_ann_index contract): results equal
    a fresh-path build, the sidecar reflects the new corpus and bucket
    count, and no __build/__old dirs leak."""
    import os

    import pyspark.sql.functions as F

    from filefilter_spark.ops.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        build_text_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    ix = str(tmp_path / "ix")
    build_text_index(half, ix, n_buckets=8)
    # refresh in place with the FULL corpus and a different n_buckets
    build_text_index(docs, ix, n_buckets=16)
    stats = _read_sidecar(spark, f"{ix}/stats")
    assert stats["n_docs"] == docs.count()
    assert int(stats["n_buckets"]) == 16
    terms = ["spark", "merge"]
    got = [tuple(r) for r in
           bm25_topk_indexed(spark, ix, terms, k=10).collect()]
    assert got == [tuple(r) for r in bm25_topk(docs, terms, k=10).collect()]
    leaked = [d for d in os.listdir(ix) if "__build" in d or "__old" in d]
    assert not leaked, leaked


def test_build_ann_index_rebuild_swaps_atomically(spark, tmp_path):
    """Rebuilding over an existing layout stages codes/meta in temp
    dirs and swaps (ADVICE r14): results equal a fresh-path build, the
    meta matches the new corpus, built_cell_counts is reset to the new
    build, and no __build/__old dirs leak."""
    import os

    import pyspark.sql.functions as F

    from filefilter_spark.ops.pq import (
        ann_topk_indexed,
        build_ann_index,
        load_ann_meta,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    half = emb.filter(F.col("vec_id") % 2 == 0)
    ix = str(tmp_path / "ix")
    build_ann_index(half, ix, n_lists=16, m=8, k=16, iters=1)
    # refresh in place with the FULL corpus
    build_ann_index(emb, ix, n_lists=16, m=8, k=16, iters=1)
    meta = load_ann_meta(spark, ix)
    assert sum(meta["cell_counts"].values()) == emb.count()
    assert meta["built_cell_counts"] == meta["cell_counts"]  # reset
    fresh = str(tmp_path / "fresh")
    build_ann_index(emb, fresh, n_lists=16, m=8, k=16, iters=1)
    qv = [float(x) for x in emb.filter("vec_id = 5").first()["embedding"]]
    got = [tuple(r) for r in ann_topk_indexed(
        spark, ix, qv, topk=5, n_probe=4, vectors=emb).collect()]
    want = [tuple(r) for r in ann_topk_indexed(
        spark, fresh, qv, topk=5, n_probe=4, vectors=emb).collect()]
    assert got == want
    leaked = [d for d in os.listdir(ix) if "__build" in d or "__old" in d]
    assert not leaked, leaked


def test_lloyd_seeding_modes(spark):
    """seeding='hash'/'kmeanspar' are deterministic and
    partition-invariant (same assignments at any repartition); the
    mode-covering initializer (kmeanspar) spreads seeds across
    separated modes that id-order seeding would miss; unknown modes
    raise."""
    import pytest as _pytest

    from filefilter_spark.ops.cluster import lloyd_kmeans

    # two far-apart modes whose ids are block-ordered (ids 0-19 mode A,
    # 20-39 mode B) — the adversarial case for lowest-id seeding
    rows = [(i, [0.0 + 0.01 * i, 0.0]) for i in range(20)]
    rows += [(20 + i, [50.0 + 0.01 * i, 50.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for seeding in ("hash", "kmeanspar"):
        a = {r["vec_id"]: r["cluster"] for r in
             lloyd_kmeans(df.repartition(1), k=2, iters=2,
                          seeding=seeding).collect()}
        b = {r["vec_id"]: r["cluster"] for r in
             lloyd_kmeans(df.repartition(7), k=2, iters=2,
                          seeding=seeding).collect()}
        assert a == b, seeding
    # the mode-covering initializers must put the two modes in
    # different clusters
    for seeding in ("kmeanspar",):
        got = {r["vec_id"]: r["cluster"] for r in
               lloyd_kmeans(df, k=2, iters=1, seeding=seeding).collect()}
        assert len({got[i] for i in range(20)}) == 1, seeding
        assert len({got[20 + i] for i in range(20)}) == 1, seeding
        assert got[0] != got[20], seeding
    with _pytest.raises(ValueError, match="seeding"):
        lloyd_kmeans(df, k=2, seeding="bogus")


def test_kmeanspar_seeding_covers_many_modes(spark):
    """kmeanspar (deterministic k-means||) matches farthest-first
    seeding's mode coverage at k = mode count — the scenario hash
    seeding loses ~1/e of (coupon collector) and farthest-first pays
    k-1 sequential jobs for —
    and k > distinct rows degrades to all rows (no crash)."""
    import numpy as np

    from filefilter_spark.ops.cluster import lloyd_kmeans

    rng = np.random.default_rng(11)
    k = 8
    rows = []
    for mode in range(k):
        center = [float(20.0 * mode), float(7.0 * (mode % 3))]
        for j in range(12):
            rows.append((
                mode * 12 + j,
                [center[0] + float(rng.normal(0, 0.05)),
                 center[1] + float(rng.normal(0, 0.05))],
            ))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = lloyd_kmeans(df, k=k, iters=2, seeding="kmeanspar").collect()
    by_mode = {}
    for r in got:
        by_mode.setdefault(r["vec_id"] // 12, set()).add(r["cluster"])
    # every mode maps to exactly one cluster and no two modes share one
    assert all(len(cs) == 1 for cs in by_mode.values()), by_mode
    assert len({next(iter(cs)) for cs in by_mode.values()}) == k
    # k above the row count: returns a valid (degenerate) clustering
    tiny = spark.createDataFrame(rows[:3], "vec_id long, embedding array<double>")
    out = lloyd_kmeans(tiny, k=8, iters=1, seeding="kmeanspar").collect()
    assert len(out) == 3


def test_auto_n_probe_widens_with_drift(spark, tmp_path):
    """n_probe='auto' applies the drift policy's widen rule from the
    sidecar alone: 4 cells on a healthy index, 2x under widen_probe,
    3x under rebuild, capped at n_lists — and the indexed probe's plan
    prunes to exactly that many cells."""
    import re as _re

    from filefilter_spark.ops.pq import (
        ann_topk_indexed,
        auto_n_probe,
        build_ann_index,
        load_ann_meta,
    )
    from tests.test_plans import _plan

    built = {str(c): 100 for c in range(16)}
    healthy = {"cell_counts": dict(built), "built_cell_counts": built,
               "centroids": [[0.0]] * 16, "n_lists": 16}
    assert auto_n_probe(healthy) == 4
    # all new mass in one cell -> tv 0.94 -> rebuild -> 3x
    drifted = {
        "cell_counts": {**built, "0": 100 + 800},
        "built_cell_counts": built,
        "centroids": [[0.0]] * 16, "n_lists": 16,
    }
    assert auto_n_probe(drifted) == 12
    assert auto_n_probe(drifted, base=8) == 16  # capped at n_lists

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ix = str(tmp_path / "ix")
    build_ann_index(emb, ix, n_lists=16, m=8, k=16, iters=1)
    qv = [float(x) for x in emb.first()["embedding"]]

    def probed_cells(n_probe):
        plan = _plan(ann_topk_indexed(spark, ix, qv, topk=5,
                                      n_probe=n_probe, refine=0))
        # Spark prints small lists as `IN (a,b)` and rewrites to
        # `INSET a, b, ...` past 10 elements — accept both
        m = _re.search(
            r"PartitionFilters: \[[^\]]*cell[^\]]*?"
            r"(?:IN \(([^)]*)\)|INSET ([^\]]*))\]",
            plan,
        )
        assert m, plan[:1500]
        return len((m.group(1) or m.group(2)).split(","))

    assert probed_cells("auto") == 4  # healthy: base width
    # doctor the sidecar into the drifted state: probe must widen 3x
    meta = load_ann_meta(spark, ix)
    hot = str(next(iter(meta["cell_counts"])))
    doctored = {
        **meta,
        "cell_counts": {
            str(c): n + (8 * sum(meta["cell_counts"].values())
                         if str(c) == hot else 0)
            for c, n in meta["cell_counts"].items()
        },
        "built_cell_counts": {
            str(c): n for c, n in meta["built_cell_counts"].items()
        },
    }
    _write_sidecar(spark, doctored, f"{ix}/meta", "doctored")
    assert probed_cells("auto") == 12


def test_ann_index_drift_signal():
    """ann_index_drift is pure driver arithmetic: TV=0/ok when ingest
    mirrors the build distribution, widen_probe past the TV threshold,
    rebuild on extreme TV or 2x growth, unknown for legacy metas."""
    from filefilter_spark.ops.pq import (
        DRIFT_FRAC_REBUILD,
        DRIFT_TV_REBUILD,
        DRIFT_TV_WIDEN,
        ann_index_drift,
    )

    built = {0: 100, 1: 100, 2: 100, 3: 100}
    same = ann_index_drift(
        {"cell_counts": {c: n + n // 10 for c, n in built.items()},
         "built_cell_counts": built})
    assert same["tv_distance"] == 0.0 and same["action"] == "ok"
    assert same["ingested_frac"] == 0.1
    # all new mass lands in ONE cell the model under-represents
    shifted = ann_index_drift(
        {"cell_counts": {0: 100, 1: 100, 2: 100, 3: 180},
         "built_cell_counts": built})
    assert shifted["tv_distance"] == 0.75  # 1 - 0.25 shared mass
    assert shifted["action"] == "rebuild"
    assert DRIFT_TV_WIDEN < DRIFT_TV_REBUILD <= 0.75
    # moderate drift: half the new mass follows the build, half piles
    # on one cell -> widen the probe
    mid = ann_index_drift(
        {"cell_counts": {0: 110, 1: 110, 2: 110, 3: 150},
         "built_cell_counts": built})
    assert 0 < DRIFT_TV_WIDEN <= mid["tv_distance"] < DRIFT_TV_REBUILD
    assert mid["action"] == "widen_probe"
    # pure growth, same shape: rebuild once ingested >= built
    grown = ann_index_drift(
        {"cell_counts": {c: n * (1 + DRIFT_FRAC_REBUILD) for c, n
                         in built.items()},
         "built_cell_counts": built})
    assert grown["tv_distance"] == 0.0 and grown["action"] == "rebuild"
    # no baseline (pre-r15 layout): signal is honest about not knowing
    legacy = ann_index_drift({"cell_counts": built})
    assert legacy["action"] == "unknown" and legacy["tv_distance"] is None
    # untouched index
    zero = ann_index_drift(
        {"cell_counts": built, "built_cell_counts": built})
    assert zero["tv_distance"] == 0.0 and zero["action"] == "ok"


def test_cluster_pairs_driver_mode_equals_distributed(spark):
    """cluster_pairs' mode crossover (the BPE merge-loop pattern):
    below CC_DRIVER_MAX_EDGES a driver union-find replaces the
    O(diameter) distributed label-propagation jobs. Both modes must
    produce the identical (doc_id, cluster_id) table — including a
    long chain (diameter > 1), a star, self-contained nodes, and
    duplicate/reversed input pairs."""
    pairs = spark.createDataFrame(
        # chain 9-8-7-6, star 1-{2,3,4}, duplicate + reversed edges
        [(8, 9), (7, 8), (6, 7), (1, 2), (1, 3), (4, 1), (2, 1), (1, 2),
         (50, 60)],
        "id_a long, id_b long",
    )
    from filefilter_spark.ops.dedup import cluster_pairs

    drv = sorted((r["doc_id"], r["cluster_id"])
                 for r in cluster_pairs(pairs).collect())
    dist = sorted((r["doc_id"], r["cluster_id"])
                  for r in cluster_pairs(
                      pairs, driver_max_edges=0).collect())
    assert drv == dist
    assert drv == [(1, 1), (2, 1), (3, 1), (4, 1), (6, 6), (7, 6),
                   (8, 6), (9, 6), (50, 50), (60, 50)]


def test_cluster_pairs_driver_arm_reads_pairs_once(spark):
    """The driver arm sizes and fetches its pair list with one bounded
    collect over the persisted distinct pairs — three jobs: the
    distinct's shuffle, the cache build and the collect (a separate
    count used to add two). One edge past ``driver_max_edges`` routes
    the same graph to the distributed arm, with the same clusters."""
    from conftest import jobs_in_group

    from filefilter_spark.ops.dedup import cluster_pairs

    pairs = spark.range(0, 2000, 1, 4).selectExpr(
        "id * 3 AS id_a", "id * 3 + 1 AS id_b")
    drv, n_jobs = jobs_in_group(spark, "cc-2k", lambda: cluster_pairs(pairs))
    assert n_jobs == 3
    assert drv.filter("doc_id != cluster_id").count() == 2000

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 1)], "id_a long, id_b long")
    at_cap, n_cap = jobs_in_group(
        spark, "cc-cap", lambda: cluster_pairs(chain, driver_max_edges=4))
    past, n_past = jobs_in_group(
        spark, "cc-past", lambda: cluster_pairs(chain, driver_max_edges=3))
    assert n_cap == 3 < n_past
    assert sorted(at_cap.collect()) == sorted(past.collect()) == [
        (1, 1), (2, 1), (3, 1), (4, 1)]


def test_centroid_broadcast_path_equals_literal(spark, monkeypatch):
    """Past CENT_LITERAL_MAX_TERMS the assignment expressions read the
    centroid matrix from a one-row broadcast join instead of a plan
    literal (rebuild-grade k ~ sqrt(n) stops compiling as a literal).
    Same arithmetic, same tie-breaking: forcing the broadcast path via
    a tiny threshold must reproduce the literal path row for row, for
    both the Lloyd assignment (also the IVF/PQ encode path) and
    cell_memberships (the SemDeDup loop)."""
    import numpy as np

    import filefilter_spark.ops.cluster as cluster_mod
    from filefilter_spark.ops.cluster import lloyd_kmeans
    from filefilter_spark.ops.similarity import cell_memberships

    rng = np.random.default_rng(5)
    pts = rng.normal(0, 1, size=(120, 6))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(pts)],
        "vec_id long, embedding array<double>")
    cents = [[float(x) for x in c]
             for c in rng.normal(0, 1, size=(8, 6))]

    lit_assign = sorted(
        (r["vec_id"], r["cluster"], r["dist2"])
        for r in lloyd_kmeans(df, k=8, iters=2,
                              seeding="kmeanspar").collect())
    lit_cells = sorted(
        (r["id"], r["cell"])
        for r in cell_memberships(df, cents, n_assign=3).collect())

    from filefilter_spark.ops.pq import fit_pq_codebooks, ivfpq_encode_batch

    books = fit_pq_codebooks(df, m=2, k=4)
    lit_codes = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in ivfpq_encode_batch(
            df, books, cents, residual=True).collect())

    monkeypatch.setattr(cluster_mod, "CENT_LITERAL_MAX_TERMS", 1)
    bc_assign = sorted(
        (r["vec_id"], r["cluster"], r["dist2"])
        for r in lloyd_kmeans(df, k=8, iters=2,
                              seeding="kmeanspar").collect())
    bc_cells = sorted(
        (r["id"], r["cell"])
        for r in cell_memberships(df, cents, n_assign=3).collect())
    bc_codes = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in ivfpq_encode_batch(
            df, books, cents, residual=True).collect())
    assert bc_assign == lit_assign
    assert bc_cells == lit_cells
    assert bc_codes == lit_codes  # residual path: grid-exact either way


def test_semdedup_cell_drift_signal():
    """semdedup_cell_drift is pure driver arithmetic keyed to the
    loop's OWN failure mechanism: capped_mass_frac (share of batch
    memberships in cells the max_cell cap dropped from candidate
    generation) drives the action; TV vs the fit baseline is a trend
    field only — measured (SCALING.md 'SemDeDup drift signal'), a focused
    ingest reads TV ~0.8 with perfect recall, so TV must NOT act."""
    from filefilter_spark.ops.similarity import (
        SEMDEDUP_CAP_REBUILD,
        SEMDEDUP_CAP_WARN,
        semdedup_cell_drift,
    )

    built = {0: 100, 1: 100, 2: 100, 3: 100}
    ok = semdedup_cell_drift(built, {0: 30, 1: 30, 2: 20, 3: 20}, [])
    assert ok["capped_mass_frac"] == 0.0 and ok["action"] == "ok"
    assert ok["tv_distance"] == 0.1
    # the TV false positive, pinned: all batch mass on one uncapped
    # cell -> huge TV, but nothing is outside candidate generation,
    # so the action stays ok (recall is intact by mechanism)
    focused = semdedup_cell_drift(built, {3: 500}, [])
    assert focused["tv_distance"] == 0.75 and focused["action"] == "ok"
    # mass leaking into capped cells: degraded past WARN, rebuild
    # past REBUILD (these memberships are silently out of dedup)
    warn = semdedup_cell_drift(built, {0: 70, 3: 30}, [3])
    assert warn["capped_mass_frac"] == 0.3
    assert SEMDEDUP_CAP_WARN <= 0.3 < SEMDEDUP_CAP_REBUILD
    assert warn["action"] == "degraded"
    hard = semdedup_cell_drift(built, {0: 20, 3: 80}, [3])
    assert hard["capped_mass_frac"] == 0.8 >= SEMDEDUP_CAP_REBUILD
    assert hard["action"] == "rebuild"
    # no fit baseline -> TV honest-None, action still computable
    nobase = semdedup_cell_drift(None, {0: 10, 3: 10}, [3])
    assert nobase["tv_distance"] is None
    assert nobase["capped_mass_frac"] == 0.5
    # empty batch: no mass, no signal
    empty = semdedup_cell_drift(built, {}, [3])
    assert empty["capped_mass_frac"] == 0.0 and empty["action"] == "ok"


def test_semdedup_stream_emits_staleness_signal(spark, tmp_path):
    """The on_batch hook of semdedup_stream_dedup carries the
    staleness wire: capped_mass_frac/action/n_capped_cells per batch,
    plus tv_distance when the fit corpus's membership_histogram is
    handed in as built_cell_counts."""
    import numpy as np

    from filefilter_spark.ops.similarity import (
        build_ivf_index, membership_histogram)
    from filefilter_spark.streaming.jobs import semdedup_stream_dedup

    rng = np.random.default_rng(7)
    centers = rng.normal(0, 1, size=(4, 8))
    pts = np.vstack([c + rng.normal(0, 0.05, size=(30, 8))
                     for c in centers])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(pts)],
        "vec_id long, embedding array<double>")
    _, cents = build_ivf_index(df, n_lists=4, method="lloyd",
                               seeding="kmeanspar")
    baseline = membership_histogram(df, cents, n_assign=1)
    assert sum(baseline.values()) == 120

    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    sig = []
    semdedup_stream_dedup(
        spark, src, cents, threshold=0.999, n_assign=1,
        out_dir=str(tmp_path / "store"), on_batch=sig.append,
        built_cell_counts=baseline)
    assert len(sig) == 1
    s = sig[0]
    # same-distribution ingest against fresh centroids: no capped
    # mass, near-zero TV, action ok
    assert s["capped_mass_frac"] == 0.0 and s["action"] == "ok"
    assert s["n_capped_cells"] == 0
    assert s["tv_distance"] is not None and s["tv_distance"] < 0.25
    assert s["rebuilt"] is False and s["n_lists"] == 4


def test_semdedup_stream_rebuild_on_drift_self_heals(spark, tmp_path):
    """rebuild_on_drift closes the SemDeDup loop: when a batch's
    capped_mass_frac crosses REBUILD (its memberships land in cells
    the max_cell cap dropped — candidates silently lost), the loop
    refits the centroids over the survivor store (kmeanspar, re-sized
    ~sqrt(n)), remaps the cells table temp+swap, re-baselines, and
    the NEXT batch's planted near-dup is caught under the fresh
    model. Tiny mirror of the self-heal scenario in SCALING.md
    'SemDeDup drift signal'."""
    import glob

    import numpy as np

    from filefilter_spark.ops.similarity import build_ivf_index
    from filefilter_spark.streaming.jobs import semdedup_stream_dedup

    rng = np.random.default_rng(11)
    centers_a = rng.normal(0, 1, size=(4, 8))
    # drifted region: packed near A-mode-0 at the same norm scale
    centers_b = centers_a[0] + rng.normal(0, 0.3, size=(4, 8))
    fit = np.vstack([c + rng.normal(0, 0.05, size=(40, 8))
                     for c in centers_a])
    df_fit = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(fit)],
        "vec_id long, embedding array<double>")
    _, cents = build_ivf_index(df_fit, n_lists=4, method="lloyd",
                               seeding="kmeanspar")

    def mk(centers, n_per, base):
        pts = np.vstack([c + rng.normal(0, 0.05, size=(n_per, 8))
                         for c in centers])
        return pts, np.arange(len(pts)) + base

    seed_mat, seed_ids = mk(centers_b, 30, 1000)   # 120 rows, few cells
    b1_mat, b1_ids = mk(centers_b, 10, 2000)       # 40 rows
    dup_mat = b1_mat[:10] + rng.normal(0, 1e-3, size=(10, 8))
    dup_ids = np.arange(10) + 9000

    src = str(tmp_path / "src")
    for mat, ids in ((seed_mat, seed_ids), (b1_mat, b1_ids),
                     (dup_mat, dup_ids)):
        spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in zip(ids, mat)],
            "vec_id long, embedding array<double>",
        ).coalesce(1).write.mode("append").parquet(src)

    sig = []
    survivors = semdedup_stream_dedup(
        spark, src, cents, threshold=0.999, n_assign=1, max_cell=30,
        max_files_per_trigger=1, out_dir=str(tmp_path / "store"),
        on_batch=sig.append, rebuild_on_drift=True)
    assert len(sig) == 3
    # batch 1's mass lands in cells the seed batch over-filled past
    # max_cell=30 -> rebuild fires at that boundary, re-sized >= 4
    assert sig[1]["action"] == "rebuild" and sig[1]["rebuilt"] is True
    assert sig[1]["n_lists"] >= 4
    # batch 2 (the planted dups) assigns under the fresh centroids:
    # caps disengaged, every dup caught against its stored original
    assert sig[2]["action"] == "ok" and sig[2]["rebuilt"] is False
    alive = {int(r["vec_id"]) for r in survivors.collect()}
    assert not (alive & set(int(i) for i in dup_ids))
    # temp+swap left no leftovers; cells dir remapped, still readable
    assert not glob.glob(f"{tmp_path}/store/*__*")
    assert spark.read.parquet(
        f"{tmp_path}/store/cells").count() == len(alive)


def test_ann_batch_probe_plan_prunes_union_cells(spark, tmp_path):
    """The batch ANN probe's single codes read must be partition-pruned
    to the UNION of the queries' probed cells (the one-read-per-batch
    claim), and the shortlist rank must compile to WindowGroupLimit
    (map-side partial top-k, not a full sort)."""
    import re as _re

    import pyspark.sql.functions as F

    from filefilter_spark.ops.pq import ann_batch_topk_indexed, build_ann_index
    from tests.test_plans import _plan

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ix = str(tmp_path / "ix")
    build_ann_index(emb, ix, n_lists=16, m=8, k=16, iters=1)
    queries = {
        f"q{v}": [float(x) for x in
                  emb.filter(F.col("vec_id") == v).first()["embedding"]]
        for v in (0, 7)
    }
    plan = _plan(ann_batch_topk_indexed(spark, ix, queries, topk=5,
                                        n_probe=3, refine=0))
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan[:2000]
    assert "WindowGroupLimit" in plan


def test_fuzzy_index_stream_ingest_exact(spark, tmp_path):
    """The streaming fuzzy-join mirror (r15): build the Ed-Join layout
    on day-1, stream day-2 in multi-file batches — after the drain the
    pairs store must equal edit_distance_pairs over the UNION corpus
    EXACTLY (the frozen gram order keeps prefix filtering lossless;
    the verify is exact), a full re-drain after checkpoint loss must
    change nothing (per-file guard), and new data arriving alongside a
    lost checkpoint ingests once."""
    import pyspark.sql.functions as F

    from filefilter_spark.ops.dedup import (
        build_fuzzy_index,
        edit_distance_pairs,
    )
    from filefilter_spark.streaming.jobs import fuzzy_index_stream_ingest

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", F.expr("substring(text, 1, 24)").alias("s"))
    day1 = docs.filter(F.col("doc_id") % 3 == 0)
    day2 = docs.filter(F.col("doc_id") % 3 == 1)
    day3 = docs.filter(F.col("doc_id") % 3 == 2)
    ix, src = str(tmp_path / "ix"), str(tmp_path / "src")
    build_fuzzy_index(day1, ix, id_col="doc_id", str_col="s",
                      max_dist=3, q=2)
    day2.repartition(2).write.parquet(src)
    batches = []
    got = fuzzy_index_stream_ingest(
        spark, src, ix, id_col="doc_id", str_col="s",
        max_files_per_trigger=1, on_batch=batches.append,
    )
    want = edit_distance_pairs(
        day1.unionByName(day2), id_col="doc_id", str_col="s",
        max_dist=3, q=2,
    )
    got_rows = sorted([(r["id_a"], r["id_b"], r["dist"])
                       for r in got.collect()])
    want_rows = sorted([(r["id_a"], r["id_b"], r["dist"])
                        for r in want.collect()])
    assert got_rows == want_rows and got_rows  # non-trivial pair set
    assert all(b["applied"] for b in batches)
    # staleness signal: day-2 strings share day-1's vocabulary, so the
    # unseen-at-build fraction is small but defined on every batch
    fracs = [b["unseen_gram_frac"] for b in batches]
    assert all(f is not None and 0.0 <= f <= 1.0 for f in fracs), fracs
    # r16: the calibrated action rule + the cost it predicts ride along
    assert all(b["action"] == "ok" for b in batches), batches
    assert all(b["n_candidates"] >= b["n_new_pairs"] for b in batches)
    # checkpoint loss: full re-drain is a per-file-guard no-op
    n_pairs_raw = spark.read.parquet(f"{ix}/pairs").count()
    batches2 = []
    fuzzy_index_stream_ingest(
        spark, src, ix, id_col="doc_id", str_col="s",
        checkpoint_dir=str(tmp_path / "ckb"), on_batch=batches2.append,
    )
    assert spark.read.parquet(f"{ix}/pairs").count() == n_pairs_raw
    assert batches2 and all(not b["applied"] for b in batches2)
    # checkpoint loss + new data: day3's file ingests exactly once and
    # the pair set now equals the batch op over ALL docs
    day3.coalesce(1).write.mode("append").parquet(src)
    got3 = fuzzy_index_stream_ingest(
        spark, src, ix, id_col="doc_id", str_col="s",
        checkpoint_dir=str(tmp_path / "ckc"),
    )
    want3 = edit_distance_pairs(docs, id_col="doc_id", str_col="s",
                                max_dist=3, q=2)
    assert sorted([(r["id_a"], r["id_b"], r["dist"])
                   for r in got3.collect()]) \
        == sorted([(r["id_a"], r["id_b"], r["dist"])
                   for r in want3.collect()])
    stats = _read_sidecar(spark, f"{ix}/stats")
    assert stats["n_strings"] == docs.count()


def test_fuzzy_index_short_store_one_part_per_task(spark, tmp_path):
    """``build_fuzzy_index`` writes ``short/`` with the input's own
    partitioning: a short string in each of 4 input partitions gives
    more than one part file, holding exactly the short strings."""
    import glob

    from filefilter_spark.ops.dedup import build_fuzzy_index

    rows = [(i, f"a{i}" if i % 2 == 0 else f"a longer string {i}")
            for i in range(8)]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), "doc_id long, s string"
    )
    assert [len(p) for p in df.rdd.glom().collect()] == [2, 2, 2, 2]
    ix = str(tmp_path / "ix")
    build_fuzzy_index(df, ix, id_col="doc_id", str_col="s")
    assert len(glob.glob(f"{ix}/short/part-*.parquet")) > 1
    short = spark.read.parquet(f"{ix}/short")
    assert sorted(r["id"] for r in short.collect()) == [0, 2, 4, 6]


def test_build_fuzzy_index_failed_rebuild_keeps_old_layout(
        spark, tmp_path, monkeypatch):
    """A rebuild over an existing layout whose pairs step raises leaves
    the old layout whole: every dir is staged and swapped in only after
    all of them are written, the stats sidecar last, so ``pairs/``,
    ``strings/``, the stats and an ingest probe over the layout read as
    if the rebuild had never started."""
    import os
    import random

    import filefilter_spark.ops.dedup as dedup
    from filefilter_spark.streaming.jobs import fuzzy_index_stream_ingest

    rng = random.Random(11)

    def word(n):
        return "".join(rng.choice("abcdef") for _ in range(n))

    schema = "doc_id long, s string"
    old = [(i, word(12)) for i in range(30)]
    old += [(100 + i, old[i][1][:-1] + "z") for i in range(6)]
    ix = str(tmp_path / "ix")
    dedup.build_fuzzy_index(spark.createDataFrame(old, schema), ix,
                            max_dist=2, q=2, n_buckets=8)

    def snapshot():
        return (
            sorted(tuple(r) for r in spark.read.parquet(f"{ix}/pairs").collect()),
            sorted(tuple(r) for r in spark.read.parquet(f"{ix}/strings").collect()),
            _read_sidecar(spark, f"{ix}/stats"),
        )

    before = snapshot()
    assert before[0] and before[2]["n_strings"] == len(old)

    def boom(*args, **kwargs):
        raise RuntimeError("pairs step failed")

    monkeypatch.setattr(dedup, "_pairs_from_fuzzy_layout", boom)
    new = [(1000 + i, word(9)) for i in range(20)]
    with pytest.raises(RuntimeError, match="pairs step failed"):
        dedup.build_fuzzy_index(spark.createDataFrame(new, schema), ix,
                                max_dist=2, q=2, n_buckets=4)
    monkeypatch.undo()
    assert snapshot() == before
    assert not [d for d in os.listdir(ix) if "__old" in d]

    # the probe: an ingest over the kept layout equals the batch op
    src = str(tmp_path / "src")
    arrived = [(200 + i, old[i][1][:-2] + "zz") for i in range(5)]
    _arrivals(spark, src, [arrived], schema)
    got = fuzzy_index_stream_ingest(spark, src, ix, id_col="doc_id",
                                    str_col="s")
    want = dedup.edit_distance_pairs(
        spark.createDataFrame(old + arrived, schema), max_dist=2, q=2)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect())


def test_fuzzy_index_stream_rebuild_on_drift(spark, tmp_path):
    """rebuild_on_drift closes the fuzzy loop: an all-new-vocabulary
    batch reads unseen_gram_frac 1.0 -> action rebuild -> the loop
    re-derives gramdf+postings from the strings store at the batch
    boundary. Pairs stay EXACT throughout (order changes candidate
    cost, never results); the next same-vocabulary batch reads
    unseen_frac 0 under the refreshed order; a rebuild_pending marker
    left by a mid-swap crash heals when the flag is on and refuses
    loudly when it is off."""
    import glob
    import os

    import pyspark.sql.functions as F  # noqa: F401

    from filefilter_spark.ops.dedup import (
        build_fuzzy_index,
        edit_distance_pairs,
    )
    from filefilter_spark.streaming.jobs import fuzzy_index_stream_ingest

    def df_of(rows):
        return spark.createDataFrame(rows, "doc_id long, s string")

    # vocab A (lowercase) for the build; vocab B (uppercase/digits,
    # 2-gram-disjoint from A) for the drifted stream, with planted
    # near-dup pairs inside each tier
    def up(i):  # digit-free suffix: B shares NO 2-gram with A
        return "".join(chr(65 + int(c)) for c in f"{i:03d}")

    rows_a = [(i, f"alpha beta gam {i:03d}") for i in range(30)]
    rows_b1 = [(100 + i, f"QRSTUVWXYZ{up(i)}") for i in range(20)]
    rows_b2 = [(200 + i, f"QRSTUVWXYZ{up(i)}X") for i in range(10)]

    ix = str(tmp_path / "ix")
    build_fuzzy_index(df_of(rows_a), ix, id_col="doc_id", str_col="s",
                      max_dist=2, q=2)

    src1 = str(tmp_path / "src1")
    df_of(rows_b1).coalesce(1).write.parquet(src1)
    sig = []
    got = fuzzy_index_stream_ingest(
        spark, src1, ix, id_col="doc_id", str_col="s",
        on_batch=sig.append, rebuild_on_drift=True,
    )
    assert sig[-1]["unseen_gram_frac"] >= 0.6
    assert sig[-1]["action"] == "rebuild" and sig[-1]["rebuilt"] is True
    want = edit_distance_pairs(
        df_of(rows_a + rows_b1), id_col="doc_id", str_col="s",
        max_dist=2, q=2)
    assert sorted((r["id_a"], r["id_b"]) for r in got.collect()) == \
        sorted((r["id_a"], r["id_b"]) for r in want.collect())
    # swap hygiene: marker cleared, no tmp leftovers
    assert not os.path.isdir(f"{ix}/rebuild_pending")
    assert not glob.glob(f"{ix}/*__rebuildtmp")

    # the refreshed order has absorbed vocab B: a same-vocabulary
    # follow-up batch is no longer unseen, and stays exact
    src2 = str(tmp_path / "src2")
    df_of(rows_b2).coalesce(1).write.parquet(src2)
    sig2 = []
    got2 = fuzzy_index_stream_ingest(
        spark, src2, ix, id_col="doc_id", str_col="s",
        checkpoint_dir=str(tmp_path / "ck2"),
        on_batch=sig2.append, rebuild_on_drift=True,
    )
    assert sig2[-1]["unseen_gram_frac"] <= 0.05
    assert sig2[-1]["action"] == "ok" and sig2[-1]["rebuilt"] is False
    want2 = edit_distance_pairs(
        df_of(rows_a + rows_b1 + rows_b2), id_col="doc_id",
        str_col="s", max_dist=2, q=2)
    assert sorted((r["id_a"], r["id_b"]) for r in got2.collect()) == \
        sorted((r["id_a"], r["id_b"]) for r in want2.collect())

    # crash fence: a dangling rebuild_pending marker refuses loudly
    # without the flag, heals (and ingests) with it
    os.makedirs(f"{ix}/rebuild_pending", exist_ok=True)
    src3 = str(tmp_path / "src3")
    df_of([(300, "QRSTUVWXYZHHH")]).coalesce(1).write.parquet(src3)
    with pytest.raises(Exception, match="rebuild_pending"):
        fuzzy_index_stream_ingest(
            spark, src3, ix, id_col="doc_id", str_col="s",
            checkpoint_dir=str(tmp_path / "ck3"),
        )
    got3 = fuzzy_index_stream_ingest(
        spark, src3, ix, id_col="doc_id", str_col="s",
        checkpoint_dir=str(tmp_path / "ck4"), rebuild_on_drift=True,
    )
    assert not os.path.isdir(f"{ix}/rebuild_pending")
    want3 = edit_distance_pairs(
        df_of(rows_a + rows_b1 + rows_b2 + [(300, "QRSTUVWXYZHHH")]),
        id_col="doc_id", str_col="s", max_dist=2, q=2)
    assert sorted((r["id_a"], r["id_b"]) for r in got3.collect()) == \
        sorted((r["id_a"], r["id_b"]) for r in want3.collect())


def test_fuzzy_index_staleness_rule():
    """The fuzzy action thresholds (SCALING.md 'Fuzzy staleness
    signal'): measured blowup stays <=
    ~baseline through unseen_frac 0.18 and reads ~6x baseline at 1.0 —
    0.30/0.60 split those points with margin."""
    from filefilter_spark.streaming.jobs import (
        FUZZY_UNSEEN_REBUILD,
        FUZZY_UNSEEN_WARN,
        fuzzy_index_staleness,
    )

    assert fuzzy_index_staleness(None) == "unknown"
    assert fuzzy_index_staleness(0.0) == "ok"
    assert fuzzy_index_staleness(0.176) == "ok"  # measured p=0.75 point
    assert fuzzy_index_staleness(FUZZY_UNSEEN_WARN) == "selectivity_degraded"
    assert fuzzy_index_staleness(0.45) == "selectivity_degraded"
    assert fuzzy_index_staleness(FUZZY_UNSEEN_REBUILD) == "rebuild"
    assert fuzzy_index_staleness(1.0) == "rebuild"  # measured 6x point


def test_fuzzy_index_stream_on_batch_figures_pinned(spark, tmp_path):
    """Pins the fuzzy on_batch figures on a fixed seeded two-batch
    input: n_candidates counts raw candidate collision rows, and the
    second batch's mostly-unseen vocabulary moves unseen_gram_frac
    past FUZZY_UNSEEN_WARN (but not FUZZY_UNSEEN_REBUILD), so its
    action reads selectivity_degraded while the first reads ok."""
    import random
    import time

    from filefilter_spark.ops.dedup import build_fuzzy_index
    from filefilter_spark.streaming.jobs import (
        FUZZY_UNSEEN_REBUILD,
        FUZZY_UNSEEN_WARN,
        fuzzy_index_stream_ingest,
    )

    rng = random.Random(20)
    low, up = "abcdefgh", "QRSTUVWX"

    def word(alpha, n):
        return "".join(rng.choice(alpha) for _ in range(n))

    def mutate(s):
        i = rng.randrange(len(s))
        return s[:i] + rng.choice(low) + s[i + 1:]

    base = [(i, word(low, 14)) for i in range(40)]
    b1 = ([(100 + i, mutate(base[i][1])) for i in range(12)]
          + [(120 + i, word(low, 14)) for i in range(4)])
    b2 = ([(200 + i, word(low, 3) + word(up, 11)) for i in range(10)]
          + [(220 + i, mutate(base[20 + i][1])) for i in range(4)])
    schema = "doc_id long, s string"
    ix, src = str(tmp_path / "ix"), str(tmp_path / "src")
    build_fuzzy_index(spark.createDataFrame(base, schema), ix,
                      id_col="doc_id", str_col="s", max_dist=2, q=2,
                      n_buckets=16)
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src)
    time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append").parquet(src)
    sig = []
    got = fuzzy_index_stream_ingest(
        spark, src, ix, id_col="doc_id", str_col="s",
        max_files_per_trigger=1, on_batch=sig.append)
    keys = ("batch_id", "n_in", "n_new_pairs", "n_candidates",
            "n_buckets_probed", "unseen_gram_frac", "action")
    assert [tuple(b[k] for k in keys) for b in sig] == [
        (0, 16, 12, 284, 15, 0.0, "ok"),
        (1, 14, 4, 162, 16, 0.421875, "selectivity_degraded"),
    ]
    assert sig[0]["unseen_gram_frac"] < FUZZY_UNSEEN_WARN
    assert (FUZZY_UNSEEN_WARN <= sig[1]["unseen_gram_frac"]
            < FUZZY_UNSEEN_REBUILD)
    assert got.count() == sum(b["n_new_pairs"] for b in sig) == 16


def _arrivals(spark, src, batches, schema):
    """Write each of ``batches`` as one parquet file under ``src``, with
    increasing mtimes, so every drain sees the same batch order."""
    import glob
    import os

    seen = set()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append").parquet(src)
        for f in set(glob.glob(f"{src}/part-*")) - seen:
            os.utime(f, (1_700_000_000 + 10 * i,) * 2)
            seen.add(f)


@pytest.mark.parametrize("loop", ["fuzzy", "minhash"])
def test_ingest_on_batch_costs_no_jobs(spark, tmp_path, loop):
    """An ingest batch observes its on_batch figures on the store
    appends it already runs, so a drain launches the same Spark jobs
    with and without the hook. The figures stay exact: a replayed
    minhash drain (every row killed by its stored self) still counts
    each batch's rows in and none surviving."""
    import random

    from conftest import jobs_between_markers

    from filefilter_spark.streaming.jobs import (
        fuzzy_index_stream_ingest, minhash_stream_dedup)

    rng = random.Random(7)

    def word(n):
        return "".join(rng.choice("abcdef") for _ in range(n))

    src = str(tmp_path / "src")
    if loop == "fuzzy":
        from filefilter_spark.ops.dedup import build_fuzzy_index

        base = [(i, word(12)) for i in range(30)]
        # batch 1 pairs with the store; batch 2 is one string of grams
        # no other string holds, so it has no candidate at all
        _arrivals(spark, src, [
            [(100 + i, base[i][1][:-1] + "z") for i in range(8)],
            [(200, "QRSTUVWXYZQP")],
        ], "doc_id long, s string")

        def drain(d, hook):
            if not (tmp_path / d).exists():
                build_fuzzy_index(
                    spark.createDataFrame(base, "doc_id long, s string"),
                    str(tmp_path / d), id_col="doc_id", str_col="s",
                    max_dist=2, q=2, n_buckets=8)
            return jobs_between_markers(spark, lambda: fuzzy_index_stream_ingest(
                spark, src, str(tmp_path / d), id_col="doc_id", str_col="s",
                max_files_per_trigger=1, on_batch=hook))
    else:
        texts = [" ".join(word(3) for _ in range(12)) for _ in range(10)]
        _arrivals(spark, src, [
            [(i, t) for i, t in enumerate(texts)],
            [(100 + i, t + " " + word(3)) for i, t in enumerate(texts[:5])]
            + [(200, " ".join(word(3) for _ in range(12)))],
        ], "doc_id long, text string")

        def drain(d, hook):
            return jobs_between_markers(spark, lambda: minhash_stream_dedup(
                spark, src, threshold=0.5, max_files_per_trigger=1,
                out_dir=str(tmp_path / d), on_batch=hook))

    _, bare = drain("bare", None)
    sig = []
    got, hooked = drain("hooked", sig.append)
    assert bare == hooked > 0
    assert [b["batch_id"] for b in sig] == [0, 1]
    assert [b["n_in"] for b in sig] == ([8, 1] if loop == "fuzzy" else [10, 6])
    if loop == "fuzzy":
        assert sig[0]["n_candidates"] >= sig[0]["n_new_pairs"] == got.count() > 0
        assert (sig[1]["n_candidates"], sig[1]["n_new_pairs"]) == (0, 0)
    else:
        assert sum(b["n_survived"] for b in sig) == got.count() < 16
        replay = []
        drain("hooked", replay.append)
        assert [(b["n_in"], b["n_survived"]) for b in replay] == [
            (10, 0), (6, 0)]


def test_ivfpq_stream_ingest_rerun_appends_nothing(spark, tmp_path, sf_dir):
    """A second ivfpq_stream_ingest over the same input and out_dir
    must leave the single-call code table: the applied-keys sidecar
    (under the hidden out_dir/_applied) drops every committed file,
    though the tmpfs checkpoint is gone and the re-drain renumbers
    batches from 0."""
    from filefilter_spark.ops.pq import build_ivfpq_index
    from filefilter_spark.queries.registry import load_table
    from filefilter_spark.streaming.jobs import ivfpq_stream_ingest

    emb = load_table(spark, sf_dir, "embeddings")
    _, books, cents = build_ivfpq_index(emb, n_lists=8, m=8, k=16, iters=0)
    src, out = str(tmp_path / "src"), str(tmp_path / "codes")
    emb.repartition(2).write.parquet(src)

    def table():
        return sorted((r["vec_id"], r["cell"], tuple(r["codes"]))
                      for r in spark.read.parquet(out).collect())

    ivfpq_stream_ingest(spark, src, books, cents,
                        max_files_per_trigger=1, out_dir=out)
    once = table()
    assert len(once) == emb.count()
    ivfpq_stream_ingest(spark, src, books, cents,
                        max_files_per_trigger=1, out_dir=out)
    assert table() == once


def _crash_case(spark, tmp_path, sf_dir, loop):
    """(run, read) for one ingest loop over a three-file arrival dir:
    ``run(d)`` drains it one file per batch into the store at ``d``
    (building the ANN/fuzzy layout first when ``d`` is new) and
    returns the loop's result; ``read(d, result)`` is the loop's
    documented read path, as plain Python values."""
    import glob
    import os

    from filefilter_spark.queries.registry import load_table
    from filefilter_spark.streaming import jobs

    src = str(tmp_path / "src")

    def arrivals(df):
        df.repartition(3).write.parquet(src)
        # distinct mtimes -> the same batch order on every drain
        for i, f in enumerate(sorted(glob.glob(f"{src}/part-*"))):
            os.utime(f, (1_700_000_000 + 10 * i,) * 2)

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    one = {"max_files_per_trigger": 1}
    if loop == "ivfpq":
        from filefilter_spark.ops.pq import build_ivfpq_index

        _, books, cents = build_ivfpq_index(emb, n_lists=8, m=8, k=16,
                                            iters=0)
        arrivals(emb)
        return (
            lambda d: jobs.ivfpq_stream_ingest(
                spark, src, books, cents, out_dir=d, **one),
            # readers dedupe ids (dedup_ids=True)
            lambda d, res: sorted(
                (r["vec_id"], r["cell"], tuple(r["codes"]))
                for r in res.dropDuplicates(["vec_id"]).collect()),
        )
    if loop == "minhash":
        arrivals(docs.select("doc_id", "text"))
        return (
            lambda d: jobs.minhash_stream_dedup(
                spark, src, threshold=0.5, shingle_n=3, out_dir=d, **one),
            lambda d, res: sorted(r["doc_id"] for r in res.collect()),
        )
    if loop == "semdedup":
        from filefilter_spark.ops.similarity import build_ivf_index

        _, cents = build_ivf_index(emb, n_lists=16, method="lloyd")
        arrivals(emb)
        return (
            lambda d: jobs.semdedup_stream_dedup(
                spark, src, cents, threshold=0.45, out_dir=d, **one),
            lambda d, res: sorted(r["vec_id"] for r in res.collect()),
        )
    if loop == "text":
        from filefilter_spark.ops.retrieval import bm25_topk_indexed

        arrivals(docs)

        def read_text(d, res):
            st = _read_sidecar(spark, f"{d}/stats")
            return (st["n_docs"], st["sum_dl"], [
                tuple(r) for r in bm25_topk_indexed(
                    spark, d, ["spark", "merge", "data"], k=10).collect()])

        return (
            lambda d: jobs.text_index_stream_ingest(
                spark, src, d, n_buckets=8, **one),
            read_text,
        )
    day1 = F.pmod(F.xxhash64("doc_id" if loop == "fuzzy" else "vec_id"),
                  F.lit(2)) == 0
    if loop == "ann":
        from filefilter_spark.ops.pq import (
            ann_topk_indexed, build_ann_index, load_ann_meta)

        arrivals(emb.filter(~day1))
        qv = [float(x) for x in
              emb.filter("vec_id = 0").first()["embedding"]]

        def run_ann(d):
            if not os.path.isdir(d):
                build_ann_index(emb.filter(day1), d, n_lists=8, m=8, k=16,
                                iters=1)
            return jobs.ann_index_stream_ingest(spark, src, d, **one)

        return run_ann, lambda d, res: (
            load_ann_meta(spark, d)["cell_counts"],
            [tuple(r) for r in ann_topk_indexed(
                spark, d, qv, topk=5, n_probe=4, vectors=emb).collect()],
        )
    from filefilter_spark.ops.dedup import build_fuzzy_index

    strs = docs.select("doc_id", F.expr("substring(text, 1, 24)").alias("s"))
    arrivals(strs.filter(~day1))

    def run_fuzzy(d):
        if not os.path.isdir(d):
            build_fuzzy_index(strs.filter(day1), d, id_col="doc_id",
                              str_col="s", max_dist=3, q=2)
        return jobs.fuzzy_index_stream_ingest(
            spark, src, d, id_col="doc_id", str_col="s", **one)

    return run_fuzzy, lambda d, res: (
        _read_sidecar(spark, f"{d}/stats")["n_strings"],
        sorted(tuple(r) for r in res.collect()),
    )


@pytest.mark.parametrize(
    "loop", ["ivfpq", "minhash", "semdedup", "text", "ann", "fuzzy"])
def test_stream_ingest_crash_before_commit_replays_exact(
        spark, tmp_path, sf_dir, monkeypatch, loop):
    """The one crash-and-replay contract of the six ingest loops: batch
    1 fails at the store core's single commit point — after its store
    appends (both appends for the dedup loops), before its sidecar
    commit — then the same call reruns over the same store, and the
    loop's documented read path returns what an uncrashed run does."""
    from filefilter_spark.streaming import jobs

    run, read = _crash_case(spark, tmp_path, sf_dir, loop)
    clean = str(tmp_path / "clean")
    want = read(clean, run(clean))

    real_commit = jobs._IndexStore.commit
    armed = [True]

    def commit(self, batch_id, row=None):
        if armed[0] and batch_id == 1:
            armed[0] = False
            raise RuntimeError("injected crash before the commit")
        return real_commit(self, batch_id, row)

    monkeypatch.setattr(jobs._IndexStore, "commit", commit)
    crashed = str(tmp_path / "crashed")
    with pytest.raises(Exception, match="injected crash"):
        run(crashed)
    assert not armed[0]
    assert read(crashed, run(crashed)) == want


def test_ivfpq_batch_topk_equals_query_loop(spark, tmp_path):
    """The batch ANN probe must return EXACTLY what N single-query
    ivfpq_topk calls return (same probe order, ADC folds, auto-refine
    sizing, rerank ranking) — the batch shape is an access-path
    optimization (one pruned read), not a different operator. Also:
    rrf_fuse_batch per query == rrf_fuse on the per-query lists, and
    ADC-only mode (refine=0) matches too."""
    import pyspark.sql.functions as F

    from filefilter_spark.ops.pq import (
        ann_batch_topk_indexed,
        build_ann_index,
        ivfpq_topk,
        load_ann_meta,
    )
    from filefilter_spark.ops.retrieval import (
        ranked,
        rrf_fuse,
        rrf_fuse_batch,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ix = str(tmp_path / "ix")
    build_ann_index(emb, ix, n_lists=16, m=8, k=16, iters=1)
    meta = load_ann_meta(spark, ix)
    codes = spark.read.parquet(f"{ix}/codes")
    queries = {
        f"q{v}": [float(x) for x in
                  emb.filter(F.col("vec_id") == v).first()["embedding"]]
        for v in (0, 3, 9)
    }
    got = ann_batch_topk_indexed(
        spark, ix, queries, topk=5, n_probe=4, vectors=emb
    )
    by_q = {q: [] for q in queries}
    for r in got.orderBy("q_id", "rank").collect():
        by_q[r["q_id"]].append((r["vec_id"], round(r["dist2"], 9)))
    for q, vec in queries.items():
        want = [
            (r["vec_id"], round(r["dist2"], 9))
            for r in ivfpq_topk(
                codes, meta["codebooks"], meta["centroids"], vec,
                topk=5, n_probe=4, vectors=emb,
                scale=meta["scale"], cell_counts=meta["cell_counts"],
                dedup_ids=True,
            ).collect()
        ]
        assert by_q[q] == want, q
    # ADC-only shortlists match the single-query ADC ranking
    adc = ann_batch_topk_indexed(spark, ix, queries, topk=5, n_probe=4,
                                 refine=0)
    for q, vec in queries.items():
        want_adc = [
            (r["vec_id"], round(r["adc"], 9))
            for r in ivfpq_topk(
                codes, meta["codebooks"], meta["centroids"], vec,
                topk=5, n_probe=4, refine=0, scale=meta["scale"],
                dedup_ids=True,
            ).collect()
        ]
        got_adc = [
            (r["vec_id"], round(r["adc"], 9))
            for r in adc.filter(F.col("q_id") == q)
            .orderBy("rank").collect()
        ]
        assert got_adc == want_adc, q
    # batch fusion == per-query fusion
    nn = got.withColumnRenamed("vec_id", "doc_id")
    bm_rows = [(q, d, float(5 - i))
               for q in queries for i, d in enumerate([1, 2, 3, 4, 5])]
    bm = spark.createDataFrame(
        bm_rows, "q_id string, doc_id long, bm25 double"
    )
    from pyspark.sql import Window as _W

    w_bm = bm.withColumn(
        "rank",
        F.row_number().over(
            _W.partitionBy("q_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
        ),
    )
    fused = rrf_fuse_batch(w_bm, nn, id_col="doc_id", k=4)
    for q in queries:
        a = ranked(bm.filter(F.col("q_id") == q), "bm25", "doc_id")
        b = nn.filter(F.col("q_id") == q).select("doc_id", "rank")
        want_f = [
            (r["doc_id"], r["rrf_score"])
            for r in rrf_fuse(a, b, id_col="doc_id", k=4).collect()
        ]
        got_f = [
            (r["doc_id"], r["rrf_score"])
            for r in fused.filter(F.col("q_id") == q)
            .orderBy("rank").collect()
        ]
        assert got_f == want_f, q


@pytest.mark.parametrize("residual", [False, True], ids=["plain", "residual"])
def test_ivfpq_batch_topk_equals_query_loop_in_memory(spark, residual):
    """The batch/single equality over an in-memory index probed WITHOUT
    a cell histogram: both sides size their auto-refine shortlist from
    the grouped count over the probed cells, and with residual codes
    both build one ADC table per probed cell. Auto-refine (dist2) and
    ADC-only (refine=0) rankings match per query."""
    import pyspark.sql.functions as F

    from filefilter_spark.ops.pq import (
        build_ivfpq_index,
        ivfpq_batch_topk,
        ivfpq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = {
        f"q{r['vec_id']}": [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(0, 3, 9)).collect()
    }
    indexed, books, cents = build_ivfpq_index(
        emb, n_lists=16, m=8, k=16, iters=0, residual=residual
    )
    for refine, score in ((None, "dist2"), (0, "adc")):
        batch = ivfpq_batch_topk(
            indexed, books, cents, queries, topk=5, n_probe=4,
            refine=refine, vectors=emb, residual=residual,
        )
        by_q = {q: [] for q in queries}
        for r in batch.orderBy("q_id", "rank").collect():
            by_q[r["q_id"]].append((r["vec_id"], round(r[score], 9)))
        for q, vec in queries.items():
            want = [
                (r["vec_id"], round(r[score], 9))
                for r in ivfpq_topk(
                    indexed, books, cents, vec, topk=5, n_probe=4,
                    refine=refine, vectors=emb, residual=residual,
                ).collect()
            ]
            assert by_q[q] == want, (refine, q)


def test_keep_top_fraction_skewed_equals_plain(spark):
    """The count-based two-phase form (score-class counting + radix
    select on the straddling class) must keep EXACTLY the plain
    window's set — including a constant-score group (every row in the
    straddling class, pure id radix select), heavy score ties, and
    negative ids (sign-flip digit order)."""
    import random

    import pyspark.sql.functions as F

    from filefilter_spark.ops.corpus import (
        keep_top_fraction,
        keep_top_fraction_skewed,
    )

    random.seed(3)
    rows = []
    for i in range(1500):
        g = "hot" if i % 10 else f"g{i % 5}"
        s = 0.5 if g == "g3" else round(
            random.choice([0.1, 0.2, 0.2, 0.9, random.random()]), 6)
        rows.append((i, g, s))
    rows += [(-i - 1, "neg", round(random.random(), 3)) for i in range(100)]
    # null score class, null group, and a null id: all REAL classes in
    # the plain window form — the skewed form's null-safe joins must
    # keep them (a plain column-list join silently dropped them)
    rows += [(9000 + i, "hot", None) for i in range(30)]
    rows += [(9900 + i, None, 0.7) for i in range(20)]
    rows += [(None, "nullid", 0.5), (12000, "nullid", 0.5),
             (12001, "nullid", 0.1)]
    df = spark.createDataFrame(rows, "doc_id long, source string, s double")
    key = lambda x: (x is None, x if x is not None else 0)  # noqa: E731
    for frac in (0.3, 1.0, 0.001):
        want = sorted((r["doc_id"] for r in
                       keep_top_fraction(df, F.col("s"), frac).collect()),
                      key=key)
        got = sorted((r["doc_id"] for r in
                      keep_top_fraction_skewed(df, F.col("s"),
                                               frac).collect()),
                     key=key)
        assert got == want, f"frac={frac}"


def test_keep_top_fraction_skewed_requires_integral_id(spark):
    import pyspark.sql.functions as F
    import pytest as _pytest

    from filefilter_spark.ops.corpus import keep_top_fraction_skewed

    df = spark.createDataFrame([("x", "a", 1.0)],
                               "doc_id string, source string, s double")
    with _pytest.raises(ValueError, match="integral"):
        keep_top_fraction_skewed(df, F.col("s"), 0.5)


def test_keep_top_fraction_skewed_plan_has_no_corpus_window(spark, sf_dir):
    """No window may rank corpus rows: every Window node in the plan
    must consume aggregated counter rows (post-HashAggregate) or the
    radix residue, and the corpus reaches the result only through
    broadcast joins. Pinned structurally: each Window's input columns
    are counter-schema (__c / __cum / __n counts), never the text
    column."""
    import re as _re

    import pyspark.sql.functions as F

    from filefilter_spark.ops.corpus import keep_top_fraction_skewed
    from tests.test_plans import _plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(keep_top_fraction_skewed(docs, F.length("text"), 0.3))
    # formatted detail: "(N) Window\nInput [k]: [cols]"
    for m in _re.finditer(r"\(\d+\) Window\s*\nInput \[\d+\]: \[([^\]]*)\]",
                          plan):
        cols = m.group(1)
        assert "text" not in cols, cols


def test_cluster_balanced_sample_caps_and_reproduces(spark):
    """Every cell is capped at per_cluster; two runs pick the SAME
    ids (hash rank, not RNG); ids are a subset of the kmeans cells
    they claim."""
    from filefilter_spark.ops.cluster import (
        cluster_balanced_sample,
        lloyd_kmeans,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    s1 = cluster_balanced_sample(emb, k=4, iters=1, per_cluster=10)
    rows = s1.collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cluster"], set()).add(r["vec_id"])
    assert all(len(v) <= 10 for v in by_cell.values())
    assert len(by_cell) >= 2  # the corpus spans multiple cells
    s2 = {(r["vec_id"], r["cluster"])
          for r in cluster_balanced_sample(emb, k=4, iters=1,
                                           per_cluster=10).collect()}
    assert {(r["vec_id"], r["cluster"]) for r in rows} == s2
    cells = {(r["vec_id"], r["cluster"])
             for r in lloyd_kmeans(emb, k=4, iters=1).collect()}
    assert {(r["vec_id"], r["cluster"]) for r in rows} <= cells
