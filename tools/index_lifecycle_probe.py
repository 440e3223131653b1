"""Build-vs-probe decomposition for the r14 persisted-index entries.

The registry rows OP-D4-bm25-indexed/-batch-indexed, OP-A8-annindex,
and OP-D3-hybrid-indexed REBUILD their index every invocation (the
oracle harness needs self-contained builders), so their bench ratios
are build-dominated — the same shape OP-D4-qualityclf had before its
r12 fit/score decomposition. This probe splits the lifecycle the way
a deployment actually runs it: build ONCE, then probe repeatedly.

Prints one line per phase (min of 3 for probes, single shot for
builds) and writes the ``index-lifecycle`` section of SCALING.md.

Usage: python tools/index_lifecycle_probe.py [sf_dir]
Scratch: /tmp/spark_graft_ixlife (rebuilt each run).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCRATCH = "/tmp/spark_graft_ixlife"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from filefilter_spark.ops.pq import ann_topk_indexed, build_ann_index
    from filefilter_spark.ops.retrieval import (
        bm25_batch_topk_indexed,
        bm25_topk,
        bm25_topk_indexed,
        build_text_index,
        ranked,
        rrf_fuse,
    )
    from filefilter_spark.queries.extensions import (
        _BM25_BATCH_QUERIES,
        _BM25_TERMS,
        _query_vec,
    )
    from filefilter_spark.queries.registry import load_table
    from filefilter_spark.session import get_spark

    spark = get_spark("index_lifecycle_probe")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    tix, aix = f"{SCRATCH}/text", f"{SCRATCH}/ann"

    def once(fn):
        t0 = time.time()
        fn()
        return time.time() - t0

    def probe(fn, reps: int = 3):
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            fn().collect()
            best = min(best, time.time() - t0)
        return best

    r = {}
    r["text_build"] = once(lambda: build_text_index(docs, tix, n_buckets=64))
    r["ann_build"] = once(
        lambda: build_ann_index(emb, aix, n_lists=16, m=8, k=16, iters=1)
    )
    r["bm25_scan"] = probe(lambda: bm25_topk(docs, list(_BM25_TERMS), k=10))
    r["bm25_probe"] = probe(
        lambda: bm25_topk_indexed(spark, tix, list(_BM25_TERMS), k=10)
    )
    r["batch_probe"] = probe(
        lambda: bm25_batch_topk_indexed(spark, tix, _BM25_BATCH_QUERIES, k=5)
    )
    r["ann_probe"] = probe(
        lambda: ann_topk_indexed(spark, aix, qv, topk=10, n_probe=4,
                                 vectors=emb)
    )

    def hybrid():
        bm = ranked(
            bm25_topk_indexed(spark, tix, list(_BM25_TERMS), k=20),
            "bm25", "doc_id",
        )
        import pyspark.sql.functions as F

        nn = ann_topk_indexed(spark, aix, qv, topk=20, n_probe=4,
                              vectors=emb).select(
            F.col("vec_id").alias("doc_id"), "dist2"
        )
        return rrf_fuse(bm, ranked(nn, "dist2", "doc_id", ascending=True),
                        id_col="doc_id", k=10)

    r["hybrid_probe"] = probe(hybrid)

    # ---- batch-vs-loop economics (r15): the batch probes' claim is
    # "one pruned read serves every query" — price N=5 queries through
    # the batch op against 5 single-query probes on the same layouts.
    from filefilter_spark.ops.pq import ann_batch_topk_indexed

    five_vecs = {f"q{v}": _query_vec(spark, sf_dir, v) for v in range(5)}
    r["ann_batch5"] = probe(lambda: ann_batch_topk_indexed(
        spark, aix, five_vecs, topk=10, n_probe=4, vectors=emb))

    def ann_loop5():
        last = None
        for v in five_vecs.values():
            last = ann_topk_indexed(spark, aix, v, topk=10, n_probe=4,
                                    vectors=emb)
            last.collect()
        return last

    r["ann_loop5"] = probe(ann_loop5)

    # ---- stream-grown equivalents (r15, VERDICT r14 #5): the
    # deployment path is build-once + ingest-forever, so the table
    # must price probes against a STREAM-GROWN store, fragmented vs
    # compacted, plus the fuzzy loop's growth curve.
    import pyspark.sql.functions as F

    from filefilter_spark.ops.dedup import build_fuzzy_index
    from filefilter_spark.ops.layout import (
        _n_data_files,
        _swap_dirs,
        maybe_compact,
    )
    from filefilter_spark.streaming.jobs import (
        ann_index_stream_ingest,
        fuzzy_index_stream_ingest,
        text_index_stream_ingest,
    )

    def n_files_partitioned(path: str) -> int:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        tot = 0
        for st in fs.listStatus(p):
            if st.isDirectory():
                tot += _n_data_files(spark, str(st.getPath()))
        return tot

    def compact(path: str, pcol: str, sort_cols: list) -> None:
        tmp = f"{path}__compact"
        if maybe_compact(spark, path, tmp, pcol, sort_cols,
                         max_files_per_partition=1):
            _swap_dirs(spark, path, tmp, "probe")

    half_a = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    half_b = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    stix = f"{SCRATCH}/stext"
    src_t = f"{SCRATCH}/stext_in"
    build_text_index(half_a, stix, n_buckets=64)
    half_b.repartition(8).write.parquet(src_t)
    r["text_ingest_8b"] = once(lambda: text_index_stream_ingest(
        spark, src_t, stix, max_files_per_trigger=1))
    frag_t = n_files_partitioned(f"{stix}/postings")
    r["bm25_probe_grown_frag"] = probe(
        lambda: bm25_topk_indexed(spark, stix, list(_BM25_TERMS), k=10))
    r["text_compact"] = once(
        lambda: compact(f"{stix}/postings", "bucket", ["term", "doc_id"]))
    comp_t = n_files_partitioned(f"{stix}/postings")
    r["bm25_probe_grown_compacted"] = probe(
        lambda: bm25_topk_indexed(spark, stix, list(_BM25_TERMS), k=10))

    emb_a = emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(2)) == 0)
    emb_b = emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(2)) == 1)
    saix = f"{SCRATCH}/sann"
    src_a = f"{SCRATCH}/sann_in"
    build_ann_index(emb_a, saix, n_lists=16, m=8, k=16, iters=1)
    emb_b.repartition(8).write.parquet(src_a)
    r["ann_ingest_8b"] = once(lambda: ann_index_stream_ingest(
        spark, src_a, saix, max_files_per_trigger=1))
    frag_a = n_files_partitioned(f"{saix}/codes")
    r["ann_probe_grown_frag"] = probe(
        lambda: ann_topk_indexed(spark, saix, qv, topk=10, n_probe=4,
                                 vectors=emb))
    r["ann_compact"] = once(
        lambda: compact(f"{saix}/codes", "cell", ["vec_id"]))
    comp_a = n_files_partitioned(f"{saix}/codes")
    r["ann_probe_grown_compacted"] = probe(
        lambda: ann_topk_indexed(spark, saix, qv, topk=10, n_probe=4,
                                 vectors=emb))

    # fuzzy growth curve: per-batch wall seconds as the store grows
    keys = docs.select(
        "doc_id", F.expr("substring(text, 1, 24)").alias("s")
    )
    fz_a = keys.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) < 7)
    fz_b = keys.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) >= 7)
    fzix = f"{SCRATCH}/fuzzy"
    src_f = f"{SCRATCH}/fuzzy_in"
    r["fuzzy_build_70pct"] = once(lambda: build_fuzzy_index(
        fz_a, fzix, id_col="doc_id", str_col="s", max_dist=3, q=2))
    fz_b.repartition(6).write.parquet(src_f)
    fb = []
    r["fuzzy_ingest_6b"] = once(lambda: fuzzy_index_stream_ingest(
        spark, src_f, fzix, id_col="doc_id", str_col="s",
        max_files_per_trigger=1, on_batch=fb.append))
    fuzzy_curve = [round(b["seconds"], 2) for b in fb if b["applied"]]

    out = {k: round(v, 3) for k, v in r.items()}
    out["postings_files_frag_vs_compacted"] = [frag_t, comp_t]
    out["codes_files_frag_vs_compacted"] = [frag_a, comp_a]
    out["fuzzy_batch_seconds"] = fuzzy_curve
    print(json.dumps({"sf_dir": sf_dir, **out}), flush=True)

    lines = [
        "## Index lifecycle: build once, probe repeatedly (r14)",
        "",
        f"The persisted-index registry rows rebuild per invocation (the",
        "oracle harness needs self-contained builders), so their bench",
        "ratios are BUILD-dominated — the qualityclf shape, decomposed",
        f"here the way a deployment runs it (`tools/index_lifecycle_probe.py`,",
        f"{sf_dir}, builds single-shot, probes min-of-3):",
        "",
        "| phase | cost | amortization |",
        "|---|---|---|",
        f"| inverted-index build | {out['text_build']:.2f}s | once per corpus (re)build |",
        f"| IVF×PQ build (16 cells, m=8) | {out['ann_build']:.2f}s | once per corpus (re)build |",
        f"| BM25 corpus scan (baseline) | {out['bm25_scan']:.2f}s | every query |",
        f"| BM25 indexed probe | {out['bm25_probe']:.2f}s | every query — pruned bucket read |",
        f"| batch BM25 indexed probe (3 queries) | {out['batch_probe']:.2f}s | one pruned read per BATCH |",
        f"| ANN indexed probe (+exact rerank) | {out['ann_probe']:.2f}s | every query — pruned cell read |",
        f"| hybrid probe (both indexes, RRF) | {out['hybrid_probe']:.2f}s | every query, zero corpus scans |",
        f"| ANN BATCH probe, 5 queries in one pruned read | {out['ann_batch5']:.2f}s | one read per batch |",
        f"| …the same 5 queries as a single-probe loop | {out['ann_loop5']:.2f}s | 5 reads + 5 rerank jobs |",
        f"| text ingest, 8 micro-batches onto a half-built index | {out['text_ingest_8b']:.2f}s | per ingest cycle |",
        f"| BM25 probe on the STREAM-GROWN index, fragmented ({out['postings_files_frag_vs_compacted'][0]} files) | {out['bm25_probe_grown_frag']:.2f}s | every query |",
        f"| … after compaction ({out['postings_files_frag_vs_compacted'][1]} files, {out['text_compact']:.2f}s rewrite) | {out['bm25_probe_grown_compacted']:.2f}s | every query |",
        f"| ANN ingest, 8 micro-batches onto a half-built index | {out['ann_ingest_8b']:.2f}s | per ingest cycle |",
        f"| ANN probe on the STREAM-GROWN index, fragmented ({out['codes_files_frag_vs_compacted'][0]} files) | {out['ann_probe_grown_frag']:.2f}s | every query |",
        f"| … after compaction ({out['codes_files_frag_vs_compacted'][1]} files, {out['ann_compact']:.2f}s rewrite) | {out['ann_probe_grown_compacted']:.2f}s | every query |",
        f"| fuzzy build (70% of corpus) | {out['fuzzy_build_70pct']:.2f}s | once per corpus (re)build |",
        f"| fuzzy ingest, 6 micro-batches (growth curve below) | {out['fuzzy_ingest_6b']:.2f}s | per ingest cycle |",
        "",
        f"Fuzzy per-batch seconds against the growing store: "
        f"{out['fuzzy_batch_seconds']} — the slope is the thing to",
        "watch: each batch pays (batch prefix × matching postings) +",
        "a candidate-bounded string fetch, so a flat-ish curve means",
        "the Ed-Join bound is holding as the store grows.",
        "",
        "At sf0.1 the corpus is small enough that a scan rivals the probe",
        "— the scheduler floor dominates both. The structural claim is",
        "what scales: the probe reads |query terms| buckets / n_probe",
        "cells (plan-pinned partition pruning, tests/test_retrieval.py",
        "and test_ops.py) while the scan reads the corpus, so at 100 TB",
        "the probe cost is unchanged and the scan is off the table. The",
        "registry rows' ratios price build+probe together; this table is",
        "the per-query cost a deployment pays after amortizing the build.",
        "Stream-grown rows (r15): ingest fragments the partitioned",
        "stores (one file per batch per partition); the compaction",
        "crossover is visible above — probe cost tracks FILE COUNT, not",
        "row count, so `maintain_every` pays for itself as soon as the",
        "per-partition file count outruns the scheduler floor.",
    ]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from tools.mdsect import replace_section

    replace_section(os.path.join(repo, "SCALING.md"), "index-lifecycle",
                    "\n".join(lines))
    print("wrote SCALING.md (index-lifecycle section)")


if __name__ == "__main__":
    main()
