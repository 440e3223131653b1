"""Plan-shape contracts for the scale-critical queries.

These tests pin the *physical plan properties* that make the engine
viable at 100 TB — filter pushdown reaching the parquet scan, column
pruning, map-side partial aggregation, broadcast (not shuffle) joins
for dimension tables, shuffle-free top-k, and the single-shuffle as-of
join. A refactor that silently regresses one of these still returns
correct rows at test SF, so value checks alone would never catch it;
the plan string is the only observable.

Each helper asserts on `explain("formatted")` output, the same surface
a human would inspect.
"""

import re

import pytest


def _plan(df) -> str:
    jdf = df._jdf
    mode = jdf.sparkSession().sparkContext()  # noqa: F841  (keep py4j refs alive)
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    return jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _shuffle_count(plan: str) -> int:
    """Shuffle exchanges only — BroadcastExchange is cheap by design."""
    return len(re.findall(r"\n\s*(?:\+|:)- Exchange ", plan))


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as E

    return E.queries()


def test_q1_pushdown_pruning_partial_agg(spark, sf_dir, queries):
    plan = _plan(queries["OP-B12"](spark, sf_dir))
    # predicate reaches the parquet scan, not a post-scan Filter only
    assert "LessThanOrEqual(l_shipdate" in plan
    # column pruning: the 16-column table scans only the 7 needed
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert "l_comment" not in cols and len(cols) <= 7
    # partial (map-side) + final aggregate around one shuffle
    assert len(re.findall(r"HashAggregate", plan)) >= 2
    assert _shuffle_count(plan) == 1


def test_topk_is_take_ordered_no_shuffle(spark, sf_dir, queries):
    plan = _plan(queries["OP-B22"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert _shuffle_count(plan) == 0  # no global sort exchange


def test_dim_join_is_broadcast(spark, sf_dir, queries):
    plan = _plan(queries["OP-B5"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_multiway_join_all_broadcast_one_shuffle(spark, sf_dir, queries):
    plan = _plan(queries["OP-B11"](spark, sf_dir))
    tree = plan.split("\n\n")[0]  # operator tree, without the details section
    assert len(re.findall(r"BroadcastHashJoin", tree)) == 3
    assert _shuffle_count(plan) == 1  # only the final aggregate shuffles


def test_range_join_is_banded_not_nested_loop(spark, sf_dir, queries):
    plan = _plan(queries["OP-B9"](spark, sf_dir))
    # the banded rewrite turns the theta join into an equi-join on band
    # keys; a NestedLoop here is quadratic at scale
    assert "NestedLoop" not in plan
    assert "Generate" in plan  # band explode feeding the equi-join


def test_asof_join_is_single_shuffle_no_join(spark, sf_dir, queries):
    plan = _plan(queries["OP-B10"](spark, sf_dir))
    # union + window strategy: one shuffle, zero join operators — the
    # alternative (range join) explodes at scale
    assert _shuffle_count(plan) == 1
    assert "Join" not in plan
    assert "Window" in plan


def test_exact_dedup_shuffles_keys_not_bodies(spark, sf_dir, queries):
    plan = _plan(queries["OP-D1"](spark, sf_dir))
    # partial+final agg: the shuffle carries fingerprints, and document
    # bodies never cross the wire
    assert len(re.findall(r"HashAggregate", plan)) >= 2
    assert _shuffle_count(plan) == 1


def test_cosine_topk_no_shuffle(spark, sf_dir, queries):
    plan = _plan(queries["OP-D3"](spark, sf_dir))
    # narrow map + per-partition top-k merged on the driver: zero
    # shuffles regardless of corpus size
    assert "TakeOrderedAndProject" in plan
    assert _shuffle_count(plan) == 0


def test_projection_prunes_to_exact_columns(spark, sf_dir, queries):
    plan = _plan(queries["OP-B1"](spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(","))
    assert cols == ["l_extendedprice", "l_linenumber", "l_orderkey", "l_quantity"]


def test_hash_split_and_mix_no_shuffle(spark, sf_dir, queries):
    """Split and mixing are pure projections/filters — any Exchange in
    their plan means the reproducibility story (partition-independent
    assignment) silently became a shuffle cost."""
    for op in ("OP-D7-split", "OP-D7-mix"):
        plan = _plan(queries[op](spark, sf_dir))
        assert _shuffle_count(plan) == 0, op


def test_pack_sequences_single_shard_shuffle(spark, sf_dir, queries):
    plan = _plan(queries["OP-D7-pack"](spark, sf_dir))
    # one Exchange on the shard key feeding the running-total window
    assert _shuffle_count(plan) == 1
    assert "hashpartitioning(source" in plan


def test_contamination_benchmark_broadcasts(spark, sf_dir, queries):
    plan = _plan(queries["OP-D7-contamination"](spark, sf_dir))
    # the benchmark shingle set must arrive via broadcast, not shuffle;
    # the hit-marking join is a broadcast LEFT OUTER so one aggregation
    # yields both the posting count and the hit count (single corpus pass)
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan


def test_partitioned_read_prunes_partitions(spark, sf_dir, queries):
    """The event_type filter must become a PartitionFilter on the scan
    (directory pruning), not a post-scan row filter — the difference
    between reading one partition and reading 100 TB."""
    plan = _plan(queries["OP-A9-partitioned"](spark, sf_dir))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1)


def test_quota_sample_compiles_to_window_group_limit(spark, sf_dir, queries):
    plan = _plan(queries["OP-D7-quota"](spark, sf_dir))
    # rank<=N must push into WindowGroupLimit (O(quota) memory per
    # group), not materialize full per-group sorts
    assert "WindowGroupLimit" in plan
    # and it must appear TWICE — Partial (before the Exchange: each
    # map partition pre-prunes every group to quota rows, so a hot
    # group ships <= quota x partitions rows, Catalyst's built-in
    # two-phase skew absorption for rank-limit windows) + Final. This
    # is why the quota/dedupbest YAML stages need no `skewed:` salting
    # route (r16, SCALING.md "window-skew tier") — losing the partial
    # node would reopen the straggler.
    assert plan.count("WindowGroupLimit") >= 2, plan.count("WindowGroupLimit")
    assert plan.count("Exchange (") - plan.count("BroadcastExchange (") == 1


def test_line_dedup_two_narrow_shuffles(spark, sf_dir, queries):
    plan = _plan(queries["OP-D2-lines"](spark, sf_dir))
    # one shuffle on the line hash, one on doc_id for reassembly; the
    # totals join must broadcast, not shuffle
    assert plan.count("Exchange (") - plan.count("BroadcastExchange (") == 2
    assert "BroadcastHashJoin" in plan
    # the rn=1 filter pushes into WindowGroupLimit on both sides of the
    # hash shuffle (partial + final)
    assert "WindowGroupLimit" in plan


def test_chunking_is_shuffle_free(spark, sf_dir, queries):
    plan = _plan(queries["OP-D7-chunk"](spark, sf_dir))
    # pure projection + generate: chunking must not shuffle at all
    assert plan.count("Exchange (") == 0


def test_duplicate_spans_partial_agg_two_shuffles(spark, sf_dir, queries):
    # one explode feeding a map-combining aggregation: partial
    # HashAggregates below each Exchange; count_distinct(doc_id) adds
    # the standard two-phase distinct — never more than 2 shuffles,
    # and span bodies only cross after within-partition collapse.
    plan = _plan(queries["OP-D2-spans"](spark, sf_dir))
    assert _shuffle_count(plan) <= 2
    assert len(re.findall(r"HashAggregate", plan)) >= 4  # partial+final x2


def test_perplexity_all_jvm_broadcast_scoring(spark, sf_dir, queries):
    # The round-6 contract for the bigram LM: NO Python anywhere in
    # the plan (the round-5 Arrow fold was the measured scale-killer),
    # scoring via broadcast hash-join, and the only shuffle is the
    # final per-doc aggregation.
    plan = _plan(queries["OP-D4-perplexity"](spark, sf_dir))
    assert not re.findall(
        r"BatchEvalPython|ArrowEval|MapInPandas|FlatMapGroupsInPandas", plan
    )
    assert "BroadcastHashJoin" in plan
    assert _shuffle_count(plan) == 1


def test_keep_best_window_group_limit_narrow_argmax(spark, sf_dir, queries):
    # The quality-argmax must prune to rank 1 inside WindowGroupLimit
    # (O(1) state per fingerprint group), and the window's shuffle must
    # carry the narrow (id, fp, score) projection — document bodies
    # join back by id AFTER the winner is chosen.
    plan = _plan(queries["OP-D1-keepbest"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    # Partial + Final: each map partition pre-prunes to ONE row per
    # fingerprint before the shuffle, so even a fingerprint holding
    # half the corpus ships <= 1 row per partition — the argmax is
    # skew-proof without salting (r16 measured finding; see
    # test_quota_sample_compiles_to_window_group_limit)
    assert plan.count("WindowGroupLimit") >= 2, plan.count("WindowGroupLimit")
    m = re.search(r"Arguments: hashpartitioning\(__fp[^\n]*", plan)
    assert m is not None  # the only hash shuffle key is the fingerprint


def test_temperature_sample_filter_is_shuffle_free(spark, sf_dir, queries):
    # After the (eager, tiny) count agg derives the rates, the applied
    # gate is a pure projection + filter: zero exchanges in the plan.
    plan = _plan(queries["OP-D7-temperature"](spark, sf_dir))
    assert plan.count("Exchange (") == 0


def test_random_projection_no_shuffle_no_python(spark, sf_dir, queries):
    # JL projection is a per-row fold against literal matrix columns:
    # no Exchange, no Python eval node, scan pruned to (id, vector).
    plan = _plan(queries["OP-D3-project"](spark, sf_dir))
    assert plan.count("Exchange (") == 0
    assert not re.findall(r"BatchEvalPython|ArrowEval|MapInPandas", plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert "label" not in m.group(1)


def test_bpe_pair_counts_partial_agg_topk(spark, sf_dir, queries):
    # Both aggregations (word histogram, pair counts) must be
    # map-side combined, and the top-20 must compile to
    # TakeOrderedAndProject — no global sort exchange.
    plan = _plan(queries["OP-D4-bpe"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert _shuffle_count(plan) == 2
    assert len(re.findall(r"HashAggregate", plan)) >= 4


# --- cross-stage Catalyst contract (pipeline.py module docstring) ----------
#
# The engine's core architectural advantage over the reference's
# per-stage DuckDB materialization (filefilter.py:342): a multi-stage
# YAML pipeline folds into ONE logical plan, so Catalyst optimizes
# ACROSS stage boundaries. These tests pin exactly how far that goes in
# each metrics mode — promised since round 1, asserted here.


@pytest.fixture()
def _three_stage_pipeline(spark, tmp_path):
    """textstats → sql filter on SCANNED columns → split, over a
    5-column parquet where only 4 columns are ever used."""
    import yaml

    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"some text {i} here", "en" if i % 3 else "fr",
          float(i % 10) / 10.0, "x" * 20) for i in range(200)],
        "doc_id bigint, text string, lang string, score double, extra string",
    ).write.parquet(src)
    cfg = {"filters": [
        {"name": "stats", "actionType": "textstats",
         "actionConfig": {"textField": "text"}},
        {"name": "filt", "actionType": "sql",
         "code": "SELECT doc_id, text, lang, score FROM df "
                 "WHERE lang = 'en' AND score > 0.5"},
        {"name": "split", "actionType": "split",
         "actionConfig": {"idField": "doc_id"}},
    ]}
    cpath = tmp_path / "pipeline.yml"
    cpath.write_text(yaml.safe_dump(cfg))
    return src, str(cpath)


def test_pipeline_unobserved_filter_reaches_scan(spark, _three_stage_pipeline):
    """observe_metrics=False: the stage-2 SQL filter must land in the
    parquet scan's PushedFilters, the scan must read only the 4 used
    columns (stage-1's computed textstats columns never evaluated), and
    the whole 3-stage pipeline must fuse join-free/exchange-free."""
    from filefilter_spark.io import read_input
    from filefilter_spark.pipeline import Pipeline

    src, cpath = _three_stage_pipeline
    p = Pipeline.from_yaml(spark, cpath, observe_metrics=False)
    out = p.run(read_input(spark, src)).df
    plan = _plan(out)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    assert "EqualTo(lang,en)" in pushed
    assert "GreaterThan(score,0.5)" in pushed
    cols = sorted(c.split(":")[0] for c in
                  re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1).split(","))
    assert cols == ["doc_id", "lang", "score", "text"]
    assert _shuffle_count(plan) == 0
    assert "CollectMetrics" not in plan
    # values unchanged by the optimization mode
    assert out.count() == sum(1 for i in range(200) if i % 3 and i % 10 > 5)


def test_pipeline_observed_prunes_but_pins_counts(spark, _three_stage_pipeline):
    """Default mode: CollectMetrics is transparent to column pruning
    (same 4-column ReadSchema — stage-1's computed columns are still
    never evaluated) but correctly fences the filter above stage 1's
    counter, and the observed per-stage counts are the pre/post-filter
    row counts the fence exists to protect."""
    from filefilter_spark.io import read_input
    from filefilter_spark.pipeline import Pipeline

    src, cpath = _three_stage_pipeline
    p = Pipeline.from_yaml(spark, cpath)
    res = p.run(read_input(spark, src))
    plan = _plan(res.df)
    cols = sorted(c.split(":")[0] for c in
                  re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1).split(","))
    assert cols == ["doc_id", "lang", "score", "text"]
    assert plan.count("CollectMetrics") >= 3
    # the filter stayed ABOVE stage 1's counter: scan-level pushdown
    # of lang/score would change stage 1's observed count
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed is None or "EqualTo(lang,en)" not in pushed.group(1)
    n_match = sum(1 for i in range(200) if i % 3 and i % 10 > 5)
    assert res.df.count() == n_match
    counts = [m.rows_out for m in res.harvest_metrics()]
    assert counts == [200, n_match, n_match]


def test_observe_metrics_yaml_and_cli_surface(spark, _three_stage_pipeline, tmp_path):
    """The 100 TB mode must be reachable where configs are written:
    top-level `observeMetrics: false` in YAML selects the unobserved
    plan (filter pushed to the scan, zero CollectMetrics); an explicit
    Python-API argument overrides the YAML; the CLI's
    --no-observe-metrics maps to that override."""
    import yaml

    from filefilter_spark.cli import build_parser
    from filefilter_spark.io import read_input
    from filefilter_spark.pipeline import Pipeline

    src, cpath = _three_stage_pipeline
    cfg = yaml.safe_load(open(cpath))
    cfg["observeMetrics"] = False
    c2 = tmp_path / "pipeline_unobserved.yml"
    c2.write_text(yaml.safe_dump(cfg))

    p = Pipeline.from_yaml(spark, str(c2))
    assert p.observe_metrics is False
    plan = _plan(p.run(read_input(spark, src)).df)
    assert "CollectMetrics" not in plan
    assert "EqualTo(lang,en)" in re.search(
        r"PushedFilters: \[([^\]]*)\]", plan).group(1)

    # explicit API argument beats the YAML key...
    assert Pipeline.from_yaml(
        spark, str(c2), observe_metrics=True).observe_metrics is True
    # ...and the CLI flag produces exactly that override (False), while
    # an absent flag defers to the YAML (None)
    args = build_parser().parse_args(
        [src, str(c2), "out.csv", "--no-observe-metrics"])
    assert (False if args.no_observe_metrics else None) is False


def test_gopher_rep_plan_shape(spark, sf_dir, queries):
    # r12: the char-fraction repetition battery is a pure per-row
    # projection — ONE column-pruned corpus scan, no join, no window,
    # no aggregation exchange. The only exchange permitted is the
    # small-input round-robin rebalance (raw (id, text) rows, fires
    # iff input splits < cores — a no-op at cluster scale).
    plan = _plan(queries["OP-D4-gopher-rep"](spark, sf_dir))
    assert "SortMergeJoin" not in plan and "Join" not in plan
    assert "Window" not in plan
    assert "HashAggregate" not in plan
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(scans) == 1, plan.count("Scan parquet")
    for s in scans:
        cols = {c.split(":")[0] for c in s.split(",")}
        assert cols <= {"doc_id", "text"}, cols
    assert _shuffle_count(plan) <= 1
    assert "hashpartitioning" not in plan.lower()


def test_jaccard_pair_generation_is_codegen(spark, sf_dir, queries):
    # the pair kernel (_chunked_list_pairs) is MODE-ROUTED — the
    # grouped posting frame goes through session.lineage_cut, one
    # bounded job reads max(list size), and the plan contains ONLY the
    # branch the data needs. Pin both modes at the kernel surface:
    from filefilter_spark.ops.dedup import _PAIR_CHUNK, _chunked_list_pairs

    # all-small input -> the zero-extra-exchange in-place explode: no
    # Union, no round-robin spread, no per-pair slice materialization
    small = spark.createDataFrame(
        [(list(range(7)),), (list(range(40, 44)),)], "ds array<bigint>"
    )
    p_small = _plan(_chunked_list_pairs(small, "ds"))
    assert "Union" not in p_small, p_small
    assert "roundrobin" not in p_small.lower(), p_small
    assert "explode(__ds" in p_small
    assert "slice(" not in p_small

    # any oversize list -> the hybrid: 3-branch Union, exactly one
    # round-robin spread exchange kind for the chunk work units, and
    # the small branch still the in-place explode of the raw list
    # (chunk slicing operates on the sorted __sds copy only)
    big = spark.createDataFrame(
        [(list(range(_PAIR_CHUNK + 9)),), ([1, 2, 3],)], "ds array<bigint>"
    )
    p_big = _plan(_chunked_list_pairs(big, "ds"))
    assert len(re.findall(r"\(\d+\) Union", p_big)) == 1, p_big
    assert "roundrobin" in p_big.lower(), p_big
    assert len(set(re.findall(r"RoundRobinPartitioning\(\d+\)", p_big))) == 1
    assert "explode(__ds" in p_big
    assert "slice(ds" not in p_big and "transform(ds" not in p_big

    # and the OP-D2 entry's final plan holds ZERO parquet scans: the
    # corpus is tokenized exactly once BELOW the eager checkpoint
    # (posting rows carry doc sizes, so Jaccard needs no corpus
    # rejoin) — the strongest read-once pin available now that the
    # pair kernel truncates lineage
    plan = _plan(queries["OP-D2"](spark, sf_dir))
    assert "Scan parquet" not in plan, plan
    assert "hashpartitioning" in plan.lower()  # the pair-count agg


def test_gopher_stage_plans_bound_expression_duplication(spark, sf_dir):
    # r12 regression pin: Catalyst's predicate pushdown substitutes
    # project aliases into filter conditions with NO cost check, so a
    # stage that filters on `keep` over an alias-staged battery
    # inlines the gram/tokenize construction into every reference
    # site — an early r12 draft hit 80 split() copies in the gopherrep
    # stage plan (500 docs took minutes). The batteries now bind every
    # multiply-referenced intermediate as a lambda variable (_bind),
    # opaque to all rewrites; the residual split() copies are one per
    # self-contained battery reference (filter condition + output),
    # bounded regardless of consumer shape.
    from filefilter_spark.config import StageConfig
    from filefilter_spark.stages.corpus_stage import (
        GopherRepStage, GopherStage,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for cls, at, bound in [(GopherStage, "gopher", 12),
                           (GopherRepStage, "gopherrep", 15)]:
        st = cls(spark, StageConfig(name="g", action_type=at))
        plan = st.apply(docs)._jdf.queryExecution().executedPlan().toString()
        n = plan.count("split(")
        assert n <= bound, f"{at}: {n} split() copies in plan (> {bound})"


def test_ivfpq_probe_is_filter_plus_take_ordered(spark, sf_dir):
    # r11: the composed-index probe must stay a pruned scan + heap
    # top-k — a cell filter feeding TakeOrderedAndProject, zero
    # shuffle exchanges (the cell filter compiles to partition pruning
    # once the index is persisted partitionBy(cell)).
    from filefilter_spark.ops.pq import build_ivfpq_index, ivfpq_topk
    from filefilter_spark.queries.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = [float(x) for x in
         emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    indexed, books, cents = build_ivfpq_index(
        emb, n_lists=16, m=8, k=16, iters=0)
    # persist the codes the way production would, so the probe plan is
    # over the stored representation, not the build pipeline
    import tempfile

    out = tempfile.mkdtemp(prefix="ivfpq_plan_")
    indexed.write.partitionBy("cell").mode("overwrite").parquet(out)
    codes = spark.read.parquet(out)
    plan = _plan(ivfpq_topk(codes, books, cents, q, topk=10, n_probe=4,
                            refine=0))
    assert "TakeOrderedAndProject" in plan
    assert _shuffle_count(plan) == 0
    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), (
        "probe filter did not reach partition pruning")
