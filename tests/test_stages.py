"""Stage semantics tests — SURVEY.md §1.5 error/drop contract, schema
inference/preservation (§1.2/§1.3), and each stage type."""

import datetime

import pyspark.sql.functions as F
import pytest

from filefilter_spark.config import ConfigError, load_config_str
from filefilter_spark.pipeline import Pipeline


def run_yaml(spark, df, yaml_text):
    return Pipeline(spark, load_config_str(yaml_text)).run(df).df


# --- python stage (OP-A5) --------------------------------------------------


def test_python_keep_on_error(spark):
    """Exception in user code keeps the ORIGINAL row (filefilter.py:56-65)."""
    df = spark.createDataFrame([(1, "ok"), (2, None), (3, "ok")], "id int, s string")
    out = run_yaml(spark, df, """
filters:
  - name: upper
    actionType: python
    code: |
      row['s'] = row['s'].upper()   # raises AttributeError on None
""")
    rows = {r["id"]: r["s"] for r in out.collect()}
    assert rows == {1: "OK", 2: None, 3: "OK"}


def test_python_errors_counted_once_under_eager_stage(spark):
    """The error count is observed with the row count: the eager
    ``expect`` aggregate runs the python stage once and the caller's
    count runs it again, and both counters still read one pass."""
    df = spark.range(100).selectExpr("id", "IF(id % 4 = 0, NULL, 'ok') AS s")
    result = Pipeline(spark, load_config_str("""
filters:
  - name: upper
    actionType: python
    code: |
      row['s'] = row['s'].upper()   # raises AttributeError on None
  - name: gate
    actionType: expect
    actionConfig: {minRows: 1}
""")).run(df)
    assert result.df.count() == 100
    upper = result.harvest_metrics()[0]
    assert (upper.rows_out, upper.errors) == (100, 25)


def test_python_uncoercible_value_keeps_original_row(spark):
    """The schema sample (first 100 rows) never sees ``'n/a'``, so ``n``
    stays bigint; the rows that put a string there keep their originals
    and count as errors instead of failing the job."""
    df = spark.range(1000).selectExpr("id", "CAST(id AS BIGINT) AS n")
    result = Pipeline(spark, load_config_str("""
filters:
  - name: late_type
    actionType: python
    code: |
      if row['id'] >= 500:
          row['n'] = 'n/a'
""")).run(df)
    rows = result.df.collect()
    assert dict(result.df.dtypes)["n"] == "bigint"
    assert len(rows) == 1000
    assert all(r["n"] == r["id"] for r in rows)
    assert result.harvest_metrics()[0].errors == 500


def test_python_uncoercible_original_row_names_stage_and_column(spark):
    """When the kept original row does not fit the output type either
    (the sample retyped ``s`` to bigint, a later row holds ``'x'``), the
    job fails with an error that names the stage and the column."""
    df = spark.range(200).selectExpr("id", "IF(id < 150, CAST(id AS STRING), 'x') AS s")
    out = run_yaml(spark, df, """
filters:
  - name: retype
    actionType: python
    code: |
      row['s'] = int(row['s'])
""")
    assert dict(out.dtypes)["s"] == "bigint"
    with pytest.raises(Exception, match=r"python stage 'retype': input value 'x' of column 's'"):
        out.collect()


def test_python_coerces_columns_not_of_their_type(spark):
    """Columns whose values are not exactly their type take the
    coercion path: a nullable bigint the code never touches reaches
    the stage as pandas float64 (``3.0``/``NaN``) and comes back as
    bigint with its nulls; a bool in a bigint column becomes ``1`` and
    a dict in a string column JSON text."""
    df = spark.range(200).selectExpr(
        "id", "IF(id % 3 = 0, NULL, id) AS n", "id AS b", "CAST(id AS STRING) AS s"
    )
    out = run_yaml(spark, df, """
filters:
  - name: mixed
    actionType: python
    code: |
      if row['id'] == 1:
          row['b'] = True
      if row['id'] == 2:
          row['s'] = {'k': row['id']}
""")
    types = dict(out.dtypes)
    assert (types["n"], types["b"], types["s"]) == ("bigint", "bigint", "string")
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 200
    assert all(r["n"] == (None if i % 3 == 0 else i) for i, r in rows.items())
    assert rows[1]["b"] == 1 and rows[5]["b"] == 5
    assert rows[2]["s"] == '{"k": 2}' and rows[5]["s"] == "5"


def test_python_adds_columns_with_reference_coercion(spark):
    """New columns follow the reference contract (Database.py:102-103):
    float→double, anything stringy→string; ints stay integral."""
    df = spark.createDataFrame([(1,), (2,)], "id int")
    out = run_yaml(spark, df, """
filters:
  - name: addcols
    actionType: python
    code: |
      row['f'] = row['id'] * 1.5
      row['j'] = {'a': row['id']}
      row['n'] = row['id'] + 10
""")
    types = dict(out.dtypes)
    assert types["f"] == "double"
    assert types["j"] == "string"  # dicts JSON-stringified (filters.py:78)
    assert types["n"] == "bigint"
    assert out.filter("id = 1").first()["j"] == '{"a": 1}'


def test_python_preserves_untouched_timestamp_schema(spark, sf_dir):
    """Round-1 regression: columns user code never touched must keep
    their Spark types (timestamps stayed pandas-datetimes in the
    reference's re-registration; re-inferring them as strings is wrong)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = run_yaml(spark, orders, """
filters:
  - name: tag
    actionType: python
    code: |
      row['tag'] = 'x'
""")
    assert dict(out.dtypes)["o_orderdate"] == dict(orders.dtypes)["o_orderdate"]
    assert out.count() == orders.count()


# --- rest stage (OP-A6) ----------------------------------------------------


def test_rest_drop_on_unfillable_template(spark):
    """Unfillable {param} → row dropped (filters.py:31-33 + drop at
    filefilter.py:110-113, via the deterministic mock transport)."""
    df = spark.createDataFrame([(1, "a"), (2, None)], "id int, k string")
    out = run_yaml(spark, df, """
filters:
  - name: enrich
    actionType: rest
    actionConfig:
      newField: resp
      mockTemplate: 'id={missing_col}'
""")
    assert out.count() == 0  # all rows unfillable → all dropped


def test_rest_mock_enrichment(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, k string")
    out = run_yaml(spark, df, """
filters:
  - name: enrich
    actionType: rest
    actionConfig:
      newField: resp
      mockTemplate: '{{"got": "{k}"}}'
""")
    rows = {r["id"]: r["resp"] for r in out.collect()}
    assert rows == {1: '{"got": "x"}', 2: '{"got": "y"}'}


# --- sql stage (OP-A7) -----------------------------------------------------


def test_sql_stage_dialect_applied(spark):
    df = spark.createDataFrame([(1, 2, 3)], "a int, b int, c int")
    out = run_yaml(spark, df, """
filters:
  - name: pick
    actionType: sql
    code: SELECT * EXCLUDE(b) FROM df
""")
    assert out.columns == ["a", "c"]


def test_dialect_date_part_to_timestamp_regexp_full_match(spark):
    """``date_part`` and ``to_timestamp`` pass through unchanged (Spark
    parses both); ``regexp_full_match`` becomes ``regexp_like``."""
    from filefilter_spark.dialect import translate

    sql = translate(
        "SELECT date_part('year', to_timestamp('2024-03-05 10:00:00')) AS y, "
        "regexp_full_match('abc', '^a.c$') AS hit, "
        "regexp_full_match('abcd', '^a.c$') AS miss"
    )
    assert "regexp_like(" in sql
    row = spark.sql(sql).first()
    assert (row["y"], row["hit"], row["miss"]) == (2024, True, False)


# --- pandas stage (OP-C1) --------------------------------------------------


def test_pandas_stage_with_timestamps(spark, sf_dir):
    """Round-1 regression: pandas stage over a timestamp-bearing table
    crashed in Arrow when the untouched timestamp was re-inferred as
    string."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = run_yaml(spark, orders, """
filters:
  - name: enrich
    actionType: pandas
    code: |
      df = df.assign(double_price=df['o_totalprice'] * 2)
""")
    assert dict(out.dtypes)["o_orderdate"] == dict(orders.dtypes)["o_orderdate"]
    assert dict(out.dtypes)["double_price"] == "double"
    row = out.select("o_totalprice", "double_price").first()
    assert row["double_price"] == pytest.approx(row["o_totalprice"] * 2)


# --- udf stage (OP-C2) -----------------------------------------------------


def test_udf_stage_registers_sql_callable(spark):
    df = spark.createDataFrame([(2.0,), (3.0,)], "x double")
    out = run_yaml(spark, df, """
filters:
  - name: reg
    actionType: udf
    actionConfig:
      name: sq
      returnType: double
      vectorized: true
      code: |
        def fn(x):
            return x * x
  - name: use
    actionType: sql
    code: SELECT x, sq(x) AS x2 FROM df
""")
    assert {(r["x"], r["x2"]) for r in out.collect()} == {(2.0, 4.0), (3.0, 9.0)}


def test_udaf_stage(spark):
    df = spark.createDataFrame([("a", 2.0), ("a", 3.0), ("b", 4.0)], "k string, v double")
    out = run_yaml(spark, df, """
filters:
  - name: reg
    actionType: udf
    actionConfig:
      name: my_sum
      kind: grouped_agg
      returnType: double
      code: |
        def fn(v):
            return float(v.sum())
  - name: use
    actionType: sql
    code: SELECT k, my_sum(v) AS s FROM df GROUP BY k
""")
    assert {(r["k"], r["s"]) for r in out.collect()} == {("a", 5.0), ("b", 4.0)}


def test_udtf_stage(spark):
    df = spark.createDataFrame([(1, 3), (2, 1)], "id int, n int")
    out = run_yaml(spark, df, """
filters:
  - name: reg
    actionType: udf
    actionConfig:
      name: expand
      kind: table
      returnType: "i bigint"
      code: |
        class fn:
            def eval(self, n: int):
                for i in range(n):
                    yield (i,)
  - name: use
    actionType: sql
    code: SELECT id, t.i FROM df, LATERAL expand(n) t
""")
    assert sorted((r["id"], r["i"]) for r in out.collect()) == [
        (1, 0), (1, 1), (1, 2), (2, 0)
    ]


# --- pipeline composition (OP-A8) ------------------------------------------


def test_disabled_stage_skipped(spark):
    df = spark.createDataFrame([(1,)], "id int")
    out = run_yaml(spark, df, """
filters:
  - name: off
    actionType: sql
    disabled: true
    code: SELECT 999 AS id
  - name: on
    actionType: sql
    code: SELECT id + 1 AS id FROM df
""")
    assert out.first()["id"] == 2


# --- config validation -----------------------------------------------------


def test_config_validation_errors():
    with pytest.raises(ConfigError):
        load_config_str("filters:\n  - name: x\n    actionType: bogus\n    code: SELECT 1")
    with pytest.raises(ConfigError):
        load_config_str("filters:\n  - name: x\n    actionType: sql")  # no code
    with pytest.raises(ConfigError):
        load_config_str("filters:\n  - name: x\n    actionType: rest")  # no actionConfig


def test_s3_path_normalization():
    """OP-A3: s3:// inputs map to the hadoop-aws s3a connector
    (reference Database.py:72-75 used DuckDB httpfs)."""
    from filefilter_spark.io import _normalize_path

    assert _normalize_path("s3://bucket/k/file.parquet") == "s3a://bucket/k/file.parquet"
    assert _normalize_path("/local/file.csv") == "/local/file.csv"


def test_config_delimiter_aliases_and_reload_alias():
    cfg = load_config_str("inDelimiter: TAB\nreloadConfigEvery: 9\nfilters: []")
    assert cfg.in_delimiter == "\t"
    assert cfg.reload_config_every_seconds == 9


def test_corpus_stages_in_pipeline(spark):
    """dedup -> split -> sample as zero-code YAML stages, one lazy plan."""
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [(1, "hello world", "a"), (2, "hello  WORLD", "a"), (3, "other text", "b")],
        "doc_id int, text string, source string",
    )
    out = Pipeline(spark, load_config_str("""
filters:
  - name: drop_dupes
    actionType: dedup
  - name: assign_split
    actionType: split
    actionConfig:
      weights: {train: 0.5, test: 0.5}
  - name: keep_all
    actionType: sample
    actionConfig:
      rates: {b: 1.0}
""")).run(df).df
    rows = {r.doc_id: r for r in out.collect()}
    # doc 2 is a normalized duplicate of doc 1 -> dropped; others keep
    # their full row plus the split column
    assert set(rows) == {1, 3}
    assert all(r.split in ("train", "test") for r in rows.values())


def test_sample_stage_drops_group(spark):
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [(i, "t", "keep" if i % 2 else "drop") for i in range(100)],
        "doc_id int, text string, source string",
    )
    out = Pipeline(spark, load_config_str("""
filters:
  - name: mix
    actionType: sample
    actionConfig:
      rates: {drop: 0.0}
""")).run(df).df
    assert out.filter("source = 'drop'").count() == 0
    assert out.filter("source = 'keep'").count() == 50


def test_media_stage_decode_and_resize(spark):
    """Zero-code media actionType: real decode + JPEG thumbnail through
    the YAML pipeline surface."""
    from filefilter_spark.config import load_config_str
    from filefilter_spark.ops import imagecodec as ic
    from filefilter_spark.pipeline import Pipeline

    png = ic.encode_png(12, 10, 3, bytes((5 * i) % 256 for i in range(12 * 10 * 3)))
    df = spark.createDataFrame([(1, png)], "doc_id long, content binary")

    meta = Pipeline(spark, load_config_str("""
filters:
  - name: m
    actionType: media
    actionConfig: {op: decode}
""")).run(df).df.collect()
    assert [(r.media_id, r.width, r.height, r.n_channels) for r in meta] == [(1, 12, 10, 3)]

    thumbs = Pipeline(spark, load_config_str("""
filters:
  - name: t
    actionType: media
    actionConfig: {op: resize, width: 6, height: 6, format: jpeg}
""")).run(df).df.collect()
    w, h, ch, _px = ic.decode_jpeg(bytes(thumbs[0]["content"]))
    assert (w, h, ch) == (6, 6, 3)


def test_media_stage_bad_op(spark):
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    df = spark.createDataFrame([(1, b"x")], "doc_id long, content binary")
    with pytest.raises(ValueError, match="media stage op"):
        Pipeline(spark, load_config_str("""
filters:
  - name: bad
    actionType: media
    actionConfig: {op: transcode}
""")).run(df).df.collect()


def test_spandedup_stage_matches_library_op(spark):
    """The spandedup actionType reproduces
    ops.dedup.remove_duplicate_spans byte-for-byte from YAML."""
    from filefilter_spark.config import load_config_str
    from filefilter_spark.ops.dedup import remove_duplicate_spans
    from filefilter_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i"),
            (2, "x a b c d e f g h"),
            (3, "q r s t u v w x y z"),
        ],
        "doc_id int, text string",
    )
    got = Pipeline(spark, load_config_str("""
filters:
  - name: cut_boilerplate
    actionType: spandedup
    actionConfig: {spanTokens: 8}
""")).run(df).df.collect()
    expect = remove_duplicate_spans(df, span_tokens=8).collect()
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(got, key=key) == sorted(expect, key=key)


def test_round6_corpus_stages_in_pipeline(spark):
    """dedupbest / temperature / bpe actionTypes reproduce their
    library operators from YAML."""
    import pyspark.sql.functions as F

    from filefilter_spark.config import load_config_str
    from filefilter_spark.ops.bpe import bpe_encode, train_bpe
    from filefilter_spark.ops.corpus import temperature_sample
    from filefilter_spark.ops.dedup import keep_best
    from filefilter_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [(i, f"hug pug pun doc{i % 3}", "web" if i % 10 else "books", float(i % 7))
         for i in range(200)]
        + [(1000, "hug pug pun doc1", "web", 99.0)],  # dup of the i%3==1 text, best score
        "doc_id int, text string, source string, score double",
    )

    got = Pipeline(spark, load_config_str("""
filters:
  - name: best_copy
    actionType: dedupbest
    actionConfig: {scoreField: score}
""")).run(df).df
    expect = keep_best(df, F.col("score"))
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in expect.collect()
    )
    assert 1000 in {r["doc_id"] for r in got.collect()}

    got = Pipeline(spark, load_config_str("""
filters:
  - name: flatten
    actionType: temperature
    actionConfig: {alpha: 0.5}
""")).run(df).df
    expect = temperature_sample(df)
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in expect.collect()
    )

    got = Pipeline(spark, load_config_str("""
filters:
  - name: tokenize
    actionType: bpe
    actionConfig: {numMerges: 5}
""")).run(df).df
    merges = train_bpe(df, num_merges=5)
    expect = bpe_encode(df, merges)
    g = {r["doc_id"]: r["bpe_tokens"] for r in got.collect()}
    e = {r["doc_id"]: r["bpe_tokens"] for r in expect.collect()}
    assert g == e and all(v for v in g.values())


def test_round5_corpus_stages_in_pipeline(spark, tmp_path):
    """linededup -> quota -> chunk and decontaminate/domainfilter as
    zero-code YAML stages."""
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    boiler = "this shared boilerplate footer line is well over thirty chars"
    df = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta echo foxtrot golf hotel india\n" + boiler, "a"),
            (2, "juliet kilo lima mike november oscar papa quebec romeo\n" + boiler, "a"),
            (3, "sierra tango uniform victor whiskey xray yankee zulu one\n" + boiler, "b"),
        ],
        "doc_id int, text string, source string",
    )
    out = Pipeline(spark, load_config_str("""
filters:
  - name: strip_boilerplate
    actionType: linededup
  - name: cap_sources
    actionType: quota
    actionConfig: {quota: 5, groupField: doc_id}
  - name: window_chunks
    actionType: chunk
    actionConfig: {chunkTokens: 6, overlap: 2}
""")).run(df).df
    rows = out.collect()
    # only doc 1 keeps the boilerplate line; every doc yields chunks
    assert {r["doc_id"] for r in rows} == {1, 2, 3}
    assert all(r["n_tokens"] <= 6 for r in rows)
    joined = {r["doc_id"]: [] for r in rows}
    for r in rows:
        joined[r["doc_id"]].append(r["chunk_text"])
    assert any("boilerplate" in t for t in joined[1])
    assert not any("boilerplate" in t for t in joined[2] + joined[3])

    # decontaminate: drop docs overlapping a benchmark parquet
    bench_path = str(tmp_path / "bench.parquet")
    df.filter("doc_id = 1").select("doc_id", "text").write.parquet(bench_path)
    clean = Pipeline(spark, load_config_str(f"""
filters:
  - name: decontam
    actionType: decontaminate
    actionConfig: {{benchmarkPath: '{bench_path}', maxContamination: 0.5}}
""")).run(df).df
    assert {r["doc_id"] for r in clean.collect()} == {2, 3}

    # domainfilter: blocklisted host dropped, domain column added
    urls = spark.createDataFrame(
        [(1, "https://good.example.com/x"), (2, "https://bad.example.net/y")],
        "doc_id int, url string",
    )
    kept = Pipeline(spark, load_config_str("""
filters:
  - name: drop_bad_domains
    actionType: domainfilter
    actionConfig:
      blocklist: [bad.example.net]
""")).run(urls).df
    rows = kept.collect()
    assert [r["doc_id"] for r in rows] == [1]
    assert rows[0]["domain"] == "good.example.com"


def test_textstats_and_perplexity_stages(spark):
    """textstats + perplexity attach scoring columns; a following sql
    stage filters on them — the YAML quality-gate composition."""
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 3),
            (2, "zz"),  # low quality: too short
            (3, "solo"),  # single token: NULL perplexity
        ],
        "doc_id int, text string",
    )
    out = Pipeline(spark, load_config_str("""
filters:
  - name: score
    actionType: textstats
  - name: lm_score
    actionType: perplexity
  - name: keep_scored_quality
    actionType: sql
    code: SELECT * FROM df WHERE quality > 0.5 AND nll IS NOT NULL
""")).run(df).df
    rows = out.collect()
    assert [r["doc_id"] for r in rows] == [1]
    r = rows[0]
    assert r["n_tokens"] == 27 and r["lang_detected"] == "en"
    assert r["n_bigrams"] == 26 and r["nll"] > 0


def test_expect_stage_gates_pipeline(spark):
    from filefilter_spark.config import ConfigError, load_config_str
    from filefilter_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [(1, "text a", 6), (2, "text b", 6), (2, None, 0)],
        "doc_id int, text string, n_chars int",
    )
    ok = Pipeline(spark, load_config_str("""
filters:
  - name: gate
    actionType: expect
    actionConfig: {minRows: 3, ranges: {n_chars: [0, 10]}}
""")).run(df).df
    assert ok.count() == 3  # passes: dataset unchanged

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not_null:text.*unique:doc_id"):
        Pipeline(spark, load_config_str("""
filters:
  - name: gate
    actionType: expect
    actionConfig: {notNull: [text], unique: [doc_id]}
""")).run(df)


def test_udf_stage_ignores_imported_callables(spark):
    """An import preceding the user's def must not be registered as the
    UDF; and code with no function at all gets a clear error."""
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    df = spark.createDataFrame([(2,)], "x int")
    out = Pipeline(spark, load_config_str("""
filters:
  - name: reg
    actionType: udf
    actionConfig:
      name: double_it
      returnType: long
      vectorized: false
    code: |
      from math import ceil
      def double_it(x):
          return x * 2
  - name: use
    actionType: sql
    code: SELECT double_it(x) AS y FROM df
""")).run(df).df
    assert out.collect()[0]["y"] == 4  # ceil(2) == 2 would betray the bug

    import pytest as _pytest

    from filefilter_spark.stages import UdfStage
    from filefilter_spark.config import StageConfig

    cfg = StageConfig.from_dict(
        {"name": "bad", "actionType": "udf",
         "actionConfig": {"name": "f"}, "code": "x = 1"}, 0,
    )
    with _pytest.raises(ValueError, match="defines no"):
        UdfStage(spark, cfg).apply(df)


def test_bpe_stage_save_and_reload_merges(spark, tmp_path):
    """Train-once/apply-everywhere: saveMergesTo persists the table,
    mergesPath reloads it without retraining, and the two runs segment
    identically."""
    from filefilter_spark.config import load_config_str
    from filefilter_spark.ops.bpe import load_merges
    from filefilter_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [(i, "hug pug pun hugs bun") for i in range(20)],
        "doc_id int, text string",
    )
    mpath = str(tmp_path / "merges.json")
    trained = Pipeline(spark, load_config_str(f"""
filters:
  - name: train
    actionType: bpe
    actionConfig: {{numMerges: 6, saveMergesTo: '{mpath}'}}
""")).run(df).df.collect()
    assert len(load_merges(mpath)) == 6
    reloaded = Pipeline(spark, load_config_str(f"""
filters:
  - name: apply
    actionType: bpe
    actionConfig: {{mergesPath: '{mpath}'}}
""")).run(df).df.collect()
    t = {r["doc_id"]: r["bpe_tokens"] for r in trained}
    r = {r["doc_id"]: r["bpe_tokens"] for r in reloaded}
    assert t == r and all(v for v in t.values())


def test_dsir_qualityfilter_safesplit_stages(spark):
    # The three r8 selection stages from YAML: dsir attaches logw with
    # target-like docs scoring higher; qualityfilter trains on a
    # separable predicate and keeps only positives at minProb;
    # safesplit assigns identical splits to exact-duplicate texts.
    import pyspark.sql.functions as SF

    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    docs = spark.createDataFrame(
        [(i,
          "good clean spark prose here" if i % 2 else "junk noise tokens",
          "en" if i % 2 else "xx")
         for i in range(40)] + [(100, "good clean spark prose here", "en")],
        "doc_id bigint, text string, lang string",
    )

    dsir = Pipeline(spark, load_config_str("""
filters:
  - name: w
    actionType: dsir
    actionConfig: {targetWhere: "lang = 'en'"}
""")).run(docs).df
    rows = {r["doc_id"]: r["logw"] for r in dsir.collect()}
    assert min(v for d, v in rows.items() if d % 2 or d == 100) > \
        max(v for d, v in rows.items() if d % 2 == 0 and d != 100)

    kept = Pipeline(spark, load_config_str("""
filters:
  - name: q
    actionType: qualityfilter
    actionConfig:
      positiveWhere: "lang = 'en'"
      nFeatures: 4096
      maxIter: 10
      minProb: 0.5
""")).run(docs).df
    assert {r["doc_id"] for r in kept.collect()} == \
        {i for i in range(40) if i % 2} | {100}

    split = Pipeline(spark, load_config_str("""
filters:
  - name: s
    actionType: safesplit
    actionConfig: {jaccardThreshold: 0.9}
""")).run(docs).df
    by_split = {r["doc_id"]: r["split"] for r in split.collect()}
    odd_splits = {by_split[d] for d in by_split if d % 2 or d == 100}
    assert len(odd_splits) == 1  # identical texts = one cluster = one split


def test_qualityfilter_training_bounded_scoring_full(spark, monkeypatch):
    # trainLimit must cap BOTH class frames fed to training (the only
    # per-row-UDF path) while scoring still touches the full corpus --
    # the 100 TB shape (VERDICT r8 #3). Wrap the trainer to observe
    # the actual training inputs the stage hands it.
    import filefilter_spark.ops.classifier as C
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    seen = {}
    real = C.train_quality_classifier

    def spy(pos, neg, **kw):
        seen["pos"], seen["neg"] = pos.count(), neg.count()
        return real(pos, neg, **kw)

    monkeypatch.setattr(C, "train_quality_classifier", spy)
    docs = spark.createDataFrame(
        [(i, "good spark prose" if i % 2 else "junk noise") for i in range(40)],
        "doc_id bigint, text string",
    )
    out = Pipeline(spark, load_config_str("""
filters:
  - name: q
    actionType: qualityfilter
    actionConfig:
      positiveWhere: "text like '%spark%'"
      nFeatures: 4096
      maxIter: 10
      trainLimit: 5
""")).run(docs).df
    assert seen["pos"] <= 5 and seen["neg"] <= 5
    scored = out.collect()  # no minProb -> full corpus passes through, scored
    assert len(scored) == 40
    assert all(r["quality_prob"] is not None for r in scored)


def test_safesplit_minhash_method_matches_jaccard(spark):
    # method: minhash must produce a leakage-free split on the shared
    # fixture via the sub-quadratic LSH pair generator; on this corpus
    # (two exact-dup groups) its clusters equal the exact-Jaccard
    # ones, so the realized split must match method: jaccard exactly.
    import pytest as _pytest

    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    docs = spark.createDataFrame(
        [(i,
          "good clean spark prose here" if i % 2 else "junk noise tokens xyz")
         for i in range(40)],
        "doc_id bigint, text string",
    )

    def run(method):
        return {r["doc_id"]: r["split"] for r in Pipeline(
            spark, load_config_str(f"""
filters:
  - name: s
    actionType: safesplit
    actionConfig: {{jaccardThreshold: 0.9, method: {method}}}
""")).run(docs).df.collect()}

    jac, mh = run("jaccard"), run("minhash")
    assert len({mh[d] for d in mh if d % 2}) == 1
    assert len({mh[d] for d in mh if d % 2 == 0}) == 1
    assert jac == mh
    with _pytest.raises(ValueError, match="jaccard|minhash"):
        run("simhash")


def test_gopher_and_entropy_stages(spark):
    # gopher filters to rule-passing docs in place (filter: false
    # attaches only); entropy attaches and thresholds via minEntropy.
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    good = ("the quick brown fox jumps over the lazy dog and then "
            "runs off to be with that other fox which seems to have "
            "a den with room " * 3)
    docs = spark.createDataFrame(
        [(i, good if i % 2 else "junk " * 60) for i in range(10)],
        "doc_id bigint, text string",
    )

    kept = Pipeline(spark, load_config_str("""
filters:
  - name: g
    actionType: gopher
""")).run(docs).df
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == \
        {i for i in range(10) if i % 2}  # 'junk'*60 fails stopword rule

    tagged = Pipeline(spark, load_config_str("""
filters:
  - name: g
    actionType: gopher
    actionConfig: {filter: false}
""")).run(docs).df
    assert tagged.count() == 10 and "keep" in tagged.columns

    ent = Pipeline(spark, load_config_str("""
filters:
  - name: e
    actionType: entropy
    actionConfig: {minEntropy: 0.5}
""")).run(docs).df
    # the 'junk junk ...' docs have entropy 0 -> filtered out
    assert {r["doc_id"] for r in ent.select("doc_id").collect()} == \
        {i for i in range(10) if i % 2}


def test_gopherrep_stage(spark):
    # r11: the char-fraction repetition tier as a zero-code stage —
    # looping docs fail (top bigram claims ~all chars), varied docs
    # pass; filter: false attaches the fractions instead.
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    varied = " ".join(f"tok{i:03d}" for i in range(80))
    docs = spark.createDataFrame(
        [(i, varied if i % 2 else "loop beat " * 40) for i in range(10)],
        "doc_id bigint, text string",
    )

    kept = Pipeline(spark, load_config_str("""
filters:
  - name: r
    actionType: gopherrep
""")).run(docs).df
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == \
        {i for i in range(10) if i % 2}

    tagged = Pipeline(spark, load_config_str("""
filters:
  - name: r
    actionType: gopherrep
    actionConfig: {filter: false}
""")).run(docs).df
    assert tagged.count() == 10
    assert "top_2gram_char_frac" in tagged.columns
    assert "dup_10gram_ok" in tagged.columns

    # r12: score/keep names are reserved — a second gopherrep over a
    # filter:false output must raise, not duplicate into ambiguity
    import pytest as _pytest
    with _pytest.raises(Exception, match="reserved"):
        Pipeline(spark, load_config_str("""
filters:
  - name: r2
    actionType: gopherrep
""")).run(tagged)


def test_epochs_and_budget_stages(spark):
    """r13: the repetition tier as zero-code actionTypes. Golden: a
    4-doc corpus at rate 3.0 yields exactly epochs {0,1,2} per doc
    (integer rate -> no fractional draw), rate-1.0 default passes
    through at epoch 0, rate-0 drops; budget derives rates from the
    actual token sums and emits the same epoch column; sample now
    points rate>1 users here instead of dead-ending; `epoch` is
    reserved on input for both."""
    docs = spark.createDataFrame(
        [(1, "books", 100), (2, "books", 100),
         (3, "web", 100), (4, "junk", 100)],
        "doc_id bigint, source string, n_tokens int",
    )
    out = run_yaml(spark, docs, """
filters:
  - name: repeat
    actionType: epochs
    actionConfig:
      rates: {books: 3.0, junk: 0.0}
""")
    assert out.columns == ["doc_id", "source", "n_tokens", "epoch"]
    got = sorted((r["doc_id"], r["epoch"]) for r in out.collect())
    assert got == [(1, 0), (1, 1), (1, 2), (2, 0), (2, 1), (2, 2), (3, 0)]

    # budget: books avail 200, web avail 100; budget 600 split 2:1
    # -> books rate 400/200 = 2.0 (epochs 0,1), web rate 200/100 = 2.0
    out2 = run_yaml(spark, docs, """
filters:
  - name: mix
    actionType: budget
    actionConfig:
      weights: {books: 2.0, web: 1.0}
      tokenBudget: 600
""")
    got2 = sorted((r["doc_id"], r["epoch"]) for r in out2.collect())
    assert got2 == [(1, 0), (1, 1), (2, 0), (2, 1), (3, 0), (3, 1)]

    # epoch reserved on input (the GopherRepStage guard pattern)
    with pytest.raises(ValueError, match="reserved"):
        run_yaml(spark, docs.withColumn("epoch", F.lit(9)), """
filters:
  - name: repeat
    actionType: epochs
""")

    # sample redirects the repetition regime instead of dead-ending
    with pytest.raises(ValueError, match="actionType: epochs"):
        run_yaml(spark, docs, """
filters:
  - name: bad
    actionType: sample
    actionConfig:
      rates: {books: 3.0}
""")


def test_sessionize_and_search_stages(spark):
    """r13: event/retrieval analytics as zero-code actionTypes.
    sessionize attaches gap-based ids (reserved-column-guarded);
    search keeps the BM25 top-k rows with the score attached."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, base, 7), (2, base + datetime.timedelta(seconds=100), 7),
         (3, base + datetime.timedelta(seconds=5000), 7)],
        "event_id long, ts timestamp, user_id long",
    )
    out = run_yaml(spark, ev, """
filters:
  - name: tag
    actionType: sessionize
    actionConfig: {gapSeconds: 1800}
""")
    got = {r["event_id"]: r["session_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2}
    with pytest.raises(ValueError, match="reserved"):
        run_yaml(spark, ev.withColumn("session_id", F.lit(0)), """
filters:
  - name: tag
    actionType: sessionize
""")

    docs = spark.createDataFrame(
        [(1, "spark spark spark"), (2, "spark and more"),
         (3, "nothing relevant here"), (4, "spark once")],
        "doc_id long, text string",
    )
    hits = run_yaml(spark, docs, """
filters:
  - name: find
    actionType: search
    actionConfig:
      terms: [spark]
      k: 2
""")
    rows = hits.collect()
    assert len(rows) == 2
    assert {r["doc_id"] for r in rows} == {1, 4}  # highest tf, shortest dl
    assert all(r["bm25"] > 0 for r in rows)
    assert "text" in hits.columns  # original row survives the semi-join
    with pytest.raises(ValueError, match="terms"):
        run_yaml(spark, docs, """
filters:
  - name: find
    actionType: search
""")
    # r14 ergonomic: a query STRING splits to the same term set
    via_query = run_yaml(spark, docs, """
filters:
  - name: find
    actionType: search
    actionConfig: {query: "spark spark", k: 2}
""")
    assert ({r["doc_id"] for r in via_query.collect()}
            == {r["doc_id"] for r in hits.collect()})


def test_stage_registry_matches_config_whitelist(monkeypatch):
    """Config validation reads the stage registry itself: an actionType
    registered in ``STAGE_TYPES`` alone is configurable, with no second
    list to keep in step."""
    from filefilter_spark.stages import STAGE_TYPES, SqlStage

    yaml_text = "filters:\n  - name: p\n    actionType: probe\n"
    with pytest.raises(ConfigError, match="probe"):
        load_config_str(yaml_text)
    monkeypatch.setitem(STAGE_TYPES, "probe", SqlStage)
    assert load_config_str(yaml_text).stages[0].action_type == "probe"


def test_search_stage_via_persisted_index(spark, tmp_path):
    """indexPath: the stage queries the build_text_index layout and
    returns the same rows as the scan path."""
    from filefilter_spark.ops.retrieval import build_text_index

    docs = spark.createDataFrame(
        [(1, "spark spark spark"), (2, "spark and more"),
         (3, "nothing relevant here"), (4, "spark once")],
        "doc_id long, text string",
    )
    ix = str(tmp_path / "ix")
    build_text_index(docs, ix, n_buckets=8)
    out = run_yaml(spark, docs, f"""
filters:
  - name: find
    actionType: search
    actionConfig:
      terms: [spark]
      k: 2
      indexPath: {ix}
      nBuckets: 8
""")
    rows = out.collect()
    assert {r["doc_id"] for r in rows} == {1, 4}
    assert "text" in out.columns and all(r["bm25"] > 0 for r in rows)


def test_qualitygate_stage(spark):
    """Percentile gate from YAML: top-50% per group on an explicit
    scoreField; frac required."""
    docs = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 1.0), (3, "b", 9.0), (4, "b", 2.0)],
        "doc_id long, source string, q double",
    )
    out = run_yaml(spark, docs, """
filters:
  - name: gate
    actionType: qualitygate
    actionConfig: {frac: 0.5, scoreField: q}
""")
    assert {r["doc_id"] for r in out.collect()} == {1, 3}
    with pytest.raises(ValueError, match="frac"):
        run_yaml(spark, docs, """
filters:
  - name: gate
    actionType: qualitygate
""")


def test_sessionize_stage_output_field_and_skewed(spark):
    """r14 ergonomics: outputField renames the attached column (parity
    with search.scoreField) and skewed routes through the chunk-salted
    sessionizer with identical ids."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, base, 7), (2, base + datetime.timedelta(seconds=100), 7),
         (3, base + datetime.timedelta(seconds=5000), 7)],
        "event_id long, ts timestamp, user_id long",
    )
    out = run_yaml(spark, ev, """
filters:
  - name: tag
    actionType: sessionize
    actionConfig: {gapSeconds: 1800, outputField: sess, skewed: true,
                   chunkSeconds: 600}
""")
    assert "session_id" not in out.columns
    got = {r["event_id"]: r["sess"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2}
    # the reservation guard applies to the RENAMED column
    with pytest.raises(ValueError, match="reserved"):
        run_yaml(spark, ev.withColumn("sess", F.lit(0)), """
filters:
  - name: tag
    actionType: sessionize
    actionConfig: {outputField: sess}
""")


def test_qualitygate_stage_skewed_matches_plain(spark):
    docs = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 1.0), (3, "b", 9.0), (4, "b", 2.0),
         (5, "b", 9.0)],
        "doc_id long, source string, q double",
    )
    plain = run_yaml(spark, docs, """
filters:
  - name: gate
    actionType: qualitygate
    actionConfig: {frac: 0.5, scoreField: q}
""")
    skewed = run_yaml(spark, docs, """
filters:
  - name: gate
    actionType: qualitygate
    actionConfig: {frac: 0.5, scoreField: q, skewed: true}
""")
    assert ({r["doc_id"] for r in skewed.collect()}
            == {r["doc_id"] for r in plain.collect()})


def test_fuzzydedup_stage(spark):
    """Zero-code fuzzy dedup: clusters levenshtein<=maxDist key pairs
    and keeps min-id survivors; rows in no pair pass through; missing
    keyField raises."""
    df = spark.createDataFrame(
        [(1, "spark shuffle"), (2, "spark shufle"), (3, "spark shuffles"),
         (4, "completely different"), (5, "unrelated too")],
        "doc_id long, title string",
    )
    out = run_yaml(spark, df, """
filters:
  - name: fd
    actionType: fuzzydedup
    actionConfig: {keyField: title, maxDist: 2, q: 2}
""")
    assert {r["doc_id"] for r in out.collect()} == {1, 4, 5}
    with pytest.raises(ValueError, match="keyField"):
        run_yaml(spark, df, """
filters:
  - name: fd
    actionType: fuzzydedup
    actionConfig: {maxDist: 2}
""")


def test_semdedup_stage(spark):
    """Zero-code SemDeDup: kills exact-cosine near-dups (>= threshold)
    sharing a KMeans cell, keeps min-id survivors; rows in no pair
    pass through; missing vecField raises. Geometry is well-separated
    (planted copies at cos ~1, cross-mode pairs orthogonal-ish) so the
    survivor set is clustering-invariant — any cell split co-locates
    the near-identical copies."""
    import numpy as np

    rng = np.random.default_rng(3)
    modes = rng.normal(0, 1, size=(4, 16))
    rows = []
    for i in range(20):  # 5 per mode, distinct
        rows.append((i, modes[i % 4] + rng.normal(0, 0.08, 16)))
    rows.append((100, rows[2][1] + rng.normal(0, 1e-4, 16)))  # dup of 2
    rows.append((101, rows[7][1] + rng.normal(0, 1e-4, 16)))  # dup of 7
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    out = run_yaml(spark, df, """
filters:
  - name: sd
    actionType: semdedup
    actionConfig: {vecField: embedding, idField: vec_id, threshold: 0.999}
""")
    got = {r["vec_id"] for r in out.collect()}
    assert got == set(range(20))  # dups 100/101 killed, originals kept
    with pytest.raises(ValueError, match="vecField"):
        run_yaml(spark, df, """
filters:
  - name: sd
    actionType: semdedup
    actionConfig: {idField: vec_id}
""")


def test_skew_auto_detector(spark):
    """max_key_share / should_route_skewed: one-job detector, the
    measured ~30% threshold, empty-frame safety."""
    from filefilter_spark.ops.skew import (
        SKEW_AUTO_THRESHOLD,
        max_key_share,
        should_route_skewed,
    )

    hot = spark.createDataFrame(
        [(i, "bot" if i % 10 else f"u{i}") for i in range(100)],
        "event_id long, user_id string",
    )  # "bot" holds 90%
    assert max_key_share(hot, "user_id") == 0.9
    route, share = should_route_skewed(hot, "user_id")
    assert route and share == 0.9
    flat = spark.createDataFrame(
        [(i, f"u{i % 50}") for i in range(100)],
        "event_id long, user_id string",
    )  # every user 2%
    route, share = should_route_skewed(flat, "user_id")
    assert not route and share == 0.02
    assert 0.0 < SKEW_AUTO_THRESHOLD < 1.0
    assert max_key_share(hot.limit(0), "user_id") == 0.0


def test_stage_skewed_auto_routes_and_logs(spark, caplog):
    """skewed: auto in sessionize and qualitygate measures the hottest
    key's share, routes past the threshold, logs the decision, and the
    output equals the explicit-route output either way (the two forms
    are exact twins)."""
    import datetime
    import logging

    base = datetime.datetime(2024, 1, 1)
    # one bot user holds 80% of events -> auto must pick the salted plan
    rows = []
    for i in range(40):
        u = 7 if i % 5 else 100 + i
        rows.append((i, base + datetime.timedelta(seconds=40 * i), u))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long"
    )
    yaml_auto = """
filters:
  - name: tag
    actionType: sessionize
    actionConfig: {gapSeconds: 1800, skewed: auto, chunkSeconds: 600}
"""
    with caplog.at_level(logging.INFO, logger="filefilter_spark"):
        got = run_yaml(spark, ev, yaml_auto)
    assert any("skewed=auto" in r.message and "chunk-salted" in r.message
               for r in caplog.records)
    want = run_yaml(spark, ev, """
filters:
  - name: tag
    actionType: sessionize
    actionConfig: {gapSeconds: 1800, skewed: true, chunkSeconds: 600}
""")
    key = lambda r: (r["event_id"],)  # noqa: E731
    assert sorted([(r["event_id"], r["session_id"]) for r in got.collect()]) \
        == sorted([(r["event_id"], r["session_id"]) for r in want.collect()])
    # balanced keys -> auto stays on the plain window plan
    flat = spark.createDataFrame(
        [(i, base + datetime.timedelta(seconds=40 * i), i % 20)
         for i in range(40)],
        "event_id long, ts timestamp, user_id long",
    )
    caplog.clear()
    with caplog.at_level(logging.INFO, logger="filefilter_spark"):
        run_yaml(spark, flat, yaml_auto).collect()
    assert any("skewed=auto" in r.message and "plain" in r.message
               for r in caplog.records)
    # qualitygate: hot group routes to the count-based form
    docs = spark.createDataFrame(
        [(i, "web" if i % 10 else f"s{i}", float(i % 7)) for i in range(50)],
        "doc_id long, source string, q double",
    )
    caplog.clear()
    with caplog.at_level(logging.INFO, logger="filefilter_spark"):
        auto = run_yaml(spark, docs, """
filters:
  - name: gate
    actionType: qualitygate
    actionConfig: {frac: 0.4, scoreField: q, skewed: auto}
""")
    assert any("skewed=auto" in r.message and "count-based" in r.message
               for r in caplog.records)
    plain = run_yaml(spark, docs, """
filters:
  - name: gate
    actionType: qualitygate
    actionConfig: {frac: 0.4, scoreField: q}
""")
    assert ({r["doc_id"] for r in auto.collect()}
            == {r["doc_id"] for r in plain.collect()})


def test_searchindex_stage_builds_then_search_queries(spark, tmp_path):
    """r14 index lifecycle from YAML: searchindex builds the layout
    (frame passes through), search queries it in the same pipeline,
    matching the scan path exactly; indexPath is required."""
    docs = spark.createDataFrame(
        [(1, "spark spark spark"), (2, "spark and more"),
         (3, "nothing relevant here"), (4, "spark once")],
        "doc_id long, text string",
    )
    ix = str(tmp_path / "lifecycle_ix")
    out = run_yaml(spark, docs, f"""
filters:
  - name: build
    actionType: searchindex
    actionConfig: {{indexPath: {ix}, nBuckets: 8}}
  - name: find
    actionType: search
    actionConfig:
      terms: [spark]
      k: 2
      indexPath: {ix}
      nBuckets: 8
""")
    rows = out.collect()
    assert {r["doc_id"] for r in rows} == {1, 4}
    assert "text" in out.columns and all(r["bm25"] > 0 for r in rows)
    import os
    assert os.path.isdir(f"{ix}/postings") and os.path.isdir(f"{ix}/stats")
    with pytest.raises(ValueError, match="indexPath"):
        run_yaml(spark, docs, """
filters:
  - name: build
    actionType: searchindex
""")


def test_batchsearch_stage_is_result_producing(spark):
    docs = spark.createDataFrame(
        [(1, "spark spark spark"), (2, "spark and more"),
         (3, "window functions"), (4, "spark once")],
        "doc_id long, text string",
    )
    out = run_yaml(spark, docs, """
filters:
  - name: eval
    actionType: batchsearch
    actionConfig:
      k: 2
      queries:
        qa: [spark]
        qb: [window]
""")
    assert set(out.columns) == {"q_id", "doc_id", "bm25", "rank"}
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["q_id"], set()).add(r["doc_id"])
    assert by_q["qa"] == {1, 4} and by_q["qb"] == {3}
    # indexPath: same results from a persisted index, no corpus scan
    from filefilter_spark.ops.retrieval import build_text_index

    import tempfile
    ix = tempfile.mkdtemp() + "/bsix"
    build_text_index(docs, ix, n_buckets=8)
    out_ix = run_yaml(spark, docs, f"""
filters:
  - name: eval
    actionType: batchsearch
    actionConfig:
      k: 2
      indexPath: {ix}
      nBuckets: 8
      queries:
        qa: [spark]
        qb: [window]
""")
    assert (sorted(tuple(r) for r in out_ix.collect())
            == sorted(tuple(r) for r in out.collect()))
    with pytest.raises(ValueError, match="queries"):
        run_yaml(spark, docs, """
filters:
  - name: eval
    actionType: batchsearch
""")


def test_search_stage_hybrid_mode(spark):
    """mode: hybrid fuses BM25 + cosine over the frame's embedding
    column; requires queryVector; attaches rrf_score + both ranks."""
    docs = spark.createDataFrame(
        [(1, "spark spark spark", [1.0, 0.0]),
         (2, "spark and more", [0.9, 0.1]),
         (3, "nothing relevant", [0.0, 1.0]),
         (4, "spark once", [0.5, 0.5])],
        "doc_id long, text string, embedding array<double>",
    )
    out = run_yaml(spark, docs, """
filters:
  - name: fuse
    actionType: search
    actionConfig:
      mode: hybrid
      terms: [spark]
      k: 3
      fusionN: 3
      queryVector: [1.0, 0.0]
""")
    rows = out.collect()
    assert {"rrf_score", "rank_a", "rank_b"} <= set(out.columns)
    assert 0 < len(rows) <= 3
    # doc 1: top of BOTH rankers → top fused score
    best = max(rows, key=lambda r: r["rrf_score"])
    assert best["doc_id"] == 1
    with pytest.raises(ValueError, match="queryVector"):
        run_yaml(spark, docs, """
filters:
  - name: fuse
    actionType: search
    actionConfig: {mode: hybrid, terms: [spark]}
""")
    with pytest.raises(ValueError, match="mode"):
        run_yaml(spark, docs, """
filters:
  - name: fuse
    actionType: search
    actionConfig: {mode: nope, terms: [spark]}
""")


def test_annindex_stage_builds_then_ann_search_queries(spark, tmp_path):
    """r14 ANN lifecycle from YAML: annindex persists the IVF×PQ
    layout (frame passes through), search mode: ann probes it in the
    same pipeline and matches the in-memory ivfpq_topk result."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from filefilter_spark.ops.pq import build_ivfpq_index, ivfpq_topk

    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    ix = str(tmp_path / "ann_ix")
    out = run_yaml(spark, emb, f"""
filters:
  - name: build
    actionType: annindex
    actionConfig: {{indexPath: {ix}, idField: vec_id}}
  - name: neighbors
    actionType: search
    actionConfig:
      mode: ann
      indexPath: {ix}
      idField: vec_id
      k: 5
      queryVector: [{', '.join(repr(x) for x in qv)}]
""")
    rows = sorted((r["vec_id"], round(r["dist2"], 6)) for r in out.collect())
    import os
    assert os.path.isdir(f"{ix}/codes") and os.path.isdir(f"{ix}/meta")
    indexed, books, cents = build_ivfpq_index(
        emb, n_lists=16, m=8, k=16, iters=1
    )
    want = sorted(
        (r["vec_id"], round(r["dist2"], 6))
        for r in ivfpq_topk(indexed, books, cents, qv, topk=5,
                            n_probe=4, vectors=emb).collect()
    )
    assert rows == want
    # nProbe: auto on a HEALTHY index = the default width (r15 — the
    # drift policy's widen rule only kicks in past the TV threshold)
    auto = run_yaml(spark, emb, f"""
filters:
  - name: neighbors
    actionType: search
    actionConfig:
      mode: ann
      indexPath: {ix}
      idField: vec_id
      k: 5
      nProbe: auto
      queryVector: [{', '.join(repr(x) for x in qv)}]
""")
    assert sorted((r["vec_id"], round(r["dist2"], 6))
                  for r in auto.collect()) == want
    with pytest.raises(ValueError, match="indexPath"):
        run_yaml(spark, emb, """
filters:
  - name: bad
    actionType: search
    actionConfig: {mode: ann, queryVector: [1.0]}
""")
    with pytest.raises(ValueError, match="indexPath"):
        run_yaml(spark, emb, """
filters:
  - name: bad
    actionType: annindex
""")


def test_annindex_stage_keeps_full_upstream_row_counts(spark, tmp_path):
    """The ANN build's first read over its input is a full one, so the
    stage before ``annindex`` records its whole row count — not the
    few rows a first-row emptiness probe would have read."""
    df = spark.range(0, 2000, 1, 4).selectExpr(
        "id AS vec_id",
        "array(CAST(id % 7 AS DOUBLE), CAST(id % 11 AS DOUBLE), "
        "CAST(id % 13 AS DOUBLE), CAST(id % 5 AS DOUBLE)) AS embedding",
    )
    result = Pipeline(spark, load_config_str(f"""
filters:
  - name: half
    actionType: sql
    code: SELECT * FROM df WHERE vec_id % 2 = 0
  - name: build
    actionType: annindex
    actionConfig: {{indexPath: {tmp_path / "ix"}, nLists: 4, m: 4, k: 4}}
""")).run(df)
    assert result.df.count() == 1000
    assert [m.rows_out for m in result.harvest_metrics()] == [1000, 1000]


def test_qualityfilter_stage_keeps_full_upstream_row_counts(spark):
    """``qualityfilter`` trains on capped class samples, a bounded read:
    it runs on the runner's observation-free twin chain, and the apply
    to the observed chain only scores, so the stage before it records
    its whole row count — not the rows the capped training read."""
    df = spark.range(0, 2000, 1, 4).selectExpr(
        "id AS doc_id",
        "IF(id % 3 = 0, 'good spark prose', 'junk noise') AS text",
    )
    result = Pipeline(spark, load_config_str("""
filters:
  - name: half
    actionType: sql
    code: SELECT * FROM df WHERE doc_id % 2 = 0
  - name: q
    actionType: qualityfilter
    actionConfig:
      positiveWhere: "text like '%spark%'"
      nFeatures: 1024
      maxIter: 5
      trainLimit: 5
""")).run(df)
    assert result.df.count() == 1000
    assert [m.rows_out for m in result.harvest_metrics()] == [1000, 1000]


def test_retrieval_pipeline_example_end_to_end(spark):
    """examples/retrieval_pipeline.yml — the zero-code analytics
    showcase: percentile gate -> BM25 shortlist -> stats columns."""
    from pathlib import Path

    from filefilter_spark.pipeline import Pipeline

    root = Path(__file__).resolve().parent.parent
    pipe = Pipeline.from_yaml(
        spark, str(root / "examples/retrieval_pipeline.yml")
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pipe.run(docs).df
    rows = out.collect()
    assert 0 < len(rows) <= 25
    assert {"bm25", "n_tokens", "quality"} <= set(out.columns)
    assert all(r["bm25"] > 0 for r in rows)
