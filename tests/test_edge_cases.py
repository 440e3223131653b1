"""Edge cases: empty inputs through row stages (Arrow's classic crash
vector), unusual CSV content round-trips, null handling in stages."""

import pytest
from conftest import jobs_in_group

from filefilter_spark.config import load_config_str
from filefilter_spark.pipeline import Pipeline


def test_empty_input_through_python_stage(spark):
    df = spark.createDataFrame([], "id int, s string")
    out = Pipeline(spark, load_config_str("""
filters:
  - name: tag
    actionType: python
    code: |
      row['t'] = row['id'] * 2
""")).run(df).df
    assert out.count() == 0
    # No sample rows → no new columns discoverable; schema passes through
    # (the reference's filterN schema comes from chunk 0, which never
    # exists on empty input — same contract).
    assert out.columns == ["id", "s"]


def test_empty_input_through_pandas_and_sql(spark):
    df = spark.createDataFrame([], "a int, b double")
    out = Pipeline(spark, load_config_str("""
filters:
  - name: p
    actionType: pandas
    code: |
      df = df.assign(c=df['a'] + 1)
  - name: s
    actionType: sql
    code: SELECT a, c FROM df
""")).run(df).df
    assert out.count() == 0


def test_all_rows_error_keeps_all_rows(spark):
    """keep-on-error: even when user code fails on EVERY row, the
    dataset passes through unchanged (reference filefilter.py:56-65)."""
    df = spark.createDataFrame([(1,), (2,)], "id int")
    out = Pipeline(spark, load_config_str("""
filters:
  - name: boom
    actionType: python
    code: |
      raise RuntimeError('always')
""")).run(df).df
    assert sorted(r["id"] for r in out.collect()) == [1, 2]


def test_csv_roundtrip_quotes_delimiters_newlines(spark, tmp_path):
    """Strings containing the delimiter, quotes, and embedded newlines
    survive a CSV write→read round trip (Spark quotes on write; the
    reader needs multiLine for embedded newlines)."""
    from filefilter_spark.io import write_csv_file

    rows = [
        (1, 'plain'),
        (2, 'with;delimiter'),
        (3, 'with "quotes"'),
        (4, 'with\nnewline'),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id int, s string")
    out = tmp_path / "round.csv"
    write_csv_file(df, str(out), delimiter=";")
    # Spark's writer backslash-escapes embedded quotes by default; the
    # reader must use the matching default escape (multiLine for the
    # embedded newline).
    back = (
        spark.read.options(header=True, sep=";", multiLine=True)
        .schema("id int, s string")
        .csv(str(out))
    )
    got = {r["id"]: r["s"] for r in back.collect()}
    assert got == {i: s for i, s in rows}


def _four_partitions(spark, parts, schema):
    """A frame with exactly the given four partitions, in order."""
    rdd = spark.sparkContext.parallelize(parts, 4).flatMap(lambda rows: rows)
    df = spark.createDataFrame(rdd, schema)
    assert df.rdd.glom().map(len).collect() == [len(p) for p in parts]
    return df


def test_csv_file_sink_matches_one_partition_write(spark, tmp_path):
    """The single-file sink stitches the parallel parts into the same
    bytes a one-partition write produces: delimiters, quotes and
    embedded newlines in later partitions, empty partitions between
    non-empty ones, and a quoted header that itself spans two lines."""
    from filefilter_spark.io import write_csv, write_csv_file

    df = _four_partitions(spark, [
        [(1, "plain")],
        [],
        [(2, "with;delimiter"), (3, 'with "quotes"')],
        [(4, "with\nnewline"), (5, None), (6, "")],
    ], "a int, b string").toDF("i;d", 's "q"\nx')
    out = tmp_path / "out.csv"
    write_csv_file(df, str(out), delimiter=";")
    write_csv(df.coalesce(1), str(tmp_path / "one"), delimiter=";")
    (one,) = (tmp_path / "one").glob("part-*.csv")
    expected = one.read_bytes()
    assert expected.startswith(b'"i;d";"s \\"q\\"\nx"\n1;plain\n')
    assert out.read_bytes() == expected
    assert sorted(p.name for p in tmp_path.iterdir()) == ["one", "out.csv"]


def test_csv_file_sink_all_empty_partitions_writes_header(spark, tmp_path):
    from filefilter_spark.io import write_csv_file

    df = _four_partitions(spark, [[], [], [], []], "id int, s string")
    out = tmp_path / "empty.csv"
    write_csv_file(df, str(out))
    assert out.read_bytes() == b"id,s\n"


def test_csv_file_sink_last_stage_is_parallel(spark, tmp_path):
    """The sink's write stage runs one task per input partition; a
    ``coalesce(1)`` would fold the whole last stage into one task."""
    from filefilter_spark.io import write_csv_file

    sc = spark.sparkContext
    df = _four_partitions(
        spark, [[(i, f"r{i}")] for i in range(4)], "id int, s string"
    )
    group = "csv-sink-parallelism"
    sc.setJobGroup(group, "single-file csv sink")
    try:
        write_csv_file(df, str(tmp_path / "out.csv"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [
        s for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert stages
    assert tracker.getStageInfo(max(stages)).numTasks == 4
    assert (tmp_path / "out.csv").read_text() == "id,s\n0,r0\n1,r1\n2,r2\n3,r3\n"


def test_csv_part_order_is_numeric():
    from filefilter_spark.io import _part_order

    names = [
        "part-100000-9f0c-c000.csv",
        "part-99999-9f0c-c000.csv",
        "part-00002-9f0c-c001.csv",
        "part-00002-9f0c-c000.csv",
    ]
    assert sorted(names, key=_part_order) == [
        "part-00002-9f0c-c000.csv",
        "part-00002-9f0c-c001.csv",
        "part-99999-9f0c-c000.csv",
        "part-100000-9f0c-c000.csv",
    ]
    with pytest.raises(ValueError):
        _part_order("_SUCCESS")


def test_csv_file_sink_leaves_no_scratch_on_failure(spark, tmp_path, monkeypatch):
    """A failed write removes its ffspark_csv_* scratch dir and the temp
    file it stitches next to the target."""
    import tempfile

    from filefilter_spark.io import write_csv_file

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    dest = tmp_path / "dest"
    dest.mkdir()
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")

    # Spark refuses the write: CSV has no array type
    with pytest.raises(Exception, match="(?i)array"):
        write_csv_file(
            spark.createDataFrame([(1, [1])], "id int, xs array<int>"),
            str(dest / "arr.csv"),
        )
    # the target's parent is a file
    (dest / "afile").write_text("x")
    with pytest.raises(OSError):
        write_csv_file(df, str(dest / "afile" / "out.csv"))
    # the stitch ran, then the rename onto a directory fails
    (dest / "adir.csv").mkdir()
    with pytest.raises(OSError):
        write_csv_file(df, str(dest / "adir.csv"))

    assert list(scratch.iterdir()) == []
    assert sorted(p.name for p in dest.iterdir()) == ["adir.csv", "afile"]
    assert list((dest / "adir.csv").iterdir()) == []


def test_python_stage_nulls_in_new_column(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "id int")
    out = Pipeline(spark, load_config_str("""
filters:
  - name: partial
    actionType: python
    code: |
      row['maybe'] = float(row['id']) if row['id'] > 1 else None
""")).run(df).df
    vals = {r["id"]: r["maybe"] for r in out.collect()}
    assert vals == {1: None, 2: 2.0, 3: 3.0}
    assert dict(out.dtypes)["maybe"] == "double"


def test_sample_lines_cap(spark, tmp_path):
    from filefilter_spark.io import read_input

    src = tmp_path / "x.csv"
    src.write_text("a\n" + "\n".join(str(i) for i in range(100)))
    df = read_input(spark, str(src), sample_lines=7)
    assert df.count() == 7


def _inferred_schema(spark, path):
    """The schema a full-file ``inferSchema`` pass gives ``path``."""
    return spark.read.options(header=True, sep=",", inferSchema=True).csv(str(path)).schema


def _late_misfit_csv(tmp_path):
    """An int column longer than the CSV sample, then one double."""
    src = tmp_path / "late.csv"
    src.write_text("a\n" + "".join(f"{i}\n" for i in range(30_000)) + "5.5\n")
    return src


def test_csv_head_sample_types_match_full_inference(spark, tmp_path):
    """On a file the sample covers, the head-sample schema is the one a
    full inference pass gives, and so are the rows."""
    from filefilter_spark.io import read_input

    src = tmp_path / "types.csv"
    src.write_text("i,b,d,flag,day,ts,s,empty\n" + "".join(
        f"{k},{k * 10**10},{k}.25,{str(k % 2 == 0).lower()},"
        f"2024-01-{k % 28 + 1:02d},2024-01-01 10:00:{k % 60:02d},w{k},\n"
        for k in range(50)))
    df = read_input(spark, str(src))
    expected = _inferred_schema(spark, src)
    assert df.schema.simpleString() == (
        "struct<i:int,b:bigint,d:double,flag:boolean,day:date,"
        "ts:timestamp,s:string,empty:string>")
    assert df.schema == expected
    full = spark.read.schema(expected).options(header=True).csv(str(src))
    assert sorted(df.collect()) == sorted(full.collect())


def test_csv_late_misfit_fails_loudly(spark, tmp_path):
    """A value past the sample that does not fit its sampled type
    raises when read, naming the value; it never becomes a null."""
    from filefilter_spark.io import read_input

    df = read_input(spark, str(_late_misfit_csv(tmp_path)))  # tail not scanned
    assert df.schema.simpleString() == "struct<a:int>"
    with pytest.raises(Exception, match=r"5\.5"):
        df.collect()
    with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING"):
        df.where("a IS NULL").collect()


def test_csv_read_runs_at_most_two_jobs(spark, tmp_path):
    """The head-sample read is one job for the head and one for the
    inference over it, however long the file."""
    from filefilter_spark.io import read_input

    src = str(_late_misfit_csv(tmp_path))
    _, jobs = jobs_in_group(spark, "csv-head-read", lambda: read_input(spark, src))
    assert jobs <= 2


@pytest.mark.parametrize("body", ["1,2,3\n4,5\n", "1,2,3\n4,5,6,7\n"],
                         ids=["short", "long"])
def test_csv_ragged_row_raises(spark, tmp_path, body):
    from filefilter_spark.io import read_input

    src = tmp_path / "ragged.csv"
    src.write_text("a,b,c\n" + body)
    # a pruned read and a count parse every field too
    for read in (lambda df: df.collect(), lambda df: df.select("a").collect(),
                 lambda df: df.count()):
        with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING"):
            read(read_input(spark, str(src)))


def test_csv_edge_inputs_read_as_before(spark, tmp_path):
    """Empty and header-only files keep the schemas full inference
    gives them; a gzip file reads like its plain twin."""
    import gzip

    from filefilter_spark.io import read_input

    empty, header = tmp_path / "empty.csv", tmp_path / "header.csv"
    empty.write_text("")
    header.write_text("a,b\n")
    for src, want in ((empty, "struct<>"), (header, "struct<a:string,b:string>")):
        df = read_input(spark, str(src))
        assert df.schema == _inferred_schema(spark, src)
        assert df.schema.simpleString() == want
        assert df.collect() == []
    text = "id,x\n" + "".join(f"{i},{i / 4}\n" for i in range(100))
    plain, packed = tmp_path / "t.csv", tmp_path / "t.csv.gz"
    plain.write_text(text)
    with gzip.open(packed, "wt") as f:
        f.write(text)
    got = read_input(spark, str(packed))
    assert got.schema.simpleString() == "struct<id:int,x:double>"
    assert sorted(got.collect()) == sorted(read_input(spark, str(plain)).collect())


def test_to_cents_sign_safe(spark):
    """HALF_UP for both signs: -100.005 must round away from zero
    (-10001 cents), matching DuckDB/BigDecimal ROUND on refunds."""
    from filefilter_spark.ops.money import to_cents

    df = spark.createDataFrame(
        [(100.005,), (-100.005,), (-0.004,), (0.0,), (-2.5,), (2.5,)],
        "x double",
    )
    got = {r[0] for r in df.select(to_cents(df.x).alias("c")).collect()}
    # abs(±100.005)*100 lands exactly on 10000.5 in double arithmetic, a
    # true tie: HALF_UP away from zero must give ±10001 (a bare
    # floor(x*100+0.5) would give -10000 for the negative). -2.5 dollars
    # is exactly representable and must give -250, not -249.
    assert got == {10001, -10001, 0, -250, 250}


def test_bucket_pairs_quotes_identifier(spark):
    from filefilter_spark.ops.dedup import _bucket_pairs

    df = spark.createDataFrame(
        [(1, "b1"), (2, "b1"), (3, "b2")], "`doc id` int, bucket string"
    )
    pairs = _bucket_pairs(df, ["bucket"], id_col="doc id").collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]
    with pytest.raises(ValueError, match="backtick"):
        _bucket_pairs(df, ["bucket"], id_col="doc`id")


def test_read_input_applies_schema_to_parquet(spark, tmp_path):
    from filefilter_spark.io import read_input

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a")], "id bigint, s string").write.parquet(p)
    # Narrowing cast (bigint file -> int schema): reader.schema() would
    # crash at scan time on Spark's vectorized reader; the select+cast
    # path must both retype AND execute.
    df = read_input(spark, p, schema="id int, s string")
    assert dict(df.dtypes)["id"] == "int"
    assert [(r.id, r.s) for r in df.collect()] == [(1, "a")]
    # Schema-evolution shape: a column absent from the file comes back
    # as a typed null instead of erroring; pruning drops the rest.
    df2 = read_input(spark, p, schema="id int, extra double")
    rows = df2.collect()
    assert df2.columns == ["id", "extra"]
    assert [(r.id, r.extra) for r in rows] == [(1, None)]


def test_s3_conf_mapping():
    from filefilter_spark.session import s3_conf

    out = s3_conf({
        "access_key": "AK", "secret_key": "SK", "endpoint": "http://minio:9000",
        "fs.s3a.connection.maximum": "64",
        "spark.hadoop.fs.s3a.fast.upload": "true",
    })
    assert out["spark.hadoop.fs.s3a.access.key"] == "AK"
    assert out["spark.hadoop.fs.s3a.secret.key"] == "SK"
    assert out["spark.hadoop.fs.s3a.endpoint"] == "http://minio:9000"
    assert out["spark.hadoop.fs.s3a.connection.maximum"] == "64"
    assert out["spark.hadoop.fs.s3a.fast.upload"] == "true"
    with pytest.raises(ValueError, match="unknown s3 option"):
        s3_conf({"acess_key": "typo"})


def test_elastic_conf_dynamic_allocation_keys():
    # OP-A13's worker-scaling half: the reference grows/shrinks
    # per-filter threads on a YAML edit (filefilter.py:143-154); the
    # Spark analog is dynamic executor allocation, driven by task
    # backlog instead of a config edit. elastic_conf() is that knob —
    # shuffleTracking on so it works without an external shuffle
    # service, and maxExecutors only when bounded.
    from filefilter_spark.session import elastic_conf

    c = elastic_conf()
    assert c["spark.dynamicAllocation.enabled"] == "true"
    assert c["spark.dynamicAllocation.shuffleTracking.enabled"] == "true"
    assert c["spark.dynamicAllocation.minExecutors"] == "0"
    assert c["spark.dynamicAllocation.schedulerBacklogTimeout"] == "1s"
    assert "spark.dynamicAllocation.maxExecutors" not in c

    c = elastic_conf(min_executors=2, max_executors=64, idle_timeout="120s")
    assert c["spark.dynamicAllocation.minExecutors"] == "2"
    assert c["spark.dynamicAllocation.maxExecutors"] == "64"
    assert c["spark.dynamicAllocation.executorIdleTimeout"] == "120s"


def test_s3_no_jars_no_boto3_fails_fast(spark, monkeypatch):
    """With neither the s3a jars nor boto3, an s3 path must fail at
    read_input time with an actionable message — not minutes later
    inside Py4J at the first action."""
    import sys

    from filefilter_spark.io import read_input
    from filefilter_spark.session import s3a_available

    if s3a_available(spark):  # pragma: no cover - env with jars
        pytest.skip("hadoop-aws present; fallback path not reachable")
    monkeypatch.setitem(sys.modules, "boto3", None)  # import -> ImportError
    with pytest.raises(RuntimeError, match="hadoop-aws"):
        read_input(spark, "s3://bucket/key.parquet")


def test_s3_boto3_fallback_reads_object_and_prefix(spark, monkeypatch, tmp_path):
    """OP-A3 driver-side tier, end-to-end against moto's in-process S3:
    a single CSV object AND a Spark-written parquet dataset uploaded
    under a prefix both round-trip through read_input('s3://...')."""
    import boto3
    from moto import mock_aws

    from filefilter_spark.io import read_input
    from filefilter_spark.session import s3a_available

    if s3a_available(spark):  # pragma: no cover - env with jars
        pytest.skip("hadoop-aws present; s3a tier would win")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "test")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "test")
    with mock_aws():
        s3 = boto3.client("s3")
        s3.create_bucket(Bucket="corpus")
        s3.put_object(
            Bucket="corpus", Key="in/docs.csv",
            Body=b"id;name\n1;alpha\n2;beta\n",
        )
        got = read_input(spark, "s3://corpus/in/docs.csv", delimiter=";")
        assert sorted((r["id"], r["name"]) for r in got.collect()) == [
            (1, "alpha"), (2, "beta"),
        ]

        local = tmp_path / "events.parquet"
        spark.createDataFrame(
            [(i, f"e{i}") for i in range(50)], "event_id int, kind string"
        ).repartition(3).write.parquet(str(local))
        for f in local.rglob("*"):
            if f.is_file():
                s3.upload_file(
                    str(f), "corpus", f"ds/events.parquet/{f.name}"
                )
        got2 = read_input(spark, "s3://corpus/ds/events.parquet")
        assert got2.count() == 50 and set(got2.columns) == {"event_id", "kind"}

        with pytest.raises(FileNotFoundError, match="no S3 object"):
            read_input(spark, "s3://corpus/missing/nothing.parquet")

        # and the single-file CSV sink round-trips back UP to S3
        from filefilter_spark.io import write_csv_file

        write_csv_file(got, "s3://corpus/out/result.csv", delimiter=";")
        body = s3.get_object(Bucket="corpus", Key="out/result.csv")[
            "Body"
        ].read().decode()
        lines = sorted(body.strip().splitlines())
        assert lines == ["1;alpha", "2;beta", "id;name"]


def test_s3_fallback_error_and_size_guards(spark, monkeypatch, tmp_path):
    """The jarless fetch tier's failure modes:

    - a non-404 ClientError on the object probe (AccessDenied, throttle)
      surfaces AS ITSELF — falling through to the prefix listing would
      misreport it as FileNotFoundError and mask the actual cause;
    - an object/prefix larger than ``max_bytes`` fails fast naming the
      cap and the hadoop-aws remedy, instead of silently pulling a
      cluster-sized dataset through driver disk.
    """
    import boto3
    from moto import mock_aws

    from filefilter_spark.io import _fetch_s3_to_local
    from filefilter_spark.session import s3a_available

    if s3a_available(spark):  # pragma: no cover - env with jars
        pytest.skip("hadoop-aws present; fallback path not reachable")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "test")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "test")
    with mock_aws():
        s3 = boto3.client("s3")
        s3.create_bucket(Bucket="corpus")
        s3.put_object(Bucket="corpus", Key="big/blob.bin", Body=b"x" * 4096)

        # size cap: single object over the cap -> ValueError, not a
        # download and not FileNotFoundError
        with pytest.raises(ValueError, match="hadoop-aws"):
            _fetch_s3_to_local("s3://corpus/big/blob.bin", max_bytes=1024)
        # size cap: prefix total over the cap (two 4k objects, 6k cap)
        s3.put_object(Bucket="corpus", Key="big/blob2.bin", Body=b"y" * 4096)
        with pytest.raises(ValueError, match="fetch cap"):
            _fetch_s3_to_local("s3://corpus/big", max_bytes=6144)
        # under the default cap the same prefix fetch succeeds
        out = _fetch_s3_to_local("s3://corpus/big")
        import pathlib

        assert sorted(p.name for p in pathlib.Path(out).iterdir()) == [
            "blob.bin", "blob2.bin",
        ]

    # non-404 ClientError must re-raise, not fall through to the
    # prefix path (moto can't mint AccessDenied on demand, so stub the
    # client at the boto3 seam the function uses)
    from botocore.exceptions import ClientError

    class _DeniedClient:
        def head_object(self, **kw):
            raise ClientError(
                {"Error": {"Code": "AccessDenied", "Message": "nope"}},
                "HeadObject",
            )

    class _FakeBoto3:
        @staticmethod
        def client(name):
            assert name == "s3"
            return _DeniedClient()

    import sys

    monkeypatch.setitem(sys.modules, "boto3", _FakeBoto3())
    with pytest.raises(ClientError, match="AccessDenied"):
        _fetch_s3_to_local("s3://corpus/secret/key.csv")


def test_s3_conf_from_env_boto3_chain_parity():
    """OP-A3 credential contract: every AWS_* env var the boto3 tier
    honors lands on its exact fs.s3a.* key, with boto3's own precedence
    (service-specific endpoint over generic, AWS_REGION over
    AWS_DEFAULT_REGION) — the two tiers provably share one credential
    story rather than agreeing by convention."""
    from filefilter_spark.session import s3_conf_from_env

    env = {
        "AWS_ACCESS_KEY_ID": "AK",
        "AWS_SECRET_ACCESS_KEY": "SK",
        "AWS_SESSION_TOKEN": "TOK",
        "AWS_ENDPOINT_URL": "http://generic:9000",
        "AWS_ENDPOINT_URL_S3": "http://s3specific:9000",
        "AWS_DEFAULT_REGION": "us-east-1",
        "AWS_REGION": "eu-west-1",
        "HOME": "/root",  # unrelated vars must be ignored
    }
    assert s3_conf_from_env(env) == {
        "spark.hadoop.fs.s3a.access.key": "AK",
        "spark.hadoop.fs.s3a.secret.key": "SK",
        "spark.hadoop.fs.s3a.session.token": "TOK",
        "spark.hadoop.fs.s3a.endpoint": "http://s3specific:9000",
        "spark.hadoop.fs.s3a.endpoint.region": "eu-west-1",
    }
    # fallback precedence: generic endpoint / default region apply when
    # the specific ones are absent; empty values are treated as unset
    assert s3_conf_from_env({
        "AWS_ENDPOINT_URL": "http://generic:9000",
        "AWS_DEFAULT_REGION": "us-east-1",
        "AWS_REGION": "",
    }) == {
        "spark.hadoop.fs.s3a.endpoint": "http://generic:9000",
        "spark.hadoop.fs.s3a.endpoint.region": "us-east-1",
    }
    assert s3_conf_from_env({}) == {}
