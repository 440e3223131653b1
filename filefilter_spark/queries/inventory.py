"""Operator inventory — SURVEY.md §2.A/B/C declared as oracle-checked queries.

Each OP-* id from SURVEY.md §2 gets one entry: a Spark builder and a
DuckDB oracle. Spark sides use the DataFrame API for the operators
where the idiomatic-Spark shape matters (joins, windows, pivot, Q1) and
``spark.sql`` where Spark/DuckDB SQL coincide (both routes are Catalyst).

See registry.py's module docstring for the float-determinism rules
(DECIMAL-sum recipe) every aggregate here follows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from filefilter_spark.config import load_config_str
from filefilter_spark.ops.money import sum_cents
from filefilter_spark.queries.registry import load_table, query, register_views, sql_query

def _scratch(name: str) -> str:
    """Per-process scratch path for sink round-trip queries: one fixed
    subpath per query name under the shared atexit-cleaned root
    (:func:`filefilter_spark.io.scratch_root`) — every write here is
    mode=overwrite, so repeated bench / correctness runs reuse the same
    path instead of accumulating a fresh mkdtemp per invocation."""
    from filefilter_spark.io import scratch_root

    return f"{scratch_root('ffspark_scratch_')}/{name}"

# ---------------------------------------------------------------------------
# §2.A — native pipeline operators
# ---------------------------------------------------------------------------


@query(
    "OP-A1",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="CSV/TSV scan (Database.py:77-78): write nation as a TAB-delimited "
        "file, read it back through read_input with the reference's TAB "
        "delimiter alias (loaders.py:10,22) and an explicit schema (no "
        "head sample to infer types from, no FAILFAST misfit check).",
)
def op_a1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.io import read_input, write_csv_file

    out = _scratch("a1/nation.tsv")
    write_csv_file(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey"),
        out, delimiter="\t",
    )
    return read_input(
        spark, out, delimiter="TAB",
        schema="n_nationkey bigint, n_name string, n_regionkey bigint",
    )


@query(
    "OP-A2",
    oracle="SELECT count(*) AS n FROM lineitem",
    doc="Parquet scan (Database.py:79-80) → count.",
)
def op_a2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n"))


@query(
    "OP-A4",
    oracle="SELECT count(*) AS n FROM (SELECT * FROM lineitem LIMIT 100)",
    doc="sampleLines dev cap (filefilter.py:283-284) — limit pushed into scan.",
)
def op_a4(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").limit(100).agg(F.count("*").alias("n"))


_A5_YAML = """
filters:
  - name: classify
    actionType: python
    code: |
      row['bal_bucket'] = 'high' if row['c_acctbal'] > 5000 else 'low'
      row['name_upper'] = row['c_name'].upper()
"""


@query(
    "OP-A5",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           CASE WHEN c_acctbal > 5000 THEN 'high' ELSE 'low' END AS bal_bucket,
           upper(c_name) AS name_upper
    FROM customer
    """,
    doc="python row-map stage (filefilter.py:38-50) via mapInPandas; "
        "schema inferred from driver-side sample run.",
)
def op_a5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.pipeline import Pipeline

    pipe = Pipeline(spark, load_config_str(_A5_YAML))
    return pipe.run(load_table(spark, sf_dir, "customer")).df


_A6_YAML = """
filters:
  - name: enrich
    actionType: rest
    actionConfig:
      newField: response
      mockTemplate: '{{"custkey": {c_custkey}, "segment": "{c_mktsegment}"}}'
"""


@query(
    "OP-A6",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           '{"custkey": ' || CAST(c_custkey AS VARCHAR)
             || ', "segment": "' || c_mktsegment || '"}' AS response
    FROM customer
    """,
    doc="rest enrichment stage (filters.py:17-89): response JSON lands as a "
        "string column; deterministic mock transport exercises the full "
        "templating + mapInPandas path (live HTTP covered by unit tests).",
)
def op_a6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.pipeline import Pipeline

    pipe = Pipeline(spark, load_config_str(_A6_YAML))
    return pipe.run(load_table(spark, sf_dir, "customer")).df


_A7_YAML = """
filters:
  - name: agg
    actionType: sql
    code: |
      SELECT o_orderstatus,
             count(*) AS n_orders,
             (CAST(SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_price
      FROM df GROUP BY o_orderstatus
"""


@query(
    "OP-A7",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_orders,
           (CAST(SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_price
    FROM orders GROUP BY o_orderstatus
    """,
    doc="sql stage (filefilter.py:340-342): arbitrary SQL over view `df`.",
)
def op_a7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.pipeline import Pipeline

    pipe = Pipeline(spark, load_config_str(_A7_YAML))
    return pipe.run(load_table(spark, sf_dir, "orders")).df


_A8_YAML = """
filters:
  - name: only_clicks
    actionType: sql
    code: SELECT * FROM df WHERE event_type IN ('click', 'view')
  - name: skipped
    actionType: sql
    disabled: true
    code: SELECT 1 AS should_never_run
  - name: double_it
    actionType: python
    code: |
      row['value_x2'] = row['value'] * 2
  - name: summarize
    actionType: sql
    code: |
      SELECT event_type, count(*) AS n,
             (CAST(SUM(CAST(ROUND((value_x2) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_v2
      FROM df GROUP BY event_type
"""


@query(
    "OP-A8",
    oracle="""
    SELECT event_type, count(*) AS n,
           (CAST(SUM(CAST(ROUND((value * 2) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_v2
    FROM events WHERE event_type IN ('click', 'view')
    GROUP BY event_type
    """,
    doc="stage composition + disabled-skip (filefilter.py:306-372): "
        "sql → (disabled) → python → sql folded into one lazy plan.",
)
def op_a8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.pipeline import Pipeline

    pipe = Pipeline(spark, load_config_str(_A8_YAML))
    return pipe.run(load_table(spark, sf_dir, "events")).df


@query(
    "OP-A9",
    oracle="""
    SELECT CAST(r_regionkey AS VARCHAR) AS r_regionkey, r_name FROM region
    """,
    doc="CSV sink + re-read round-trip (filefilter.py:374-379): the "
        "single-file sink io.write_csv_file, written with header+delimiter, "
        "read back as strings.",
)
def op_a9(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.io import write_csv_file

    out = _scratch("a9/region.csv")
    write_csv_file(load_table(spark, sf_dir, "region"), out, delimiter=";")
    return (
        spark.read.options(header=True, sep=";")
        .schema("r_regionkey string, r_name string")
        .csv(out)
    )


@query(
    "OP-A9-jsonl",
    oracle="""
    SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region
    """,
    doc="JSONL sink + re-read round-trip (beyond-reference source/sink: "
        "the standard LLM-corpus interchange layout; io.py read_input/"
        "write_jsonl).",
)
def op_a9_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.io import read_input, write_jsonl

    out = _scratch("a9j/region.jsonl")
    write_jsonl(
        load_table(spark, sf_dir, "region").selectExpr(
            "CAST(r_regionkey AS BIGINT) AS r_regionkey", "r_name"
        ),
        out,
    )
    return read_input(spark, out, schema="r_regionkey bigint, r_name string")


@query(
    "OP-A9-orc",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    """,
    doc="ORC sink + re-read round-trip (beyond-reference source/sink: the "
        "other mainstream columnar format, Hive/Trino ecosystems; Spark's "
        "built-in reader keeps pushdown + pruning; io.py read_input/"
        "write_orc).",
)
def op_a9_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.io import read_input, write_orc

    out = _scratch("a9o/region.orc")
    write_orc(load_table(spark, sf_dir, "region").select("r_regionkey", "r_name"), out)
    return read_input(spark, out)


@query(
    "OP-A9-gzip",
    oracle="""
    SELECT CAST(r_regionkey AS VARCHAR) AS r_regionkey, r_name FROM region
    """,
    doc="gzip-compressed CSV round-trip: written with codec gzip, re-read "
        "through the compression-transparent extension dispatch (io.py). "
        "Gzip text is NOT splittable — one task per file on re-read; the "
        "scale guidance (many modest files, or zstd/parquet) is documented "
        "on the reader.",
)
def op_a9_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.io import read_input, write_csv

    out = _scratch("a9g/region.csv.gz")
    write_csv(
        load_table(spark, sf_dir, "region").select("r_regionkey", "r_name"),
        out, compression="gzip",
    )
    return read_input(spark, out, schema="r_regionkey string, r_name string")


sql_query(
    "OP-A10",
    "SELECT count(*) AS n FROM orders",
    doc="per-stage row count (filefilter.py:296,355).",
)

sql_query(
    "OP-A11",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_orderkey LIMIT 5
    """,
    doc="head sample (filefilter.py:361-368) made deterministic via ORDER BY.",
)


@query(
    "OP-A16",
    oracle="""
    SELECT c_custkey,
           'id=' || CAST(c_custkey AS VARCHAR) || '&seg=' || c_mktsegment AS qstring
    FROM customer
    """,
    doc="template substitution (filters.py:22-39) as a JVM-side expression.",
)
def op_a16(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat(
            F.lit("id="), F.col("c_custkey").cast("string"),
            F.lit("&seg="), F.col("c_mktsegment"),
        ).alias("qstring"),
    )


_A14_YAML = """
filters:
  - name: keep_f
    actionType: sql
    code: SELECT * FROM df WHERE o_orderstatus = 'F'
  - name: classify
    actionType: python
    code: |
      row['big'] = row['o_totalprice'] > 100000
"""


@query(
    "OP-A14",
    oracle="""
    SELECT 'keep_f' AS stage, (SELECT count(*) FROM orders WHERE o_orderstatus = 'F') AS rows_out, 0 AS errors
    UNION ALL
    SELECT 'classify', (SELECT count(*) FROM orders WHERE o_orderstatus = 'F'), 0
    """,
    doc="progress/stats (StatsManager.py:10-34, filefilter.py:116-141): "
        "per-stage row counts + error counters collected via df.observe on "
        "the materializing action — zero extra jobs; returned as a metrics "
        "table the oracle pins exactly.",
)
def op_a14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.pipeline import Pipeline

    pipe = Pipeline(spark, load_config_str(_A14_YAML))
    result = pipe.run(load_table(spark, sf_dir, "orders"))
    result.df.write.format("noop").mode("overwrite").save()  # one action
    rows = [
        (m.name, m.rows_out, m.errors if m.errors is not None else 0)
        for m in result.harvest_metrics()
    ]
    return spark.createDataFrame(rows, "stage string, rows_out bigint, errors bigint")


_C1_YAML = """
filters:
  - name: pandas_enrich
    actionType: pandas
    code: |
      df = df.assign(price_x2=df['o_totalprice'] * 2,
                     key_mod=df['o_orderkey'] % 7)
"""


@query(
    "OP-C1",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           o_orderpriority,
           o_totalprice * 2 AS price_x2, o_orderkey % 7 AS key_mod
    FROM orders
    """,
    doc="pandas whole-df stage (OP-C1, reference stub filefilter.py:344-346) "
        "implemented via mapInPandas per Arrow batch.",
)
def op_c1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.pipeline import Pipeline

    pipe = Pipeline(spark, load_config_str(_C1_YAML))
    return pipe.run(load_table(spark, sf_dir, "orders")).df


_C2_YAML = """
filters:
  - name: register_udf
    actionType: udf
    actionConfig:
      name: doubled
      returnType: double
      vectorized: true
      code: |
        def fn(x):
            return x + x
  - name: use_udf
    actionType: sql
    code: |
      SELECT l_orderkey, l_linenumber, doubled(l_quantity) AS qty2 FROM df
"""


@query(
    "OP-C2",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity + l_quantity AS qty2 FROM lineitem
    """,
    doc="udf registration stage (OP-C2, readme.md:72-76 TODO) as a "
        "vectorized pandas_udf callable from later sql stages.",
)
def op_c2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.pipeline import Pipeline

    pipe = Pipeline(spark, load_config_str(_C2_YAML))
    return pipe.run(load_table(spark, sf_dir, "lineitem")).df


_C2_AGG_YAML = """
filters:
  - name: register_udaf
    actionType: udf
    actionConfig:
      name: sum_sq
      kind: grouped_agg
      returnType: double
      code: |
        def fn(v):
            return float((v * v).sum())
  - name: use_udaf
    actionType: sql
    code: |
      SELECT l_returnflag, CAST(sum_sq(l_quantity) AS DOUBLE) AS ssq
      FROM df GROUP BY l_returnflag
"""


@query(
    "OP-C2-agg",
    oracle="""
    SELECT l_returnflag,
           (CAST(SUM(CAST(ROUND((l_quantity * l_quantity) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS ssq
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="UDAF via grouped-agg pandas_udf (SURVEY §2.7): YAML-registered "
        "aggregate callable from a later sql stage. l_quantity is integral"
        "-valued so the float sum is exact.",
)
def op_c2_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.pipeline import Pipeline

    pipe = Pipeline(spark, load_config_str(_C2_AGG_YAML))
    return pipe.run(load_table(spark, sf_dir, "lineitem")).df


_C2_UDTF_YAML = """
filters:
  - name: register_udtf
    actionType: udf
    actionConfig:
      name: seq_rows
      kind: table
      returnType: "i bigint"
      code: |
        class fn:
            def eval(self, n: int):
                for i in range(n):
                    yield (i,)
  - name: use_udtf
    actionType: sql
    code: |
      SELECT l_orderkey, l_linenumber, t.i
      FROM df, LATERAL seq_rows(l_linenumber) t
      WHERE l_orderkey <= 64
"""


@query(
    "OP-C2-udtf",
    oracle="""
    SELECT l_orderkey, l_linenumber, gs.i
    FROM lineitem, LATERAL (
      SELECT CAST(unnest(range(l_linenumber)) AS BIGINT) AS i
    ) gs
    WHERE l_orderkey <= 64
    """,
    doc="UDTF (SURVEY §2.7): YAML-registered python table function, "
        "lateral-joined — one input row fans out to l_linenumber rows.",
)
def op_c2_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.pipeline import Pipeline

    pipe = Pipeline(spark, load_config_str(_C2_UDTF_YAML))
    return pipe.run(load_table(spark, sf_dir, "lineitem")).df


# ---------------------------------------------------------------------------
# §2.B — relational surface (delegated via the sql stage in the reference,
# native Spark SQL / DataFrame API here)
# ---------------------------------------------------------------------------

sql_query(
    "OP-B1",
    "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem",
    doc="projection with column pruning down to the parquet scan.",
)


@query(
    "OP-B2",
    oracle="SELECT p_partkey, p_name, p_brand, p_size FROM part",
    doc="column exclusion — `* EXCLUDE(...)` (fullExample.yml:102) → df.drop.",
)
def op_b2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "part").drop("p_type", "p_retailprice")


sql_query(
    "OP-B3",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_totalprice BETWEEN 50000 AND 150000
      AND o_orderstatus IN ('F', 'O')
      AND o_orderpriority LIKE '%URGENT%'
      AND o_custkey IS NOT NULL
    """,
    doc="predicate surface: BETWEEN / IN / LIKE / IS NULL / AND.",
)

sql_query(
    "OP-B4",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_quantity * 10 AS qty10
    FROM lineitem
    """,
    doc="computed columns; per-row double arithmetic is cross-engine exact.",
)


@query(
    "OP-B5",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    doc="inner equi-join; customer side is broadcast-eligible, Catalyst/AQE "
        "picks broadcast-hash at this size.",
)
def op_b5(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # No broadcast hint: customer grows with SF, so the side must be
    # chosen by size statistics (static planner under the 64 MB
    # threshold, AQE at runtime otherwise) — a hard hint would force an
    # executor-OOM broadcast at production scale. Measured: the
    # hint-free plan is also faster here (no eager broadcast-build job).
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


# Zipf-ish derived key for the skew entries: 3 of every 4 lineitem rows
# land on key 0, the rest spread over nation's 25 keys — the "one hot
# key ≫ others" shape that makes an unsalted shuffle concentrate ~75%
# of the big side in a single reducer task at 100 TB.
_SKEW_KEY = "CASE WHEN l_orderkey % 4 != 0 THEN 0 ELSE l_orderkey % 25 END"


@query(
    "OP-B5-skew",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_quantity, n_name
    FROM (SELECT *, {_SKEW_KEY} AS skew_key FROM lineitem) l
    JOIN nation ON n_nationkey = skew_key
    """,
    doc="skew-resistant salted join (ops/skew.py salted_join): the hot "
        "key is spread over 8 salts so no reducer holds 75% of the big "
        "side; strategy pinned to shuffle_hash (a broadcast would hide "
        "the skew — this entry models the just-above-threshold dim). "
        "Output provably identical to the unsalted join; exact oracle.",
)
def op_b5_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.skew import salted_join

    l = load_table(spark, sf_dir, "lineitem").withColumn(
        "skew_key", F.expr(_SKEW_KEY)
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("skew_key"), "n_name"
    )
    out = salted_join(l, n, on=["skew_key"], n_salts=8, strategy="shuffle_hash")
    return out.select("l_orderkey", "l_linenumber", "l_quantity", "n_name")


@query(
    "OP-B12-skew",
    oracle=f"""
    SELECT skew_key, count(DISTINCT l_suppkey) AS n_supp, count(*) AS n_rows
    FROM (SELECT *, {_SKEW_KEY} AS skew_key FROM lineitem) l
    GROUP BY skew_key
    """,
    doc="skew-resistant salted aggregation (ops/skew.py salted_agg) for a "
        "HOLISTIC aggregate — exact distinct count via per-salt "
        "collect_set then a cross-salt union — where map-side partial "
        "aggregation can't absorb the hot key (every distinct value must "
        "reach the reducer; 75% of rows share one key). Two-phase: "
        "(key, salt) spreads the hot key over 8 reducers, phase 2 merges "
        "8 small sets per key. Exact oracle.",
)
def op_b12_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.skew import salted_agg

    l = load_table(spark, sf_dir, "lineitem").withColumn(
        "skew_key", F.expr(_SKEW_KEY)
    )
    return salted_agg(
        l,
        ["skew_key"],
        partial={"supps": F.collect_set("l_suppkey"), "cnt": F.count(F.lit(1))},
        combine={
            "n_supp": F.size(F.array_distinct(F.flatten(F.collect_list("supps"))))
            .cast("long"),
            "n_rows": F.sum("cnt"),
        },
        n_salts=8,
    ).select("skew_key", "n_supp", "n_rows")


@query(
    "OP-B6",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN (
      SELECT * FROM orders WHERE o_orderstatus = 'P'
    ) o ON o_custkey = c_custkey
    """,
    doc="left outer join, null-extended for real: the right side is "
        "restricted to o_orderstatus = 'P' (same reasoning as OP-B7 — "
        "every customer has SOME order, so the unrestricted form never "
        "exercises the outer semantics and is indistinguishable from an "
        "inner join on this data).",
)
def op_b6(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    c = load_table(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "OP-B6-full",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM (SELECT * FROM customer WHERE c_custkey < 500) c
    FULL JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
      ON o_custkey = c_custkey
    """,
    doc="full outer join: both sides restricted so null extension happens "
        "in BOTH directions (customers >= 500 with pending orders appear "
        "order-side-only; customers < 500 without pending orders appear "
        "customer-side-only).",
)
def op_b6_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "OP-B7",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    """,
    doc="left anti join = NOT EXISTS (Catalyst rewrites the subquery form "
        "to the same physical anti join). The orders side is restricted to "
        "o_orderstatus = 'P' so the result is non-empty at every test SF "
        "(every customer has *some* order, so the unrestricted anti-join is "
        "vacuously 0 rows and proves nothing).",
)
def op_b7(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    c = load_table(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "OP-B8",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
    doc="cross join (tiny dims only; guarded at scale).",
)
def op_b8(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "OP-B9",
    oracle="""
    SELECT p_partkey, count(*) AS n_matches
    FROM part JOIN lineitem
      ON p_retailprice BETWEEN l_extendedprice * 0.99 AND l_extendedprice * 1.01
    GROUP BY p_partkey
    """,
    doc="theta/range join via BANDED bucketing (ops/rangejoin.py) — the "
        "scalable rewrite of what Spark would otherwise plan as an O(n·m) "
        "BroadcastNestedLoop: the point side lands in one price bucket, "
        "the interval side explodes to the buckets its range overlaps, and "
        "the join becomes an EQUI-join on bucket id + exact residual "
        "filter. Each true pair matches in exactly one bucket (the one "
        "containing the point), so no dedup pass is needed. One shuffle, "
        "full tables. Band width is measured from the data (median "
        "interval width over a bounded sample) — a hardcoded width breaks "
        "on a value-scale change; see test_auto_band_tracks_value_scale.",
)
def op_b9(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.rangejoin import banded_range_join

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice") * 0.99).alias("lo"),
        (F.col("l_extendedprice") * 1.01).alias("hi"),
    )
    return (
        banded_range_join(p, li, "p_retailprice", "lo", "hi")
        .groupBy("p_partkey")
        .agg(F.count("*").alias("n_matches"))
    )


@query(
    "OP-B12",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           (CAST(SUM(CAST(ROUND((l_quantity) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_qty,
           (CAST(SUM(CAST(ROUND((l_extendedprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_base_price,
           (CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_disc_price,
           (CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_charge,
           (CAST(SUM(CAST(ROUND((l_quantity) * 100) AS BIGINT)) AS DOUBLE) / 100.0) / count(*) AS avg_qty,
           (CAST(SUM(CAST(ROUND((l_extendedprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0) / count(*) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape (flagship aggregate): hash group-by with partial "
        "(map-side) aggregation; one shuffle on the 4-group key. Money "
        "sums in integer cents (exact, order-independent, ~2x faster "
        "than decimal — see registry module docstring).",
)
def op_b12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.ops.money import sum_money_sql

    li = load_table(spark, sf_dir, "lineitem")

    # Aggregates as parsed SQL strings: one Py4J round trip per
    # expression instead of one per Column node (~0.1 s off every
    # plan build of this six-aggregate query; plan-identical).
    qty = sum_money_sql("l_quantity")
    price = sum_money_sql("l_extendedprice")
    disc_price = sum_money_sql("l_extendedprice * (1 - l_discount)")
    charge = sum_money_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")
    return (
        li.filter(F.expr("l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"{qty} AS sum_qty"),
            F.expr(f"{price} AS sum_base_price"),
            F.expr(f"{disc_price} AS sum_disc_price"),
            F.expr(f"{charge} AS sum_charge"),
            F.expr(f"{qty} / count(*) AS avg_qty"),
            F.expr(f"{price} / count(*) AS avg_price"),
            F.expr("count(*) AS count_order"),
        )
    )


@query(
    "OP-B11",
    oracle="""
    SELECT r_name, count(*) AS n_orders,
           (CAST(SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_price
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    GROUP BY r_name
    """,
    doc="multi-way join with small dims broadcast; one shuffle for the agg.",
)
def op_b11(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        # Size-based broadcast selection (see OP-B5 note): all three
        # dims are picked as broadcast-hash sides automatically at this
        # SF; at scale only the ones that still fit get broadcast.
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            (sum_cents(F.col("o_totalprice")) / 100.0).alias("sum_price"),
        )
    )


sql_query(
    "OP-B13",
    """
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           (CAST(SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_price,
           (CAST(SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0) / count(o_totalprice) AS avg_price,
           round(sqrt(
             (CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
              - (CAST(SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0)
                * (CAST(SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0) / count(*))
             / (count(*) - 1)
           ), 4) AS stddev_price
    FROM orders GROUP BY o_orderstatus
    """,
    doc="aggregate-function battery; stddev from exact decimal moments, "
        "rounded to 4dp because the sum-of-squares exceeds 2^53 in "
        "DECIMAL(30,4) units and the decimal→double conversion may round "
        "a different way in each engine (1-ulp drift at large SF).",
)

@query(
    "OP-B14",
    oracle="""
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, true AS within_tol
    FROM events
    """,
    doc="approx_count_distinct (HLL, rsd=0.01) — oracle checks the exact "
        "count and that the sketch lands within 5% (boolean pinned true). "
        "Default rsd=0.05 drifted 6.7% at sf0.1; the tighter sketch keeps "
        "a 5× margin.",
)
def op_b14(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.agg(
        F.countDistinct("user_id").alias("n_exact"),
        (
            F.abs(F.approx_count_distinct("user_id", 0.01) - F.countDistinct("user_id"))
            <= 0.05 * F.countDistinct("user_id")
        ).alias("within_tol"),
    )


sql_query(
    "OP-B15",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           (CAST(SUM(CAST(ROUND((l_quantity) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping sets (subtotals + grand total).",
)

sql_query(
    "OP-B16",
    """
    SELECT o_custkey, count(*) AS n_orders,
           (CAST(SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_price
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 15
    """,
    doc="HAVING post-aggregation filter.",
)

sql_query(
    "OP-B17",
    "SELECT DISTINCT c_mktsegment FROM customer",
    doc="DISTINCT (hash aggregate, partial dedup map-side).",
)


@query(
    "OP-B18",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             rank()       OVER (PARTITION BY o_custkey
                                ORDER BY o_orderstatus) AS status_rank
      FROM orders
    ) WHERE rn <= 3
    """,
    doc="ranking window functions; deterministic tiebreak on o_orderkey.",
)
def op_b18(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderstatus")
    return (
        o.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w2).alias("status_rank"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "OP-B19",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value,
           first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_type
    FROM events
    """,
    doc="analytic window functions (lag/lead/first_value).",
)
def op_b19(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id", "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("event_type").over(w).alias("first_type"),
    )


@query(
    "OP-B20",
    oracle="""
    SELECT o_custkey, o_orderkey,
           (SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0) AS running_total
    FROM orders
    """,
    doc="window aggregate with an explicit ROWS frame (running total); "
        "integer-cents accumulation keeps it association-order independent.",
)
def op_b20(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey", "o_orderkey",
        (sum_cents(F.col("o_totalprice")).over(w) / 100.0)
        .alias("running_total"),
    )


sql_query(
    "OP-B21",
    """
    SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
    ORDER BY o_orderdate DESC, o_orderkey ASC LIMIT 100
    """,
    doc="multi-key ORDER BY + LIMIT → TakeOrderedAndProject (no full sort).",
)


@query(
    "OP-B22",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="top-k: Catalyst compiles orderBy+limit to TakeOrderedAndProject "
        "(per-partition heap + driver merge — no global sort at scale).",
)
def op_b22(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


sql_query(
    "OP-B23",
    """
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice > 400000
    """,
    doc="UNION (distinct) of two branches over the same scan.",
)

sql_query(
    "OP-B24",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="INTERSECT set operation.",
)

sql_query(
    "OP-B25-lateral",
    """
    SELECT c_custkey, t.max_price
    FROM customer, LATERAL (
      SELECT max(o_totalprice) AS max_price FROM orders WHERE o_custkey = c_custkey
    ) t
    WHERE c_custkey <= 500
    """,
    doc="correlated LATERAL subquery (per-row dependent subselect) — "
        "Catalyst decorrelates it into a join; identical SQL runs on both "
        "engines.",
)

sql_query(
    "OP-B25-recursive",
    """
    WITH RECURSIVE months(m) AS (
      SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12
    )
    SELECT m, count(o_orderkey) AS n
    FROM months LEFT JOIN orders ON month(o_orderdate) = m
    GROUP BY m
    """,
    doc="recursive CTE (month spine) + outer join + aggregate — identical "
        "SQL on both engines (Spark 4 WITH RECURSIVE).",
)

sql_query(
    "OP-B24-except",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="EXCEPT set operation (customers with finished but no open orders).",
)

@query(
    "OP-B35-unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
    FROM lineitem WHERE l_orderkey <= 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey <= 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_orderkey <= 100
    """,
    doc="UNPIVOT / melt: wide measure columns to (measure, value) rows — "
        "DataFrame df.unpivot (Spark's native melt); oracle is the "
        "engine-portable UNION ALL formulation.",
)
def op_b35_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure", "val",
    )


sql_query(
    "OP-B15-gs",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="explicit GROUPING SETS (beyond the ROLLUP/CUBE shorthands).",
)

sql_query(
    "OP-B18-dist",
    """
    SELECT o_orderkey,
           ntile(4)       OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume
    FROM orders WHERE o_orderkey <= 1000
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    """,
    doc="distribution window functions (ntile / percent_rank / cume_dist) "
        "with a unique tiebreak so both engines rank identically.",
)

sql_query(
    "OP-B15-cube",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE grouping sets (all subtotal combinations).",
)

sql_query(
    "OP-B20-range",
    """
    SELECT o_orderkey, o_totalprice,
           count(*) OVER (
             ORDER BY o_totalprice
             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW
           ) AS n_in_band
    FROM orders WHERE o_orderkey <= 2000
    """,
    doc="RANGE window frame (value-based band, vs OP-B20's ROWS frame).",
)

sql_query(
    "OP-B25",
    """
    WITH price_stats AS (
      SELECT (CAST(SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) AS DOUBLE) / 100.0) / count(*) AS avg_price
      FROM orders
    ),
    big_orders AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders, price_stats
      WHERE o_totalprice > avg_price * 1.5
    )
    SELECT b.o_orderkey, b.o_totalprice, c.c_name
    FROM big_orders b JOIN customer c ON b.o_custkey = c.c_custkey
    """,
    doc="CTE chain + scalar subquery (via cross join of a 1-row aggregate).",
)

sql_query(
    "OP-B26",
    """
    SELECT c_custkey,
           lower(c_name) AS lname,
           upper(c_mktsegment) AS useg,
           trim(concat('  ', c_name, '  ')) AS trimmed,
           substr(c_name, 1, 8) AS prefix,
           replace(c_name, '#', '-') AS replaced,
           length(c_name) AS name_len,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           CASE WHEN c_name LIKE '%1%' THEN 1 ELSE 0 END AS has_one
    FROM customer
    """,
    doc="string-function battery incl. regexp_extract (RE2/Java-common syntax).",
)


@query(
    "OP-B27",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           strftime(o_orderdate, '%Y-%m') AS ym,
           CAST(extract(year FROM o_orderdate) AS INT) AS yr,
           CAST(extract(month FROM o_orderdate) AS INT) AS mo,
           count(*) AS n
    FROM orders
    GROUP BY ALL
    """,
    doc="date/time battery; DuckDB strftime ↔ Spark date_format handled by "
        "the dialect map (%Y-%m → yyyy-MM); date_trunc cast to DATE on both "
        "sides (Spark returns TIMESTAMP, DuckDB DATE).",
)
def op_b27(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
            F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
        )
        .agg(F.count("*").alias("n"))
    )


sql_query(
    "OP-B28",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 1) AS rounded,
           CAST(floor(l_quantity) AS BIGINT) AS fl,
           CAST(ceil(l_quantity) AS BIGINT) AS ce,
           abs(l_quantity - 25) AS dist25,
           round(ln(1 + l_quantity), 6) AS log_qty,
           round(sqrt(l_quantity), 6) AS sqrt_qty
    FROM lineitem
    """,
    doc="math battery; transcendentals rounded to 6dp to absorb last-ulp "
        "libm differences between JVM and DuckDB.",
)

sql_query(
    "OP-B29",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 200000 THEN 'medium'
                ELSE 'large' END AS size_bucket,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_norm
    FROM orders
    """,
    doc="CASE WHEN / coalesce / nullif conditionals.",
)

sql_query(
    "OP-B30",
    """
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS STRING) AS price_dec,
           CAST(o_orderkey AS STRING) AS key_str,
           CAST(CAST(o_orderdate AS DATE) AS STRING) AS date_str,
           CAST(o_orderkey % 2 = 0 AS BOOLEAN) AS is_even
    FROM orders
    """,
    doc="cast battery (double→decimal→string, int→string, "
        "timestamp→date→string). The decimal is projected as its string "
        "rendering on BOTH sides: r2's driver run proved the decimal "
        "values identical row-by-row but hash-mismatched on the engines' "
        "decimal canonicalization, so the compared representation is "
        "pinned to text while the decimal cast still executes.",
)


@query(
    "OP-B31",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
           CAST(length(list(o_orderkey)) AS INT) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
    doc="array functions: collect_list → sort → join (sorted for "
        "order-insensitive comparison); DuckDB list_* names via dialect map.",
)
def op_b31(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list("o_orderkey")), lambda x: x.cast("string")),
            ",",
        ).alias("order_keys"),
        F.size(F.collect_list("o_orderkey")).alias("n_orders"),
    )


@query(
    "OP-B32",
    oracle="""
    SELECT c_custkey, c_name AS name_from_struct, c_mktsegment AS seg_from_map
    FROM customer
    """,
    doc="struct build + field access and map build + element_at "
        "(oracle states the equivalent flat semantics).",
)
def op_b32(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.struct("c_name", "c_acctbal").getField("c_name").alias("name_from_struct"),
        F.element_at(F.create_map(F.lit("seg"), F.col("c_mktsegment")), "seg").alias(
            "seg_from_map"
        ),
    )


@query(
    "OP-B33",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
    FROM events
    """,
    doc="JSON extraction from the string props column — replaces the "
        "reference's json.loads-inside-exec idiom (fullExample.yml:84-94).",
)
def op_b33(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k_num"),
    )


@query(
    "OP-B34",
    oracle="SELECT true AS in_range",
    doc="seeded Bernoulli sampling — engines sample different rows by design, "
        "so the check validates the sampled fraction lands in ±40% of 10%. "
        "Total and sampled counts come from ONE scan (a Bernoulli indicator "
        "column — df.sample's semantics — aggregated twice), not two jobs.",
)
def op_b34(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    row = (
        li.select((F.rand(seed=42) < 0.1).alias("in_sample"))
        .agg(
            F.count("*").alias("total"),
            F.count_if(F.col("in_sample")).alias("sampled"),
        )
        .first()
    )
    ok = 0.06 * row["total"] <= row["sampled"] <= 0.14 * row["total"]
    return spark.createDataFrame([(bool(ok),)], "in_range boolean")


@query(
    "OP-B35",
    oracle="""
    SELECT c_mktsegment,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="pivot: order-status counts per market segment (df.groupBy().pivot()).",
)
def op_b35(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)  # size-based broadcast, see OP-B5
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
    )


@query(
    "OP-B36",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
    QUALIFY rn = 1
    """,
    doc="QUALIFY (DuckDB-native) run through the engine's dialect rewrite "
        "on the Spark side — oracle executes the original QUALIFY text.",
)
def op_b36(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.dialect import translate

    register_views(spark, sf_dir)
    duck_sql = """
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
    QUALIFY rn = 1
    """
    return spark.sql(translate(duck_sql))


@query(
    "OP-A2-evolve",
    oracle="""
    SELECT r_regionkey,
           CAST(NULL AS VARCHAR) AS r_name, 'old' AS batch
    FROM region
    UNION ALL
    SELECT r_regionkey, r_name, 'new' AS batch FROM region
    """,
    doc="schema evolution on read: two parquet batches written months "
        "apart with different column sets (the 100 TB reality — corpora "
        "accrete columns) read as ONE dataset via mergeSchema, missing "
        "columns null-filled. Oracle is the explicit union_by_name "
        "formulation.",
)
def op_a2_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _scratch("a2e/evolving")
    r = load_table(spark, sf_dir, "region")
    # batch 1: narrow schema; batch 2: adds r_name
    r.selectExpr("r_regionkey", "'old' AS batch").write.mode("overwrite").parquet(
        f"{base}/b=1"
    )
    r.selectExpr("r_regionkey", "r_name", "'new' AS batch").write.mode(
        "overwrite"
    ).parquet(f"{base}/b=2")
    return (
        spark.read.option("mergeSchema", True)
        .parquet(f"{base}/b=1", f"{base}/b=2")
        .select("r_regionkey", "r_name", "batch")
    )


@query(
    "OP-A9-partitioned",
    oracle="""
    SELECT event_id, user_id, value, 'click' AS event_type
    FROM events WHERE event_type = 'click'
    """,
    doc="hive-partitioned sink + partition-pruned scan: events written "
        "partitionBy(event_type), then read with an event_type filter — "
        "the layout that turns a 100 TB scan into a one-partition read "
        "(PartitionFilters asserted in tests/test_plans.py).",
)
def op_a9_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from filefilter_spark.io import write_parquet

    out = _scratch("a9p/events_by_type")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    write_parquet(ev, out, partition_by=["event_type"])
    return (
        spark.read.parquet(out)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "value", "event_type")
    )
