"""The benchmark's workloads. Each one writes its seeded inputs, works
out the expected output, runs one pass through the program's public
API, and checks the pass's output.

A pass is one closed-loop request: the next pass starts only after the
previous one returns. Pipeline passes take the CLI path of
``filefilter_spark.cli.main`` (config load, ``read_input``,
``Pipeline.run``, ``write_csv_file``) call by call, so each layer gets
its own span.
"""

from __future__ import annotations

import random
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
import yaml

import checks
import inputs
from spans import Tracer

# --- sql_csv: the reference's own shape -------------------------------------

SQL_CSV_ROWS = 300_000
SQL_FILTER_DERIVE = """
SELECT l_orderkey, l_returnflag,
       CAST(l_quantity AS BIGINT) AS qty,
       CAST(ROUND(l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS disc_price_c4,
       EXTRACT(year FROM l_shipdate) AS ship_year
FROM df
WHERE l_quantity >= 5 AND l_shipdate >= DATE '1993-01-01'
"""
SQL_GROUP_RANK = """
SELECT l_orderkey, l_returnflag, ship_year,
       count(*) AS n_lines, sum(qty) AS qty, sum(disc_price_c4) AS revenue_c4,
       rank() OVER (PARTITION BY l_returnflag, ship_year
                    ORDER BY sum(disc_price_c4) DESC, l_orderkey) AS revenue_rank
FROM df
GROUP BY l_orderkey, l_returnflag, ship_year
"""

# --- python_rows: per-row exec in the Python workers -------------------------

PYTHON_ROWS = 40_000
PY_PROJECT = """
SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_discount,
       l_tax, l_returnflag
FROM df WHERE l_linenumber <= 6
"""
PY_ROW_CODE = """\
price = row['l_extendedprice'] * (1 - row['l_discount'])
row['charge'] = round(price * (1 + row['l_tax']), 2)
row['bulk'] = row['l_quantity'] >= 25
row['tag'] = row['l_returnflag'] + str(row['l_partkey'] % 7)
"""
PY_FILTER = "SELECT l_orderkey, l_partkey, charge, tag FROM df WHERE bulk AND charge > 20000"

# --- llm_corpus: examples/llm_pipeline.yml over a resampled corpus -----------

LLM_DOCS, LLM_BASE_DOCS = 600, 400
# The example config ends on an ARRAY<STRING> column (bpe_tokens), which
# the CSV sink cannot write; this projection makes the output CSV-safe.
LLM_CSV_SAFE = {
    "name": "csv_safe_projection",
    "actionType": "sql",
    "code": "SELECT doc_id, text, lang, source, n_tokens, quality, split, "
            "size(bpe_tokens) AS n_bpe FROM df",
}

# --- operators: headline registry queries into the noop sink -----------------

OPERATOR_SCALE = 6_000   # lineitem rows; the other tables scale with it
# The headline rows one pass runs: the flagship aggregate plus the exact
# and fuzzy dedup kernels. The full HEADLINE pass takes ~42 s warm even
# at this scale (OP-D4-qualityclf alone ~13 s), beyond one run's budget.
OPERATOR_ROWS = ("OP-B12", "OP-D1", "OP-D2-fuzzy")


class Workload:
    name = ""

    def __init__(self, root: Path, work: Path, seed: int):
        self.root, self.work, self.seed = root, work, seed
        self.files: list[Path] = []
        self.input_rows = 0
        self.reference: dict | None = None

    def make_inputs(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Work out the expected output before Spark starts."""

    def run_pass(self, spark, tr: Tracer) -> dict:
        raise NotImplementedError

    def check(self, obs: dict) -> bool:
        """Pipelines without an independent reference must repeat the
        first pass's observation exactly."""
        if self.reference is None:
            self.reference = obs
            return True
        return obs == self.reference


class PipelineWorkload(Workload):
    config_text = ""
    float_digits: int | None = None

    def prepare(self) -> None:
        self.config_path = self.work / f"{self.name}.yml"
        self.config_path.write_text(self.config_text)
        self.out_path = self.work / "out.csv"

    def run_pass(self, spark, tr: Tracer) -> dict:
        from filefilter_spark.config import load_config
        from filefilter_spark.io import read_input, write_csv_file

        with tr.span("config.load"):
            cfg = load_config(self.config_path)
        with tr.span("io.read"):
            df = read_input(spark, str(self.input_path), delimiter=cfg.in_delimiter,
                            sample_lines=cfg.sample_lines)
        with tr.span("pipeline.run"):
            result = traced_pipeline(spark, cfg, tr).run(df)
        with tr.span("io.sink"):
            write_csv_file(result.df, str(self.out_path), delimiter=cfg.out_delimiter)
        return {
            "stage_rows": [m.rows_out for m in result.harvest_metrics()],
            "output": checks.csv_fingerprint(self.out_path, self.float_digits),
        }


def traced_pipeline(spark, cfg, tr: Tracer):
    """A ``Pipeline`` whose stage ``apply`` calls each run in a span
    named ``stage.<actionType>``."""
    from filefilter_spark.pipeline import Pipeline

    class TracedPipeline(Pipeline):
        def _build_stage(self, stage_cfg):
            stage = super()._build_stage(stage_cfg)
            apply = stage.apply

            def traced_apply(df):
                with tr.span(f"stage.{stage_cfg.action_type}"):
                    return apply(df)

            stage.apply = traced_apply
            return stage

    return TracedPipeline(spark, cfg)


def _sql_stage(name: str, code: str) -> dict:
    return {"name": name, "actionType": "sql", "code": code}


class SqlCsv(PipelineWorkload):
    name = "sql_csv"
    config_text = yaml.safe_dump({"filters": [
        _sql_stage("filter_derive", SQL_FILTER_DERIVE),
        _sql_stage("group_rank", SQL_GROUP_RANK),
    ]}, sort_keys=False)

    def make_inputs(self) -> None:
        self.input_path = self.work / "lineitem.csv"
        pacsv.write_csv(inputs.lineitem(self.seed, SQL_CSV_ROWS, date_type="date"), self.input_path)
        self.files, self.input_rows = [self.input_path], SQL_CSV_ROWS

    def prepare(self) -> None:
        super().prepare()
        # DuckDB, the reference's engine, runs the same two statements
        # over the same CSV.
        con = duckdb.connect()
        con.execute(f"CREATE TABLE df AS SELECT * FROM read_csv('{self.input_path}', header=true)")
        con.execute(f"CREATE TABLE s1 AS {SQL_FILTER_DERIVE}")
        con.execute("DROP TABLE df")
        con.execute("ALTER TABLE s1 RENAME TO df")
        expected = con.execute(SQL_GROUP_RANK).df()
        con.close()
        self.expected = checks.fingerprint(expected)

    def check(self, obs: dict) -> bool:
        return obs["output"] == self.expected


class PythonRows(PipelineWorkload):
    name = "python_rows"
    config_text = yaml.safe_dump({"filters": [
        _sql_stage("project", PY_PROJECT),
        {"name": "row_code", "actionType": "python", "code": PY_ROW_CODE},
        _sql_stage("filter", PY_FILTER),
    ]}, sort_keys=False)

    def make_inputs(self) -> None:
        self.input_path = self.work / "lineitem.parquet"
        pq.write_table(inputs.lineitem(self.seed, PYTHON_ROWS), self.input_path)
        self.files, self.input_rows = [self.input_path], PYTHON_ROWS

    def prepare(self) -> None:
        super().prepare()
        # The same row code applied in pandas, between the same two
        # statements run by DuckDB.
        con = duckdb.connect()
        con.execute(f"CREATE VIEW df AS SELECT * FROM read_parquet('{self.input_path}')")
        rows = con.execute(PY_PROJECT).df().to_dict(orient="records")
        con.close()
        code = compile(PY_ROW_CODE, "<row_code>", "exec")
        for row in rows:
            exec(code, {"row": row, "rand": random})
        con = duckdb.connect()
        con.register("df", pd.DataFrame(rows))
        self.expected = checks.fingerprint(con.execute(PY_FILTER).df())
        con.close()

    def check(self, obs: dict) -> bool:
        return obs["output"] == self.expected


class LlmCorpus(PipelineWorkload):
    name = "llm_corpus"
    # quality scores and temperature weights are sums whose order may vary
    float_digits = 9

    def make_inputs(self) -> None:
        self.input_path = self.work / "documents.parquet"
        pq.write_table(inputs.resampled_corpus(self.seed, LLM_DOCS, LLM_BASE_DOCS),
                       self.input_path)
        self.files, self.input_rows = [self.input_path], LLM_DOCS
        raw = yaml.safe_load((self.root / "examples" / "llm_pipeline.yml").read_text())
        raw["filters"].append(LLM_CSV_SAFE)
        self.config_text = yaml.safe_dump(raw, sort_keys=False)


class Operators(Workload):
    name = "operators"

    def make_inputs(self) -> None:
        from bench import HEADLINE

        self.sf_dir = self.work / "tables"
        self.sf_dir.mkdir()
        for name, table in inputs.tpch_tables(self.seed, OPERATOR_SCALE).items():
            path = self.sf_dir / f"{name}.parquet"
            pq.write_table(table, path)
            self.files.append(path)
            self.input_rows += table.num_rows
        self.order = [q for q in HEADLINE if q in OPERATOR_ROWS]
        random.Random(self.seed).shuffle(self.order)

    def run_pass(self, spark, tr: Tracer) -> dict:
        import pyspark.sql.functions as F
        from pyspark.sql import Observation
        from pyspark.sql.types import DoubleType, MapType

        import __spark_entry__

        queries = __spark_entry__.queries()
        observations = {}
        for name in self.order:
            with tr.span(f"op.{name}"):
                with tr.span("queries.build"):
                    df = queries[name](spark, str(self.sf_dir))
                # Rows and an order-insensitive row hash ride on the
                # sink's own job; doubles hash at float precision.
                cols = [F.col(f"`{f.name}`").cast("float") if isinstance(f.dataType, DoubleType)
                        else F.col(f"`{f.name}`")
                        for f in df.schema.fields if not isinstance(f.dataType, MapType)]
                obs = Observation(f"perfbench_{name}")
                df = df.observe(obs, F.count(F.lit(1)).alias("rows"),
                                F.sum(F.pmod(F.xxhash64(*cols), F.lit(2_147_483_647))).alias("hash"))
                with tr.span("ops.exec"):
                    df.write.format("noop").mode("overwrite").save()
            observations[name] = obs
        return {name: dict(obs.get) for name, obs in observations.items()}


WORKLOADS = {w.name: w for w in (SqlCsv, PythonRows, LlmCorpus, Operators)}
