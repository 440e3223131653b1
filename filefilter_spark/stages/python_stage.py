"""``python`` row-map stage — OP-A5, the reference's flagship row stage.

Reference behavior: per-row ``exec`` of user code with the mutable dict
``row`` (and ``rand``) in scope; code may mutate values and add new
keys/columns (reference ``filefilter.py:38-50``); an exception in user
code keeps the original row and bumps an error counter (keep-on-error,
reference ``filefilter.py:56-65``; SURVEY.md §1.5).

Spark-first realization: one ``mapInPandas`` over Arrow batches — the
reference's chunk loop, thread pool, and pandas round-trip (reference
``filefilter.py:195-276``) all collapse into Spark partitions. The
user code is compiled once per partition function (the reference's
``CompiledCodeCache`` intent — its live path recompiled per row,
``filefilter.py:44``), and the output schema is inferred up front by
running the code on a driver-side sample (SURVEY.md §1.3).

Scale note: the per-row ``exec`` is inherently Python — this is the one
stage class that cannot be JVM-side. Arrow batching keeps the transfer
vectorized; compute cost is the user's code itself. At 100 TB this
parallelizes linearly across executors with zero shuffle (narrow
dependency).
"""

from __future__ import annotations

import random
from typing import Any, Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from filefilter_spark.stages.base import (
    SAMPLE_ROWS_FOR_SCHEMA,
    Stage,
    coerce_cell,
    schema_from_rows,
)


def _run_user_code(code_obj, row: dict[str, Any], on_error=None) -> dict[str, Any]:
    """Execute user code against a row dict; keep-on-error semantics.

    Scope mirrors the reference's restricted globals
    (``filefilter.py:40-41``): ``row`` plus ``rand``; imports inside the
    snippet are allowed, same as YAML-embedded code in the reference.
    The ONE definition of the execution contract — the driver-side
    schema sampler and the executor loop both call it (``on_error`` is
    the executor's error-counter hook).
    """
    original = dict(row)
    try:
        exec(code_obj, {"row": row, "rand": random})
        return row
    except Exception:
        if on_error is not None:
            on_error()
        return original  # keep the original row (filefilter.py:56-65)


class PythonStage(Stage):
    samples_input = True
    _schema_cache: StructType | None = None

    def infer_schema(self, df: DataFrame) -> StructType:
        # Cached so Pipeline can apply the stage to both its observed and
        # observation-free chains with a single sampling action (the
        # sample must never run on a plan carrying Observation nodes —
        # PySpark observations capture the FIRST completed action, and a
        # limit(100) sampling job would poison the per-stage row counts).
        if self._schema_cache is not None:
            return self._schema_cache
        sample = [r.asDict() for r in df.limit(SAMPLE_ROWS_FOR_SCHEMA).collect()]
        code_obj = compile(self.cfg.code, f"<python-stage:{self.cfg.name}>", "exec")
        out_rows = [_run_user_code(code_obj, dict(r)) for r in sample]
        if not out_rows:
            schema = df.schema
        else:
            schema = schema_from_rows(out_rows, list(df.columns), base_schema=df.schema)
        self._schema_cache = schema
        return schema

    def apply(self, df: DataFrame) -> DataFrame:
        schema = self.infer_schema(df)
        code_str = self.cfg.code
        stage_name = self.cfg.name
        col_types = [(f.name, f.dataType) for f in schema.fields]
        err_acc = self.spark.sparkContext.accumulator(0)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            code_obj = compile(code_str, f"<python-stage:{stage_name}>", "exec")
            for pdf in batches:
                out: dict[str, list] = {name: [] for name, _ in col_types}
                for rec in pdf.to_dict(orient="records"):
                    result = _run_user_code(
                        code_obj, rec, on_error=lambda: err_acc.add(1)
                    )
                    for name, dt in col_types:
                        out[name].append(coerce_cell(result.get(name), dt))
                yield pd.DataFrame(out)

        result = df.mapInPandas(run, schema=schema)
        result._filefilter_error_acc = err_acc  # surfaced by Pipeline metrics
        return result
