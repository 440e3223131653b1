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

Error counter (OP-A14): the ``mapInPandas`` output carries one hidden
per-row flag, set when the user code raised on that row. The stage
observes ``count_if(flag) AS errors`` on it (``self.observation``) and
drops the flag, so the first action over the stage's output fills the
count, and later runs of the same plan do not add to it.

Scale note: the per-row ``exec`` is inherently Python — this is the one
stage class that cannot be JVM-side. Arrow batching keeps the transfer
vectorized; compute cost is the user's code itself. At 100 TB this
parallelizes linearly across executors with zero shuffle (narrow
dependency).
"""

from __future__ import annotations

import random
from typing import Any, Iterator

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation
from pyspark.sql.types import BooleanType, StructField, StructType

from filefilter_spark.stages.base import Stage, coerce_cell, schema_from_rows

_ERROR_FLAG = "__ffspark_error"


def _run_user_code(code_obj, row: dict[str, Any]) -> tuple[dict[str, Any], bool]:
    """Execute user code against a row dict; keep-on-error semantics.

    Scope mirrors the reference's restricted globals
    (``filefilter.py:40-41``): ``row`` plus ``rand``; imports inside the
    snippet are allowed, same as YAML-embedded code in the reference.
    Returns the resulting row and whether the code raised. The ONE
    definition of the execution contract — the driver-side schema
    sampler and the executor loop both call it.
    """
    original = dict(row)
    try:
        exec(code_obj, {"row": row, "rand": random})
        return row, False
    except Exception:
        return original, True  # keep the original row (filefilter.py:56-65)


class PythonStage(Stage):
    samples_input = True

    def schema_from_sample(
        self, df: DataFrame, rows: list[dict[str, Any]]
    ) -> StructType:
        if not rows:
            return df.schema
        code_obj = compile(self.cfg.code, f"<python-stage:{self.cfg.name}>", "exec")
        out_rows = [_run_user_code(code_obj, r)[0] for r in rows]
        return schema_from_rows(out_rows, list(df.columns), base_schema=df.schema)

    def apply(self, df: DataFrame) -> DataFrame:
        schema = self.infer_schema(df)
        code_str = self.cfg.code
        stage_name = self.cfg.name
        col_types = [(f.name, f.dataType) for f in schema.fields]

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            code_obj = compile(code_str, f"<python-stage:{stage_name}>", "exec")
            for pdf in batches:
                out: dict[str, list] = {name: [] for name, _ in col_types}
                raised: list[bool] = []
                for rec in pdf.to_dict(orient="records"):
                    result, failed = _run_user_code(code_obj, rec)
                    for name, dt in col_types:
                        out[name].append(coerce_cell(result.get(name), dt))
                    raised.append(failed)
                out[_ERROR_FLAG] = raised
                yield pd.DataFrame(out)

        flagged = StructType(
            schema.fields + [StructField(_ERROR_FLAG, BooleanType(), False)]
        )
        self.observation = Observation()
        return (
            df.mapInPandas(run, schema=flagged)
            .observe(self.observation, F.count_if(_ERROR_FLAG).alias("errors"))
            .drop(_ERROR_FLAG)
        )
