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
per-row flag, set when the user code raised on that row or its output
did not fit the schema. The stage
observes ``count_if(flag) AS errors`` on it (``self.observation``) and
drops the flag, so the first action over the stage's output fills the
count, and later runs of the same plan do not add to it.

Coercion: the stage coerces its output once per column, as the
reference does when it registers a chunk (``Database.py:102-103``).
``coerce_column`` passes a column through when every value already has
the column's Python type and sends every other column through
``coerce_cell``. A value the declared type cannot hold (the schema
sample missed a row that puts a new type into a column) counts as an
error in that row: the row keeps its original values.

Scale note: the per-row ``exec`` is inherently Python — this is the one
stage class that cannot be JVM-side. A row's cost is the pandas
``to_dict`` that hands it to the code, the user's ``exec``, and one
pass per output column to build the result. The stage stays on
``mapInPandas``: ``to_dict`` measured 1.7–3.2 µs/row against 3.8–5.7
for Arrow input's ``RecordBatch.to_pylist`` (4 cores). At 100 TB
this parallelizes linearly across executors with zero shuffle (narrow
dependency). Each task also pays a fixed cost in the Python worker
before its first row. Part of it is the worker's per-task
``importlib.invalidate_caches()``, which before CPython 3.13 re-reads
``pyspark.zip``'s directory once per zip importer (about 0.2 s of CPU
per task on CPython 3.11, 4-core x86). Importing this package in a
worker (unpickling the stage's function does) installs
``session._refresh_zip_dirs_lazily``, which re-reads an archive only
when it changed, so only a worker's first task pays that part. On
3.13+ the stock call only drops the cache, and nothing is installed.
"""

from __future__ import annotations

import random
from typing import Any, Iterator

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation
from pyspark.sql.types import BooleanType, DataType, StructField, StructType

from filefilter_spark.stages.base import Stage, coerce_column, schema_from_rows

_ERROR_FLAG = "__ffspark_error"
# What coerce_cell raises on a value its column's type cannot hold.
_COERCE_ERRORS = (TypeError, ValueError, OverflowError)


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


def _columns(
    rows: list[dict[str, Any]], col_types: list[tuple[str, DataType]]
) -> dict[str, list]:
    """The output columns of the result rows, each built in one pass."""
    return {name: coerce_column([r.get(name) for r in rows], dt) for name, dt in col_types}


def _uncoercible(row: dict[str, Any], col_types: list[tuple[str, DataType]]) -> str | None:
    """The first column whose value in ``row`` cannot be coerced, if any."""
    for name, dt in col_types:
        try:
            coerce_column([row.get(name)], dt)
        except _COERCE_ERRORS:
            return name
    return None


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
                rows: list[dict[str, Any]] = []
                raised: list[bool] = []
                for rec in pdf.to_dict(orient="records"):
                    result, failed = _run_user_code(code_obj, rec)
                    rows.append(result)
                    raised.append(failed)
                try:
                    out = _columns(rows, col_types)
                except _COERCE_ERRORS:
                    # The schema sample missed a type the code put into
                    # some row: keep those rows' originals, as for an
                    # exception in the code itself.
                    originals = pdf.to_dict(orient="records")
                    for i, row in enumerate(rows):
                        if _uncoercible(row, col_types) is None:
                            continue
                        rows[i], raised[i] = originals[i], True
                        bad = _uncoercible(originals[i], col_types)
                        if bad is not None:
                            raise ValueError(
                                f"python stage {stage_name!r}: input value "
                                f"{originals[i][bad]!r} of column {bad!r} does not "
                                f"fit the column's output type"
                            ) from None
                    out = _columns(rows, col_types)
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
