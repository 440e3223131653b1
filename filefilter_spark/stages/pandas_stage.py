"""``pandas`` whole-DataFrame stage — OP-C1.

Declared in the reference but unimplemented: the actionType is
documented (``examples/fullExample/fullExample.yml:15``, ``.old:26-49``)
and its dispatch just logs "PENDING" (reference ``filefilter.py:344-346``;
dead impl ``filters.py:111-117``). We implement it properly.

User code receives a pandas DataFrame named ``df`` and leaves the
result in ``df`` (the ``.old`` example's shape: add columns via
``df.apply``). Spark-first realization: ``mapInPandas`` — the code runs
**per Arrow batch / partition**, so it must be row-local (maps,
column adds, filters). Cross-row global operations (sorts, global aggs)
belong in a ``sql`` stage where Catalyst can distribute them; this is a
documented semantic of the engine, not a limitation of the reference
(which never ran this stage type at all).

Schema is inferred by running the user code on a driver-side sample,
same mechanism as the ``python`` stage (SURVEY.md §1.3).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from filefilter_spark.stages.base import Stage, schema_from_rows

_SPARK_TO_PANDAS = {
    LongType: "int64", IntegerType: "int64",
    DoubleType: "float64", FloatType: "float64",
    BooleanType: "bool",
    TimestampType: "datetime64[ns]", TimestampNTZType: "datetime64[ns]",
}


def _typed_empty_sample(df: DataFrame) -> pd.DataFrame:
    """Empty pandas frame with dtypes matching the Spark schema, so user
    code like ``df['a'] + 1`` infers correct output dtypes even with no
    sample rows."""
    data = {}
    for f in df.schema.fields:
        dtype = _SPARK_TO_PANDAS.get(type(f.dataType), "object")
        data[f.name] = pd.Series([], dtype=dtype)
    return pd.DataFrame(data)


def _pandas_dtype_to_spark(dtype) -> DataType:
    kind = getattr(dtype, "kind", "O")
    if kind in ("i", "u"):
        return LongType()
    if kind == "f":
        return DoubleType()
    if kind == "b":
        return BooleanType()
    if kind == "M":
        return TimestampNTZType()
    return StringType()


def _exec_on_pdf(code_obj, pdf: pd.DataFrame) -> pd.DataFrame:
    scope = {"df": pdf, "pd": pd}
    exec(code_obj, scope)
    out = scope["df"]
    if not isinstance(out, pd.DataFrame):
        raise TypeError("pandas stage code must leave a pandas DataFrame in `df`")
    return out


class PandasStage(Stage):
    samples_input = True

    def schema_from_sample(
        self, df: DataFrame, rows: list[dict[str, Any]]
    ) -> StructType:
        sample = (
            pd.DataFrame(rows, columns=list(df.columns))
            if rows else _typed_empty_sample(df)
        )
        code_obj = compile(self.cfg.code, f"<pandas-stage:{self.cfg.name}>", "exec")
        out = _exec_on_pdf(code_obj, sample)
        out_rows = out.to_dict(orient="records")
        if out_rows:
            return schema_from_rows(out_rows, list(df.columns), base_schema=df.schema)
        # Empty input: the user code still declared the output columns —
        # keep input types for surviving columns, map pandas dtypes for
        # new ones (the reference never defines filterN on empty input;
        # this is strictly more useful and exercised in tests).
        base = {f.name: f for f in df.schema.fields}
        fields = [
            base[c] if c in base else StructField(c, _pandas_dtype_to_spark(out[c].dtype), True)
            for c in out.columns
        ]
        return StructType(fields)

    def apply(self, df: DataFrame) -> DataFrame:
        schema = self.infer_schema(df)
        code_str = self.cfg.code
        name = self.cfg.name
        out_cols = [f.name for f in schema.fields]

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            code_obj = compile(code_str, f"<pandas-stage:{name}>", "exec")
            for pdf in batches:
                out = _exec_on_pdf(code_obj, pdf)
                missing = [c for c in out_cols if c not in out.columns]
                for c in missing:
                    out[c] = None
                yield out[out_cols]

        return df.mapInPandas(run, schema=schema)
