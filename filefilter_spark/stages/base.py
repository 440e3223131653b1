"""Stage base class + shared schema-inference helpers.

The reference learns a row-stage's output schema from its first output
chunk (``CREATE TABLE filterN AS SELECT * FROM newPd``, reference
``filefilter.py:248``) and coerces dtypes on every chunk re-registration
— but crucially only *new* columns pass through the float64/string
coercion (reference ``Database.py:102-103``); columns the user code
never touched keep the dtypes pandas carried over from DuckDB
(timestamps stay timestamps).

Spark's ``mapInPandas`` needs the schema *before* execution, so row
stages run the user code on a small driver-side sample first
(SURVEY.md §1.3). Pre-existing columns keep their input Spark types
unless the sample shows the user code rebound them to an incompatible
Python type; only new columns are inferred from sample values.
"""

from __future__ import annotations

import datetime
import decimal
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from filefilter_spark.config import StageConfig

SAMPLE_ROWS_FOR_SCHEMA = 100

_INTEGRALS = (LongType, IntegerType, ShortType, ByteType)


class Stage:
    # True when apply() runs an action that is a bounded read of its
    # input (infer_schema's sample, qualityfilter's capped training).
    # Pipeline.run then applies the stage to a copy of the chain whose
    # Observations it never reads first, so the bounded read never
    # completes on a plan that carries the per-stage counts.
    samples_input = False

    def __init__(self, spark: SparkSession, cfg: StageConfig):
        self.spark = spark
        self.cfg = cfg
        # Per-row counters of the frame the last apply() returned
        # (python: errors; rest: status classes), filled by the first
        # action over that frame.
        self.observation: Observation | None = None
        self._schema: StructType | None = None

    def apply(self, df: DataFrame) -> DataFrame:  # pragma: no cover - interface
        raise NotImplementedError

    def infer_schema(self, df: DataFrame) -> StructType:
        """Output schema of the user code, learned from the first
        ``SAMPLE_ROWS_FOR_SCHEMA`` input rows. Cached: Pipeline applies
        the stage to its sample chain first, and the apply to the
        observed chain must run no sample (an Observation keeps the
        first completed action, so the limit job would set the counts).
        """
        if self._schema is None:
            rows = [r.asDict() for r in df.limit(SAMPLE_ROWS_FOR_SCHEMA).collect()]
            self._schema = self.schema_from_sample(df, rows)
        return self._schema

    def schema_from_sample(
        self, df: DataFrame, rows: list[dict[str, Any]]
    ) -> StructType:  # pragma: no cover - interface
        raise NotImplementedError

    def __repr__(self) -> str:
        return f"<{type(self).__name__} {self.cfg.name!r}>"


def infer_type(values: list[Any]) -> DataType:
    """Type-inference for *new* columns, per the reference coercion
    contract (``Database.py:102-103``): ints stay integral, any float →
    double, bools stay bool, datetimes stay timestamps, everything else
    (str, dict, list, None-only) → string."""
    saw_int = saw_float = saw_bool = saw_other = saw_ts = saw_date = False
    for v in values:
        if v is None:
            continue
        if isinstance(v, bool):
            saw_bool = True
        elif isinstance(v, int):
            saw_int = True
        elif isinstance(v, float):
            saw_float = True
        elif isinstance(v, datetime.datetime):
            saw_ts = True
        elif isinstance(v, datetime.date):
            saw_date = True
        else:
            saw_other = True
    if saw_other:
        return StringType()
    if saw_ts and not (saw_int or saw_float or saw_date):
        return TimestampType()
    if saw_date and not (saw_int or saw_float or saw_ts):
        return DateType()
    if saw_ts or saw_date:
        return StringType()  # mixed temporal/numeric → stringify
    if saw_float:
        return DoubleType()
    if saw_int:
        return LongType()
    if saw_bool:
        return BooleanType()
    return StringType()


def _compatible(v: Any, dt: DataType) -> bool:
    """Is the sample Python value representable in the existing Spark
    type? Used to decide whether user code *retyped* an existing column
    (→ re-infer) or just rewrote/kept values (→ keep the input type)."""
    if v is None:
        return True
    if isinstance(v, float) and v != v:  # NaN ~ null
        return True
    if isinstance(dt, BooleanType):
        return isinstance(v, bool)
    if isinstance(dt, _INTEGRALS):
        return isinstance(v, int) and not isinstance(v, bool)
    if isinstance(dt, (DoubleType, FloatType)):
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    if isinstance(dt, StringType):
        return isinstance(v, str)
    if isinstance(dt, TimestampType):
        return isinstance(v, datetime.datetime)
    if isinstance(dt, DateType):
        return isinstance(v, datetime.date)
    if isinstance(dt, DecimalType):
        return isinstance(v, decimal.Decimal)
    if isinstance(dt, ArrayType):
        return isinstance(v, (list, tuple, np.ndarray))
    if isinstance(dt, MapType):
        return isinstance(v, dict)
    if isinstance(dt, BinaryType):
        return isinstance(v, (bytes, bytearray))
    return True  # structs etc.: trust the input type


def schema_from_rows(
    rows: list[dict[str, Any]],
    base_order: list[str],
    base_schema: StructType | None = None,
) -> StructType:
    """Build a StructType from sample output dicts.

    Column order: original columns first (in input order), then new
    columns in first-seen order — matching how the reference's first
    chunk defines ``filterN``'s layout. Pre-existing columns keep their
    ``base_schema`` type unless the sample proves the user retyped them.
    """
    ordered: list[str] = [c for c in base_order if any(c in r for r in rows)]
    for r in rows:
        for k in r:
            if k not in ordered:
                ordered.append(k)
    base_types = {f.name: f.dataType for f in base_schema.fields} if base_schema else {}
    fields = []
    for col in ordered:
        values = [r.get(col) for r in rows]
        if col in base_types and all(_compatible(v, base_types[col]) for v in values):
            dt = base_types[col]
        else:
            dt = infer_type(values)
        fields.append(StructField(col, dt, True))
    return StructType(fields)


def coerce_cell(v: Any, dt: DataType) -> Any:
    """Coerce one python value to the declared stage-output type."""
    if v is None:
        return None
    if isinstance(v, float) and v != v:  # NaN from Arrow nulls
        return None if not isinstance(dt, (DoubleType, FloatType)) else v
    if isinstance(dt, StringType):
        if isinstance(v, str):
            return v
        import json

        if isinstance(v, (dict, list)):
            # JSON payloads land as string columns (reference
            # filters.py:78: json.dumps(response.json())).
            return json.dumps(v)
        return str(v)
    if isinstance(dt, (DoubleType, FloatType)):
        return float(v)
    if isinstance(dt, _INTEGRALS):
        return int(v)
    if isinstance(dt, BooleanType):
        return bool(v)
    return v


# The exact Python type of the values coerce_cell returns unchanged for
# each output type it converts to.
_NATIVE = {
    StringType: str,
    DoubleType: float,
    FloatType: float,
    BooleanType: bool,
    **dict.fromkeys(_INTEGRALS, int),
}


def coerce_column(values: list[Any], dt: DataType) -> list[Any]:
    """``[coerce_cell(v, dt) for v in values]``, built once per column.

    When every value is ``None`` or exactly ``dt``'s native type (a
    ``bool`` is not an ``int``, an ``np.float64`` not a ``float``),
    coerce_cell would return each one unchanged, so the list passes
    through as it is. Raises what coerce_cell raises."""
    native = _NATIVE.get(type(dt))
    if native is not None and set(map(type, values)) <= {native, type(None)}:
        return values
    return [coerce_cell(v, dt) for v in values]
