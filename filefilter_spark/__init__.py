"""filefilter_spark — a PySpark-native analytics/ETL engine.

A from-scratch reimplementation of the capabilities of
``javitorres/filefilter`` (YAML-configured ETL pipelines: file sources,
ordered python/rest/sql/pandas stages over a single evolving dataset,
CSV sink) designed Spark-first: the pipeline is a lazy DataFrame
lineage that Catalyst optimizes end-to-end, row stages are Arrow-batched
``mapInPandas`` functions, and the SQL stage surface is full Spark SQL
(with a DuckDB-dialect shim layer).

Reference behavior citations in docstrings point into the reference
repo (e.g. ``filefilter.py:306``) — see SURVEY.md for the full map.
"""

from filefilter_spark.session import _refresh_zip_dirs_lazily, get_spark
from filefilter_spark.pipeline import Pipeline
from filefilter_spark.config import PipelineConfig, load_config

_refresh_zip_dirs_lazily()

__all__ = ["get_spark", "Pipeline", "PipelineConfig", "load_config"]

__version__ = "0.1.0"
