"""``rest`` row-enrichment stage — OP-A6.

Reference behavior (``filters.py:17-89``): per-row HTTP GET/POST with
URL path, query string, and POST body templated from row values via
``str.format(**row)`` (OP-A16); a 2xx response's JSON is re-serialized
and appended as a new *string* column (``newField``, default
``response`` — ``filters.py:78``); non-2xx / failed request drops the
row (``filters.py:83-89``; drop at ``filefilter.py:110-113``); unfillable
``{param}`` template → that request part is skipped
(``filters.py:31-33``); per-status-class counters ``20X/30X/40X/50X``
(``filefilter.py:73-80``).

Status counters: the ``mapInPandas`` output keeps every row, with a
hidden status class — ``20X``/``30X``/``40X``/``50X``, ``errors`` for a
request that raised on its last attempt, null for an unfillable
template (no request sent). The stage observes one ``count_if`` per
class (``self.observation``), keeps only the ``20X`` rows and drops the
column. Counts are per row: each row counts the class of its last
response, the reference's one-request-per-row semantics, so a 5xx that
succeeds on retry counts once, as ``20X``. With ``mockTemplate`` every
kept row counts as ``20X``.

We implement the *intended* semantics: the reference only sends POST
bodies when ``logHttpRequests`` is on (quirk — ``filters.py:65-71``);
we always send.

Spark-first realization: ``mapInPandas`` with a per-partition
``requests.Session`` (connection reuse — the reference built a thread
pool for the same reason). Engine-added operational layer the reference
lacks, mandatory at scale (SURVEY.md §4.2): bounded retries with
exponential backoff, a per-executor token-bucket rate limiter
(``ratePerSecond``), and a request timeout — 100 TB × per-row HTTP
without client-side rate limiting would melt any endpoint.

Testing: ``actionConfig.mockTemplate`` substitutes a deterministic
local transport (``str.format`` over the row → response text), so
pipelines are testable with no network; live calls require ``host``.
"""

from __future__ import annotations

import json
import string
import time
from typing import Any, Iterator

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation
from pyspark.sql.types import StringType, StructField, StructType

from filefilter_spark.stages.base import Stage

_FORMATTER = string.Formatter()
_STATUS = "__ffspark_status"
_STATUS_CLASSES = ("20X", "30X", "40X", "50X", "errors")


def render_template(template: str, row: dict[str, Any]) -> str | None:
    """``str.format(**row)`` templating (reference ``filters.py:22-39``).

    Returns None when a referenced field is missing — callers skip that
    request part (reference ``filters.py:31-33``).
    """
    try:
        return template.format(**row)
    except (KeyError, IndexError):
        return None


class _TokenBucket:
    """Per-executor client-side rate limiter (engine-added)."""

    def __init__(self, rate_per_sec: float):
        self.rate = rate_per_sec
        self.allowance = rate_per_sec
        self.last = time.monotonic()

    def acquire(self) -> None:
        if self.rate <= 0:
            return
        while True:
            now = time.monotonic()
            self.allowance = min(self.rate, self.allowance + (now - self.last) * self.rate)
            self.last = now
            if self.allowance >= 1.0:
                self.allowance -= 1.0
                return
            time.sleep((1.0 - self.allowance) / self.rate)


class RestStage(Stage):
    def apply(self, df: DataFrame) -> DataFrame:
        ac = self.cfg.action_config
        new_field = ac.get("newField", "response")
        schema = StructType(
            list(df.schema.fields) + [
                StructField(new_field, StringType(), True),
                StructField(_STATUS, StringType(), True),
            ]
        )

        host = ac.get("host", "")
        path_t = ac.get("path", "")
        method = str(ac.get("method", "GET")).upper()
        query_params: dict[str, str] = dict(ac.get("queryParams") or {})
        post_body_t = ac.get("postBody")
        urlencode_params = set(ac.get("urlencodeParams") or [])
        mock_template = ac.get("mockTemplate")
        max_retries = int(ac.get("maxRetries", 2))
        backoff = float(ac.get("backoff", 0.5))
        rate_per_sec = float(ac.get("ratePerSecond", 0))
        if rate_per_sec > 0:
            # The token bucket lives per TASK (instantiated inside the
            # partition fn — there is no cheap cross-executor limiter),
            # so the configured rate must be divided by the number of
            # buckets that can be draining at once, or the endpoint
            # sees ratePerSecond x task-parallelism. At most
            # min(partitions, total cores) tasks run simultaneously.
            n_concurrent = max(
                1,
                min(df.rdd.getNumPartitions(),
                    self.spark.sparkContext.defaultParallelism),
            )
            rate_per_sec = rate_per_sec / n_concurrent
        timeout = float(ac.get("timeout", 30))

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            session = None
            if mock_template is None:
                import requests

                session = requests.Session()
            bucket = _TokenBucket(rate_per_sec)

            def call(row: dict[str, Any]) -> tuple[str | None, str | None]:
                """(response text, status class) for the row; the text
                is set for ``20X`` only, the class is None when no
                request could be built."""
                if mock_template is not None:
                    rendered = render_template(mock_template, row)
                    return rendered, None if rendered is None else "20X"
                from urllib.parse import quote

                path = render_template(path_t, row)
                if path is None:
                    return None, None
                qparts = []
                for name, tmpl in query_params.items():
                    val = render_template(str(tmpl), row)
                    if val is None:
                        continue  # unfillable param skipped (filters.py:31-33)
                    if name in urlencode_params:
                        val = quote(val)
                    qparts.append(f"{name}={val}")
                url = host.rstrip("/") + "/" + path.lstrip("/")
                if qparts:
                    url += "?" + "&".join(qparts)
                body = None
                if post_body_t is not None:
                    rendered = render_template(str(post_body_t), row)
                    if rendered is not None:
                        body = rendered
                for attempt in range(max_retries + 1):
                    bucket.acquire()
                    try:
                        resp = session.request(
                            method, url, data=body, timeout=timeout
                        )
                    except Exception:
                        if attempt == max_retries:
                            return None, "errors"
                        time.sleep(backoff * (2**attempt))
                        continue
                    code = resp.status_code
                    if 200 <= code < 300:
                        try:
                            # JSON re-serialized to a string column
                            # (reference filters.py:78).
                            return json.dumps(resp.json()), "20X"
                        except ValueError:
                            return resp.text, "20X"
                    if 300 <= code < 400:
                        return None, "30X"
                    if 400 <= code < 500:
                        return None, "40X"
                    if attempt < max_retries:
                        time.sleep(backoff * (2**attempt))
                        continue
                    return None, "50X"
                return None, None

            for pdf in batches:
                texts, classes = [], []
                for rec in pdf.to_dict(orient="records"):
                    text, status = call(rec)
                    texts.append(text)
                    classes.append(status)
                yield pdf.assign(**{new_field: texts, _STATUS: classes})

        self.observation = Observation()
        status = F.col(_STATUS)
        return (
            df.mapInPandas(run, schema=schema)
            .observe(
                self.observation,
                *[F.count_if(status == c).alias(c) for c in _STATUS_CLASSES],
            )
            # drop-on-error (filters.py:83-89, filefilter.py:110-113)
            .where(status == "20X")
            .drop(_STATUS)
        )
