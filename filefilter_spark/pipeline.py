"""Pipeline runner — OP-A8 stage composition, OP-A10/11/14 metrics,
resume workspace.

Reference behavior (``filefilter.py:306-372``): iterate the YAML
``filters:`` list in order; skip ``disabled``; each enabled stage
consumes the current dataset (view ``df``) and its output becomes the
new dataset; after each stage the view is repointed (``:352``), the
table is recounted (``:355``, OP-A10) and optionally sampled
(``:361-368``, OP-A11: after one stage with that stage's
``showSampleOnFinish``, after every stage with the top-level one); the
final stage is exported to CSV. The DuckDB workspace
``data/<input>.db`` persists across runs (``Database.py:19-29``) —
rerunning resumes from materialized ``filter<N>`` tables — and the
``-d`` flag deletes it.

Spark-first: the "current dataset" is just a DataFrame variable; stages
fold over it lazily, so the whole pipeline is ONE logical plan and
Catalyst optimizes across stage boundaries — impossible in the
reference, which materializes every stage into DuckDB. Exactly how far
cross-stage optimization goes depends on the metrics mode, and both
halves are plan-tested (tests/test_plans.py, cross-stage section):

- Column pruning crosses stage boundaries in EVERY mode: a late
  projection prunes the scan's ReadSchema, and computed columns a later
  stage drops are never evaluated — the free per-stage ``observe()``
  row counters are ``count(1)`` and need no columns, so CollectMetrics
  nodes are transparent to pruning.
- Filter pushdown to the scan's ``PushedFilters`` is fenced by the
  default per-stage counters: the observed row counts semantically pin
  "how many rows left stage N", so Catalyst correctly refuses to move a
  stage-2 filter below stage 1's CollectMetrics (the count would
  silently change). With ``observe_metrics=False`` there is nothing to
  pin: the late filter reaches the file scan and the whole multi-stage
  pipeline fuses into one WholeStageCodegen span over the pruned,
  filtered scan. That is the mode a 100 TB run wants; per-stage counts
  are the reference-parity default.

Metrics (OP-A10/A14) ride on ``df.observe`` and nothing else: each
stage's row count, the python stage's error count and the rest stage's
status-class counts are each filled by the first action that completes
over their Observation. For a lazy pipeline that is the sink's write,
so the counts cost no extra jobs. Some stages act when applied:
``expect``'s aggregate, ``temperature``'s group counts and ``bpe``'s
training histogram each read the full upstream, so they fill the
upstream counts with the same values; later runs of the plan leave the
counts as they are. ``qualityfilter`` also acts when applied, but its
training reads capped class samples, a bounded read (below). The stage
counters stay with ``observe_metrics=False``: they sit directly above
the stage's ``mapInPandas``, which already blocks pushdown.

A stage whose apply runs a bounded read of its input
(``Stage.samples_input``: the python and pandas stages'
schema-inference sample, ``qualityfilter``'s capped training classes)
and the OP-A11 head sample must not run on a plan with pending
Observations: an Observation keeps the first completed action, and a
limit job would record the sample size as the upstream row counts.
Only then does :meth:`Pipeline.run` also thread a copy of the chain
free of the Observations it reads, and only up to the last stage that
needs it; such a stage caches what it learned there (the schema, the
trained model), so its apply to the observed chain reads nothing.

Resume (workspace analog): with ``checkpoint_dir`` set, each stage's
output is materialized to ``<dir>/stage_<N>/`` parquet; a later run
with ``resume=True`` fast-forwards past every stage whose config hash
matches the materialized manifest — the Spark analog of the
``filter<N>`` tables surviving in ``data/<input>.db``. ``-d`` (CLI)
clears the dir, like the reference's delete flag.
"""

from __future__ import annotations

import hashlib
import json
import logging
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from filefilter_spark.config import PipelineConfig, StageConfig, load_config
from filefilter_spark.io import read_input, write_csv_file, write_parquet
from filefilter_spark.stages import STAGE_TYPES

log = logging.getLogger("filefilter_spark")


@dataclass
class StageMetrics:
    name: str
    action_type: str
    rows_out: int | None = None
    errors: int | None = None
    http_status: dict[str, int] = field(default_factory=dict)
    resumed: bool = False
    _observation: Observation | None = None  # the pipeline's row count
    _counters: Observation | None = None  # the stage's own (Stage.observation)

    def harvest(self) -> None:
        """Read the observed counts; blocks until an action has run.

        A count stays ``None`` when adaptive execution pruned the
        observed node (a later join with an empty side replaces the
        whole join with an empty relation): the count is unknown, not 0.
        """
        if self._observation is not None and self.rows_out is None:
            self.rows_out = _observed(self._observation).get("rows")
        if self._counters is not None:
            counts = _observed(self._counters)
            if self.action_type == "rest":
                self.http_status = counts
            else:
                self.errors = counts.get("errors")


def _observed(obs: Observation) -> dict[str, Any]:
    """The observed metrics as a dict, empty when the observed node was
    pruned: ``Observation.get`` cannot convert that empty row. Reading
    the Java map (``getAsJava``) instead took ~10 ms an observation on
    a 4-core box, against ~0.5 ms for this length check."""
    return {} if obs._jo.getRow().length() == 0 else obs.get


@dataclass
class PipelineResult:
    df: DataFrame
    metrics: list[StageMetrics]

    def harvest_metrics(self) -> list[StageMetrics]:
        """Call after an action on ``df`` — fills observe()-based counts."""
        for m in self.metrics:
            m.harvest()
        return self.metrics


def _stage_fingerprint(cfg: StageConfig, input_token: str = "") -> str:
    # input_token ties the fingerprint to the INPUT's analyzed plan
    # (paths + schema via semanticHash): without it, --resume against a
    # different input silently replays the previous input's materialized
    # stages. (mtime is not captured — same-path in-place rewrites still
    # require --delete, documented CLI behavior.)
    payload = json.dumps(
        [cfg.index, cfg.action_type, cfg.code, sorted(cfg.action_config.items()),
         input_token],
        default=str,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        config: PipelineConfig,
        checkpoint_dir: str | None = None,
        resume: bool = False,
        observe_metrics: bool | None = None,
    ):
        self.spark = spark
        self.config = config
        self.checkpoint_dir = checkpoint_dir
        self.resume = resume
        # Per-stage observe() counters (OP-A10/A14 parity) pin each
        # stage's row count and therefore fence filter pushdown at
        # stage boundaries — see the module docstring. False trades
        # the free counters for full cross-stage Catalyst optimization.
        # None defers to the YAML's top-level `observeMetrics:` key
        # (default true), so the 100 TB mode is reachable from configs
        # and the CLI, not just the Python API.
        self.observe_metrics = (
            config.observe_metrics if observe_metrics is None
            else observe_metrics
        )

    @classmethod
    def from_yaml(cls, spark: SparkSession, path: str, **kw: Any) -> "Pipeline":
        return cls(spark, load_config(path), **kw)

    def _build_stage(self, cfg: StageConfig):
        return STAGE_TYPES[cfg.action_type](self.spark, cfg)

    def _stage_path(self, cfg: StageConfig) -> Path:
        return Path(self.checkpoint_dir) / f"stage_{cfg.index}"

    def _try_resume(self, cfg: StageConfig) -> DataFrame | None:
        """Load a stage's materialized output when its fingerprint
        matches (config unchanged) — the reference's persisted
        ``filter<N>`` semantics (``Database.py:19-29``)."""
        if not (self.resume and self.checkpoint_dir):
            return None
        p = self._stage_path(cfg)
        manifest = p / "_ffspark_manifest.json"
        if not manifest.exists():
            return None
        try:
            meta = json.loads(manifest.read_text())
        except Exception:
            return None
        if meta.get("fingerprint") != _stage_fingerprint(cfg, self._input_token):
            return None
        return self.spark.read.parquet(str(p / "data"))

    def _materialize(self, cfg: StageConfig, df: DataFrame) -> DataFrame:
        p = self._stage_path(cfg)
        # Invalidate the manifest BEFORE overwriting the data: a crash
        # between the two must leave a missing manifest (stage re-runs),
        # never an old fingerprint attached to new data that a later
        # --resume would accept.
        manifest = p / "_ffspark_manifest.json"
        manifest.unlink(missing_ok=True)
        df.write.mode("overwrite").parquet(str(p / "data"))
        p.mkdir(parents=True, exist_ok=True)
        manifest.write_text(
            json.dumps({"fingerprint": _stage_fingerprint(cfg, self._input_token),
                        "name": cfg.name})
        )
        return self.spark.read.parquet(str(p / "data"))

    def run(self, df: DataFrame) -> PipelineResult:
        """Fold the enabled stages over the input DataFrame (OP-A8).

        Each stage is applied once to the returned chain, which carries
        one row-count Observation per stage, plus the python and rest
        stages' own counters, so the caller's action fills every count
        (:meth:`PipelineResult.harvest_metrics`). When a stage samples
        its input or a head sample is shown, the stages up to the last
        such one are also applied to a twin (``plain``) whose
        Observations nobody reads: the sample runs there, and a sampling
        stage caches what it learned, so its apply to the observed chain
        runs no sample.
        """
        metrics: list[StageMetrics] = []
        try:
            self._input_token = str(df.semanticHash())
        except Exception:  # pragma: no cover - developer API moved
            self._input_token = ""
        stages = self.config.enabled_stages
        show_all = self.config.show_sample_on_finish
        last_twin = max(
            (i for i, cfg in enumerate(stages)
             if show_all or cfg.show_sample
             or STAGE_TYPES[cfg.action_type].samples_input),
            default=-1,
        )
        resuming = True  # leading prefix of resumable stages
        plain = df  # twin for samples; its Observations are never read
        for i, cfg in enumerate(stages):
            m = StageMetrics(cfg.name, cfg.action_type)
            resumed_df = self._try_resume(cfg) if resuming else None
            if resumed_df is not None:
                df = resumed_df
                plain = resumed_df
                m.resumed = True
                log.info("stage %s: resumed from %s", cfg.name, self._stage_path(cfg))
            else:
                resuming = False
                stage = self._build_stage(cfg)
                if i <= last_twin:
                    plain = stage.apply(plain)
                df = stage.apply(df)
                m._counters = stage.observation
                if self.observe_metrics:
                    # OP-A10/A14: row count observed for free on the
                    # next action — at the cost of fencing filter
                    # pushdown at this stage boundary (module docstring).
                    obs = Observation(f"ffspark_{cfg.index}_{cfg.name[:20]}")
                    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                    m._observation = obs
                if self.checkpoint_dir:
                    df = self._materialize(cfg, df)
                    plain = df
                    m.harvest()  # the write was an action; counts are in
            if show_all or cfg.show_sample:
                plain.show(5, truncate=False)  # OP-A11 head sample
            metrics.append(m)
        return PipelineResult(df=df, metrics=metrics)

    def run_file(self, input_path: str, output_path: str | None = None) -> PipelineResult:
        """End-to-end: source → stages → optional sink.

        Mirrors the reference CLI contract
        (``python3 filefilter.py IN CONFIG.yml OUT``). The sink follows
        the output extension, as :func:`read_input` does for the source:
        ``.parquet`` writes a parquet dataset, anything else one CSV
        file.
        """
        df = read_input(
            self.spark,
            input_path,
            delimiter=self.config.in_delimiter,
            sample_lines=self.config.sample_lines,
        )
        result = self.run(df)
        if output_path:
            if Path(output_path).suffix.lower() == ".parquet":
                write_parquet(result.df, output_path)
            else:
                write_csv_file(result.df, output_path,
                               delimiter=self.config.out_delimiter)
            result.harvest_metrics()
        return result
