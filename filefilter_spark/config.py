"""YAML pipeline config: reference-compatible schema + validation.

The reference parses YAML with ``yaml.safe_load`` and zero validation
(reference ``utils.py:3-8``); unknown keys surface as runtime KeyErrors.
We keep the exact key surface (reference ``filefilter.py:283-372``;
``examples/fullExample/fullExample.yml``) but validate up front.

Top-level keys: ``inDelimiter``, ``outDelimiter``, ``sampleLines``,
``showSampleOnFinish``, ``reloadConfigEverySeconds`` (alias
``reloadConfigEvery`` — the reference's examples use the short form and
its code the long form, so hot reload never fired; we accept both, see
SURVEY.md §2.A quirk 3), ``observeMetrics`` (engine extension, default
true: per-stage row counters; set false for full cross-stage Catalyst
optimization — the 100 TB setting), and ``filters:`` — an ordered
stage list.

Per stage: ``name``, ``actionType`` (a key of
``filefilter_spark.stages.STAGE_TYPES``, the one stage registry),
``disabled``, ``filterThreads``, ``chunkSize``, ``code``,
``actionConfig``, ``showSampleOnFinish``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

import yaml

# Delimiter aliases accepted by the reference loaders (loaders.py:10,22).
_DELIM_ALIASES = {"TAB": "\t", "tab": "\t", "\\t": "\t"}


class ConfigError(ValueError):
    """Raised for an invalid pipeline config."""


def normalize_delimiter(d: str | None) -> str | None:
    if d is None:
        return None
    return _DELIM_ALIASES.get(d, d)


@dataclass
class StageConfig:
    name: str
    action_type: str
    code: str | None = None
    action_config: dict[str, Any] = field(default_factory=dict)
    disabled: bool = False
    filter_threads: int = 1          # reference default (filefilter.py:198)
    chunk_size: int = 10_000         # reference default (filefilter.py:312)
    show_sample: bool = False
    index: int = 0

    @classmethod
    def from_dict(cls, raw: dict[str, Any], index: int) -> "StageConfig":
        if not isinstance(raw, dict):
            raise ConfigError(f"filter #{index}: expected a mapping, got {type(raw).__name__}")
        # The stage registry is the one list of action types; imported
        # here because the stage modules import this one.
        from filefilter_spark.stages import STAGE_TYPES

        action = raw.get("actionType")
        if action not in STAGE_TYPES:
            raise ConfigError(
                f"filter #{index} ({raw.get('name', '?')}): actionType must be one of "
                f"{sorted(STAGE_TYPES)}, got {action!r}"
            )
        code = raw.get("code")
        if action in {"python", "sql", "pandas"} and not code:
            raise ConfigError(f"filter #{index}: actionType {action} requires 'code'")
        if action == "rest" and not raw.get("actionConfig"):
            raise ConfigError(f"filter #{index}: actionType rest requires 'actionConfig'")
        return cls(
            name=str(raw.get("name", f"filter{index}")),
            action_type=action,
            code=code,
            action_config=dict(raw.get("actionConfig") or {}),
            disabled=bool(raw.get("disabled", False)),
            filter_threads=int(raw.get("filterThreads", 1)),
            chunk_size=int(raw.get("chunkSize", 10_000)),
            show_sample=bool(raw.get("showSampleOnFinish", False)),
            index=index,
        )


@dataclass
class PipelineConfig:
    stages: list[StageConfig]
    in_delimiter: str | None = None
    out_delimiter: str = ","         # reference default (filefilter.py:375)
    sample_lines: int = 0            # 0 = all rows (filefilter.py:283-284)
    show_sample_on_finish: bool = False
    reload_config_every_seconds: int | None = None
    description: str = ""
    # Per-stage observe() row counters (OP-A10/A14 parity). True gets
    # the counters for free on the materializing action — at the cost
    # of fencing FILTER pushdown at each stage boundary (each
    # CollectMetrics must see its stage's full row count; column
    # pruning still crosses). False is the 100 TB setting: full
    # cross-stage Catalyst optimization, no per-stage counts. The
    # trade is plan-tested in tests/test_plans.py.
    observe_metrics: bool = True

    @classmethod
    def from_dict(cls, raw: dict[str, Any]) -> "PipelineConfig":
        if not isinstance(raw, dict):
            raise ConfigError("config root must be a mapping")
        filters = raw.get("filters", [])
        if not isinstance(filters, list):
            raise ConfigError("'filters' must be a list")
        stages = [StageConfig.from_dict(f, i) for i, f in enumerate(filters)]
        reload_s = raw.get("reloadConfigEverySeconds", raw.get("reloadConfigEvery"))
        return cls(
            stages=stages,
            in_delimiter=normalize_delimiter(raw.get("inDelimiter")),
            out_delimiter=normalize_delimiter(raw.get("outDelimiter")) or ",",
            sample_lines=int(raw.get("sampleLines", 0) or 0),
            show_sample_on_finish=bool(raw.get("showSampleOnFinish", False)),
            reload_config_every_seconds=int(reload_s) if reload_s is not None else None,
            description=str(raw.get("description", "")),
            observe_metrics=bool(raw.get("observeMetrics", True)),
        )

    @property
    def enabled_stages(self) -> list[StageConfig]:
        # disabled: True skips a stage (reference filefilter.py:307-310)
        return [s for s in self.stages if not s.disabled]


def load_config(path: str | Path) -> PipelineConfig:
    """Load + validate a pipeline YAML (reference ``utils.py:3-8``)."""
    with open(path, "r", encoding="utf-8") as fh:
        raw = yaml.safe_load(fh)
    return PipelineConfig.from_dict(raw or {})


def load_config_str(text: str) -> PipelineConfig:
    return PipelineConfig.from_dict(yaml.safe_load(text) or {})
