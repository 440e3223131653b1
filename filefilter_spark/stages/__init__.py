"""Pipeline stages: each stage is a DataFrame → DataFrame transform.

Dispatch map mirrors the reference's actionType dispatch
(reference ``filefilter.py:329,340,344,348``) plus the two stubs it
declared but never implemented (``pandas``, ``udf`` — SURVEY.md §2.C).
"""

from filefilter_spark.stages.sql_stage import SqlStage
from filefilter_spark.stages.python_stage import PythonStage
from filefilter_spark.stages.rest_stage import RestStage
from filefilter_spark.stages.pandas_stage import PandasStage
from filefilter_spark.stages.udf_stage import UdfStage
from filefilter_spark.stages.corpus_stage import (
    BpeStage,
    BudgetStage,
    DsirStage,
    EpochsStage,
    EntropyStage,
    GopherRepStage,
    GopherStage,
    QualityFilterStage,
    SafeSplitStage,
    ChunkStage,
    DecontaminateStage,
    DedupStage,
    DomainFilterStage,
    ExpectStage,
    FuzzyDedupStage,
    KeepBestStage,
    LineDedupStage,
    PerplexityStage,
    QuotaStage,
    SampleStage,
    SemDedupStage,
    SpanDedupStage,
    SplitStage,
    TemperatureStage,
    TextStatsStage,
)
from filefilter_spark.stages.media_stage import MediaStage
from filefilter_spark.stages.analytics_stage import (
    AnnIndexStage,
    BatchSearchStage,
    SearchIndexStage,
    SearchStage,
    SessionizeStage,
)
from filefilter_spark.stages.corpus_stage import QualityGateStage

STAGE_TYPES = {
    "sql": SqlStage,
    "python": PythonStage,
    "rest": RestStage,
    "pandas": PandasStage,
    "udf": UdfStage,
    # zero-code corpus-assembly stages (beyond-reference surface)
    "dedup": DedupStage,
    "fuzzydedup": FuzzyDedupStage,
    "semdedup": SemDedupStage,
    "split": SplitStage,
    "sample": SampleStage,
    "linededup": LineDedupStage,
    "spandedup": SpanDedupStage,
    "quota": QuotaStage,
    "chunk": ChunkStage,
    "decontaminate": DecontaminateStage,
    "domainfilter": DomainFilterStage,
    "textstats": TextStatsStage,
    "perplexity": PerplexityStage,
    "expect": ExpectStage,
    "dedupbest": KeepBestStage,
    "temperature": TemperatureStage,
    # the repetition tier — rates that may exceed 1 (epochs) and
    # one-call token-budget execution, both library-only before
    "epochs": EpochsStage,
    "budget": BudgetStage,
    "bpe": BpeStage,
    "dsir": DsirStage,
    "qualityfilter": QualityFilterStage,
    "safesplit": SafeSplitStage,
    "gopher": GopherStage,
    "gopherrep": GopherRepStage,
    "entropy": EntropyStage,
    # event/retrieval analytics stages + the percentile gate
    "sessionize": SessionizeStage,
    "search": SearchStage,
    "qualitygate": QualityGateStage,
    # index lifecycle + hybrid/batch retrieval from YAML
    "searchindex": SearchIndexStage,
    "batchsearch": BatchSearchStage,
    "annindex": AnnIndexStage,
    # zero-code multimodal stage (decode/resize/audio/frames kernels)
    "media": MediaStage,
}

__all__ = [
    "SqlStage", "PythonStage", "RestStage", "PandasStage", "UdfStage",
    "DedupStage", "SplitStage", "SampleStage", "LineDedupStage",
    "DsirStage", "QualityFilterStage", "SafeSplitStage",
    "GopherStage", "GopherRepStage", "EntropyStage",
    "SpanDedupStage",
    "QuotaStage", "ChunkStage", "DecontaminateStage", "DomainFilterStage",
    "TextStatsStage", "PerplexityStage", "ExpectStage", "MediaStage",
    "KeepBestStage", "TemperatureStage", "BpeStage",
    "EpochsStage", "BudgetStage",
    "SessionizeStage", "SearchStage", "QualityGateStage",
    "STAGE_TYPES",
]
