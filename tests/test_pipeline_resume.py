"""Resume-workspace (reference data/<input>.db analog) and
observe()-based metrics (OP-A10/A14)."""

import re
import subprocess
import sys
from pathlib import Path

import pytest
from conftest import jobs_in_group

from filefilter_spark.config import load_config_str
from filefilter_spark.pipeline import Pipeline

YAML = """
filters:
  - name: filt
    actionType: sql
    code: SELECT * FROM df WHERE id % 2 = 0
  - name: tag
    actionType: python
    code: |
      row['tag'] = 'x' * 3
"""


def test_observe_metrics_no_extra_jobs(spark):
    df = spark.range(100).withColumnRenamed("id", "id")
    result = Pipeline(spark, load_config_str(YAML)).run(df)
    result.df.write.format("noop").mode("overwrite").save()  # ONE action
    metrics = result.harvest_metrics()
    assert [m.rows_out for m in metrics] == [50, 50]
    assert metrics[1].errors == 0


PRUNED_JOIN_YAML = """
filters:
  - name: half
    actionType: sql
    code: SELECT * FROM df WHERE doc_id % 2 = 0
  - name: empty_join
    actionType: sql
    code: >-
      SELECT a.doc_id, a.k FROM df a
      JOIN (SELECT k FROM df WHERE doc_id < 0) b ON a.k = b.k
"""


def test_pruned_observation_reads_none(spark):
    """A join whose other side comes out empty is replaced, by adaptive
    execution, with an empty relation, and the upstream stage's
    counter goes with it: its count is unknown (None), not 0, and
    harvesting does not raise."""
    df = spark.range(2000).selectExpr("id AS doc_id", "id % 7 AS k")
    result = Pipeline(spark, load_config_str(PRUNED_JOIN_YAML)).run(df)
    result.df.write.format("noop").mode("overwrite").save()
    assert [m.rows_out for m in result.harvest_metrics()] == [None, 0]


def test_cli_summary_prints_a_pruned_count(tmp_path):
    """The CLI's per-stage summary (``-i``) prints the unknown count as
    None and the run succeeds."""
    src = tmp_path / "in.csv"
    src.write_text("doc_id,k\n" + "".join(f"{i},{i % 7}\n" for i in range(2000)))
    config = tmp_path / "pruned.yml"
    config.write_text(PRUNED_JOIN_YAML)
    proc = subprocess.run(
        [sys.executable, "-m", "filefilter_spark", str(src), str(config),
         str(tmp_path / "out.csv"), "-i"],
        capture_output=True, text=True, timeout=300,
        cwd=str(Path(__file__).resolve().parent.parent),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert re.search(r"stage half +sql +rows=None ", proc.stderr)
    assert re.search(r"stage empty_join +sql +rows=0 ", proc.stderr)


def test_resume_skips_unchanged_stages(spark, tmp_path):
    df = spark.range(10)
    ck = str(tmp_path / "ws")

    r1 = Pipeline(spark, load_config_str(YAML), checkpoint_dir=ck).run(df)
    assert r1.df.count() == 5
    assert not any(m.resumed for m in r1.metrics)

    # second run resumes every stage from the materialized workspace
    r2 = Pipeline(spark, load_config_str(YAML), checkpoint_dir=ck, resume=True).run(df)
    assert [m.resumed for m in r2.metrics] == [True, True]
    assert r2.df.count() == 5
    assert sorted(r.tag for r in r2.df.collect()) == ["xxx"] * 5

    # changing a stage's config invalidates it (fingerprint mismatch)
    changed = YAML.replace("'x' * 3", "'y' * 2")
    r3 = Pipeline(spark, load_config_str(changed), checkpoint_dir=ck, resume=True).run(df)
    assert [m.resumed for m in r3.metrics] == [True, False]
    assert sorted(r.tag for r in r3.df.collect()) == ["yy"] * 5


@pytest.mark.parametrize("stage", [
    "actionType: expect\n    actionConfig: {minRows: 1, unique: [doc_id]}",
    "actionType: temperature\n    actionConfig: {alpha: 0.5}",
])
def test_eager_stage_acts_once_without_a_sampling_stage(spark, stage):
    """With no stage that samples its input, Pipeline.run applies each
    stage once: an eager stage launches the same jobs as one direct
    apply, and the observed counts are the full row counts."""
    from filefilter_spark.stages import STAGE_TYPES

    cfg = load_config_str(f"""
filters:
  - name: tag
    actionType: sql
    code: SELECT id AS doc_id, IF(id < 90, 'big', 'small') AS source FROM df
  - name: eager
    {stage}
""")
    df = spark.range(100)
    kind = cfg.enabled_stages[1].action_type

    def direct():
        out = df
        for c in cfg.enabled_stages:
            out = STAGE_TYPES[c.action_type](spark, c).apply(out)
        return out

    expected, want = jobs_in_group(spark, f"direct-{kind}", direct)
    result, got = jobs_in_group(
        spark, f"pipeline-{kind}", lambda: Pipeline(spark, cfg).run(df))
    assert want > 0 and got == want
    result.df.write.format("noop").mode("overwrite").save()
    assert [m.rows_out for m in result.harvest_metrics()] == [100, expected.count()]
