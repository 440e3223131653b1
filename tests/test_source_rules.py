"""Source-level rules for the package, checked without Spark.

- ``session.lineage_cut`` is the one place that cuts lineage with a
  checkpoint: no other module calls ``localCheckpoint(`` or
  ``.checkpoint(``.
- Code takes its settings as parameters: only ``session.py``, which
  maps the deployment settings (``SPARK_GRAFT_*``, ``SPARK_MASTER``,
  ``AWS_*``) into the session conf, reads the environment.
- Stage metrics come from ``df.observe`` alone: no module creates a
  Spark accumulator, which counts every run of a plan, not one.
- ``stages/base.py`` is the one place that calls ``coerce_cell(``: the
  stages build their output through ``coerce_column``, so the coercion
  rules have one path.
- No script under ``tools/`` turns the Spark UI on: per-stage numbers
  come from the event log (``perfbench/spans.py``), not from scraping
  the UI's REST API.
"""

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "filefilter_spark"

CUT = re.compile(r"localCheckpoint\(|\.checkpoint\(")
ENV = re.compile(r"os\.environ|getenv")
ACC = re.compile(r"accumulator\(")
COERCE = re.compile(r"\bcoerce_cell\(")
UI_ON = re.compile(r"""spark\.ui\.enabled["']?\s*[:,=]\s*["']?true""", re.I)


def test_lineage_cuts_and_env_reads_only_in_session():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "session.py":
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if CUT.search(line) or ENV.search(line):
                offenders.append(f"{rel}:{n}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_no_accumulators_in_package():
    offenders = [
        f"{path.relative_to(PKG).as_posix()}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ACC.search(line)
    ]
    assert not offenders, "\n".join(offenders)


def test_coerce_cell_called_only_in_stage_base():
    offenders = [
        f"{path.relative_to(PKG).as_posix()}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path.relative_to(PKG).as_posix() != "stages/base.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if COERCE.search(line)
    ]
    assert not offenders, "\n".join(offenders)


def test_no_tool_enables_the_spark_ui():
    offenders = [
        f"{path.name}:{n}: {line.strip()}"
        for path in sorted((ROOT / "tools").glob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if UI_ON.search(line)
    ]
    assert not offenders, "\n".join(offenders)
