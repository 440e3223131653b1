"""Source-level rules for the package, checked without Spark.

- ``session.lineage_cut`` is the one place that cuts lineage with a
  checkpoint: no other module calls ``localCheckpoint(`` or
  ``.checkpoint(``.
- Operators take their settings as parameters: nothing under
  ``filefilter_spark/ops/`` reads the environment.
"""

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "filefilter_spark"

CUT = re.compile(r"localCheckpoint\(|\.checkpoint\(")
ENV = re.compile(r"os\.environ|getenv")


def test_one_lineage_cut_and_no_env_reads_in_ops():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if rel != "session.py" and CUT.search(line):
                offenders.append(f"{rel}:{n}: {line.strip()}")
            if rel.startswith("ops/") and ENV.search(line):
                offenders.append(f"{rel}:{n}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
