"""The seeded inputs are reproducible: the same seed writes
byte-identical files, another seed writes different ones.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(1, str(Path(__file__).resolve().parents[1]))

from workloads import WORKLOADS  # noqa: E402


def _digest(name: str, seed: int, work: Path) -> str:
    import inputs

    work.mkdir()
    wl = WORKLOADS[name](Path(__file__).resolve().parents[1], work, seed)
    wl.make_inputs()
    assert wl.files and wl.input_rows > 0
    return inputs.digest(wl.files)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_bytes_other_seed_other_bytes(name, tmp_path):
    a = _digest(name, 7, tmp_path / "a")
    b = _digest(name, 7, tmp_path / "b")
    c = _digest(name, 8, tmp_path / "c")
    assert a == b
    assert a != c


def test_corpus_has_duplicate_groups():
    import inputs

    docs = inputs.resampled_corpus(3, 200, 120)
    texts = docs.column("text").to_pylist()
    ids = docs.column("doc_id").to_pylist()
    assert len(set(ids)) == len(ids)
    assert len(set(texts)) < len(texts)
