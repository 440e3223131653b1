"""Golden pipeline tests replicating the reference's documented outputs.

- fullExample (deterministic variant): the reference-shaped YAML run
  end-to-end must byte-match the golden CSV the reference documents in
  ``FileFilterGPT/example1.txt:101-109`` (rows compared sorted — row
  order through row stages is not defined, SURVEY.md §1.4).
- phones: the regex truth table of the reference's
  ``FileFilterGPT/phones.yml:5-16`` (spec prose in ``phones.txt:1-3``).

The inputs live in ``tests/fixtures/reference/``: small reconstructions
of the reference's example files (SURVEY.md §5.1), with the REST call
of fullExample replaced by a python stage returning a fixed response.
"""

import subprocess
import sys
from pathlib import Path

REF = Path(__file__).resolve().parent / "fixtures" / "reference"

GOLDEN_FULLEXAMPLE = [
    "id;address;state",
    "1;Calle de la Princesa, 1, 28008 Madrid, Spain;Madrid",
    "2;Calle de la Princesa, 1, 28008 Madrid, Spain;Madrid",
    "3;Calle de la Princesa, 1, 28008 Madrid, Spain;Madrid",
    "4;Calle de la Princesa, 1, 28008 Madrid, Spain;Madrid",
    "5;Calle de la Princesa, 1, 28008 Madrid, Spain;Madrid",
]


def test_fullexample_golden(spark, tmp_path):
    from filefilter_spark.io import read_input, write_csv_file
    from filefilter_spark.pipeline import Pipeline

    pipe = Pipeline.from_yaml(spark, str(REF / "examples/fullExample/fullExample.yml"))
    df = read_input(
        spark,
        str(REF / "examples/fullExample/fullExample.txt"),
        delimiter=pipe.config.in_delimiter,
    )
    out = tmp_path / "out.csv"
    write_csv_file(pipe.run(df).df, str(out), delimiter=pipe.config.out_delimiter)
    lines = out.read_text().strip().splitlines()
    assert lines[0] == GOLDEN_FULLEXAMPLE[0]
    assert sorted(lines[1:]) == GOLDEN_FULLEXAMPLE[1:]


def test_cli_end_to_end(tmp_path):
    """The module CLI mirrors `python3 filefilter.py IN CONFIG OUT`."""
    out = tmp_path / "cli_out.csv"
    proc = subprocess.run(
        [sys.executable, "-m", "filefilter_spark",
         str(REF / "examples/fullExample/fullExample.txt"),
         str(REF / "examples/fullExample/fullExample.yml"),
         str(out)],
        capture_output=True, text=True, timeout=300,
        cwd=str(Path(__file__).resolve().parent.parent),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = out.read_text().strip().splitlines()
    assert sorted(lines[1:]) == GOLDEN_FULLEXAMPLE[1:]


def test_cli_parquet_sink_keeps_array_columns(spark, tmp_path):
    """A ``.parquet`` output path gets the parquet writer, so a column a
    CSV cannot hold (``ARRAY<STRING>``) survives the CLI run."""
    src = tmp_path / "in.csv"
    src.write_text("id,text\n1,a b\n2,c d e\n")
    config = tmp_path / "words.yml"
    config.write_text(
        "filters:\n"
        "  - name: words\n"
        "    actionType: sql\n"
        "    code: SELECT id, split(text, ' ') AS words FROM df\n"
    )
    out = tmp_path / "out.parquet"
    proc = subprocess.run(
        [sys.executable, "-m", "filefilter_spark", str(src), str(config), str(out)],
        capture_output=True, text=True, timeout=300,
        cwd=str(Path(__file__).resolve().parent.parent),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = spark.read.parquet(str(out))
    assert got.schema["words"].dataType.simpleString() == "array<string>"
    assert sorted((r.id, r.words) for r in got.collect()) == [
        (1, ["a", "b"]), (2, ["c", "d", "e"])]


def test_phones_truth_table(spark, tmp_path):
    """phones.yml regex classification: ^9\\d{8}$ → fijo, ^6\\d{8}$ →
    movil, else error (FileFilterGPT/phones.yml:5-16)."""
    from filefilter_spark.config import load_config
    from filefilter_spark.io import read_input
    from filefilter_spark.pipeline import Pipeline

    src = tmp_path / "phones.csv"
    src.write_text(
        "telefono\n912345678\n612345678\n512345678\n9123456789\n6123\nabc\n"
    )
    pipe = Pipeline(spark, load_config(str(REF / "FileFilterGPT/phones.yml")))
    df = read_input(spark, str(src))
    rows = {str(r["telefono"]): r["tipo_telefono"] for r in pipe.run(df).df.collect()}
    assert rows == {
        "912345678": "fijo",
        "612345678": "movil",
        "512345678": "error",
        "9123456789": "error",
        "6123": "error",
        "abc": "error",
    }


def test_llm_pipeline_example_end_to_end(spark):
    """examples/llm_pipeline.yml — the showcase zero-code LLM prep
    config — runs end-to-end over the test corpus, and each stage's
    effect is observable in the output."""
    from filefilter_spark.pipeline import Pipeline

    root = Path(__file__).resolve().parent.parent
    pipe = Pipeline.from_yaml(spark, str(root / "examples/llm_pipeline.yml"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pipe.run(docs).df
    rows = out.collect()
    assert len(rows) >= 10
    cols = set(out.columns)
    assert {"doc_id", "text", "split", "bpe_tokens", "quality"} <= cols
    # quality gate applied
    assert all(r["quality"] >= 0.2 and r["n_tokens"] >= 5 for r in rows)
    # split assignment total and roughly proportional
    splits = {r["split"] for r in rows}
    assert splits <= {"train", "val", "test"} and "train" in splits
    # tokenizer applied: every surviving doc got a non-empty segmentation
    assert all(r["bpe_tokens"] for r in rows)
    # temperature flattening kept every row of the rarest language
    by_lang = {}
    for r in rows:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    assert len(by_lang) >= 2
    # epoch repetition (r13 zero-code tier) materialized the mixture:
    # over-weighted sources carry full-epoch copies, everything else
    # stays epoch 0, and (doc_id, epoch) identifies each copy
    assert "epoch" in cols
    epochs_by_src = {}
    for r in rows:
        epochs_by_src.setdefault(r["source"], set()).add(r["epoch"])
    assert max(epochs_by_src.get("src0", {0})) >= 1
    flat = [e for s, es in epochs_by_src.items()
            if s not in {"src0", "src1"} for e in es]
    assert set(flat) == {0}
    assert len({(r["doc_id"], r["epoch"]) for r in rows}) == len(rows)
