"""CLI entry point — mirrors the reference's only real entry point:
``python3 filefilter.py IN CONFIG.yml OUT [-i] [-d] [-v]``
(reference ``filefilter.py:381-409``, ``readme.md:38``).

Run as ``python -m filefilter_spark IN CONFIG.yml OUT``.

Flag mapping (documented divergences, SURVEY.md §7):
- ``-i/--interactive``: live single-line status with rolling avg task
  time, ETA and memory (``progress.StatusLine``, the Spark-native
  analog of the reference's ``printStatus``/``StatsManager`` display),
  plus per-stage metrics after the run.
- ``-d/--delete``: reference deletes the persistent ``data/<input>.db``
  workspace; our analog clears the checkpoint dir when one is set.
- ``-v/--verbose``: DEBUG logging.
"""

from __future__ import annotations

import argparse
import logging
import shutil
import sys
import time
from contextlib import nullcontext


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="filefilter_spark",
        description="YAML-configured Spark ETL pipeline (filefilter-compatible).",
    )
    p.add_argument("input", help="input file (csv/tsv/txt/parquet, local or s3://)")
    p.add_argument("config", help="pipeline YAML")
    p.add_argument("output", help="output path: .parquet writes a parquet "
                                  "dataset, anything else one CSV file")
    p.add_argument("-i", "--interactive", action="store_true",
                   help="show a live status line, then print each stage's "
                        "observed rows, errors and HTTP status counts")
    p.add_argument("-d", "--delete", action="store_true",
                   help="clear the checkpoint dir before running")
    p.add_argument("-v", "--verbose", action="store_true", help="DEBUG logging")
    p.add_argument("--checkpoint-dir", default=None,
                   help="per-stage materialization dir (resume workspace analog)")
    p.add_argument("--resume", action="store_true",
                   help="fast-forward past stages already materialized in "
                        "--checkpoint-dir with unchanged config")
    p.add_argument("--no-observe-metrics", action="store_true",
                   help="drop the per-stage observe() row counters so "
                        "filters push across stage boundaries into the "
                        "scan (full cross-stage Catalyst optimization — "
                        "the setting a large production run wants; "
                        "overrides the YAML's observeMetrics key)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    logging.basicConfig(
        level=logging.DEBUG if args.verbose else logging.INFO,
        format="%(asctime)s %(levelname)s %(name)s: %(message)s",
    )
    log = logging.getLogger("filefilter_spark.cli")

    if args.delete and args.checkpoint_dir:
        shutil.rmtree(args.checkpoint_dir, ignore_errors=True)

    from filefilter_spark.pipeline import Pipeline
    from filefilter_spark.progress import StatusLine
    from filefilter_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("filefilter_spark_cli")
    spark.sparkContext.setLogLevel("WARN")
    pipe = Pipeline.from_yaml(
        spark, args.config,
        checkpoint_dir=args.checkpoint_dir,
        resume=args.resume,
        # flag overrides YAML; absent flag defers to observeMetrics
        observe_metrics=False if args.no_observe_metrics else None,
    )
    with StatusLine(spark) if args.interactive else nullcontext():
        result = pipe.run_file(args.input, args.output)
    if args.interactive:
        # observe()-based: counts were collected by the write action, no
        # extra jobs (OP-A10/A14).
        for m in result.metrics:
            log.info("stage %-30s %-7s rows=%s errors=%s %s%s",
                     m.name, m.action_type, m.rows_out, m.errors,
                     m.http_status or "", " [resumed]" if m.resumed else "")
    log.info("wrote %s in %.1fs", args.output, time.time() - t0)
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
