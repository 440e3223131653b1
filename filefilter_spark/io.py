"""Sources and sinks — OP-A1..A4, OP-A9.

Reference loads one input file into DuckDB (``Database.py:64-92``: csv
branch 77-78, parquet 79-80, s3 72-75) and exports the final stage with
``COPY ... TO ... (FORMAT CSV, DELIMITER ...)`` (``filefilter.py:374-379``).

Spark-first: ``spark.read`` with format dispatch on extension; the
``sampleLines`` dev cap (OP-A4, ``filefilter.py:283-284``) becomes
``df.limit(n)`` which Catalyst pushes into the scan (GlobalLimit over
the file source — only the needed splits are read).

One writer per output shape, each writing one part file per task:
:func:`write_csv` (a directory of CSV parts), :func:`write_csv_file`
(the reference's one CSV file, stitched from those parts on the
driver), :func:`write_parquet`, :func:`write_orc`, :func:`write_jsonl`
and :func:`write_bucketed_table`. None of them folds the data into one
task; small-files compaction is ``ops.layout.compact_files``.

Scale notes: a CSV source without an explicit ``schema`` is typed from
its first :data:`CSV_SAMPLE_LINES` lines, as DuckDB's ``read_csv``
sniffer types it, so no read scans the whole file for its types; the
file is then read with that schema in ``FAILFAST`` mode, every field
parsed, and a later value that does not fit raises. Parquet needs no inference. S3 paths
map to ``s3a://`` (hadoop-aws connector; credential chain is the
standard AWS provider chain, same idea as DuckDB httpfs).
"""

from __future__ import annotations

import re
from pathlib import Path
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_TEXT_EXTS = {".csv", ".tsv", ".txt"}
_JSON_EXTS = {".json", ".jsonl", ".ndjson"}
# Compression suffixes are transparent: Spark's text-based sources
# (csv/json) decompress by codec extension automatically, so dispatch
# looks through them to the inner extension. Note gzip/bzip2 text files
# are NOT splittable — one task per file regardless of size; at scale
# prefer many modest files (or zstd/parquet) over one huge .gz.
_COMPRESSION_EXTS = {".gz", ".bz2", ".zst", ".zstd", ".deflate"}
# Lines a CSV source's column types are inferred from: DuckDB
# read_csv's default sample_size, the reference's reader.
CSV_SAMPLE_LINES = 20_480


_SCRATCH_ROOTS: dict[str, str] = {}


def scratch_root(prefix: str) -> str:
    """One lazily-created temp root per prefix, removed at interpreter
    exit — the shared cleanup policy for sink outputs that must outlive
    the lazy DataFrames reading them (callers: sink round-trip queries,
    the foreachBatch runner). Per-call uniqueness, when needed, is the
    caller's job via a subpath."""
    root = _SCRATCH_ROOTS.get(prefix)
    if root is None:
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix=prefix)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_ROOTS[prefix] = root
    return root


def _normalize_path(path: str) -> str:
    if path.startswith("s3://"):
        return "s3a://" + path[len("s3://"):]
    return path


def _fetch_s3_to_local(path: str, max_bytes: int = 32 << 30) -> str:
    """Driver-side boto3 fallback for ``s3://`` inputs when the s3a
    connector jars are absent: download the object — or every object
    under the prefix — into a local scratch dir and return the local
    path (named after the last path segment, so extension dispatch in
    :func:`read_input` still works on it).

    Deliberately a CONVENIENCE tier: the bytes flow through the driver,
    so it is right for the CLI's modest inputs and wrong for cluster
    reads — a deployment reading TBs installs hadoop-aws and Spark's
    executors then pull their own splits. An object or prefix larger
    than ``max_bytes`` fails before any download. Credentials/endpoint
    come from the standard boto3 chain (env vars, profile, IMDS;
    ``AWS_ENDPOINT_URL`` honored) — the same sources ``session.s3_conf``
    maps into s3a, so the two paths share one credential story.
    """
    import uuid
    from pathlib import Path as _P
    from urllib.parse import urlparse

    try:
        import boto3
        from botocore.exceptions import ClientError
    except ImportError as e:  # pragma: no cover - boto3 is an extra
        raise RuntimeError(
            f"cannot read {path!r}: neither the s3a connector jars nor "
            "boto3 are available — install hadoop-aws for cluster reads "
            "or boto3 for the driver-side fallback"
        ) from e

    u = urlparse(path if path.startswith("s3://") else "s3://" + path.split("://", 1)[1])
    bucket, key = u.netloc, u.path.lstrip("/")
    dest_root = _P(scratch_root("ffspark_s3_")) / uuid.uuid4().hex[:8]
    dest = dest_root / (_P(key.rstrip("/")).name or bucket)
    s3 = boto3.client("s3")
    # Driver-disk guard: this tier funnels every byte through the
    # driver's scratch dir, so a multi-TB dataset pointed here (where
    # the jarful path would stream splits to executors) must fail fast
    # with the real remedy, not silently fill the local disk.
    def _check_size(total: int) -> None:
        if total > max_bytes:
            raise ValueError(
                f"{path!r} is {total / (1 << 30):.1f} GiB — beyond the "
                f"{max_bytes / (1 << 30):.1f} GiB driver-side fetch cap. "
                "This jarless fallback downloads through the driver; for "
                "inputs this size install hadoop-aws so executors read "
                "s3a:// splits directly."
            )

    try:
        head = s3.head_object(Bucket=bucket, Key=key)
        _check_size(int(head.get("ContentLength", 0)))
        dest.parent.mkdir(parents=True, exist_ok=True)
        s3.download_file(bucket, key, str(dest))
        return str(dest)
    except ClientError as e:
        # Only a definite "no such object" means "try the prefix
        # instead". Anything else (AccessDenied, throttling, a
        # mid-download failure) must surface as itself — falling
        # through would misreport it as FileNotFoundError and mask the
        # actual cause. head_object reports a missing key as plain 404.
        code = str(
            (getattr(e, "response", None) or {}).get("Error", {}).get("Code", "")
        )
        if code not in ("404", "NoSuchKey", "NotFound"):
            raise
    prefix = key.rstrip("/") + "/" if key else ""
    # Stream the listing page-by-page, accumulating sizes as we go: a
    # prefix with millions of keys must trip the size cap after the
    # first over-cap page, not after the driver has materialized the
    # whole listing in memory.
    objs = []
    total_size = 0
    for page in s3.get_paginator("list_objects_v2").paginate(
        Bucket=bucket, Prefix=prefix
    ):
        for obj in page.get("Contents", []):
            # skip the zero-byte "directory marker" object
            if not obj["Key"][len(prefix):]:
                continue
            objs.append(obj)
            total_size += int(obj.get("Size", 0))
        _check_size(total_size)
    found = False
    for obj in objs:
        rel = obj["Key"][len(prefix):]
        target = dest / rel
        target.parent.mkdir(parents=True, exist_ok=True)
        s3.download_file(bucket, obj["Key"], str(target))
        found = True
    if not found:
        raise FileNotFoundError(f"no S3 object or prefix at {path!r}")
    return str(dest)


def _apply_schema_select(df: DataFrame, schema: StructType | str) -> DataFrame:
    """Apply an explicit schema to a self-describing source via
    ``select`` + ``cast`` — NOT ``reader.schema()``.

    Spark's vectorized parquet/ORC readers do not cast mismatched
    physical types: reading a bigint column with a declared ``int``
    schema fails at execution (FAILED_READ_FILE.PARQUET_COLUMN_DATA_
    TYPE_MISMATCH), and the failure is invisible until an action runs.
    Casting after the read is always safe, and column pruning still
    reaches the scan because Catalyst prunes through the projection
    (the ReadSchema in the plan lists only the selected columns).
    Columns requested but absent from the file come back as typed
    nulls — the mergeSchema-style semantics a schema-evolution caller
    expects.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    # Fold names with the SESSION's case sensitivity: under an explicit
    # caseSensitive=true session a case-mismatched name must be treated
    # as absent (typed null) — the lowercased membership test alone
    # would emit F.col() for it and fail analysis later.
    cs = (
        df.sparkSession.conf.get("spark.sql.caseSensitive", "false").lower()
        == "true"
    )
    fold = (lambda c: c) if cs else str.lower
    have = {fold(f) for f in df.columns}
    cols = [
        F.col(f.name).cast(f.dataType).alias(f.name)
        if fold(f.name) in have
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ]
    return df.select(*cols)


def _csv_head_schema(spark: SparkSession, path: str, options: dict) -> StructType:
    """The schema Spark's CSV inference gives the first
    :data:`CSV_SAMPLE_LINES` lines of ``path``.

    The head is collected into the driver JVM (one job, reading only
    the first split when that split holds the sample) and wrapped as a
    local dataset, and Spark's own CSV reader infers over it, as
    ``DataFrameReader.csv`` does for an RDD of lines: one more job,
    over local rows. That reader drops every line equal to the header,
    so the header lines of a directory's later files are not taken
    for data.
    """
    jspark = spark._jsparkSession
    head = jspark.read().textFile(path).limit(CSV_SAMPLE_LINES).collectAsList()
    lines = jspark.createDataset(head, spark._jvm.org.apache.spark.sql.Encoders.STRING())
    reader = spark.read.options(**options, inferSchema=True)
    return DataFrame(reader._jreader.csv(lines), spark).schema


def read_input(
    spark: SparkSession,
    path: str,
    delimiter: str | None = None,
    sample_lines: int = 0,
    schema: StructType | str | None = None,
) -> DataFrame:
    """Load an input file, dispatching on extension (``Database.py:77-80``).

    Unlike the reference (which crashes when ``inDelimiter`` is absent —
    quirk 2 in SURVEY.md §2.A) the delimiter is optional: ``.tsv``
    defaults to tab, everything else to comma (the reference's orphan
    loader auto-sniffed; explicit-default is deterministic at scale).

    A CSV/TSV/TXT source read without ``schema`` takes the column types
    Spark's CSV inference gives its first :data:`CSV_SAMPLE_LINES`
    lines (DuckDB ``read_csv``'s default ``sample_size``) and is read
    with them in ``FAILFAST`` mode, as DuckDB reads: a later value that
    does not fit its column's type, or a row with fewer or more fields
    than the header, raises ``MALFORMED_RECORD_IN_PARSING`` when the
    rows are read, never a silent null, padding or truncation. The
    check holds for a read of some of the columns and for a ``count()``
    too: the read parses every field of each row. Pass ``schema`` to
    type a file whose head is not representative.
    """
    from filefilter_spark.config import normalize_delimiter

    p = _normalize_path(path)
    if p.startswith("s3a://"):
        from filefilter_spark.session import s3a_available

        # Two-tier S3: with the hadoop-aws jars on the classpath,
        # executors read s3a:// splits directly (the cluster path; its
        # conf surface is contract-tested: session.s3_conf_from_env pins
        # the boto3-env-chain → fs.s3a.* mapping, so a deployment's first
        # validation is only the jar itself). Without them, fall back to
        # a driver-side boto3 fetch into local scratch — a REAL,
        # moto-tested S3 ingestion path (protocol, credentials,
        # object/prefix handling), sized for CLI inputs, not cluster
        # reads (_fetch_s3_to_local).
        if not s3a_available(spark):
            p = _fetch_s3_to_local(path)
    name = Path(p).name.lower()
    ext = Path(name).suffix
    if ext in _COMPRESSION_EXTS:
        ext = Path(Path(name).stem).suffix
    if ext == ".parquet":
        # Self-describing format: an explicit schema still applies —
        # via select+cast after the read (see _apply_schema_select for
        # why reader.schema() would crash on mismatched types).
        df = spark.read.parquet(p)
        if schema is not None:
            df = _apply_schema_select(df, schema)
    elif ext == ".orc":
        df = spark.read.orc(p)
        if schema is not None:
            df = _apply_schema_select(df, schema)
    elif ext in _JSON_EXTS:
        # JSON Lines (one object per line — the splittable layout;
        # multiline JSON arrays are NOT splittable and are rejected by
        # default). Beyond the reference's surface (Database.py:77-80
        # handles csv/parquet only) but table stakes for LLM-corpus
        # inputs, which ship overwhelmingly as .jsonl.
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.json(p)
    elif ext in _TEXT_EXTS:
        delimiter = normalize_delimiter(delimiter)
        sep = delimiter if delimiter is not None else ("\t" if ext == ".tsv" else ",")
        options = {"header": True, "sep": sep}
        if schema is None:
            schema = _csv_head_schema(spark, p, options)
            # Without column pruning every field is parsed, so a read of
            # some columns, or a count, checks the row's shape too.
            options.update(mode="FAILFAST", columnPruning=False)
        df = spark.read.options(**options).schema(schema).csv(p)
    else:
        raise ValueError(f"unsupported input extension {ext!r} for {path!r}")
    if sample_lines and sample_lines > 0:
        df = df.limit(sample_lines)  # OP-A4 dev cap, pushed into the scan
    return df


def write_csv(
    df: DataFrame,
    path: str,
    delimiter: str = ",",
    compression: str | None = None,
) -> None:
    """CSV sink (OP-A9; reference ``filefilter.py:374-379``): a directory
    of part files at ``path``, one per task, each with its own header.
    :func:`write_csv_file` stitches those parts into one file.
    ``compression`` ("gzip", "bzip2", "zstd", ...) trades CPU for
    storage/network; remember gzip parts are not splittable on re-read.
    """
    w = (
        df.write.mode("overwrite")
        .option("header", True)
        .option("sep", delimiter)
    )
    if compression:
        w = w.option("compression", compression)
    w.csv(_normalize_path(path))


_PART_NAME = re.compile(r"part-(\d+)-.*?(?:-c(\d+))?\.csv$")


def _part_order(name: str) -> tuple[int, int]:
    """Sort key of a Spark part file: (task index, file counter). Names
    are ``part-NNNNN-<uuid>-cNNN.csv`` with the index zero-padded to
    five digits only, so past 99,999 tasks a string sort misorders."""
    m = _PART_NAME.match(name)
    if m is None:
        raise ValueError(f"not a Spark CSV part file name: {name!r}")
    return int(m.group(1)), int(m.group(2) or 0)


def write_csv_file(df: DataFrame, path: str, delimiter: str = ",") -> None:
    """Write ONE CSV file at ``path`` — the reference's single-file
    ``COPY ... TO`` sink (``filefilter.py:374-379``).

    Spark writes ``df`` with its own partitioning, one part file per
    task, so the last stage stays parallel. The driver then stitches
    the parts in task-index order into a temp file next to the target,
    keeping the first part's header and dropping the identical header
    of every later part, and renames it over ``path``. A one-partition
    write concatenates partitions 0..N-1 in the same order, so the file
    is byte-identical to the one part :func:`write_csv` writes for a
    one-partition frame. An ``s3://`` target takes the same driver-side
    boto3 tier as the read side when the s3a jars are absent: the
    stitched file is uploaded. Nothing is left behind when a write fails.
    """
    import os
    import shutil
    import tempfile
    import uuid

    # A quoted column name may hold newlines, so a header spans one
    # line more than the names hold newlines.
    header_lines = 1 + sum(c.count("\n") for c in df.columns)
    tmp = tempfile.mkdtemp(prefix="ffspark_csv_")
    stitched = None
    try:
        out_dir = Path(tmp) / "out"
        write_csv(df, str(out_dir), delimiter=delimiter)
        parts = sorted(out_dir.glob("part-*.csv"), key=lambda p: _part_order(p.name))
        if not parts:
            raise RuntimeError(
                f"csv write produced no part file under {out_dir} "
                "(empty input with a writer that skips empty parts?)"
            )
        to_s3 = path.startswith(("s3://", "s3a://"))
        if to_s3:
            from filefilter_spark.session import s3a_available

            if s3a_available(df.sparkSession):  # pragma: no cover - jars
                raise ValueError(
                    "with the s3a connector present, write to s3a:// via "
                    "write_csv (distributed parts), not the single-file sink"
                )
            stitched = Path(tmp) / "stitched.csv"
        else:
            target = Path(path)
            target.parent.mkdir(parents=True, exist_ok=True)
            stitched = target.parent / f".{target.name}.{uuid.uuid4().hex[:8]}.tmp"
        header = None
        with open(stitched, "xb") as out:
            for part in parts:
                with open(part, "rb") as f:
                    head = b"".join(f.readline() for _ in range(header_lines))
                    if header is None:
                        header = head
                        out.write(head)
                    elif head != header:
                        raise RuntimeError(
                            f"csv part {part.name} has header {head!r}, "
                            f"expected {header!r}"
                        )
                    shutil.copyfileobj(f, out, 1 << 20)
        if to_s3:
            from urllib.parse import urlparse

            import boto3

            u = urlparse("s3://" + path.split("://", 1)[1])
            boto3.client("s3").upload_file(str(stitched), u.netloc, u.path.lstrip("/"))
        else:
            os.replace(stitched, path)
    finally:
        # failed writes must leave neither the temp file next to the
        # target nor an ffspark_csv_* scratch dir behind
        if stitched is not None:
            stitched.unlink(missing_ok=True)
        shutil.rmtree(tmp, ignore_errors=True)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(_normalize_path(path))


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist as a BUCKETED managed table: rows are hash-distributed
    into ``n_buckets`` files per partition on ``bucket_cols``, and the
    bucketing metadata travels with the table — so a later join or
    aggregation on the bucket key reads co-located data and skips its
    shuffle entirely (the plan-level lever for repeated joins on one
    key, e.g. doc_id enrichment passes over a 100 TB corpus; asserted
    in tests/test_ops.py).

    Bucketing requires the table-metadata path (``saveAsTable``) —
    plain ``.parquet(path)`` writes carry no bucket spec. Sorted
    buckets (``sort_cols``) additionally enable merge-join without a
    sort step.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink — the other mainstream columnar interchange format
    (Hive/Trino ecosystems); Spark's writer is built in, same predicate
    pushdown + column pruning on re-read as parquet."""
    df.write.mode("overwrite").orc(_normalize_path(path))


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON Lines sink: one object per line, one part file per task —
    the standard interchange layout for LLM-corpus pipelines."""
    df.write.mode("overwrite").json(_normalize_path(path))
