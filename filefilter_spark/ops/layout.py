"""Z-order (Morton) data layout for multi-dimensional scan pruning
(OP-A9 sink tier).

A 100 TB table is read through parquet row-group min/max statistics:
a scan with a predicate skips every row group whose stats exclude it.
Sorting the write by ONE column makes that column's stats tight and
every other column's stats useless — a predicate on a second
dimension still reads the whole table. Interleaving the bits of k
normalized columns into a single sort key (the Z-order curve — the
layout trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`) makes row
groups into k-dimensional tiles: EVERY interleaved column's min/max
range within a row group is narrow, so selective predicates on any of
them (or any combination) prune.

Everything here is exact integer arithmetic — no floats anywhere —
so the key is bit-identical across engines, partitionings and
retries:

- normalization: ``u = (v − min) · (2^bits − 1) DIV (max − min)``
  (integer floor division; all inputs are BIGINT, and both engines'
  integer division agree on non-negative operands);
- interleave: the bit-shift/mask sum unrolled over ``bits × k``
  literal terms — plain ``&``/``>>``/``*`` on BIGINT, identical in
  Spark SQL and DuckDB, and fully inside whole-stage codegen.

The column min/max bounds come from one map-combined aggregate
(2k scalars to the driver) unless the caller passes known bounds.

Scale shape of :func:`write_zordered`:
``repartitionByRange(zkey)`` — one range-exchange shuffle (AQE-sized,
the same cost any global sort pays) — then ``sortWithinPartitions``
so parquet row groups inherit contiguous z-ranges. SCALING.md
"Z-order layout" measures the payoff directly from parquet footers: row groups whose min/max box intersects a 2-D predicate box,
z-ordered vs single-column-sorted.

The module also owns the file-level store primitives that the
persisted indexes and the streaming ingest loops share, all through
the Hadoop FileSystem API: listing, the one small-files compactor
(:func:`compact_files`, plain or hive-partitioned) and its gate
(:func:`maybe_compact`), the temp-then-swap directory replace (the
only rename), the sidecar and the pending marker.

Every persisted index keeps its metadata in one sidecar format: a
one-row parquet table whose single ``json`` column holds the
metadata dict as one JSON string (the text and fuzzy ``stats/``, the
ANN ``meta/``, the ivfpq ``_applied/``). :func:`_write_sidecar` is its
one writer, by temp + swap, and :func:`_read_sidecar` its one reader.
A build swaps its data dirs in first and writes its sidecar last.
"""

from __future__ import annotations

import json
from contextlib import contextmanager
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def normalize_expr(col: Column, lo: int, hi: int, bits: int) -> Column:
    """``(v−lo)·(2^bits−1) DIV (hi−lo)`` as exact BIGINT math; constant
    0 when the column has no range. Values outside [lo, hi] are
    clamped first (callers passing static bounds on drifting data get
    edge cells, not corrupt keys).

    The floor division is spelled ``(s − pmod(s, d)) / d``: s−pmod is
    exactly divisible, and IEEE double division of exactly-divisible
    longs whose quotient (< 2^bits) is representable returns the exact
    quotient — pure Column API, no SQL-string splicing, same result as
    DuckDB's ``//`` on the non-negative operands this produces."""
    if hi <= lo:
        return F.lit(0).cast("long")
    top = (1 << bits) - 1
    d = hi - lo
    c = F.greatest(F.least(col.cast("long"), F.lit(hi)), F.lit(lo))
    s = (c - F.lit(lo)) * F.lit(top).cast("long")
    return ((s - F.pmod(s, F.lit(d))) / F.lit(d)).cast("long")


def _interleave(us: Sequence[Column], bits: int) -> Column:
    """Morton interleave, unrolled to ``bits × len(us)`` literal
    shift/mask terms (column shift amounts are not portable; literal
    unrolling is, and keeps the whole key in codegen)."""
    n = len(us)
    terms = []
    for i in range(bits):
        for c, u in enumerate(us):
            terms.append(
                (F.shiftright(u, i).bitwiseAND(F.lit(1)))
                * F.lit(1 << (i * n + c)).cast("long")
            )
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def column_bounds(
    df: DataFrame, cols: Sequence[str]
) -> dict[str, tuple[int, int]]:
    """One aggregate pass → {col: (min, max)}. 2·k scalars of driver
    traffic regardless of table size."""
    aggs = []
    for c in cols:
        aggs.append(F.min(F.col(c).cast("long")).alias(f"__lo_{c}"))
        aggs.append(F.max(F.col(c).cast("long")).alias(f"__hi_{c}"))
    row = df.agg(*aggs).collect()[0]
    return {c: (row[f"__lo_{c}"], row[f"__hi_{c}"]) for c in cols}


def with_zorder(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 16,
    key_col: str = "zkey",
    bounds: dict[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """Attach the Z-order key for ``cols`` (integral columns; cast
    dates/decimals to long upstream). ``bounds`` skips the min/max
    pass when the caller already knows the ranges (static partition
    bounds, catalog stats)."""
    if bounds is None:
        bounds = column_bounds(df, cols)
    us = [
        normalize_expr(F.col(c), bounds[c][0], bounds[c][1], bits)
        for c in cols
    ]
    return df.withColumn(key_col, _interleave(us, bits))


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 16,
    num_files: int | None = None,
    bounds: dict[str, tuple[int, int]] | None = None,
) -> None:
    """Write ``df`` as parquet laid out along the Z-order curve of
    ``cols``: range-partition by the key (one shuffle; explicit file
    count when ``num_files`` is given, else AQE-coalesced), sort
    within partitions, drop the key from the stored schema (it is
    derivable; storing it would change the logical schema). ``bounds``
    skips the internal min/max pass when the caller already holds the
    ranges — at table scale that pass is a full scan, so a caller that
    needs the bounds anyway (filter boxes, re-keying the read-back)
    should compute them once and share."""
    keyed = with_zorder(df, cols, bits=bits, bounds=bounds)
    if num_files:
        keyed = keyed.repartitionByRange(num_files, "zkey")
    else:
        keyed = keyed.repartitionByRange("zkey")
    (
        keyed.sortWithinPartitions("zkey")
        .drop("zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def _fs(spark, path: str):
    """``(FileSystem, Path)`` for ``path`` through the Hadoop FileSystem
    API — every helper below goes through it, so each works on any
    store Spark can read (file:, hdfs:, s3a:), where ``os.path`` is
    silently wrong for every scheme-qualified URI."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def input_bytes(spark, path: str) -> int:
    """Total byte size under ``path`` — one listing, reads no data."""
    fs, p = _fs(spark, path)
    return int(fs.getContentSummary(p).getLength())


def _dir_exists(spark, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def _is_directory(spark, path: str) -> bool:
    """False for plain files AND missing paths."""
    fs, p = _fs(spark, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def _n_data_files(spark, path: str) -> int:
    """Visible data files directly under ``path`` (0 when missing);
    hidden ``_SUCCESS``/``.crc``/``_``-prefixed entries excluded,
    matching what a parquet scan reads."""
    fs, p = _fs(spark, path)
    return _count_data_files(fs, p) if fs.exists(p) else 0


def _count_data_files(fs, p) -> int:
    return sum(
        1
        for st in fs.listStatus(p)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    )


def _swap_dirs(spark, live: str, tmp: str, tag) -> None:
    """Replace ``live`` with the fully written ``tmp``, atomically as the
    store allows: two ``FileSystem.rename`` calls keep the old table
    aside as ``<live>__old<tag>`` until the new one is in place (a crash
    between them leaves that copy intact), then delete it. A missing
    ``live`` (first write, or a half-written layout being repaired) is
    a single rename into place. On an object store rename is a copy —
    real deployments flip a delta/iceberg catalog entry instead."""
    fs, p = _fs(spark, live)
    src = spark._jvm.org.apache.hadoop.fs.Path(tmp)
    if not fs.exists(p):
        if not fs.rename(src, p):  # pragma: no cover - fs race
            raise IOError(f"swap: could not move {tmp} into place")
    else:
        old = spark._jvm.org.apache.hadoop.fs.Path(
            f"{live.rstrip('/')}__old{tag}"
        )
        if not fs.rename(p, old):  # pragma: no cover - fs race
            raise IOError(f"swap: could not move {live} aside")
        if not fs.rename(src, p):  # pragma: no cover
            fs.rename(old, p)  # restore; old table was never touched
            raise IOError(f"swap: could not swap {tmp} into place")
        fs.delete(old, True)
    # Spark's shared FileStatusCache serves the PRE-swap listing to the
    # next read of this path — later reads would chase deleted part
    # files (FAILED_READ_FILE.FILE_NOT_EXIST). Invalidate the listing
    # and any cached data keyed on the path.
    spark.catalog.refreshByPath(live)


def _write_sidecar(spark, row: dict, live: str, tag) -> None:
    """Commit ``row`` as the sidecar at ``live`` by write-to-temp + swap,
    never an overwrite in place: a crash mid-overwrite would leave
    ``live`` empty and lose what it recorded."""
    tmp = f"{live.rstrip('/')}__tmp{tag}"
    spark.createDataFrame([(json.dumps(row),)], "json string").coalesce(
        1
    ).write.mode("overwrite").parquet(tmp)
    _swap_dirs(spark, live, tmp, tag)


def _read_sidecar(spark, live: str) -> dict | None:
    """The dict :func:`_write_sidecar` committed at ``live``; None when
    no sidecar was committed there yet."""
    if not _dir_exists(spark, live):
        return None
    row = spark.read.schema("json string").parquet(live).first()
    if row is not None and row["json"] is None:
        raise ValueError(
            f"{live!r} is not a JSON sidecar: rebuild the index (layouts "
            "written before the one-JSON-row format are not read)"
        )
    return None if row is None else json.loads(row["json"])


def _copy_dir(spark, src: str, dst: str) -> None:
    fs, s = _fs(spark, src)
    _, d = _fs(spark, dst)
    spark._jvm.org.apache.hadoop.fs.FileUtil.copy(
        fs, s, fs, d, False, spark._jsc.hadoopConfiguration()
    )


def _delete_dir(spark, path: str) -> None:
    fs, p = _fs(spark, path)
    fs.delete(p, True)
    spark.catalog.refreshByPath(path)


@contextmanager
def _pending_marker(spark, path: str):
    """Fence a multi-swap rewrite that is not jointly atomic: the
    marker dir exists from before the first swap until after the last,
    so a crash in between is visible to the next run, which must heal
    (redo the rewrite) before it reads the layout."""
    fs, p = _fs(spark, path)
    fs.mkdirs(p)
    yield  # no finally: a failed rewrite must leave the marker behind
    fs.delete(p, True)


def compact_files(
    spark,
    in_path: str,
    out_path: str,
    order_by: Sequence[str],
    target_bytes: int = 128 << 20,
    fmt: str = "parquet",
    out_fmt: str | None = None,
    partition_by: str | None = None,
) -> int:
    """Small-files compaction — the standing operational chore of any
    long-lived 100 TB table (streaming sinks, per-batch ingests, and
    over-parallel writers each leave thousands of KB-sized files;
    every later scan then pays one task + one open per file, and the
    driver pays the listing). Rewrites ``in_path`` as
    ``ceil(input_bytes / target_bytes)`` files at ``out_path``.

    Determinism contract: callers MUST name a sort key (`order_by`) —
    without one, which rows land in which output file depends on
    scheduling, and the rewritten table would not be reproducible.
    With it, the write is ``repartitionByRange(n, keys)`` +
    ``sortWithinPartitions`` — one range-exchange shuffle (AQE-sized
    sampling picks the split points), and each output file holds a
    contiguous key range, so the compaction doubles as a cluster-by
    layout: parquet min/max stats on the leading key become tight and
    later key-range scans prune files.

    ``partition_by`` compacts a HIVE-PARTITIONED table and keeps its
    ``partition_by=`` directories, which partition pruning depends on
    (``streaming.jobs.ivfpq_stream_ingest`` appends one file set per
    cell per micro-batch). The partition column becomes the leading
    range key and the write is ``partitionBy(partition_by)``: a small
    partition's rows land in ONE file under its dir, an oversized one
    splits across ``ceil(its bytes / target)`` files. Rows, values and
    directory layout are unchanged; only file boundaries move.

    ``out_fmt`` (default: same as ``fmt``) converts while compacting —
    the standard ingestion chore jsonl → parquet is one pass: read the
    shattered interchange files, range-cluster, land columnar.

    Sizing note, stated: output file count is estimated from INPUT
    bytes (one FileSystem listing, no data read). Same-format
    compaction preserves compressed size closely; format conversions
    should pass an explicit ``target_bytes`` scaled by the expected
    ratio (jsonl → snappy parquet typically shrinks 3-10×). Returns
    the number of range tasks: the file count of an unpartitioned
    table; a partitioned one has one more file per partition that a
    task boundary splits."""
    if not order_by:
        raise ValueError(
            "compact_files: order_by is required — unordered compaction "
            "is not reproducible (file contents would depend on "
            "scheduling)"
        )
    total = input_bytes(spark, in_path)
    n_out = max(1, -(-total // int(target_bytes)))
    df = spark.read.format(fmt).load(in_path)
    lead = [partition_by] if partition_by else []
    keys = [F.col(c) for c in lead + list(order_by)]
    w = (
        df.repartitionByRange(n_out, *keys)
        .sortWithinPartitions(*keys)
        .write.mode("overwrite")
    )
    if partition_by:
        w = w.partitionBy(partition_by)
    w.format(out_fmt or fmt).save(out_path)
    return n_out


def _partition_file_counts(
    spark, in_path: str, partition_by: str
) -> dict[str, int]:
    """Data-file count per ``partition_by=`` directory under
    ``in_path``, listed via the Hadoop FileSystem API — the same
    store-agnostic tier as :func:`input_bytes` ("works on any store
    Spark can read"), NOT a local ``glob``: a fragmentation gate that
    only sees the local filesystem would silently no-op forever on
    the s3a/hdfs tables a long-lived streaming index actually lives
    on. Hidden entries (``_SUCCESS``, ``.crc``, checkpoints) are
    excluded, matching what a parquet scan reads.

    Raises when ``in_path`` has no ``partition_by=`` dirs at all —
    that is a mis-pointed path or wrong partition column, and
    returning "0 files, healthy" would hide it."""
    fs, root = _fs(spark, in_path)
    prefix = f"{partition_by}="
    counts: dict[str, int] = {}
    for st in fs.listStatus(root):
        part = st.getPath().getName()
        if st.isDirectory() and part.startswith(prefix):
            counts[part] = _count_data_files(fs, st.getPath())
    if not counts:
        raise ValueError(
            f"maybe_compact: no {prefix}* partition directories under "
            f"{in_path!r} — wrong path or partition column? (a silent "
            "'healthy' here would mask a never-firing compaction gate)"
        )
    return counts


def maybe_compact(
    spark,
    in_path: str,
    out_path: str,
    partition_by: str | None,
    order_by: Sequence[str],
    max_files_per_partition: int = 16,
    target_bytes: int = 128 << 20,
    fmt: str = "parquet",
) -> bool:
    """Threshold-gated :func:`compact_files` — the call a
    streaming-index maintenance loop actually makes: check the current
    fragmentation (max data files under any ``partition_by=`` dir) and
    compact ONLY when it exceeds ``max_files_per_partition``, so the
    scheduler can invoke it after every micro-batch (or on a timer)
    without paying a rewrite while the table is still healthy. Returns
    True iff a compaction ran (``out_path`` is only written then —
    callers swap directories on True, keep serving ``in_path`` on
    False).

    The check is driver-side file listing only — partitions × files
    metadata, no data read — so a no-op costs milliseconds at any
    table size. Threshold guidance from the measured curve in
    SCALING.md ("probe cost vs fragmentation"): per-file fixed costs
    (listing, footer, task) track the micro-batch count, ~1.7× probe
    cost at 64 batches even on a toy table.

    The listing goes through the Hadoop FileSystem API (the
    :func:`input_bytes` pattern) so the gate fires on ANY store Spark
    can read — file:, hdfs://, s3a:// — not just the local
    filesystem; a table with no ``partition_by=`` directories at all
    raises rather than silently reporting "healthy" forever.

    ``partition_by=None`` gates an unpartitioned table on the data
    files directly under ``in_path`` (0 when it does not exist yet)."""
    if partition_by is None:
        worst = _n_data_files(spark, in_path)
    else:
        worst = max(
            _partition_file_counts(spark, in_path, partition_by).values(),
            default=0,
        )
    if worst <= max_files_per_partition:
        return False
    compact_files(spark, in_path, out_path, order_by,
                  target_bytes=target_bytes, fmt=fmt,
                  partition_by=partition_by)
    return True
