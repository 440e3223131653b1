"""Streaming jobs (OP-D5): windows, state, and continuous ingest.

Three tiers, all drained to completion on static data via
``Trigger.AvailableNow`` so batch oracles apply exactly:

- **Windowed/stateful analytics** — watermark → tumbling/sliding/
  session event-time windows, ``dropDuplicatesWithinWatermark``
  dedup, ``applyInPandasWithState`` custom state, stream-static and
  watermarked stream-stream joins. ``windowed_counts_available_now``
  is the canonical shape: because the test input is bounded we emit
  ``complete`` mode to a memory sink and the batch SQL oracle matches
  row for row; an unbounded deployment runs the identical plan in
  ``append`` mode with the watermark closing windows.
- **foreachBatch pipelines** — ``pipeline_foreach_batch`` applies the
  zero-code YAML pipeline per micro-batch, re-reading the config at
  every batch boundary (the reference's hot-reload, OP-A13).
- **Continuous ingest into persisted stores** — six loops, each an
  encode/probe body over one store core (:class:`_IndexStore`):
  ``ivfpq_stream_ingest`` (frozen IVF×PQ encode into a cell-partitioned
  code table), ``minhash_stream_dedup`` and ``semdedup_stream_dedup``
  (arrival-order-greedy near-dedup against persisted band/cell
  survivor stores), and ``text_index_stream_ingest``,
  ``ann_index_stream_ingest`` and ``fuzzy_index_stream_ingest``
  (appends to the persisted BM25, ANN and Ed-Join layouts of the batch
  builders; queries over the growing index equal the batch op over the
  union corpus).

The store contract, the same for every ingest loop:

- **Sidecar.** The text (``stats/``), ANN (``meta/``), fuzzy
  (``stats/``) and ivfpq (``_applied/``, hidden from
  ``spark.read.parquet(out_dir)``) stores keep the one sidecar format
  of ``ops.layout``: one row holding one JSON string, the store's
  statistics and the applied keys — a 16-hex md5 of each ingested
  input file name, the last ``_APPLIED_KEYS_HORIZON`` of them.
  ``_write_sidecar`` commits it once per batch, after all of the
  batch's store appends, by write-to-temp + swap; ``_read_sidecar``
  is its one reader.
- **Replay.** foreachBatch is at-least-once, and after checkpoint loss
  batch ids renumber from 0 and a re-drain can regroup files, so the
  FILE is the unit of replay identity: a batch skips every file the
  sidecar holds and processes the rest. A non-file source keys the
  batch id, so every commit records at least one key. The minhash and
  semdedup stores keep no sidecar: a replayed row collides with its
  stored self in every band/cell and that self-pair kills it, so a
  replay appends nothing.
- **Crash window.** A crash between a batch's appends and its commit
  leaves the appends with their files un-keyed, so the rerun appends
  them again; the statistics in the sidecar still count every file
  once. Each read path absorbs the duplicates: text probes dedupe
  (doc, term) and count df as distinct docs, ANN probes
  (``ann_topk_indexed``) and ivfpq readers dedupe ids
  (``dedup_ids=True``), the fuzzy result drops duplicate
  (id_a, id_b), and the dedup loops' rerun self-kills.
- **Checkpoint.** text/ANN/fuzzy checkpoint durably under the index
  (``<index>/_checkpoint``; pass ``checkpoint_dir`` only to simulate
  checkpoint loss), so a rerun resumes and never redelivers committed
  files. ivfpq and the dedup loops checkpoint on tmpfs, removed at
  exit, and rely on the guard / self-kill when rerun.
- **Maintenance.** ``maintain_every=N``: after every Nth batch's
  commit, each store dir past its file threshold is compacted
  (``ops.layout.maybe_compact``) into a temp dir and swapped in
  (``ops.layout._swap_dirs``, path caches invalidated).
- **Fences.** A rewrite of two dirs that must agree (text rebucket:
  stats + postings; fuzzy rebuild: gramdf + postings) runs inside a
  pending marker. A run that finds the marker redoes the rewrite before
  its first batch when its self-maintenance flag is on, and refuses
  otherwise.
- **Drain.** A timeout raises (a partial persistent store must not
  look complete), and so does a drain that ran no micro-batch.

Scale notes: windowed shuffle keys are time-bucketed (balanced);
state is bounded by the watermark horizon; ingest per-batch cost is
measured FLAT in store size (SCALING.md). At 100 TB/day the same
plans run with real sinks (kafka/delta) and durable checkpoints;
nothing here is local-mode-only except the memory sink chosen for
test determinism.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import TimestampNTZType

from filefilter_spark.ops.layout import (
    _copy_dir,
    _delete_dir,
    _dir_exists,
    _is_directory,
    _pending_marker,
    _read_sidecar,
    _swap_dirs,
    _write_sidecar,
    maybe_compact,
)
from filefilter_spark.ops.money import sum_cents


def _static_schema_and_ts_fix(spark: SparkSession, path: str):
    """Streaming file sources need an explicit schema. Derive it from a
    static read (which also handles the nanos-timestamp normalization
    contract — see queries.registry.load_table)."""
    from filefilter_spark.queries.registry import (
        _nanos_timestamp_columns,
        _schema_cache,
    )

    nanos_cols = _nanos_timestamp_columns(path)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (id(spark.sparkContext), path)
    schema = _schema_cache.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _schema_cache[key] = schema
    return schema, nanos_cols


def _file_stream(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet file-stream reader over ``path`` (a directory, or one
    ``*.parquet`` file). ``max_files_per_trigger`` bounds each
    micro-batch to N input files — the knob that makes an availableNow
    drain process a directory in several batches."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(int(max_files_per_trigger))
        )
    if path.endswith(".parquet") and not _is_directory(spark, path):
        # Single-FILE dataset: stream-read its parent with a glob on
        # the file name. A Spark-written DIRECTORY named *.parquet must
        # NOT take this branch — the glob is matched against the leaf
        # part-*.parquet names and would silently select zero files —
        # so the test is the Hadoop-FS one (store-agnostic), not
        # os.path.isdir.
        return reader.option("pathGlobFilter", os.path.basename(path)).parquet(
            os.path.dirname(path) or "."
        )
    return reader.parquet(path)


def _events_stream(
    spark: SparkSession,
    path: str,
    ts_col: str = "ts",
    max_files_per_trigger: int | None = None,
):
    schema, nanos_cols = _static_schema_and_ts_fix(spark, path)
    stream = _file_stream(spark, path, schema, max_files_per_trigger)
    if ts_col in nanos_cols:
        stream = stream.withColumn(
            ts_col, F.expr(f"timestamp_micros(`{ts_col}` div 1000)")
        )
    elif isinstance(stream.schema[ts_col].dataType, TimestampNTZType):
        # Parquet timestamp[us] without timezone reads as TIMESTAMP_NTZ,
        # which withWatermark rejects (event time must be TIMESTAMP).
        # The session TZ is pinned to UTC, so this cast is wall-clock
        # preserving — same values the batch oracle computes on the NTZ
        # column.
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream


def _tmpfs_dir(name: str) -> str:
    """A fresh ephemeral checkpoint dir, on tmpfs when available: a
    bounded drain's checkpoint need not survive a crash, so its state
    files go to RAM, not disk. A deployment with a durable sink MUST
    checkpoint to durable shared storage instead."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    return os.path.join(base, f"ffspark_ckpt_{name}_{uuid.uuid4().hex[:8]}")


def _stop_and_clear(spark: SparkSession, query, ckpt: str | None) -> None:
    """Stop ``query`` if it is still active and delete its checkpoint
    ``ckpt`` (None keeps it) once no task runs (at most 30 s). ``stop()`` cancels the
    query's jobs without waiting for their running tasks, and a task
    still in flight commits its state-store delta (``.crc`` included)
    into a checkpoint deleted before it finished, leaving those files
    behind."""
    try:
        if query.isActive:
            query.stop()
    finally:
        sc = spark.sparkContext._jsc.sc()
        deadline = time.monotonic() + 30.0
        try:
            # task-start events still queued would hide running tasks
            sc.listenerBus().waitUntilEmpty(30_000)
            while time.monotonic() < deadline and any(
                e.numRunningTasks()
                for e in sc.statusTracker().getExecutorInfos()
            ):
                time.sleep(0.05)
        finally:
            if ckpt is not None:
                shutil.rmtree(ckpt, ignore_errors=True)


def _run_to_memory(
    agg, output_mode: str, timeout_sec: int, state_partitions: int | None = None
) -> tuple[str, object]:
    """Start an availableNow run to a memory sink and drain it.

    ``state_partitions`` sizes the stateful shuffle: a streaming query
    freezes its state-store partition count at the first checkpoint, so
    it must be an explicit sizing decision, not an inherited batch
    default. Each state partition costs a store instance + per-batch
    snapshot files, so oversizing (e.g. 32 partitions for a bounded
    drain of one small file) measurably dominates small jobs — sized to
    load, the same plan scales to real streams by raising the number.
    The session's batch conf is restored after the query starts.
    """
    spark = agg.sparkSession
    qname = "ffspark_stream_" + uuid.uuid4().hex[:8]
    # a bounded drain to a memory sink is ephemeral by definition
    ckpt = _tmpfs_dir("stream")
    conf_key = "spark.sql.shuffle.partitions"
    # A bounded availableNow drain doesn't need the trailing no-data
    # micro-batch (it only advances the watermark for append-mode
    # window finalization) — skipping it saves one full batch round per
    # run. Gated on output mode: an append-mode windowed aggregate
    # NEEDS that batch to emit its final watermark-closed windows, so
    # the skip applies only to complete/update/on-arrival jobs.
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    overrides = {}
    if output_mode != "append":
        overrides[nodata_key] = "false"
    if state_partitions is not None:
        overrides[conf_key] = str(state_partitions)
    prev = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        query = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                # conf.get(key, None) returns None when the key was never
                # EXPLICITLY set (it does not surface the SQLConf
                # default) — unset rather than skip, or the streaming
                # override would leak into the session's batch queries.
                spark.conf.unset(k)
    try:
        query.awaitTermination(timeout_sec)
    finally:
        _stop_and_clear(spark, query, ckpt)
    return qname, query


def windowed_counts_available_now(
    spark: SparkSession,
    path: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    timeout_sec: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Tumbling-window counts + sums per event_type, run to completion.

    Returns a static DataFrame (win_start, event_type, n, sum_value)
    read back from the finished in-memory sink.
    """
    stream = _events_stream(spark, path, ts_col)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (sum_cents(F.col("value")) / 100.0).alias("sum_value"),
        )
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "sum_value")
    )
    qname, _ = _run_to_memory(agg, "complete", timeout_sec, state_partitions)
    return spark.table(qname)


def stream_static_join_available_now(
    spark: SparkSession,
    events_path: str,
    dim: DataFrame,
    join_key: tuple[str, str] = ("user_id", "c_custkey"),
    group_cols: tuple[str, str] = ("c_mktsegment", "event_type"),
    ts_col: str = "ts",
    timeout_sec: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Stream-static (dimension-enrichment) join: the unbounded event
    stream joins a static dimension table, then aggregates — the
    canonical streaming-enrichment shape. The static side re-resolves
    per micro-batch (Spark's stream-static contract), and being a
    dimension it broadcasts: no state is kept for the join itself, only
    for the downstream aggregation.

    Returns (group_cols..., n, sum_value) from the drained memory sink.
    """
    stream = _events_stream(spark, events_path, ts_col)
    left_key, right_key = join_key
    joined = stream.join(
        F.broadcast(dim), stream[left_key] == dim[right_key], "inner"
    )
    agg = joined.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        (sum_cents(F.col("value")) / 100.0).alias("sum_value"),
    )
    qname, _ = _run_to_memory(agg, "complete", timeout_sec, state_partitions)
    return spark.table(qname)


def stream_stream_join_available_now(
    spark: SparkSession,
    path: str,
    ts_col: str = "ts",
    lookback: str = "2 hours",
    watermark: str = "4 hours",
    timeout_sec: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Stream-stream inner join with watermarks + an event-time range
    condition: each click joins the same user's views in the preceding
    ``lookback`` — the attribution-join shape. BOTH sides carry
    watermarks and the join condition bounds event-time distance, which
    is exactly what lets Spark evict join state (without it, state
    grows forever); state is bounded by events-in-(watermark+lookback)
    per user.

    Returns (click_id, view_id, user_id, click_ts, view_ts).
    """
    clicks = (
        _events_stream(spark, path, ts_col)
        .filter(F.col("event_type") == "click")
        .selectExpr("event_id AS click_id", "user_id", f"{ts_col} AS click_ts")
        .withWatermark("click_ts", watermark)
    )
    views = (
        _events_stream(spark, path, ts_col)
        .filter(F.col("event_type") == "view")
        .selectExpr("event_id AS view_id", "user_id AS v_user", f"{ts_col} AS view_ts")
        .withWatermark("view_ts", watermark)
    )
    joined = clicks.join(
        views,
        F.expr(
            "user_id = v_user AND "
            f"view_ts BETWEEN click_ts - INTERVAL {lookback} AND click_ts"
        ),
        "inner",
    ).select("click_id", "view_id", "user_id", "click_ts", "view_ts")
    # Stream-stream joins emit in append mode only; the trailing
    # no-data micro-batch stays ON here (see _run_to_memory's gate) so
    # the final watermark advance flushes any held rows.
    qname, _ = _run_to_memory(joined, "append", timeout_sec, state_partitions)
    return spark.table(qname)


def sliding_window_counts_available_now(
    spark: SparkSession,
    path: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    timeout_sec: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Sliding (hopping) event-time windows: each event lands in
    window/slide overlapping windows (2 here), the standard shape for
    smoothed rolling metrics. Same watermark/state mechanics as the
    tumbling job — state is bounded by windows-in-watermark x key
    cardinality x overlap factor.

    Returns (win_start, event_type, n) read back from the drained
    in-memory sink.
    """
    stream = _events_stream(spark, path, ts_col)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )
    qname, _ = _run_to_memory(agg, "complete", timeout_sec, state_partitions)
    return spark.table(qname)


def session_window_counts_available_now(
    spark: SparkSession,
    path: str,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    timeout_sec: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity (``F.session_window`` — dynamic, data-driven windows, the
    canonical stateful-streaming shape). Batch-SQL oracle: classic
    gaps-and-islands (lag > gap starts a new island).

    Returns (user_id, session_start, n_events).
    """
    stream = _events_stream(spark, path, ts_col)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("win.start").alias("session_start"), "n_events")
    )
    qname, _ = _run_to_memory(agg, "complete", timeout_sec, state_partitions)
    return spark.table(qname)


def stateful_dedup_available_now(
    spark: SparkSession,
    path: str,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    timeout_sec: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Streaming dedup on ``keys`` with watermarked state
    (``dropDuplicatesWithinWatermark`` — state is bounded by the
    watermark horizon instead of growing forever, the production shape
    for at-least-once sources). Emits the key columns only, so the
    result is exactly DISTINCT keys regardless of which duplicate
    arrived first.
    """
    keys = keys or ["user_id", "event_type"]
    stream = _events_stream(spark, path, ts_col)
    dedup = (
        stream.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(keys)
        .select(*keys)
    )
    qname, _ = _run_to_memory(dedup, "append", timeout_sec, state_partitions)
    return spark.table(qname)


def stateful_user_stats_available_now(
    spark: SparkSession,
    path: str,
    ts_col: str = "ts",
    timeout_sec: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Arbitrary stateful processing via ``applyInPandasWithState``
    (SURVEY §2.6): per-user running aggregates kept in explicit state
    across micro-batches — the escape hatch when built-in windows can't
    express the operator (custom sessionization, CEP, counters with
    business rules).

    Emits one row per user at the end of input: (user_id, n_events,
    total_value). With bounded input + availableNow the final state
    equals the batch GROUP BY, which is the oracle.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _events_stream(spark, path, ts_col)
    out_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total_cents bigint"

    def update(key, pdfs, state: GroupState):
        # Accumulate integer cents (values are exact 2-decimal doubles)
        # so the running total is fold-order independent and matches the
        # oracle's decimal SUM exactly.
        n, total_cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total_cents += int(pdf["value"].mul(100).round().sum())
        state.update((n, total_cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total_cents / 100.0],
            }
        )

    result = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    qname, _ = _run_to_memory(result, "update", timeout_sec, state_partitions)
    # "update" mode re-emits per batch; the last row per user is final.
    snap = spark.table(qname)
    return (
        snap.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )



def _fb_scratch() -> str:
    """Fresh per-invocation output dir under the shared atexit-cleaned
    root (:func:`filefilter_spark.io.scratch_root`)."""
    from filefilter_spark.io import scratch_root

    return f"{scratch_root('ffspark_fb_')}/{uuid.uuid4().hex[:8]}"


def _drain(
    stream: DataFrame,
    handle,
    name: str,
    result_dir: str,
    timeout_sec: int,
    checkpoint_dir: str | None = None,
) -> None:
    """Run ``handle`` as the foreachBatch body of an availableNow drain
    of ``stream``. ``checkpoint_dir=None`` checkpoints on tmpfs and
    removes it at exit; a given dir is durable and kept. A timeout
    raises — the output is persistent, and a partial one returned as
    if complete would silently lose input — and so does a drain that
    never wrote ``result_dir`` (no micro-batches ran: no input file
    matched), instead of failing later on an internal path."""
    ckpt = checkpoint_dir or _tmpfs_dir(name)
    query = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not query.awaitTermination(timeout_sec):  # pragma: no cover
            raise TimeoutError(
                f"{name}: availableNow drain did not finish within "
                f"{timeout_sec}s — the output at {result_dir} is PARTIAL; "
                "raise timeout_sec and rerun"
            )
    finally:
        _stop_and_clear(stream.sparkSession, query,
                        None if checkpoint_dir else ckpt)
    if not _dir_exists(stream.sparkSession, result_dir):
        raise ValueError(
            f"{name}: the availableNow run produced no micro-batches "
            "(no matching input files?) — nothing to read"
        )


def pipeline_foreach_batch(
    spark: SparkSession,
    path: str,
    config_yaml: str | None = None,
    ts_col: str = "ts",
    timeout_sec: int = 300,
    config_path: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run a batch Pipeline (sql/python/rest stages) per micro-batch via
    ``foreachBatch`` — the streaming reincarnation of the reference's
    chunked execution loop (``filefilter.py:195-276``): each micro-batch
    plays the role of one chunk, and the same YAML stages the reference
    applies per chunk are applied per batch (SURVEY.md §2.6).

    ``config_path`` (exclusive with ``config_yaml``) re-reads the YAML
    file at the START of every micro-batch — the reference's
    ``reloadConfigEverySeconds`` hot-reload semantics
    (``filefilter.py:160-170``) on the one Spark surface where a
    mid-job stage swap is expressible: edits to the file take effect on
    the next batch, with the micro-batch as the consistency boundary
    (a batch never sees half-old, half-new stages). ``config_yaml``
    pins one config for the whole run.

    Results accumulate in a parquet dir; on a real deployment the
    writer would be delta/kafka.
    """
    from filefilter_spark.config import load_config_str
    from filefilter_spark.pipeline import Pipeline

    if (config_yaml is None) == (config_path is None):
        raise ValueError("pass exactly one of config_yaml / config_path")

    stream = _events_stream(spark, path, ts_col, max_files_per_trigger)
    # Unique dir per invocation (append-mode batches within ONE run must
    # not mix with a previous run's rows), under a shared root removed
    # at interpreter exit — repeated bench/correctness runs no longer
    # accumulate orphan temp dirs. The dir must outlive the returned
    # lazy DataFrame, hence atexit, not per-call cleanup.
    out_dir = _fb_scratch() + "/data"

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if config_path is not None:
            with open(config_path) as fh:
                yaml_str = fh.read()
        else:
            yaml_str = config_yaml
        pipe = Pipeline(spark, load_config_str(yaml_str))
        pipe.run(batch_df).df.write.mode("append").parquet(out_dir)

    _drain(stream, handle, "pipeline_foreach_batch", out_dir, timeout_sec)
    return spark.read.parquet(out_dir)


# Replay-guard horizon: how many recently applied FILE keys a sidecar
# remembers (16-hex-char keys → ~128 KB of sidecar). Under a durable
# checkpoint a replay only redelivers the in-flight batch, so any bound
# over one batch's file count suffices; the margin covers manual
# checkpoint-loss reruns of a recent window. A rerun reaching files
# older than the horizon (a full re-drain of months of input after
# deleting the checkpoint) is a REBUILD decision, not a replay.
_APPLIED_KEYS_HORIZON = 4096


def _file_key(name: str) -> str:
    """16-hex-char content key for one ingested file name."""
    import hashlib

    return hashlib.md5(name.encode("utf-8")).hexdigest()[:16]


def _batch_files(batch_df: DataFrame) -> list[str]:
    """Sorted distinct input file names of a micro-batch (empty for
    non-file sources) — one tiny distinct over the batch."""
    rows = (
        batch_df.select(F.input_file_name().alias("f")).distinct().collect()
    )
    return sorted({r["f"] for r in rows if r["f"]})


class _IndexStore:
    """The store core every continuous-ingest loop shares: the
    replay guard, the commit point, the maintenance gate, the pending
    marker fence and the drain (contract: module docstring).

    ``result_dir`` is the table the loop returns (its absence after the
    drain means no micro-batch ran). ``sidecar`` is the store's
    ``ops.layout`` sidecar, which carries the applied keys (None for
    the dedup stores, whose replay guard is the self-pair kill).
    ``compact`` lists the maintenance targets as (dir, partition column
    or None, sort columns)."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        result_dir: str,
        sidecar: str | None = None,
        compact=(),
        max_files: int = 16,
        maintain_every: int | None = None,
        marker: str | None = None,
    ):
        self.spark, self.name, self.result_dir = spark, name, result_dir
        self.sidecar, self.compact = sidecar, compact
        self.max_files, self.maintain_every = max_files, maintain_every
        self.marker = marker
        self.new_keys: list[str] = []

    def read(self) -> dict | None:
        return _read_sidecar(self.spark, self.sidecar)

    def begin(self, batch_df: DataFrame, batch_id: int):
        """``(the part of the batch not applied yet or None, sidecar)``:
        drops every file whose key the sidecar already holds; a
        non-file source keys the batch id."""
        cur = self.read()
        self.new_keys = []
        seen = set((cur or {}).get("applied_keys") or [])
        files = _batch_files(batch_df)
        if not files:
            self.new_keys = [f"batch:{batch_id}"]
            return (None if self.new_keys[0] in seen else batch_df), cur
        new = [f for f in files if _file_key(f) not in seen]
        if not new:
            return None, cur
        if len(new) < len(files):
            batch_df = batch_df.filter(F.input_file_name().isin(new))
        self.new_keys = [_file_key(f) for f in new]
        return batch_df, cur

    def write(self, batch_id: int, row: dict, keys=()) -> dict:
        """Record ``row`` plus ``keys`` in the sidecar (temp + swap)."""
        row = {
            **row,
            "applied_keys": (list(row.get("applied_keys") or []) + list(keys))[
                -_APPLIED_KEYS_HORIZON:
            ],
        }
        _write_sidecar(self.spark, row, self.sidecar, batch_id)
        return row

    def commit(self, batch_id: int, row: dict | None = None) -> dict | None:
        """The batch's single commit point, after all its store
        appends: record ``row`` and the keys :meth:`begin` admitted
        (stores without a sidecar record nothing), then run the
        ``maintain_every`` compaction gate. Returns the recorded row."""
        if self.sidecar is not None and row is not None:
            row = self.write(batch_id, row, self.new_keys)
        if self.maintain_every and (batch_id + 1) % self.maintain_every == 0:
            for live, part, order in self.compact:
                tmp = f"{live.rstrip('/')}__compact{batch_id}"
                try:
                    ran = maybe_compact(
                        self.spark, live, tmp, part, order,
                        max_files_per_partition=self.max_files,
                    )
                except ValueError:
                    continue  # no partition dirs yet: all batches empty
                if not ran:
                    continue
                inner = self.sidecar or ""
                if inner.startswith(live.rstrip("/") + "/"):
                    # the swap replaces the whole dir: carry the sidecar
                    _copy_dir(self.spark, inner,
                              tmp + inner[len(live.rstrip("/")):])
                _swap_dirs(self.spark, live, tmp, batch_id)
        return row

    def fence(self, batch_id: int, heal_on: bool, heal, hint: str) -> bool:
        """Before a batch: a pending marker means a two-dir rewrite
        crashed half-way. Redo it via ``heal(batch_id)`` when the loop's
        self-maintenance flag is on (True), refuse otherwise."""
        if self.marker is None or not _dir_exists(self.spark, self.marker):
            return False
        if not heal_on:
            raise RuntimeError(
                f"{self.name}: pending marker found at {self.marker!r} — "
                + hint
            )
        heal(batch_id)
        return True

    def run(
        self,
        path: str,
        handle,
        max_files_per_trigger: int | None,
        timeout_sec: int,
        checkpoint_dir: str | None = None,
    ) -> None:
        schema = self.spark.read.parquet(path).schema
        stream = _file_stream(self.spark, path, schema, max_files_per_trigger)
        _drain(stream, handle, self.name, self.result_dir, timeout_sec,
               checkpoint_dir)


def ivfpq_stream_ingest(
    spark: SparkSession,
    path: str,
    codebooks,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    residual: bool = False,
    timeout_sec: int = 300,
    max_files_per_trigger: int | None = None,
    out_dir: str | None = None,
    maintain_every: int | None = None,
    max_files_per_partition: int = 16,
) -> DataFrame:
    """Continuous IVF×PQ index maintenance (OP-D5 × OP-D3): each
    micro-batch of newly arrived embeddings is assigned + encoded
    against a FROZEN index (``ops.pq.ivfpq_encode_batch`` — pure
    grid-exact projections, so a vector gets the same codes no matter
    which batch delivered it) and appended to the cell-partitioned
    code table at ``out_dir`` (default: session scratch — pass a real
    path for a persistent index). Existing data never reshuffles;
    probes over the growing table stay partition-pruned reads.

    The applied-keys sidecar lives in ``out_dir/_applied`` (hidden from
    ``spark.read.parquet(out_dir)``), so rerunning over the same input
    and ``out_dir`` appends nothing. ``maintain_every=N`` compacts the
    ``cell=`` dirs past ``max_files_per_partition`` files in-stream;
    left unset, run ``compact_files(..., [id_col], partition_by="cell")``
    on your own cadence. Returns the code table."""
    from filefilter_spark.ops.pq import ivfpq_encode_batch

    out_dir = out_dir or _fb_scratch() + "/codes"
    store = _IndexStore(
        spark, "ivfpq_stream_ingest", out_dir,
        sidecar=f"{out_dir}/_applied",
        compact=[(out_dir, "cell", [id_col])],
        max_files=max_files_per_partition, maintain_every=maintain_every,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df, cur = store.begin(batch_df, batch_id)
        if batch_df is None:
            return
        (
            ivfpq_encode_batch(
                batch_df, codebooks, centroids,
                vec_col=vec_col, id_col=id_col, residual=residual,
            )
            .write.partitionBy("cell")
            .mode("append")
            .parquet(out_dir)
        )
        store.commit(batch_id, cur or {})

    store.run(path, handle, max_files_per_trigger, timeout_sec)
    return spark.read.parquet(out_dir)


def _greedy_neardup(
    spark: SparkSession,
    new: DataFrame,
    keyed: DataFrame,
    rows_dir: str,
    keys_dir: str,
    keys: list[str],
    kid: str,
    id_col: str,
    cap: int | None,
    verify,
    want_capped: bool = False,
) -> tuple[list, Observation]:
    """Arrival-order-greedy near-dedup of one batch against a survivor
    store, then the survivors' appends — the body the minhash (LSH
    bands) and semdedup (cell memberships) loops share.

    ``new`` holds the batch's rows, ``keyed`` (persisted by the caller)
    its candidate keys as (``kid``, ``*keys``); ``rows_dir``/``keys_dir``
    hold the stored survivors' rows and keys. ``verify(pairs, rows)``
    keeps the (id_a, id_b) pairs that really are near-dups, reading
    ``rows`` for both sides.

    1. batch keys join the stored keys (store keys held by more than
       ``cap`` survivors dropped first — the degenerate-bucket bound,
       here also capping the join fan-out); history is never re-keyed;
    2. the candidates are verified reading ONLY the candidate
       survivors' rows — batch rows matching history drop;
    3. the remainder near-dups within the batch through the batch
       tier's pieces (``_bucket_pairs`` → verify → ``cluster_pairs``,
       CC min-id representative);
    4. the survivors' rows and keys append to the store.

    Returns the capped key rows (when ``want_capped``) and an
    Observation of ``n_in``/``n_survived``, filled by the rows append:
    the batch's rows are flagged against every dropped id and counted
    just above that flag, where no empty join side can prune the count
    from the plan."""
    from filefilter_spark.ops.dedup import _bucket_pairs, cluster_pairs

    scope: list = []  # the pair kernel's per-batch cache, freed below
    capped: list = []
    counts = Observation()
    try:
        remaining, killed = new, None
        if _dir_exists(spark, rows_dir):
            seen = spark.read.parquet(keys_dir)
            if cap is not None:
                hot = (
                    seen.groupBy(*keys)
                    .agg(F.count("*").alias("__n"))
                    .filter(F.col("__n") > cap)
                    .select(*keys)
                )
                if want_capped:
                    capped = hot.collect()
                seen = seen.join(F.broadcast(hot), keys, "left_anti")
            cross = (
                keyed.join(seen.withColumnRenamed(kid, "__seen"), keys)
                .select(F.col(kid).alias("id_a"), F.col("__seen").alias("id_b"))
                .distinct()
            )
            # A REPLAYED row shares every key with its stored self, so it
            # surfaces here as the self-pair (x, x): kill it on id
            # equality without a verify (the verify would drop
            # self-pairs). A replayed batch thus re-kills its own
            # survivors and appends nothing; only rows whose every key
            # is capped escape (the standing candidate-recall caveat).
            killed_replay = cross.filter(
                F.col("id_a") == F.col("id_b")
            ).select(F.col("id_a").alias(id_col))
            cross = cross.filter(F.col("id_a") != F.col("id_b"))
            # candidates' stored rows, minus the batch's own replayed
            # ids: a row listed twice would fail the Jaccard verify's
            # two-sides check, and a replayed non-survivor would then
            # escape its stored near-dup
            cand_seen = (
                spark.read.parquet(rows_dir)
                .join(
                    cross.select(F.col("id_b").alias(id_col)).distinct(),
                    id_col,
                    "left_semi",
                )
                .join(new.select(id_col), id_col, "left_anti")
            )
            killed = (
                verify(cross, new.unionByName(cand_seen))
                .select(F.col("id_a").alias(id_col))
                .unionByName(killed_replay)
                .distinct()
            )
            remaining = new.join(killed, id_col, "left_anti")
        rem_keyed = keyed.join(
            remaining.select(F.col(id_col).alias(kid)), kid, "left_semi"
        )
        pairs = verify(
            _bucket_pairs(rem_keyed, keys, id_col=kid, max_bucket=cap,
                          scope=scope),
            remaining,
        )
        losers = cluster_pairs(pairs).filter("doc_id != cluster_id").select(
            F.col("doc_id").alias(id_col))
        if killed is not None:  # disjoint: losers come from ``remaining``
            losers = losers.unionByName(killed)
        survivors = (
            new.join(losers.withColumn("__drop", F.lit(True)), id_col, "left")
            .observe(counts, F.count(F.lit(1)).alias("n_in"),
                     F.count_if(F.col("__drop").isNull()).alias("n_survived"))
            .filter("__drop IS NULL")
            .drop("__drop")
        )
        survivors.write.mode("append").parquet(rows_dir)
        keyed.join(
            survivors.select(F.col(id_col).alias(kid)), kid, "left_semi"
        ).write.mode("append").parquet(keys_dir)
    finally:
        for h in scope:
            h.unpersist()
    return capped, counts


def minhash_stream_dedup(
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    shingle_n: int = 1,
    max_bucket: int = 4096,
    timeout_sec: int = 300,
    max_files_per_trigger: int | None = None,
    out_dir: str | None = None,
    on_batch=None,
    maintain_every: int | None = None,
    max_files_per_store: int = 64,
) -> DataFrame:
    """Streaming NEAR-dedup (OP-D5 × OP-D2): continuously ingest
    documents, keep only those with no MinHash-LSH-verified near-dup
    (exact Jaccard ≥ ``threshold``) among previously ACCEPTED
    survivors — the arrival-order-greedy policy every streaming dedup
    implements (first copy wins; later paraphrases drop), composed
    from the batch tier's own pieces so the two agree parameter for
    parameter (:func:`_greedy_neardup` over LSH bands).

    The store is ``<out_dir>/docs`` (survivor rows) and
    ``<out_dir>/bands`` (their band table: cross-batch candidates are
    one equi-join on (band, bucket), ``max_bucket`` capping hot store
    buckets). Each batch is banded (signatures + tokenize) exactly
    ONCE; the probe, the within-batch candidates and the band append
    reuse that persisted frame through id filters — at 100 TB the
    MinHash fold is the dominant per-batch cost.

    ``on_batch`` (opt-in metrics hook; its counts are observed on the
    survivor append, so they cost no extra job) is called after each
    micro-batch with ``{"batch_id", "n_in", "n_survived", "seconds"}``.
    ``maintain_every=N`` compacts store dirs past
    ``max_files_per_store`` data files (docs ordered by id, bands by
    (band, bucket) so the probe side row-group-prunes).

    Returns the survivor table. Which copy survives depends on arrival
    order ACROSS batches (the stream defines who arrived first) and is
    deterministic within a batch; a single-batch drain equals the
    batch pipeline exactly (pinned in tests)."""

    from pyspark.storagelevel import StorageLevel

    from filefilter_spark.ops.dedup import (
        _doc_tokens,
        _verify_jaccard,
        minhash_band_buckets,
    )

    out_dir = out_dir or _fb_scratch() + "/neardup"
    docs_dir, bands_dir = f"{out_dir}/docs", f"{out_dir}/bands"
    store = _IndexStore(
        spark, "minhash_stream_dedup", docs_dir,
        compact=[(docs_dir, None, [id_col]),
                 (bands_dir, None, ["band", "bucket", "doc_id"])],
        max_files=max_files_per_store, maintain_every=maintain_every,
    )

    def verify(pairs: DataFrame, rows: DataFrame) -> DataFrame:
        return _verify_jaccard(
            pairs, _doc_tokens(rows, id_col, text_col, shingle_n), threshold
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        new = batch_df.select(F.col(id_col), F.col(text_col))
        banded = minhash_band_buckets(
            new, id_col, text_col, num_hashes, bands, seed, shingle_n
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            _, counts = _greedy_neardup(
                spark, new, banded, docs_dir, bands_dir, ["band", "bucket"],
                "doc_id", id_col, max_bucket, verify,
            )
        finally:
            banded.unpersist()
        store.commit(batch_id)
        if on_batch is not None:
            on_batch({"batch_id": batch_id, **counts.get,
                      "seconds": time.time() - t0})

    store.run(path, handle, max_files_per_trigger, timeout_sec)
    return spark.read.parquet(docs_dir)


def semdedup_stream_dedup(
    spark: SparkSession,
    path: str,
    centroids,
    threshold: float = 0.45,
    n_assign: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell: int | None = 4096,
    timeout_sec: int = 300,
    max_files_per_trigger: int | None = None,
    out_dir: str | None = None,
    on_batch=None,
    maintain_every: int | None = None,
    max_files_per_store: int = 64,
    built_cell_counts: dict | None = None,
    rebuild_on_drift: bool = False,
) -> DataFrame:
    """Streaming SEMANTIC near-dedup (OP-D5 × OP-D3 — SemDeDup's
    production shape, Abbas et al. 2023): continuously ingest
    embeddings, keep only vectors with no exact-cosine near-dup
    (≥ ``threshold``) among previously ACCEPTED survivors — the
    :func:`minhash_stream_dedup` body (:func:`_greedy_neardup`) with
    KMeans cells in place of LSH bands:

    - ``centroids`` are FROZEN (fit offline or on the first corpus via
      ``ops.similarity.build_ivf_index`` — ``method="lloyd"`` for a
      bit-stable fit), so membership assignment is a zero-shuffle
      literal expression and a vector gets the same cells no matter
      which batch delivered it.
    - the store persists ``<out_dir>/vecs`` (id + embedding) and
      ``<out_dir>/cells`` (the top-``n_assign`` membership table,
      ``ops.similarity.cell_memberships``); cells past ``max_cell``
      stored members drop out of candidate generation (the SemDeDup
      boundary-recall tradeoff). Candidates are verified by EXACT
      cosine (``ops.similarity._pair_cosine_verify``), so a
      single-batch drain equals batch ``semantic_dedup`` + survivor
      materialization exactly (pinned in tests).
    - ``on_batch`` receives ``{"batch_id", "n_in", "n_survived",
      "n_capped_cells", "rebuilt", "n_lists", "seconds"}`` plus the
      :func:`ops.similarity.semdedup_cell_drift` staleness fields:
      ``capped_mass_frac`` — the share of the batch's memberships
      landing in capped cells, the direct predictor of silent
      dup-catch loss — drives ``action`` (ok → degraded → rebuild);
      with ``built_cell_counts`` (the fit corpus's
      :func:`ops.similarity.membership_histogram`) the
      ``tv_distance`` trend rides along without driving the action.
    - ``rebuild_on_drift=True`` acts on ``action == "rebuild"`` at the
      batch boundary: refit the centroids over ``<out_dir>/vecs``
      (``seeding="kmeanspar"``, re-sized to ``max(built,
      round(sqrt(n_store)))`` lists per SCALING.md's rebuild rule),
      recompute the WHOLE cells table under the new model (temp +
      swap), re-baseline the TV trend, and assign later batches under
      the fresh centroids. Already-missed pairs are NOT retroactively
      killed — history is never re-scored.

    Returns the survivor table ``(vec_id, embedding)``."""
    import math as _math

    from filefilter_spark.ops.similarity import (
        _as_double_array,
        _pair_cosine_verify,
        build_ivf_index,
        cell_memberships,
        semdedup_cell_drift,
    )

    out_dir = out_dir or _fb_scratch() + "/semdedup"
    vecs_dir, cells_dir = f"{out_dir}/vecs", f"{out_dir}/cells"
    store = _IndexStore(
        spark, "semdedup_stream_dedup", vecs_dir,
        compact=[(vecs_dir, None, [id_col]), (cells_dir, None, ["cell", "id"])],
        max_files=max_files_per_store, maintain_every=maintain_every,
    )
    track = on_batch is not None or rebuild_on_drift
    # live model state: a rebuild swaps in refit centroids (and a
    # re-read TV baseline) at a batch boundary
    state = {"cents": centroids, "baseline": built_cell_counts}

    def verify(pairs: DataFrame, rows: DataFrame) -> DataFrame:
        return _pair_cosine_verify(
            pairs, rows, _as_double_array(vec_col), id_col, threshold
        )

    def do_rebuild(batch_id: int) -> None:
        store_df = spark.read.parquet(vecs_dir)
        n_new = max(
            len(state["cents"]),
            int(round(_math.sqrt(max(1, store_df.count())))),
        )
        _, cents2 = build_ivf_index(
            store_df, n_lists=n_new, vec_col=vec_col, id_col=id_col,
            method="lloyd", coarse_iters=8, seeding="kmeanspar",
        )
        tmp = f"{cells_dir}__rebuild{batch_id}"
        cell_memberships(
            store_df, cents2, n_assign, vec_col, id_col
        ).write.parquet(tmp)
        _swap_dirs(spark, cells_dir, tmp, batch_id)
        state["cents"] = cents2
        state["baseline"] = {
            int(r["cell"]): int(r["n"])
            for r in spark.read.parquet(cells_dir)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        new = batch_df.select(F.col(id_col), F.col(vec_col))
        cells = cell_memberships(
            new, state["cents"], n_assign, vec_col, id_col
        ).persist()
        drift = None
        try:
            capped, counts = _greedy_neardup(
                spark, new, cells, vecs_dir, cells_dir, ["cell"], "id",
                id_col, max_cell, verify, want_capped=track,
            )
            if track:
                batch_hist = {
                    int(r["cell"]): int(r["n"])
                    for r in cells.groupBy("cell")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
                drift = semdedup_cell_drift(
                    state["baseline"], batch_hist,
                    [int(r["cell"]) for r in capped],
                )
        finally:
            cells.unpersist()
        store.commit(batch_id)
        rebuilt = rebuild_on_drift and drift["action"] == "rebuild"
        if rebuilt:
            do_rebuild(batch_id)
        if on_batch is not None:
            on_batch({
                "batch_id": batch_id,
                **counts.get,
                "n_capped_cells": len(capped),
                **drift,
                "rebuilt": rebuilt,
                "n_lists": len(state["cents"]),
                "seconds": time.time() - t0,
            })

    store.run(path, handle, max_files_per_trigger, timeout_sec)
    return spark.read.parquet(vecs_dir)


def text_index_stream_ingest(
    spark: SparkSession,
    path: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
    timeout_sec: int = 300,
    max_files_per_trigger: int | None = None,
    maintain_every: int | None = None,
    max_files_per_partition: int = 16,
    checkpoint_dir: str | None = None,
    on_batch=None,
    rebucket_on_growth: bool = False,
) -> DataFrame:
    """Continuous inverted-index maintenance (OP-D5 × OP-D4-bm25): each
    micro-batch of newly arrived documents is tokenized into (doc, dl,
    term, tf) postings and APPENDED to the bucket-partitioned layout of
    ``ops.retrieval.build_text_index`` at ``out_dir``; ``stats/``
    (n_docs, Σdl — exact int64s) merges additively at the commit.
    ``bm25_topk_indexed`` queries over the growing index stay
    partition-pruned reads and equal the corpus-scan BM25 exactly.

    * **no terms/ table is maintained** — a cached df would go stale the
      moment the next batch lands; ``bm25_topk_indexed`` computes df
      from the pruned postings instead. A layout from the BATCH build
      (which caches ``terms/``) has that cache deleted before the first
      applied append.
    * **n_buckets comes from the stats sidecar** when ``out_dir``
      already holds an index (a contradicting explicit value raises —
      postings hashed with another bucket count would corrupt every
      probe); on a fresh dir the parameter (default 64) is recorded.
    * ``on_batch`` fires after each APPLIED micro-batch with
      ``{batch_id, n_docs, rebucketed, n_buckets}`` plus the
      :func:`ops.retrieval.text_index_growth` signal (``growth_factor``,
      ``action``): scores stay exact at any growth, but ``n_buckets``
      is a frozen SIZING decision, and past ``TEXT_GROWTH_REBUCKET``×
      the build size ``action="rebucket"`` says re-size it.
    * ``rebucket_on_growth=True`` acts on that signal at the batch
      boundary: the stats sidecar records ``n_buckets ×
      2^⌈log₂ growth⌉`` buckets and re-freezes ``built_n_docs``, then
      the postings are re-hashed to match — both inside the
      ``rebucket_pending`` fence (bucket is a pure function of term, so
      healing re-derives the postings from the sidecar).

    Returns the postings table at ``out_dir`` after the drain."""
    import math as _math

    from filefilter_spark.ops.retrieval import text_index_growth
    from filefilter_spark.ops.text import tokens

    post_dir = f"{out_dir}/postings"
    store = _IndexStore(
        spark, "text_index_stream_ingest", post_dir,
        sidecar=f"{out_dir}/stats",
        compact=[(post_dir, "bucket", ["term", id_col])],
        max_files=max_files_per_partition, maintain_every=maintain_every,
        marker=f"{out_dir}/rebucket_pending",
    )
    stored_nb = (store.read() or {}).get("n_buckets")
    if stored_nb is not None:
        if n_buckets is not None and int(n_buckets) != int(stored_nb):
            raise ValueError(
                f"text_index_stream_ingest: n_buckets={int(n_buckets)} "
                f"contradicts the index's stats sidecar (built with "
                f"n_buckets={int(stored_nb)}); omit the parameter to "
                "append with the recorded value"
            )
        n_buckets = stored_nb
    # mutable: a rebucket swaps in a larger bucket count at a batch
    # boundary; later batches must hash with the live value
    nb = {"v": 64 if n_buckets is None else int(n_buckets)}

    def rewrite_postings(batch_id: int, target: int) -> None:
        """Re-hash the WHOLE postings store to ``target`` buckets
        (idempotent from any current physical layout), temp+swap."""
        tmp = f"{post_dir}__rebuckettmp"
        (
            spark.read.parquet(post_dir)
            .drop("bucket")
            .withColumn(
                "bucket", F.pmod(F.xxhash64("term"), F.lit(int(target)))
            )
            .repartition("bucket")
            .sortWithinPartitions("term", id_col)
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(tmp)
        )
        _swap_dirs(spark, post_dir, tmp, batch_id)
        nb["v"] = int(target)

    def heal(batch_id: int) -> None:
        with _pending_marker(spark, store.marker):
            rewrite_postings(batch_id, int(store.read()["n_buckets"]))

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        store.fence(
            batch_id, rebucket_on_growth, heal,
            "a prior rebucket crashed between its stats/postings swaps "
            "and probes may prune the wrong partitions. Rerun with "
            "rebucket_on_growth=True to heal (postings are re-derived "
            "from the authoritative stats sidecar).",
        )
        batch_df, cur = store.begin(batch_df, batch_id)
        if batch_df is None:
            return
        src = F.lower(F.col(text_col))
        postings = (
            batch_df.select(F.col(id_col), tokens(src).alias("toks"))
            .select(
                id_col,
                F.size("toks").alias("dl"),
                F.explode("toks").alias("term"),
            )
            .groupBy(id_col, "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(nb["v"])))
        )
        if _dir_exists(spark, f"{out_dir}/terms"):
            # the batch build's per-term df cache goes stale with this
            # append (probes would score with build-era dfs): drop it
            # BEFORE appending — a crash in between leaves the index
            # exact, the fallback recomputes the same dfs
            _delete_dir(spark, f"{out_dir}/terms")
        postings.write.partitionBy("bucket").mode("append").parquet(post_dir)
        agg = (
            batch_df.select(F.size(tokens(src)).alias("dl"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
            .first()
        )
        bn, bs = int(agg["n"]), int(agg["s"] or 0)
        row = None
        if cur is not None or bn:  # an empty first batch records nothing
            cur = cur or {"n_docs": 0, "sum_dl": 0, "built_n_docs": bn}
            row = {
                **cur,
                "n_docs": int(cur["n_docs"]) + bn,
                "sum_dl": int(cur["sum_dl"]) + bs,
                "n_buckets": nb["v"],
            }
        row = store.commit(batch_id, row) or {"n_docs": 0}
        growth = text_index_growth(row["n_docs"], row.get("built_n_docs"))
        rebucketed = rebucket_on_growth and growth["action"] == "rebucket"
        if rebucketed:
            target = nb["v"] * (1 << max(1, _math.ceil(_math.log2(
                max(2.0, growth["growth_factor"])
            ))))
            # stats FIRST (n_buckets is authoritative, built_n_docs
            # re-freezes so the signal resets), postings second
            with _pending_marker(spark, store.marker):
                store.write(batch_id, {**row, "n_buckets": target,
                                       "built_n_docs": row["n_docs"]})
                rewrite_postings(batch_id, target)
        if on_batch is not None:
            on_batch({
                "batch_id": batch_id,
                "n_docs": row["n_docs"],
                **growth,
                "rebucketed": rebucketed,
                "n_buckets": nb["v"],
            })

    store.run(path, handle, max_files_per_trigger, timeout_sec,
              checkpoint_dir or f"{out_dir}/_checkpoint")
    return spark.read.parquet(post_dir)


def ann_index_stream_ingest(
    spark: SparkSession,
    path: str,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    timeout_sec: int = 300,
    max_files_per_trigger: int | None = None,
    maintain_every: int | None = None,
    max_files_per_partition: int = 16,
    checkpoint_dir: str | None = None,
    on_batch=None,
    rebuild_source: str | list[str] | None = None,
    rebuild_kwargs: dict | None = None,
) -> DataFrame:
    """Continuous maintenance of a PERSISTED :func:`ops.pq.build_ann_index`
    layout (OP-D5 × OP-A8-annindex): each micro-batch of newly arrived
    embeddings is assigned + encoded against the layout's FROZEN model
    (``ivfpq_encode_batch`` over the meta sidecar's codebooks/centroids
    — grid-exact, so a vector gets the same codes no matter which batch
    delivered it) and appended to the cell-partitioned ``codes/``
    table; the meta sidecar's ``cell_counts`` (the auto-refine sizing
    histogram) merge additively at the commit. ``ann_topk_indexed``
    probes the growing layout unchanged. Growing a corpus far past its
    fit distribution is a rebuild decision.

    ``on_batch`` (opt-in) is called after each non-empty micro-batch
    with ``{batch_id, n_in, applied, rebuilt, n_lists, seconds}`` plus
    the :func:`ops.pq.ann_index_drift` staleness signal (driver-side
    arithmetic over the merged meta, zero extra jobs): a deployment
    alerts on ``action != "ok"`` instead of learning about drift from
    falling recall. The meta also persists the verdict
    (``last_drift``/``recommended_n_probe``) for external probers.

    **Auto-rebuild:** pass ``rebuild_source`` (path or list of parquet
    paths that together hold the FULL current corpus of raw vectors —
    the frozen codes are lossy, so a refit cannot come from the index
    itself) and the loop acts on its own ``action == "rebuild"`` at the
    batch boundary where it fires: a temp+swap
    :func:`ops.pq.build_ann_index` re-fit over the whole source,
    RE-SIZED (``n_lists = max(built, round(sqrt(n)))`` — SCALING.md's
    rebuild rule) and RE-SEEDED (``seeding="kmeanspar"``; both
    overridable via ``rebuild_kwargs``), after which the signal
    re-freezes at ~0. Every file in ``rebuild_source`` is then marked
    applied, so a file the rebuild indexed never double-ingests when
    the stream delivers it later. Without ``rebuild_source`` the signal
    stays alert-only. Returns the codes table at ``index_path``."""
    import math as _math

    from filefilter_spark.ops.pq import (
        ann_index_drift,
        auto_n_probe,
        build_ann_index,
        ivfpq_encode_batch,
    )

    codes_dir = f"{index_path}/codes"
    store = _IndexStore(
        spark, "ann_index_stream_ingest", codes_dir,
        sidecar=f"{index_path}/meta",
        compact=[(codes_dir, "cell", [id_col])],
        max_files=max_files_per_partition, maintain_every=maintain_every,
    )

    def with_drift(meta: dict) -> dict:
        # the verdict persists next to the histograms it is computed
        # from; n_probe="auto" derives the same width live either way
        return {**meta, "last_drift": ann_index_drift(meta),
                "recommended_n_probe": auto_n_probe(meta)}

    def do_rebuild(batch_id: int, merged: dict) -> dict:
        srcs = (
            [rebuild_source]
            if isinstance(rebuild_source, str)
            else list(rebuild_source)
        )
        full = spark.read.parquet(*srcs)
        kw = dict(
            n_lists=max(
                int(merged["n_lists"]),
                int(round(_math.sqrt(max(1, full.count())))),
            ),
            m=int(merged["m"]),
            k=int(merged["k"]),
            iters=max(int(merged.get("iters", 1)), 1),
            vec_col=vec_col,
            id_col=id_col,
            scale=float(merged["scale"]),
            residual=bool(merged["residual"]),
            fit_frac=float(merged.get("fit_frac", 1.0)),
            # a rebuild must CONVERGE (the drift probe's measured
            # floor), whatever the original build economized on
            coarse_iters=max(int(merged.get("coarse_iters", 2)), 8),
            seeding="kmeanspar",
        )
        kw.update(rebuild_kwargs or {})
        build_ann_index(full, index_path, **kw)
        keys = [_file_key(f) for f in _batch_files(full)]
        return store.write(batch_id, with_drift(store.read()), keys)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        batch_df, cur = store.begin(batch_df, batch_id)
        merged, n_in, rebuilt = None, 0, False
        if batch_df is not None:
            enc = ivfpq_encode_batch(
                batch_df, cur["codebooks"], cur["centroids"],
                vec_col=vec_col, id_col=id_col,
                scale=cur["scale"], residual=cur["residual"],
            )
            # cell histogram BEFORE the append (n_lists-bounded collect)
            adds = {
                int(r["cell"]): int(r["n"])
                for r in enc.groupBy("cell").agg(
                    F.count(F.lit(1)).alias("n")
                ).collect()
            }
            if not adds:
                return  # empty batch: nothing to append or merge
            enc.write.partitionBy("cell").mode("append").parquet(codes_dir)
            # the sidecar's JSON keys cells by string
            counts = {int(c): n for c, n in cur["cell_counts"].items()}
            for c, n in adds.items():
                counts[c] = counts.get(c, 0) + n
            merged = store.commit(
                batch_id, with_drift({**cur, "cell_counts": counts})
            )
            n_in = sum(adds.values())
            if (
                rebuild_source is not None
                and merged["last_drift"]["action"] == "rebuild"
            ):
                merged = do_rebuild(batch_id, merged)
                rebuilt = True
        if on_batch is not None:
            meta = merged or cur
            on_batch({
                "batch_id": batch_id,
                "n_in": n_in,
                "applied": merged is not None,
                "rebuilt": rebuilt,
                "n_lists": int(meta.get("n_lists", 0)),
                "seconds": time.time() - t0,
                **ann_index_drift(meta),
            })

    store.run(path, handle, max_files_per_trigger, timeout_sec,
              checkpoint_dir or f"{index_path}/_checkpoint")
    return spark.read.parquet(codes_dir)


# Fuzzy-index staleness thresholds, calibrated in SCALING.md "Fuzzy
# staleness signal":
# unseen_gram_frac is the fraction of a batch's PREFIX entries ordered
# by the unseen-at-build sentinel. Exactness never depends on it; what
# degrades is prefix SELECTIVITY — unseen grams carry no rarity
# information, so drifted batches collide on now-common new grams and
# the candidate count per row blows up. On the measured curve (zipf
# new-vocabulary drift): candidates/row holds near the fresh-build
# baseline through ~0.2, roughly doubles by ~0.5, and runs multiples
# of baseline at ≥0.8 — while a REBUILD at the same drift restores the
# baseline (the frozen order re-learns the new vocabulary's rarities).
FUZZY_UNSEEN_WARN = 0.30
FUZZY_UNSEEN_REBUILD = 0.60


def fuzzy_index_staleness(unseen_gram_frac: float | None) -> str:
    """The fuzzy lifecycle's action rule (the ANN ``ann_index_drift``
    twin): ``"ok"`` below ``FUZZY_UNSEEN_WARN``,
    ``"selectivity_degraded"`` past it (expect growing per-batch
    candidate cost; plan a rebuild), ``"rebuild"`` at
    ``FUZZY_UNSEEN_REBUILD`` (the frozen rarity order is mostly blind
    to the batch's vocabulary — rebuild restores selectivity; results
    stay EXACT either way). ``None`` (signal not computed) maps to
    ``"unknown"``."""
    if unseen_gram_frac is None:
        return "unknown"
    if unseen_gram_frac >= FUZZY_UNSEEN_REBUILD:
        return "rebuild"
    if unseen_gram_frac >= FUZZY_UNSEEN_WARN:
        return "selectivity_degraded"
    return "ok"


def fuzzy_index_stream_ingest(
    spark: SparkSession,
    path: str,
    index_path: str,
    id_col: str = "doc_id",
    str_col: str = "s",
    timeout_sec: int = 300,
    max_files_per_trigger: int | None = None,
    maintain_every: int | None = None,
    max_files_per_partition: int = 16,
    checkpoint_dir: str | None = None,
    on_batch=None,
    rebuild_on_drift: bool = False,
) -> DataFrame:
    """Continuous fuzzy-join maintenance over a persisted
    :func:`ops.dedup.build_fuzzy_index` layout (OP-D5 × OP-D2-fuzzy).
    Each micro-batch of newly arrived strings is prefix-indexed under
    the layout's FROZEN gram order and joined against the store:
    candidate pairs are (new × corpus-so-far) ∪ (new × new) — history
    is never re-paired against itself — verified with the thresholded
    ``levenshtein(l, r, d)``, and the EXACT new pairs append to
    ``pairs/``; the batch's prefix entries, strings, and short subset
    append to their stores. After any drain, ``pairs/`` equals
    ``edit_distance_pairs`` over the union corpus EXACTLY:

    * the frozen total order keeps prefix filtering LOSSLESS (any
      fixed order shared by both sides satisfies the prefix-filter
      theorem; build-time rarity only buys selectivity, and grams
      unseen at build sort after all frozen ones via the
      ``FUZZY_UNSEEN_GDF`` sentinel — deterministic, still total);
    * every pair has a later-arriving side, and that side's batch
      generates it: new-vs-store collisions ride a broadcast join of
      the batch's prefix against the bucketed postings, new-vs-new
      groups the batch's own prefix (the batch op's posting pairs,
      with the in-place pair kernel), and the short block length-bands
      the batch's short strings against the (tiny) short store in both
      length directions;
    * the verify is exact, so losing NO candidates means the pair set
      is the batch op's, bit for bit.

    The prefix builder, the pair blocks and the verify are the batch
    op's own (``ops.dedup._fuzzy_prefix``, ``_posting_pairs``,
    ``_banded_short_pairs``, ``_verify_pairs``).

    ``on_batch`` (opt-in) receives {batch_id, n_in, n_new_pairs,
    n_candidates, n_buckets_probed, applied, unseen_gram_frac, action,
    rebuilt, seconds}. ``n_candidates`` counts raw candidate collision
    rows (the per-batch cost); ``unseen_gram_frac`` is the fraction of
    the batch's prefix entries ordered by the unseen-at-build sentinel
    — a rising fraction means the frozen rarity order has lost
    selectivity, and ``action`` applies :func:`fuzzy_index_staleness`.
    These three are observed on the batch's store appends, so the hook
    costs no extra job; ``n_in`` is the exact count the batch already
    runs for its emptiness check and ``n_strings``.

    ``rebuild_on_drift=True`` acts on ``action == "rebuild"`` at the
    batch boundary: it re-derives the two ORDER-DEPENDENT dirs —
    ``gramdf`` (the frozen rarity order, now absorbing the new
    vocabulary) and ``postings`` — from the strings store via
    :func:`ops.dedup.write_fuzzy_gram_layout`, inside the
    ``rebuild_pending`` fence (a mixed order would be SILENTLY lossy).
    ``strings``/``short``/``pairs``/``stats`` are order-independent
    and carry over: a rebuild changes candidate cost, never results.

    Scale shape per batch: tagging is batch-sized; the gramdf join and
    the postings probe broadcast the BATCH side (the Ed-Join bound);
    strings come back only for candidates (id join against the
    sbucket-partitioned strings store). Returns the pairs table,
    deduplicated on (id_a, id_b)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.storagelevel import StorageLevel

    from filefilter_spark.ops.dedup import (
        FUZZY_UNSEEN_GDF,
        _banded_short_pairs,
        _fuzzy_prefix,
        _fuzzy_tagged,
        _inplace_list_pairs,
        _posting_pairs,
        _verify_pairs,
        write_fuzzy_gram_layout,
    )

    post_dir = f"{index_path}/postings"
    strings_dir = f"{index_path}/strings"
    short_dir = f"{index_path}/short"
    pairs_dir = f"{index_path}/pairs"
    store = _IndexStore(
        spark, "fuzzy_index_stream_ingest", pairs_dir,
        sidecar=f"{index_path}/stats",
        compact=[(post_dir, "bucket", ["g", "occ", "id"]),
                 (strings_dir, "sbucket", ["id"])],
        max_files=max_files_per_partition, maintain_every=maintain_every,
        marker=f"{index_path}/rebuild_pending",
    )
    srow = store.read()
    if srow is None:
        raise ValueError(
            f"fuzzy_index_stream_ingest: empty stats at {index_path!r}"
        )
    q = int(srow["q"])
    d = int(srow["max_dist"])
    n_buckets = int(srow["n_buckets"])
    T = q * (d + 1)

    def do_rebuild(batch_id: int) -> None:
        sall = spark.read.parquet(strings_dir).select("id", "s")
        # fixed tmp names: a crashed attempt's leftovers are simply
        # overwritten by the healing re-derivation
        tmp_g = f"{index_path}/gramdf__rebuildtmp"
        tmp_p = f"{post_dir}__rebuildtmp"
        write_fuzzy_gram_layout(sall, tmp_g, tmp_p, q, d, n_buckets)
        with _pending_marker(spark, store.marker):
            _swap_dirs(spark, f"{index_path}/gramdf", tmp_g, batch_id)
            _swap_dirs(spark, post_dir, tmp_p, batch_id)

    def apply(base_b: DataFrame, n_in: int, info: dict) -> None:
        """Probe + verify one non-empty batch and append its stores."""
        # The batch's prefix under the frozen order (unseen grams on the
        # sentinel), so build- and probe-side prefixes share one total
        # order.
        prefix_full = (
            _fuzzy_prefix(
                _fuzzy_tagged(base_b, q),
                spark.read.parquet(f"{index_path}/gramdf").select(
                    "g", "occ", "gdf"),
                q, d,
            )
            .selectExpr("*", f"pmod(xxhash64(g, occ), {n_buckets}) AS bucket")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # The batch's figures are observed on the store appends that
        # already run: the unseen-gram share on the postings append,
        # the candidate rows and the verified pairs on the pairs append.
        unseen, cand_rows, new_pairs = (Observation() for _ in range(3))
        prefix_b = prefix_full.drop("gdf")
        # Explicit bucket-set partition filter on the postings read, only
        # when the batch CAN be narrow: with E = n_in * (q*d+1) hashed
        # prefix entries, a batch with E >= 8 * n_buckets covers every
        # bucket with near-certainty (coupon collector), so the distinct
        # collect (one job) is skipped and the full postings are read.
        store_post = spark.read.parquet(post_dir)
        info["n_buckets_probed"] = n_buckets
        if n_in * (q * d + 1) < 8 * n_buckets:
            bkts = sorted(
                r["bucket"]
                for r in prefix_b.select("bucket").distinct().collect()
            )
            info["n_buckets_probed"] = len(bkts)
            if len(bkts) < n_buckets:
                store_post = store_post.filter(F.col("bucket").isin(bkts))
        cross = (
            F.broadcast(prefix_b.selectExpr(
                "bucket", "g", "occ", "id AS id_n", "l AS l_n"))
            .join(store_post, ["bucket", "g", "occ"])
            .where(f"id != id_n AND abs(l - l_n) <= {d}"
                   f" AND greatest(l, l_n) >= {T}")
            .selectExpr("least(id, id_n) AS id_a", "greatest(id, id_n) AS id_b")
        )
        within = _posting_pairs(prefix_b, q, d, _inplace_list_pairs)
        strings_b = base_b.selectExpr("id", "s", "length(s) AS l")
        short_b = strings_b.where(f"l < {T}")
        short_store = spark.read.parquet(short_dir)
        short_pairs = _banded_short_pairs(
            short_b, short_store.unionByName(short_b), d
        ).unionByName(_banded_short_pairs(short_store, short_b, d))
        # The three blocks are pairwise disjoint by construction (cross:
        # one side stored; within: both new; short: both below T), so
        # only same-block multi-gram collisions repeat a pair, and the
        # verify's dedup collapses them.
        cands = cross.unionByName(within).unionByName(short_pairs).observe(
            cand_rows, F.count(F.lit(1)).alias("n_candidates")
        )
        strings_all = spark.read.parquet(strings_dir).select(
            "id", "s").unionByName(base_b)
        verified = _verify_pairs(cands, strings_all, d).selectExpr(
            "CAST(id_a AS BIGINT) AS id_a", "CAST(id_b AS BIGINT) AS id_b",
            "dist",
        ).observe(new_pairs, F.count(F.lit(1)).alias("n_new_pairs"))
        writes = [
            lambda: verified.write.mode("append").parquet(pairs_dir),
            lambda: prefix_full.observe(unseen, F.avg(
                (F.col("gdf") == F.lit(FUZZY_UNSEEN_GDF)).cast("double")
            ).alias("f")).drop("gdf").repartition("bucket").write.partitionBy(
                "bucket"
            ).mode("append").parquet(post_dir),
            lambda: strings_b.selectExpr(
                "*", f"pmod(xxhash64(id), {n_buckets}) AS sbucket"
            ).repartition("sbucket").write.partitionBy(
                "sbucket"
            ).mode("append").parquet(strings_dir),
            lambda: short_b.write.mode("append").parquet(short_dir),
        ]
        # The four store appends are independent (their inputs are
        # persisted or snapshot-listed at batch start), so they overlap:
        # each append's task tail back-fills with the next one's work.
        # All of them precede the commit. A crash after some appends
        # completed (and before the commit) leaves those stores
        # appended and the files un-keyed, so the replay re-appends
        # every store, the completed ones a second time; the duplicate
        # strings/postings/short rows only re-derive the same pairs,
        # and the read path's (id_a, id_b) dedup absorbs them.
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            for fut in [pool.submit(w) for w in writes]:
                fut.result()
        prefix_full.unpersist()
        f = unseen.get["f"]
        info["unseen_gram_frac"] = 0.0 if f is None else round(float(f), 6)
        info.update(new_pairs.get)
        # Adaptive execution prunes the candidate branch, and its metric
        # with it, only when the branch is empty (every candidate id is
        # in strings_all); Observation.get cannot read that empty row.
        info["n_candidates"] = dict(cand_rows._jo.getAsJava()).get(
            "n_candidates", 0)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        rebuilt = store.fence(
            batch_id, rebuild_on_drift, do_rebuild,
            "a prior rebuild crashed between its gramdf/postings swaps "
            "and the layout may mix two gram orders (silently lossy). "
            "Rerun with rebuild_on_drift=True to heal, or re-run "
            "build_fuzzy_index offline.",
        )
        batch_df, cur = store.begin(batch_df, batch_id)
        info = {"n_in": 0, "n_new_pairs": 0, "n_candidates": 0,
                "n_buckets_probed": 0, "applied": batch_df is not None,
                "unseen_gram_frac": None}
        if batch_df is not None:
            base_b = batch_df.select(
                F.col(id_col).alias("id"), F.col(str_col).alias("s")
            ).filter(F.col("s").isNotNull()).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            try:
                info["n_in"] = base_b.count()
                if info["n_in"]:
                    apply(base_b, info["n_in"], info)
            finally:
                base_b.unpersist()
            store.commit(
                batch_id,
                {**cur, "n_strings": int(cur["n_strings"]) + info["n_in"]},
            )
            action = fuzzy_index_staleness(info["unseen_gram_frac"])
            if rebuild_on_drift and action == "rebuild":
                # the batch's own entries were appended under the stale
                # order; the re-derivation replaces the WHOLE postings
                do_rebuild(batch_id)
                rebuilt = True
        if on_batch is not None:
            on_batch({
                "batch_id": batch_id,
                **info,
                "action": fuzzy_index_staleness(info["unseen_gram_frac"]),
                "rebuilt": rebuilt,
                "seconds": time.time() - t0,
            })

    store.run(path, handle, max_files_per_trigger, timeout_sec,
              checkpoint_dir or f"{index_path}/_checkpoint")
    return spark.read.parquet(pairs_dir).dropDuplicates(["id_a", "id_b"])
