"""SparkSession factory with scale-oriented defaults.

The reference delegates all relational execution to an embedded DuckDB
(reference ``Database.py:53-61``); we delegate to Catalyst/Tungsten and
turn on the runtime re-planning features that matter at 100 TB:
adaptive query execution (coalesce shuffle partitions, skew-join
splitting), broadcast-join auto-detection, and Arrow for every
Python<->JVM crossing.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

# Defaults are sized for the local[32]/128GiB test box but every knob is
# cluster-safe: on a real cluster AQE re-plans partition counts at
# runtime, so the static shuffle.partitions value is only an upper hint.
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # ANSI off: the reference's DuckDB surface is forgiving on casts and
    # the oracle-differential contract compares values, not error paths.
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # files.maxPartitionBytes default 128m is right for the target; at
    # 100 TB that yields ~800k input splits which the scheduler handles.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # durable lineage cuts (see lineage_cut) delete their files once the
    # cut frame is garbage-collected on the driver
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}


def lineage_cut(
    df: DataFrame, eager: bool = False, scope: list | None = None
) -> DataFrame:
    """Truncate ``df``'s lineage so later consumers read materialized
    blocks instead of re-running the upstream plan. The one lineage-cut
    policy of the engine, for iterative loops (CC rounds, k-means||
    state, BPE merges) and multi-consumer frames (the pair kernel's
    grouped lists, the in-memory IVF-PQ index):

    - ``scope`` given (bounded-lifetime callers such as a foreachBatch
      body): ``persist(MEMORY_AND_DISK)`` and append the handle to
      ``scope``; the caller unpersists it when the batch ends, where
      checkpoint blocks would wait for the driver's GC. Lineage is
      kept; the cache is the cut. A per-batch plan never recurs, so no
      later query can be served from this cache.
    - the application set ``SparkContext.setCheckpointDir``: a durable
      ``checkpoint`` that survives executor loss. The frame is persisted
      first and the checkpoint is eager, so the upstream runs once, then
      the cache is dropped; the files are deleted after the returned
      frame is released (``cleanCheckpoints`` in :data:`_DEFAULT_CONF`).
    - otherwise: ``localCheckpoint(eager)``, executor-local blocks; an
      executor loss fails the consumer, which is retried whole.

    ``df`` must be a frame the caller has not cached: the durable path
    drops the cache it makes.

    Checkpoints, unlike a persist, are never matched by the
    CacheManager's plan lookup, so a later identical plan recomputes
    instead of reading this snapshot. Either way the result is a
    snapshot of ``df`` when it is materialized.
    """
    if scope is not None:
        scope.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        return df
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return df.checkpoint(eager=True)
    finally:
        df.unpersist()


def _refresh_zip_dirs_lazily() -> None:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive on
    ``sys.path`` only when the archive changed.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``worker_util.setup_spark_files``). Before
    CPython 3.13 that makes each ``zipimporter`` re-read its archive's
    whole directory: a stock executor has 14-16 of them, nearly all on
    ``SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries), about 0.2 s
    of CPU per task (CPython 3.11, 4-core x86). The replacement installed here re-reads an
    archive only when ``zipimport._zip_directory_cache`` lacks it or
    its ``(st_mtime_ns, st_size)`` differs from the stat taken before
    its last re-read; otherwise it points the importer back at the
    cached directory. An archive rewritten in place with the same size
    inside one mtime tick is not seen.

    Installs only inside a PySpark task (``TaskContext.get()`` is set
    while a worker unpickles a package UDF, which imports the package)
    and only before 3.13, whose ``invalidate_caches`` just drops the
    cached directory. The driver process is left as it is.
    """
    if sys.version_info >= (3, 13) or TaskContext.get() is None:
        return
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)  # gone: the stock method drops the cache
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
        else:
            reread(self)
            stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


# Short S3 option name -> hadoop-aws (s3a) conf key. Exposed through
# ``get_spark(s3={...})`` so OP-A3 (reference ``Database.py:72-75``,
# which reads httpfs credentials from DuckDB secrets) has a concrete
# Spark equivalent: credentials land on the Hadoop conf the s3a
# connector reads. Keys not listed here can always be passed in full
# via ``extra_conf`` ("spark.hadoop.fs.s3a.xxx").
_S3_KEYS: dict[str, str] = {
    "access_key": "spark.hadoop.fs.s3a.access.key",
    "secret_key": "spark.hadoop.fs.s3a.secret.key",
    "session_token": "spark.hadoop.fs.s3a.session.token",
    "endpoint": "spark.hadoop.fs.s3a.endpoint",
    "region": "spark.hadoop.fs.s3a.endpoint.region",
    "path_style": "spark.hadoop.fs.s3a.path.style.access",
}


def s3_conf(options: dict[str, str]) -> dict[str, str]:
    """Map short S3 credential options to ``spark.hadoop.fs.s3a.*`` keys.

    Unknown short names raise (a typo'd credential should not silently
    fall back to the anonymous provider chain); full ``spark.hadoop.``
    or ``fs.s3a.``-prefixed keys pass through untouched.
    """
    out: dict[str, str] = {}
    for k, v in options.items():
        if k.startswith("spark.hadoop."):
            out[k] = v
        elif k.startswith("fs.s3a."):
            out["spark.hadoop." + k] = v
        elif k in _S3_KEYS:
            out[_S3_KEYS[k]] = v
        else:
            raise ValueError(
                f"unknown s3 option {k!r}; expected one of {sorted(_S3_KEYS)} "
                "or a full fs.s3a.* / spark.hadoop.* key"
            )
    return out


# boto3 env-chain parity (OP-A3 contract): every standard AWS_* env
# var the driver-side boto3 tier honors, mapped to the short option —
# hence the exact fs.s3a.* key — that hands the SAME credentials to the
# cluster tier. Order encodes boto3's own precedence: the FIRST var
# seen for an option wins (AWS_ENDPOINT_URL_S3 over AWS_ENDPOINT_URL,
# AWS_REGION over AWS_DEFAULT_REGION). The remaining chain links
# (shared-credentials/config profile files, IMDS/IRSA roles) need no
# mapping at all: hadoop-aws's default provider chain reads them
# natively on each node, same as boto3.
_BOTO3_ENV_KEYS: tuple[tuple[str, str], ...] = (
    ("AWS_ACCESS_KEY_ID", "access_key"),
    ("AWS_SECRET_ACCESS_KEY", "secret_key"),
    ("AWS_SESSION_TOKEN", "session_token"),
    ("AWS_ENDPOINT_URL_S3", "endpoint"),
    ("AWS_ENDPOINT_URL", "endpoint"),
    ("AWS_REGION", "region"),
    ("AWS_DEFAULT_REGION", "region"),
)


def s3_conf_from_env(env: dict[str, str] | None = None) -> dict[str, str]:
    """Project the boto3 credential env chain onto ``fs.s3a.*`` conf.

    This is the executable statement that the jarless boto3 tier and
    the s3a cluster tier share ONE credential story: whatever the env
    gives boto3, ``get_spark(s3=s3_conf_from_env())`` hands verbatim to
    the connector. Driver-env-only deployments need this because
    executor JVMs do not inherit the driver's environment; env-per-node
    deployments can skip it (the s3a default provider chain reads the
    same variables itself).
    """
    env = dict(os.environ) if env is None else env
    short: dict[str, str] = {}
    for var, opt in _BOTO3_ENV_KEYS:
        if opt not in short and env.get(var):
            short[opt] = env[var]
    return s3_conf(short)


def s3a_available(spark: SparkSession) -> bool:
    """True when the s3a connector (hadoop-aws + SDK jars) is loadable
    in the driver JVM. Cheap reflection probe, no I/O."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem")
        return True
    except Exception:
        return False


def elastic_conf(
    min_executors: int = 0,
    max_executors: int | None = None,
    backlog_timeout: str = "1s",
    idle_timeout: str = "60s",
) -> dict[str, str]:
    """Dynamic-executor-allocation conf — the cluster analog of the
    reference's runtime thread scaling (OP-A13, ``filefilter.py:143-154``:
    ``setNewThreads`` grows/shrinks per-filter consumer threads as the
    operator edits the YAML). Batch Spark's unit of parallelism is the
    executor, and its scaling loop is built in: with these keys set the
    scheduler REQUESTS executors while tasks back up longer than
    ``backlog_timeout`` and releases them after ``idle_timeout`` — the
    same feedback (queue depth up → workers up) the reference runs by
    hand, driven by load instead of a config edit.
    ``shuffleTracking`` makes it work without an external shuffle
    service (the common k8s/standalone deployment); executors holding
    shuffle data for live jobs are exempt from idle release.

    Local mode has a fixed in-process executor, so these keys are
    inert on the test box — asserted present, exercised on clusters.
    Pass the result to :func:`get_spark` as ``elastic=`` kwargs or
    merge it into ``extra_conf``.
    """
    conf = {
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.shuffleTracking.enabled": "true",
        "spark.dynamicAllocation.minExecutors": str(int(min_executors)),
        "spark.dynamicAllocation.schedulerBacklogTimeout": backlog_timeout,
        "spark.dynamicAllocation.executorIdleTimeout": idle_timeout,
    }
    if max_executors is not None:
        conf["spark.dynamicAllocation.maxExecutors"] = str(int(max_executors))
    return conf


def get_spark(
    app_name: str = "filefilter_spark",
    s3: dict[str, str] | None = None,
    elastic: bool | dict | None = None,
    **extra_conf: str,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` honors ``SPARK_GRAFT_CPUS`` locally; on a cluster the
    caller submits with its own master and these conf keys still apply.
    ``s3`` takes short credential options (see :func:`s3_conf`) for
    ``s3://``/``s3a://`` inputs; requires the hadoop-aws + aws-sdk jars
    on the classpath (not bundled here — add via ``spark.jars.packages``).
    ``elastic=True`` (or a dict of :func:`elastic_conf` kwargs) turns on
    dynamic executor allocation — the OP-A13 worker-scaling analog.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    if "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    if elastic:
        elastic_c = elastic_conf(**({} if elastic is True else elastic))
    else:
        elastic_c = {}
    conf = {
        **_DEFAULT_CONF,
        **elastic_c,
        **(s3_conf(s3) if s3 else {}),
        **extra_conf,
    }
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
