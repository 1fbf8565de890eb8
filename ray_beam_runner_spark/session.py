"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` in a single JVM; production targets a
multi-executor cluster reading ~100 TB. All settings below are safe for
both: AQE handles runtime partition coalescing and skew-join splitting,
shuffle partitions default to a cluster-friendly count that AQE coalesces
down on small inputs, and Arrow is enabled for every pandas-UDF exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for scale:
# - AQE on: runtime re-planning (partition coalescing, skew-join split,
#   dynamic broadcast) is the single biggest win at 100 TB where static
#   stats are unreliable.
# - shuffle.partitions: starting point only; AQE coalesces. On a real
#   cluster this should be ~2-3x total cores; locally the env var
#   SPARK_GRAFT_CPUS drives it.
# - maxPartitionBytes 128m: keeps scan partitions executor-memory safe.
# - timeZone UTC: deterministic timestamp semantics vs the DuckDB oracle.
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.parquet.filterPushdown": "true",
    # Whole-stage-codegen compile cache: the stock 100 entries fit a
    # handful of queries; this engine runs HUNDREDS of distinct query
    # shapes per session (193-query registry sweeps, 91-query bench,
    # the 2x23-leg family bench), so every re-execution was recompiling
    # its Janino classes — measured round 17 on the x100 family
    # round-robin: 54.4 s -> 32.3 s (-41%) from this setting alone.
    # Per-JVM and scale-independent (compilation happens on driver and
    # executors alike); ~2000 compiled classes is a few hundred MB at
    # worst against the multi-GB JVMs this engine runs in.
    "spark.sql.codegen.cache.maxEntries": "2000",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # PySpark 4 captures a Python call site on every wrapped Column call
    # (a stack walk, ~3 extra py4j round trips and a failing
    # `import IPython` each). Measured with cProfile over 4
    # upsert_snapshot calls: py4j calls 6,390 -> 1,950. Only error
    # messages lose the Python call site; the plans are unchanged.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Parquet TIMESTAMP(NANOS) (e.g. events.ts) reads as LongType;
    # read_parquet_normalized() converts to TimestampType (µs, truncating —
    # same as the DuckDB oracle's ns→µs cast).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    "spark.driver.extraJavaOptions": "-Duser.timezone=UTC",
}


# Without Hadoop's native library (the pip-installed pyspark ships none,
# so NativeCodeLoader reports it unloaded), the local file system execs
# `chmod` for every setPermission, and Spark's default FileContext
# checkpoint manager also execs `readlink` on every rename: hundreds of
# process forks per streaming query across its offset, commit and state
# files. The FileSystem manager renames in-process. Measured on
# q_streaming_window (4-vCPU VM, 100k events, 4 micro-batches): PIDs
# allocated per run ~1,000-1,140 -> ~270-420, and the JVM's
# reaped-children CPU 1.1-1.3 s -> 0.3-0.4 s.
# Local masters only: on a cluster the checkpoint lives on HDFS, where
# FileContext's atomic no-overwrite rename is what makes a concurrent
# commit fail instead of overwriting, so Spark's default stays.
_LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def session_conf(
    master: str, shuffle_partitions: int, extra_conf: dict | None = None
) -> dict[str, str]:
    """The Spark conf get_spark builds for ``master`` (no session is
    started): the engine defaults, then ``extra_conf``, which wins."""
    conf = dict(_BASE_CONF)
    if master.startswith("local"):
        conf["spark.sql.streaming.checkpointFileManagerClass"] = _LOCAL_CHECKPOINT_MANAGER
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    conf.update(extra_conf or {})
    return conf


def get_spark(
    app_name: str = "ray_beam_runner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a cluster, pass the real master URL or rely on spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_parquet_normalized(spark: SparkSession, path: str):
    """Read parquet with timestamp columns normalized to Spark
    TimestampType (µs, truncating). Spark has no ns timestamp; DuckDB
    truncates ns→µs the same way, keeping the oracle comparable.

    Parquet timestamps written WITHOUT the UTC-adjusted flag read as
    TIMESTAMP_NTZ in Spark 4; with the session timezone pinned to UTC
    (get_spark default) the wall times are identical, but NTZ cannot be
    a watermark column or cast to double, so those are normalized to
    TIMESTAMP too — one central cast instead of per-operator fix-ups."""
    from pyspark.sql import functions as F

    # Runtime-settable SQL conf — required here (not only in get_spark())
    # because callers (e.g. the verify driver) may hand us their own session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_timestamps(spark.read.parquet(path), path)


def normalize_timestamps(df, path: str):
    """Apply the ns→µs and NTZ→TIMESTAMP casts read_parquet_normalized
    documents to an already-built DataFrame over ``path``'s files —
    shared by the plain path reads and the stats-catalog table reads
    (queries.enable_stats), so both serve identical schemas."""
    from pyspark.sql import functions as F

    ns_cols, ntz_cols = _timestamp_columns(path)
    for c in ns_cols:
        # Integer division — nanos exceed 2^53, float division would lose
        # precision.
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


from functools import lru_cache


def ensure_min_parallelism(df, min_parts: int | None = None):
    """Round-robin rebalance ``df`` when its plan has fewer partitions
    than the session's cores — a guard for CPU-heavy per-row expression
    work (tokenization, n-gram shingling) downstream of an unsplittable
    scan. Parquet splits at row-group granularity, so a single-row-group
    file scans as ONE task no matter how small maxPartitionBytes is set,
    serializing everything above it. At production scale inputs carry
    more splits than cores and this is a no-op; checking the partition
    count costs only plan analysis, no job."""
    spark = df.sparkSession
    min_parts = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min_parts:
        return df
    return df.repartition(min_parts)


@lru_cache(maxsize=256)
def _timestamp_columns(path: str) -> tuple[tuple[str, ...], tuple[str, ...]]:
    # Cached per path: the footer probe costs tens of ms and every query
    # build re-reads the same static test tables. Returns (ns columns,
    # tz-naive non-ns columns) needing normalization.
    import pyarrow.dataset as ds
    import pyarrow.types as pat

    schema = ds.dataset(path, format="parquet").schema
    ts = [f for f in schema if pat.is_timestamp(f.type)]
    return (
        tuple(f.name for f in ts if f.type.unit == "ns"),
        tuple(f.name for f in ts if f.type.unit != "ns" and f.type.tz is None),
    )


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the driver's synthetic parquet tables as DataFrames and register
    temp views. Returns a dict name → DataFrame.

    Tables (TESTDATA.md): region nation customer supplier part orders
    lineitem events documents embeddings.
    """
    names = names or (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = read_parquet_normalized(spark, path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
