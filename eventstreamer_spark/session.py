"""SparkSession construction for the engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32);
the same configs are what we would set cluster-side: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for any Python
boundary, UTC session time so event-time semantics are unambiguous,
and shuffle partitions sized to the parallelism actually available
rather than the 200-partition default.

The reference engine has no equivalent (a single Azure Functions
process, reference DispatcherFunction.cs:21-23); this module is where
Spark's execution model replaces the Functions host.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# The dir holding the eventstreamer_spark package: Python workers import
# operator modules (Arrow UDF bodies pickle by reference), so it must be
# on their path whatever the driver's working directory is.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def env_int(name: str, default: int) -> int:
    """``$name`` as an integer >= 1, or ``default`` when it is unset.
    Any other value raises ValueError naming the variable, so a bad
    knob fails at configuration time, not mid-query."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n < 1:
        raise ValueError(f"{name} must be an integer >= 1, got {raw!r}")
    return n


def get_spark(app_name: str = "eventstreamer-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster only ``master`` changes; every other setting is
    scale-appropriate as-is (AQE handles skew + post-shuffle partition
    sizing at any data volume).
    """
    if cpus is None:
        cpus = env_int("SPARK_GRAFT_CPUS", 32)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # ranks.parallel_rank's two sides must read ONE range exchange
        .config("spark.sql.exchange.reuse", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # RocksDB state store: streaming state spills to local disk
        # instead of growing the JVM heap — the only viable provider
        # once keyed state exceeds executor memory (SURVEY.md §7)
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally provided session.

    The verification driver hands us *its* SparkSession; event-time
    string formatting and Arrow transfer must behave identically there,
    so every config that can be set post-startup is (re)applied here,
    and the package's parent dir is appended to the Python workers'
    ``PYTHONPATH`` (kept after any entry already there). Workers also
    get ``PYTHONSAFEPATH=1``: they run as ``python -m`` in the driver's
    working directory, which would otherwise come first on their path,
    so a directory holding another ``eventstreamer_spark`` would shadow
    this one. Both apply to Python workers started after ``configure``.
    """
    # Size shuffle/state partitions to the actual parallelism: batch
    # queries are insulated by AQE coalescing either way, but a
    # streaming query pins its state-store partition count from this
    # value at first start — leaving the 200 default costs ~6× on
    # every stateful streaming stage of a 32-core host.
    # SPARK_GRAFT_SHUFFLE_PARTITIONS overrides: partition count is the
    # knob that sizes per-task hash-agg/join state, so a scaled-up run
    # on a fixed heap raises it instead of raising the heap (the same
    # sizing any real deployment does; the x100 replica runs at the
    # DEFAULT heap with 256 partitions where 8 OOMs). Read before any
    # conf is set, so a bad value changes nothing.
    partitions = env_int(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        max(spark.sparkContext.defaultParallelism, 8),
    )
    env = spark.sparkContext.environment
    worker_path = env.get("PYTHONPATH")
    if not worker_path:
        env["PYTHONPATH"] = _PACKAGE_PARENT
    elif _PACKAGE_PARENT not in worker_path.split(os.pathsep):
        env["PYTHONPATH"] = worker_path + os.pathsep + _PACKAGE_PARENT
    env["PYTHONSAFEPATH"] = "1"
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # ranks.parallel_rank's rows and offsets read one range exchange only
    # through exchange reuse; two evaluations would sample different
    # range boundaries and return wrong ranks without an error
    spark.conf.set("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    # Input-split sizing, the map-side twin of the shuffle knob: a
    # single large parquet read as 128 MB splits hands each task a
    # ~100k+-doc partial hash-agg map, which is what actually OOMs a
    # small-heap session at x100 (AGGREGATE_OUT_OF_MEMORY in codegen
    # stage 1, before any shuffle). Smaller splits = smaller per-task
    # partial maps, same total work. A byte string ("16m"), so Spark
    # itself rejects a bad value here (INVALID_CONF_VALUE).
    split = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    if split:
        spark.conf.set("spark.sql.files.maxPartitionBytes", split)
    return spark


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's shuffle-partition count — the one value every
    explicit ``repartition`` in the operators follows, so the
    re-parallelization boundaries scale with the same knob that sizes
    shuffle state (a hardcoded width is exactly what would not survive
    a 100× scale-up)."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))
