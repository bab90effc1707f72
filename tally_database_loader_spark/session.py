"""SparkSession factory tuned for both local testing and cluster scale.

Local runs are one JVM (``local[N]``); on a real cluster the same settings
hold up: AQE re-plans skewed shuffles, shuffle partitions are sized by the
driver env, and Arrow keeps any Python-side batch exchange vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults match the driver environment (local[32], 128 GiB). On a real
# cluster SPARK_GRAFT_CPUS is irrelevant — master comes from spark-submit.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _default_driver_mem_gib() -> int:
    """Local-mode driver heap default: min(16, physical_RAM/4) GiB,
    floor 2 — big enough for the wide local joins the decade replay
    exercises on the 128 GiB driver box, without over-committing a
    small laptop/CI host (ADVICE r7). Falls back to 4 GiB when the
    platform doesn't expose sysconf RAM counters."""
    try:
        gib = (os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
               / (1 << 30))
    except (ValueError, OSError, AttributeError):
        return 4
    return max(2, min(16, int(gib // 4)))


def get_spark(app_name: str = "tally_database_loader_spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the session.

    Settings chosen for scale-out behavior, not just local speed:

    - AQE on: runtime shuffle-partition coalescing + skew-join splitting,
      which is what saves a 100 TB groupBy/join when key skew shows up.
    - ``autoBroadcastJoinThreshold`` raised to 64 MB: every ``mst_*``
      dimension in the reference model (and TPC-H dims at bench SF) fits,
      so star joins become broadcast-hash instead of shuffles.
    - UTC session timezone so timestamp→date semantics are engine-stable
      (and match a DuckDB/ANSI oracle).
    - Arrow enabled for the pandas-UDF slow path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", _DEFAULT_CPUS)
    if not str(cpus).isdigit():
        # one consistent fallback: a non-numeric value must not half-apply
        # (32 shuffle partitions but master('local[garbage]') exploding at
        # session construction)
        cpus = 32
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    # local mode puts driver and executors in ONE JVM whose default heap
    # is 1 GiB — 32 concurrent tasks on a 128 GiB box would OOM on any
    # join that builds a few hundred MB of state (found by the 10×-decade
    # replay, round 7). ADVICE r7: don't over-commit small hosts — the
    # default is min(16 GiB, ~1/4 of physical RAM), floored at 2 GiB;
    # SPARK_GRAFT_DRIVER_MEM still overrides outright. Applies only when
    # this call creates the JVM; on a real cluster spark-submit owns the
    # sizing (and a reused session silently keeps its existing heap, so
    # tools that NEED a big heap must be first to build the session).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                f"{_default_driver_mem_gib()}g")

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python Data Source filter pushdown (sources/tally_datasource.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # bench events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in sources.catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")
    # deployment/override escape hatch (round 12): semicolon-separated
    # `key=value` pairs applied LAST, so a cluster run (or an A/B
    # experiment) can override any default above without code edits —
    # e.g. SPARK_GRAFT_EXTRA_CONF='spark.sql.adaptive
    # .advisoryPartitionSizeInBytes=256m;spark.sql.shuffle.partitions=4096'
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_concurrently(spark: SparkSession, fn, items) -> list:
    """``[fn(item) for item in items]`` with every call on its own driver
    thread, so independent single-task jobs (one table's load, one
    child's merge) share the cores instead of queueing behind each
    other. Each call is wrapped in ``inheritable_thread_target(spark)``
    at submit time, so it runs with the caller's local properties (job
    group, job description) and tags — ``cancelJobGroup`` reaches it —
    on a private copy that concurrent queries cannot clobber. Results
    come back in item order; after every call has finished, the first
    exception in item order is re-raised."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    items = list(items)
    if len(items) < 2:
        return [fn(item) for item in items]
    with ThreadPoolExecutor(max_workers=len(items)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn), item)
                   for item in items]
    return [f.result() for f in futures]
