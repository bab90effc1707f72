"""Parquet table catalog for the driver-provided bench tables.

The reference drives everything off a YAML table list (reference
src/tally.mts:76-86); here the analogous catalog maps table name → parquet
path, reads each table with its type fix-ups, and sizes its partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one bench table. Plain ``spark.read.parquet`` so Catalyst gets
    full pushdown (PushedFilters / ReadSchema) on every consumer.

    ``events.ts`` is TIMESTAMP(NANOS) in the parquet footer, which Spark's
    reader can't type as a timestamp; with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as nanosecond longs
    and is converted here (floor to micros — same truncation DuckDB applies
    casting TIMESTAMP_NS → TIMESTAMP)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division — `/ 1000` would round-trip through double and
            # lose sub-µs exactness on 1.7e18-scale nano values
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # µs-precision footers arrive as TIMESTAMP_NTZ; session tz is
            # UTC, so this cast is instant-preserving and gives every
            # consumer one ts type regardless of which sf dir produced it
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Bytes of (splittable, compressed) input one fan-out task should own.
# Sized from measured compute density, not core count: the text operators
# this helper serves do ~100x their storage in per-row compute (regex
# tokenize + shingle + hash), so 64 KiB of parquet is ~50-100 ms of task
# compute — comfortably above per-task overhead on both local mode and a
# cluster, small enough that a corpus saturates any realistic executor
# count. Env-tunable; the default was swept at sf0.1 (OPTIMIZATION_r12.md).
_FANOUT_TASK_BYTES = max(1, int(os.environ.get(
    "SPARK_GRAFT_FANOUT_TASK_BYTES", str(64 * 1024))))


def fan_out(df: DataFrame, key: str | None = None,
            density: float = 1.0) -> DataFrame:
    """Widen a narrow scan before CPU-heavy projections (regex
    extraction, shingling, hashing) — to the parallelism the DATA
    justifies, capped by the cluster's.

    Spark sizes scan partitions by input bytes; a compact text/binary
    column whose per-row compute is 100× its storage otherwise pins the
    pipeline to a few cores. One cheap shuffle of the small input buys
    full-width codegen stages downstream — same reasoning at 100 TB, where
    it instead argues for keeping ``maxPartitionBytes`` small on
    compute-dense columns.

    The target is ``min(defaultParallelism, ceil(bytes · density /
    _FANOUT_TASK_BYTES))`` rather than ``defaultParallelism`` outright
    (guide §2.6): sizing purely to core count made a kilobyte-scale input
    fan into one near-empty task per core, so the same query ran 2-3×
    SLOWER on 32 cores than on 8 at bench SF (pure task/scheduling
    overhead) — and said nothing about cluster scale, where the byte-
    derived count is what keeps tasks usefully sized.

    ``density`` is the caller's per-byte compute multiplier relative to
    a plain tokenize pass (1.0): stride-1 k-gram explodes do ~k× the
    work per input byte, SimHash folds 64 conditional sums per shingle —
    those callers pass density ≈ 8 so their task-byte budget shrinks and
    the fan widens accordingly (measured: substring/simhash want full
    width at bench SF while tokenize-and-aggregate paths run fastest at
    the byte-derived ~10 partitions; both directions confirmed by the
    two-order sweep in OPTIMIZATION_r12.md)."""
    spark = df.sparkSession
    cap = spark.sparkContext.defaultParallelism
    target = cap
    # plan-side width estimate (optimizer stats — no df.rdd conversion,
    # no job): an input whose scan already splits into >= target
    # partitions passes through untouched, because an explicit
    # repartition(N) is NOT coalesced away by AQE (AQE only rebalances
    # unspecified/REBALANCE shuffles) and would re-shuffle the whole
    # corpus at scale. Stats unavailable -> treat as narrow (the
    # known-narrow text sources this helper serves) and fan to the
    # core-count cap, the pre-round-12 behavior.
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())
        # unknown stats surface as Long.MaxValue, NOT an exception —
        # RDD-backed/Python-datasource inputs must fall through to the
        # widening repartition, not masquerade as infinitely wide
        if size < (1 << 62):
            work = int(size * max(density, 1e-9))
            target = min(cap, max(1, -(-work // _FANOUT_TASK_BYTES)))
            mpb = _parse_bytes(spark.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728"))
            # estimated natural scan width: ceil(bytes / maxPartitionBytes),
            # floor 1 — when the scan already splits at least as wide as
            # the data-derived target, the widening shuffle buys nothing
            # (and for a one-task input it would ADD an exchange)
            nat = max(1, -(-size // max(1, mpb)))
            if nat >= target and _splittable_scan(df):
                return df
    except Exception:
        pass
    return df.repartition(target, F.col(key)) if key else df.repartition(target)


def _splittable_scan(df: DataFrame) -> bool:
    """True only when the plan's leaf files are byte-range-splittable
    (parquet/orc), so sizeInBytes/maxPartitionBytes really approximates
    the scan's partition count. Compressed text or row-json inputs split
    per FILE — a few large .gz files scan far narrower than the byte
    estimate claims, and skipping the widening repartition for them
    would pin the pipeline to a handful of cores."""
    try:
        files = df.inputFiles()
    except Exception:
        return False
    if not files:
        return False
    return all(f.rsplit(".", 1)[-1].lower() in ("parquet", "orc")
               for f in files)


def _parse_bytes(raw) -> int:
    """Spark size-conf syntax: plain bytes, or k/m/g/t with optional
    trailing 'b' ('128m', '256mb', '1g')."""
    s = str(raw).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in "kmgt":
        mult = 1024 ** ("kmgt".index(s[-1]) + 1)
        s = s[:-1]
    return int(s) * mult

