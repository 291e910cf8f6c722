"""SparkSession factory with scale-aware defaults.

Local testing runs on local[N]; the same knobs are what we'd set on a
real cluster (AQE on, skew-join handling, UTC session TZ for oracle
parity, Arrow for the Pandas-UDF slow path).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_log = logging.getLogger("cdp_spark.session")
_warned_checksum_off = False


def get_spark(app_name: str = "cdp_spark", shuffle_partitions: int | None = None) -> SparkSession:
    global _warned_checksum_off
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    checksum = os.environ.get("CDP_SPARK_CHECKPOINT_CHECKSUM", "false")
    if checksum.lower() != "true" and not _warned_checksum_off:
        _warned_checksum_off = True
        _log.warning(
            "streaming checkpoint checksums are off; set CDP_SPARK_CHECKPOINT_CHECKSUM=true "
            "to detect corrupt checkpoint files (object-store checkpoints)"
        )
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Index snapshots / fold directories are written and re-read
        # within the same lifecycle: zstd shrinks them at similar read
        # speed (guide §6), which matters at production fold volumes.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("CDP_SPARK_DRIVER_MEM", "16g"))
        # Long sessions compile many whole-stage classes; the JVM
        # default code cache fills and JIT quality degrades.
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m")
        .config("spark.ui.enabled", "false")
        # Spark 4 writes + re-reads a checksum sidecar for EVERY
        # streaming-checkpoint file (offsets, commits, state deltas;
        # ChecksumCheckpointFileManager).  With micro-batch state
        # deltas of a few KB the checksum round trip dominates the
        # state commit — measured 1.5-4s of commitTimeMs per trigger
        # vs 0.4-1s without, uniform across the stateful stream
        # queries (optimization r17).  Local/dev checkpoints sit on
        # reliable local disk, so corruption detection is disabled by
        # default here; deployments checkpointing to object stores
        # re-enable it via CDP_SPARK_CHECKPOINT_CHECKSUM=true.  The
        # first get_spark of a process warns while it is off.
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", checksum)
        # The synthetic events table stores ts as TIMESTAMP(NANOS),
        # which Spark's parquet reader rejects by default; read it as
        # long and convert in load_table (micros, matching DuckDB).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python workers fork from cdp_spark.pyworker, which stops each
        # runner re-reading pyspark.zip's directory (gh-103200, Python
        # < 3.12).  The daemon imports it before any task ships code,
        # so the directory holding cdp_spark goes on the workers' path.
        .config("spark.python.daemon.module", "cdp_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def iter_checkpoint(df):
    """Eager localCheckpoint for ITERATIVE loops, with the carried-over
    plan statistics discarded.

    Spark 4's ``Dataset.checkpoint`` path copies the origin plan's
    *estimated* statistics onto the new ``LogicalRDD`` leaf
    (``LogicalRDD.rewriteStatsAndConstraints``).  In a loop whose body
    references the previous round's frame in several join branches
    (connected components references ``labels`` four times per round),
    the size-only estimate is a *product* over join children, so the
    carried ``sizeInBytes`` BigInt squares-or-worse every round — its
    digit count doubles per iteration, and by round ~20 the driver
    spends minutes per round multiplying 100M-digit BigIntegers inside
    ``SizeInBytesOnlyStatsPlanVisitor`` (measured: the 10x scale probe
    drove exactly this; one driver thread burned 17+ min in
    ``BigInteger.multiplyToomCook3`` planning round ~20 of CC).

    Fix: after checkpointing, rebuild the DataFrame from the
    checkpointed internal RDD via ``internalCreateDataFrame`` (the
    same JVM entry point PySpark's ``createDataFrame`` uses), which
    gives the leaf the *default* statistics (``defaultSizeInBytes``,
    19 digits) instead of the inflated product.  Estimates stay
    bounded forever; the materialized blocks are reused, nothing is
    recomputed.  Side effect: the frame is never auto-broadcast —
    correct for loop state, which is the big side by construction.
    """
    from pyspark.sql import DataFrame

    ckpt = df.localCheckpoint(eager=True)
    try:
        jdf = ckpt._jdf
        new_jdf = jdf.sparkSession().internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(new_jdf, ckpt.sparkSession)
    except Exception:
        # internalCreateDataFrame is the JVM entry point PySpark's own
        # createDataFrame uses, but it is not public API; if a Spark
        # upgrade moves it, degrade to the plain checkpoint (correct,
        # just exposed to the stats-inflation planning cost again).
        return ckpt


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic star-schema table (TESTDATA.md).

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it reads as a long which
    we convert to a microsecond timestamp — the exact value DuckDB's
    reader produces, so oracle comparisons stay bit-identical.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    # The driver contract may hand us a SparkSession built elsewhere
    # (without get_spark()'s builder confs). nanosAsLong and the
    # session timezone are runtime-settable, so set them here —
    # correctness must not depend on who constructed the session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # Integer division: ts/1000 via `/` would be a double divide,
        # which is lossy at 1e18 (±1 us errors).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Timezone-naive parquet timestamps read as TIMESTAMP_NTZ, which
    # unix_micros/window/etc. reject.  Cast to TIMESTAMP_LTZ: with the
    # UTC session timezone set above the wall-clock values are
    # identical to DuckDB's naive read of the same file.
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df
