"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` in one JVM; the configuration below is
chosen so the same logical plans scale to a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition
  counts adapt to real data sizes instead of being hand-tuned per SF.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster this is the *initial* number and AQE coalesces.
- Arrow enabled: every Pandas-UDF hop is Arrow-batched, never per-row.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- A quiet stderr: no console progress bar, and the two loggers that
  otherwise print before the CLI's compact ``error:`` line are raised
  to a quieter level unless the user's logging configuration sets them.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "sqawk_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # SQLite-style permissive coercion (Spark 4 defaults to ANSI):
        # 'c' < 10000 must be NULL-out, not an error
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SQAWK_SPARK_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_loggers(spark)
    return spark


def _quiet_loggers(spark: SparkSession) -> None:
    """Silence the two per-invocation stderr records users cannot act
    on, leaving any level their own configuration gives them alone:

    - log4j ``SimpleFunctionRegistry`` WARNs once per SQL function
      registered over a built-in of the same name (``printf``,
      ``typeof``, ``date`` …), which the SQLite function set does on
      purpose;
    - PySpark's ``SQLQueryContextLogger`` logs every analysis error as
      a ~20 KB JSON record holding the whole plan, ahead of the
      compact ``error:`` line the CLI prints for the same error.
    """
    jvm = spark.sparkContext._jvm
    log4j = jvm.org.apache.logging.log4j
    name = "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry"
    ctx = log4j.LogManager.getContext(False)
    # a logger without its own entry in the log4j2 configuration
    # inherits its parent's LoggerConfig
    if ctx.getConfiguration().getLoggerConfig(name).getName() != name:
        log4j.core.config.Configurator.setLevel(name, log4j.Level.ERROR)

    from pyspark.logger import PySparkLogger

    logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    # WARNING is the level every PySparkLogger is created with
    if logger.level in (logging.NOTSET, logging.WARNING):
        logger.setLevel(logging.CRITICAL)
