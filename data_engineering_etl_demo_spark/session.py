"""SparkSession construction with scale-appropriate defaults.

The reference has no engine configuration at all (pandas defaults + SQLite
pragmas, /root/reference/pipeline/load.py:15-16).  Here the session IS the
engine, so the knobs that matter at 100 TB are set once:

- UTC session timezone: the reference parses timestamps tz-aware UTC
  (/root/reference/pipeline/ingest.py:59); pinning the session tz makes
  date_format()/hour() deterministic regardless of cluster locale.
- AQE on: runtime re-planning (broadcast conversion, skew-join splitting,
  partition coalescing) replaces the reference's hand-rolled dict joins.
- shuffle.partitions sized for the local harness; a real cluster would set
  this to ~2-3x total cores or rely on AQE coalescing.
- Generated-code cache sized to the working set: whole-stage codegen is
  meant to be paid once per plan shape, but Spark keeps compiled classes
  in an LRU of 100 (``spark.sql.codegen.cache.maxEntries``), and one EP1
  batch alone compiles ~108, so every repetition recompiled nearly all of
  them.  A whole registry pass (177 queries, 13 of them streaming drains)
  compiles about 2,100 distinct classes, so the bound is 4,096.  Measured
  with bench.py at sf0.001 on a 4-vCPU VM, one run each: the warmup pass
  compiled 2,069 classes (3,032 with 100 entries), the timed pass, which
  repeats it, 75 instead of 2,814, and the timed pass took 102 s instead
  of 127 s.  A 20,000 bound grew JVM metaspace by 15 MB (187 → 202 MB)
  over two passes.  The bound is a static conf, read when the JVM first
  generates code: ``tune_session`` cannot apply it, so a session built
  elsewhere and handed to ``__spark_entry__`` keeps Spark's 100.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "data-engineering-etl-demo-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce small shuffles to size, not to parallelism — on local
        # tiny-SF data this halves scheduling overhead; at cluster scale the
        # advisory partition size governs anyway
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # advisory size tuned to the measured local CPU throughput: the
        # default 64m coalesces every mid-size (5-30 MB) shuffle to ONE
        # post-shuffle partition, serializing the join+agg stages of the
        # fact-table queries (measured 2.4x on the TPC-H Q21 shape at
        # sf0.1).  2m keeps those stages parallel while KB-scale shuffles
        # still collapse to one task.  A 1000-executor deployment reading
        # 100 TB raises this back to 64-256m — there the goal is fewer,
        # fuller partitions, and per-partition work dwarfs task overhead.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # compiled generated classes kept per JVM (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # strict Arrow conversion for driver-local rows (local_df): an
        # out-of-range value must raise like the list path did, never
        # silently truncate (ADVICE r15)
        .config("spark.sql.execution.pandas.convertToArrowArraySafely", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable knobs to a session we did not build (the
    driver hands us one in ``__spark_entry__``).  Only SQL confs that can
    change post-start are touched; the codegen cache bound is static, so
    such a session keeps Spark's default of 100 entries."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        # Arrow conversion for driver-local rows (functions/local_rows) and
        # toPandas — runtime-settable, same default get_spark pins
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        # strict Arrow conversion (see get_spark): overflow raises like
        # the list path, never silently truncates (ADVICE r15)
        spark.conf.set(
            "spark.sql.execution.pandas.convertToArrowArraySafely", "true"
        )
    except Exception:
        pass  # some confs may be fixed by the driver; never fail on tuning
    return spark
