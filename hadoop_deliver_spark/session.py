"""SparkSession factory.

Local dev/test runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32
threads, one JVM). The config block is written for cluster scale:
everything here is equally valid on a 1000-executor deployment — AQE
handles post-shuffle coalescing and skew-join splitting at any scale,
and shuffle partitions are sized from parallelism, not hardcoded to
the data volume.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from hadoop_deliver_spark.tables import prepare_session


def get_spark(app_name: str = "hadoop-deliver-spark") -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    Only static and builder-only settings live here; the runtime SQL
    confs (AQE, shuffle partitions, nanosAsLong, UTC session timezone,
    Arrow transfer) are applied by :func:`tables.prepare_session`,
    which also runs on driver-owned sessions. Settings rationale
    (100 TB design notes in README):
      - default.parallelism = cores locally; on a real cluster set
        ~2-3x total executor cores.
      - skewJoin on: AQE splits skewed join partitions at any scale.
      - 64 MiB broadcast threshold: dimension tables broadcast instead
        of shuffling the fact side.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.log.level", "ERROR")
    )
    return prepare_session(builder.getOrCreate())
