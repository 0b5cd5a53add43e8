"""The engine's one SparkSession recipe.

It holds only what is fixed when the JVM starts or does not depend on
the model: master, app name, driver memory, Arrow, the cleaner's GC
interval, no UI.  Every SQL conf of the execution posture (shuffle
partitions, AQE, constraint propagation, codegen, time zone) is set by
``catalog.load_model``, so a session built anywhere else runs the same
plans once a model is registered.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "hbase-tools-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Long multi-query sessions: localCheckpoint blocks are only
        # dropped when a driver GC lets ContextCleaner run; the 30 min
        # default lets tens of queries' blocks accumulate (measured
        # OOMing a 100x certify sweep at 8g, and inflating a mid-list
        # bench query 6x).
        .config("spark.cleaner.periodicGC.interval", "20s")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
