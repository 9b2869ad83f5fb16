"""The benchmark's Spark session: the production job's knobs plus host
sizing, in one driver process.

``JOB_CONF`` is the one copy of the ``.config`` pairs that
``jobs/extract.py`` sets; a self-test parses that file and fails when
the two drift.  Everything else set here is a fact of this host or of
the benchmark's sandboxing, not a job knob.
"""

from __future__ import annotations

import os
from pathlib import Path

JOB_CONF = (
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.execution.arrow.maxRecordsPerBatch", "1024"),
    ("spark.sql.files.maxPartitionBytes", "16m"),
    ("spark.sql.parquet.columnarReaderBatchSize", "128"),
    ("spark.sql.session.timeZone", "UTC"),
)


def driver_memory_mb(ram_mb: int) -> int:
    """A quarter of host RAM, capped at 8g: the JVM shares the host with
    the Python workers it forks."""
    return min(ram_mb // 4, 8192)


def prepare_env(root: Path, work: Path) -> None:
    """Process environment inherited by the JVM and the Python workers:
    the checkout on the import path, UTC wall clocks (the lineage table
    stores naive UTC timestamps) and temp files inside the checkout."""
    import time

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = f"{root}{os.pathsep}{path}" if path else str(root)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = str(tmp)
    # SPARK_LOCAL_DIRS overrides spark.local.dir when set
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")


def build(work: Path, cores: int, ram_mb: int, event_dir: Path | None = None):
    """Start a session on local[cores], launching the JVM."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master(f"local[{cores}]").appName("freki-perfbench")
    for key, value in JOB_CONF:
        builder = builder.config(key, value)
    builder = (
        builder.config("spark.driver.memory", f"{driver_memory_mb(ram_mb)}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work / 'tmp'}")
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if event_dir else "false")
    )
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.dir", event_dir.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def gc_ms(spark) -> int:
    """Total collection time of every JVM garbage collector."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
