"""SparkSession factory with scale-appropriate defaults.

Ships the ``iresearch_spark`` package to executors via ``addPyFile`` — the
programmatic twin of ``spark-submit --py-files iresearch_spark.zip`` — so
kernels import it regardless of the driver's working directory or cluster
deploy mode.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip the installed iresearch_spark package for --py-files shipping."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "iresearch_spark_pyfiles.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join("iresearch_spark", os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    return out


def get_spark(
    app: str = "iresearch_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # v2 committer: task-side file moves instead of a serial driver-side
        # commitJob rename loop — matters for partitioned writes (many files)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    spark = b.getOrCreate()
    spark.sparkContext.addPyFile(package_zip())
    return spark
