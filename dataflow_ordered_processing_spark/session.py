"""SparkSession factory tuned for this engine.

local[N] in tests/bench; the same settings are what we'd submit with
spark-submit on a real cluster (AQE, Arrow, UTC, sane shuffle partitions).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_PKG_NAME = os.path.basename(_PKG_DIR)


def package_zip() -> str:
    """Zip this package for shipping to Python workers — the programmatic
    equivalent of ``spark-submit --py-files`` (north_rule requirement).
    Workers unpickle UDFs by module reference, so the package must be
    importable on every worker, not just the driver."""
    out = os.path.join(tempfile.gettempdir(), f"{_PKG_NAME}.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(_PKG_NAME, os.path.relpath(full, _PKG_DIR))
                    zf.write(full, rel)
    return out


def iceberg_conf(warehouse: str, catalog: str = "local") -> dict[str, str]:
    """Spark conf for a local Hadoop-backed Iceberg catalog. Requires the
    iceberg-spark-runtime jar on the classpath (NOT in this sandbox image —
    pass via --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13 on
    a real cluster); the conf itself is inert until an iceberg table is
    touched, so it is safe to set unconditionally."""
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }


def get_spark(
    app_name: str = "ordered-transcripts",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    iceberg_warehouse: str | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # local[N] → N executor threads; shuffle width should match, not 200.
    n_threads = cpus if "local[" not in master else int(
        master.split("[")[1].rstrip("]").replace("*", str(os.cpu_count() or 8))
    )
    shuffle_partitions = shuffle_partitions or max(n_threads, 8)

    # Opt-in scratch root for shuffle files, staging parquet and stream
    # checkpoints (e.g. tmpfs or local NVMe when /tmp throttles behind
    # dirty-page writeback); unset keeps the system defaults.
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH")
    if scratch:
        os.makedirs(scratch, exist_ok=True)
        # spark.local.dir is read once at JVM launch (a no-op on an already
        # running session); tempfile.tempdir routes the engine's staging
        # dirs and temporary stream checkpoints to the same scratch.
        tempfile.tempdir = scratch
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    if scratch:
        b = b.config("spark.local.dir", os.path.join(scratch, "local"))
    if iceberg_warehouse:
        for k, v in iceberg_conf(iceberg_warehouse).items():
            b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(package_zip())
    return spark
