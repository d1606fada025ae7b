"""SparkSession construction and runtime tuning.

Scale intent: these settings are chosen for a real multi-executor cluster
(AQE coalescing + skew-join handling, partition sizing targeting ~128MB
splits); `local[*]` in tests merely emulates that. Nothing here is
local-mode-specific except the default master fallback.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession

from .tempdirs import scratch_dir

# Runtime-settable SQL confs applied to *any* session (including one handed
# to us by an external harness). Keep only confs that SQLConf allows setting
# after startup.
RUNTIME_CONFS: dict[str, str] = {
    # Fixture timestamps: TIMESTAMP(NANOS) parquet (round-1 fixtures) is
    # rejected by Spark's reader — read as long and convert (see
    # catalog.load_table). TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet
    # (round-2 fixtures) would read as TIMESTAMP_NTZ by default; disable NTZ
    # inference so it reads as plain TimestampType, which under the UTC
    # session zone is value-identical and keeps one timestamp type engine-wide.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Deterministic date/timestamp semantics matching a naive-UTC oracle.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime coalescing of shuffle partitions and
    # skew-join splitting — essential at 100 TB where static partition
    # counts are always wrong for some stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf path (vectorized batches, not per-row pickle).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


# Without libhadoop, Hadoop's local filesystem forks `chmod` for every
# permission change and `readlink` for every link-status lookup: ~55 forks
# of ~4-5 ms each per CDC micro-batch (checkpoint files, sink part files,
# their .crc files). The jar built from jvm/src (scripts/build_nio_localfs.py)
# makes both calls through java.nio inside the JVM; CRC files, the umask and
# the checkpoint's rename-without-overwrite are unchanged.
NIO_FS_JAR = str(Path(__file__).resolve().parent / "jvm" / "nio-localfs.jar")
NIO_FS_CONFS: dict[str, str] = {
    "spark.hadoop.fs.file.impl": "cdcengine.fs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "cdcengine.fs.NioLocalFs",
    "spark.driver.extraClassPath": NIO_FS_JAR,
    "spark.executor.extraClassPath": NIO_FS_JAR,
}


def nio_fs_confs(gateway) -> dict[str, str]:
    """The confs that install the NIO local filesystem in a session built
    over ``gateway``'s JVM (None: no JVM yet, so the one about to start
    gets the jar on its classpath). A JVM already running without the jar
    gets none and keeps stock Hadoop: naming a class it cannot load would
    fail every file operation."""
    if gateway is not None and not gateway.jvm.org.apache.spark.util.Utils.classIsLoadable(
        NIO_FS_CONFS["spark.hadoop.fs.file.impl"]
    ):
        return {}
    return dict(NIO_FS_CONFS)


_PKG_SHIPPED: dict[str, bool] = {}
_PKG_ZIP: dict[str, str] = {}


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    In single-JVM ``local[n]`` mode the Python workers inherit the
    driver's sys.path, so the engine imports transparently and this is a
    no-op in effect. With REAL executor processes (local-cluster,
    standalone, YARN, K8s) the workers spawn with the executor's
    environment: any UDF/foreachBatch closure that references engine
    modules dies with ``ModuleNotFoundError: cdc_application_febuary_
    spark`` (found by the r7 local-cluster validation run — invisible in
    every prior same-JVM round). A zip of the package's .py files is
    built once per process and added once per SparkContext; identical
    content to the driver's copy, so shadowing is harmless in local
    mode."""
    import zipfile
    from pathlib import Path

    sc = spark.sparkContext
    app = sc.applicationId
    if _PKG_SHIPPED.get(app):
        return
    zpath = _PKG_ZIP.get("pkg")
    if zpath is None or not os.path.exists(zpath):
        pkg_dir = Path(__file__).resolve().parent
        zdir = scratch_dir("cdcafs_pkg_")
        zpath = os.path.join(zdir, "cdc_application_febuary_spark.zip")
        with zipfile.ZipFile(zpath, "w") as z:
            for f in sorted(pkg_dir.rglob("*.py")):
                rel = pkg_dir.name + "/" + str(f.relative_to(pkg_dir))
                z.write(str(f), rel)
        _PKG_ZIP["pkg"] = zpath
    try:
        sc.addPyFile(zpath)
    except Exception:
        # double-add in one context raises on some versions — fine
        pass
    _PKG_SHIPPED[app] = True


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-provided or ours),
    and make sure the engine package itself reaches executor workers."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not settable on this build — leave the session default.
            pass
    ensure_package_on_workers(spark)
    return spark


def get_spark(
    app_name: str = "cdc-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a tuned session on the NIO local filesystem (``nio_fs_confs``).

    ``shuffle_partitions`` defaults to the cpu count locally; on a real
    cluster you would size it to ~2-3x total cores and let AQE coalesce.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in {**RUNTIME_CONFS, **nio_fs_confs(SparkContext._gateway)}.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
