"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os
import re

import pyspark
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_VERSION_RE = re.compile(r"""__version__[^=]*=\s*["']([^"']+)["']""")


def worker_daemon(master: str, spark_home: str | None, daemon_path: list[str]) -> str:
    """The Python daemon module for a session: this package's ``_daemon``,
    which makes workers import PySpark from ``spark_home``'s unzipped
    ``python`` tree instead of ``pyspark.zip``, when all of these hold,
    else Spark's own ``pyspark.daemon``:

    - the master is ``local`` or ``local[…]``, so every worker runs on this
      host (not ``local-cluster``, whose executors are separate processes);
    - ``spark_home/python/pyspark/version.py`` states this process's
      PySpark version (read as text: importing it would import this
      process's own copy);
    - a directory on ``daemon_path``, the daemon's starting path (its cwd
      and PYTHONPATH), holds this package. Code shipped by ``--py-files``
      reaches workers per task, too late for the daemon.

    A daemon that cannot import kills every Python UDF, hence the checks.
    """
    if not re.fullmatch(r"local(\[[^\]]*\])?", master):
        return "pyspark.daemon"
    try:
        with open(os.path.join(spark_home or "", "python", "pyspark", "version.py")) as f:
            m = _VERSION_RE.search(f.read())
    except OSError:
        return "pyspark.daemon"
    if m is None or m.group(1) != pyspark.__version__:
        return "pyspark.daemon"
    shim = os.path.join(*__package__.split("."), "_daemon.py")
    if not any(p and os.path.isfile(os.path.join(p, shim)) for p in daemon_path):
        return "pyspark.daemon"
    return f"{__package__}._daemon"


def get_spark(
    app_name: str = "seizury-hrv-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a session tuned for this engine.

    - AQE on (runtime coalescing + skew-join splitting).
    - Arrow on for all pandas UDF exchange, with a bounded batch size so
      grouped kernels see predictable memory.
    - Session timezone pinned to UTC so timestamp<->epoch arithmetic
      matches any external SQL oracle bit-for-bit.
    - Python workers import PySpark from the unzipped tree where
      ``worker_daemon`` finds that safe, so no task re-reads pyspark.zip
      and the Spark jar. The module is always set, because options of an
      earlier session persist in the JVM.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    cpus = os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(32, cpus))))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.python.daemon.module",
            worker_daemon(
                master,
                _find_spark_home(),
                [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)],
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
