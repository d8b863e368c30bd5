"""SparkSession factory with the engine's canonical configuration.

The reference parallelizes with ``n_proc`` multiprocessing
(``/root/reference/src/c3s_sm/reshuffle.py:180-182,263-264``); here the
equivalent knob is the Spark master / executor count, and everything else
(AQE, Arrow, shuffle partitions, UTC session time zone) is fixed so results
are reproducible across parallelism levels.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

# Shuffle partitioning: ~cores for local mode; at cluster scale this is
# overridden by AQE coalescing + the explicit repartition in the pipeline.
_DEFAULT_SHUFFLE_PARTITIONS = "32"

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG_DIR = os.path.join(_REPO_ROOT, "c3s_sm_spark")


def _export_pythonpath() -> None:
    """Make the package importable in executor Python workers.

    Local mode forks workers from the JVM which inherits this process's
    env; on a cluster the equivalent is ``spark-submit --py-files``
    (see jobs/). Must run before the JVM starts.
    """
    cur = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in cur.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + cur if cur else "")
        )


def ship_package(spark: SparkSession) -> None:
    """Ship the package to executors of an already-running session.

    For sessions the engine didn't create (e.g. the correctness driver's):
    zips ``c3s_sm_spark`` and ``addPyFile``s it so pandas-UDF closures that
    reference module functions resolve on workers. Idempotent.
    """
    if getattr(spark, "_c3s_pkg_shipped", False):
        return
    # zip name keyed on a CONTENT hash of the sources: a fixed name kept
    # shipping STALE code to executors after any edit, and an mtime key
    # missed same-second edits and mtime-preserving checkouts (pandas-UDF
    # closures then ran the old module version worker-side)
    import hashlib

    digest = hashlib.sha256()
    for dirpath, _dirnames, filenames in os.walk(_PKG_DIR):
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                digest.update(os.path.relpath(full, _PKG_DIR).encode())
                with open(full, "rb") as fh:
                    digest.update(fh.read())
    zpath = os.path.join(
        "/tmp", f"c3s_sm_spark_pyfiles_{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for dirpath, _dirnames, filenames in os.walk(_PKG_DIR):
                for fn in filenames:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        rel = os.path.relpath(full, _REPO_ROOT)
                        z.write(full, rel)
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    spark._c3s_pkg_shipped = True


def host_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` when set, else the cores this process may run
    on: its CPU affinity, which a cpuset-pinned container reports where
    ``os.cpu_count()`` gives the whole machine."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _driver_memory() -> str:
    """``$SPARK_DRIVER_MEM`` when set, else half the host's available
    memory (``MemAvailable``) in whole GiB, at least 1g: a local session
    is one JVM holding the driver and every executor thread, and a heap
    sized past the host's memory lets a large job take the host down
    instead of failing."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            line = next(ln for ln in f if ln.startswith("MemAvailable:"))
    except OSError:  # no /proc off Linux
        return "4g"
    return f"{max(1, int(line.split()[1]) >> 21)}g"


def get_spark(
    app_name: str = "c3s_sm_spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the canonical SparkSession.

    ``master`` defaults to ``local[<host_cpus()>]`` and the driver heap
    to half the available memory (:func:`_driver_memory`);
    ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM`` override them.
    All configs here are scale-safe: AQE handles runtime partition
    coalescing and skew-join splitting on a real cluster; Arrow makes the
    pandas-UDF codec path batch-vectorized.
    """
    _export_pythonpath()
    if master is None:
        master = f"local[{host_cpus()}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or _DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_conf(spark: SparkSession) -> SparkSession:
    """Pin the runtime-settable confs the engine depends on.

    Used when the session is created by an external driver (the
    correctness harness) rather than :func:`get_spark` — session time zone
    must be UTC for timestamp parity with the UTC-naive oracle
    (reference stores UTC-naive time too, tz handling at
    ``/root/reference/src/c3s_sm/interface.py:523-528``).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark
