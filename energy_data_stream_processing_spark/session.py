"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` with a
``$SPARK_DRIVER_MEMORY`` driver; unset, they default to the cores this
process may run on and half the host's physical memory (at most 16g). The
same settings are what we would ship as cluster defaults:

- AQE on (runtime re-plan, skew-join handling, shuffle coalescing);
- shuffle partitions sized to cores locally — on a real cluster this becomes
  ``spark.sql.adaptive.coalescePartitions`` + a high initial partition count
  so 100 TB shuffles can split finer than the default 200;
- UTC session timezone so event-time bucketing is deterministic and matches
  the DuckDB oracle (naive timestamps);
- Arrow enabled for the few Pandas-UDF paths (multimodal plumbing);
- local writes that start no process. Without the ``libhadoop`` native
  library, Hadoop's local filesystem runs ``chmod`` for every file,
  ``.crc`` sidecar and directory it creates, and the default FileContext
  streaming-checkpoint manager runs ``readlink`` for every rename: about
  74 and 28 forks per 300-line ``pipeline --streaming`` micro-batch, each
  3-4 ms of CPU. ``fs.file.impl`` is therefore ``LOCAL_FS_CLASS`` (from
  ``LOCAL_FS_JAR`` on the driver class path), a ``LocalFileSystem`` whose
  raw layer sets the same modes through ``java.nio``, checksums kept; and
  the checkpoint manager is Spark's FileSystem-based one, whose rename is
  a POSIX rename, atomic on a local disk. The class stands in for Hive's
  ``ProxyLocalFileSystem``, which ``hive-exec`` registers for ``file://``
  and whose one change, a rename that refuses an existing file, would
  make that manager skip the overwrites it asks for (it checks for an
  existing file itself when it must not overwrite). A vanilla session
  (the ``__spark_entry__`` driver contract) keeps the defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: Hadoop's local filesystem with a java.nio chmod, built from
#: jvm/ForkFreeLocalFileSystem.java (its header has the build command).
LOCAL_FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "edsp-localfs.jar")
LOCAL_FS_CLASS = "edsp.fs.ForkFreeLocalFileSystem"


def _spark_default(key: str) -> str:
    """``key``'s value in the deployment's ``spark-defaults.conf``
    (resolved via ``$SPARK_CONF_DIR`` / ``$SPARK_HOME/conf``), else ''."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or (
        os.path.join(os.environ["SPARK_HOME"], "conf")
        if os.environ.get("SPARK_HOME")
        else None
    )
    value = ""
    if conf_dir:
        try:
            with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
                for line in f:
                    parts = line.strip().split(None, 1)
                    if len(parts) == 2 and parts[0] == key:
                        value = parts[1].strip()
        except OSError:
            pass
    return value


def _driver_class_path() -> str:
    """``LOCAL_FS_JAR`` APPENDED to the deployment's
    ``spark.driver.extraClassPath``, once."""
    entries = [e for e in _spark_default("spark.driver.extraClassPath").split(os.pathsep) if e]
    if LOCAL_FS_JAR not in entries:
        entries.append(LOCAL_FS_JAR)
    return os.pathsep.join(entries)


def _driver_java_options(run_dir: str) -> str:
    """The Derby-home flag APPENDED to any pre-existing driver Java options
    rather than replacing them: a deployment that sets
    ``spark.driver.extraJavaOptions`` in ``spark-defaults.conf`` or through
    the ``SPARK_DRIVER_EXTRA_JAVA_OPTIONS`` environment variable keeps
    those flags; ours is added once (never duplicated on re-entry)."""
    base = os.environ.get("SPARK_DRIVER_EXTRA_JAVA_OPTIONS", "").strip()
    if not base:
        base = _spark_default("spark.driver.extraJavaOptions")
    flags = [f"-Dderby.system.home={run_dir}"]
    # Round 16 (guide §4.1/§7): HotSpot refuses to JIT-compile methods over
    # 8,000 bytecode bytes (DontCompileHugeMethods, on by default), and the
    # engine's wide codegen'd expressions — the 64-term unrolled dot/norm
    # sums in operators/similarity.py, the 15-aggregate hourly expression
    # tree — generate exactly such methods, which then run as INTERPRETED
    # bytecode (measured 14x on the brute-force cosine stage: 7.25 s -> 0.52
    # s per 1M-row dot pass, OPTIMIZATION_r16.md). Standard Spark deployment
    # tuning for generated code; scale-independent (per-row cost, not a
    # local-mode artifact). On a cluster set the same flag in
    # spark.executor.extraJavaOptions; in local mode driver == executor.
    if "DontCompileHugeMethods" not in base:  # a deployment's explicit
        flags.append("-XX:-DontCompileHugeMethods")  # choice wins
    parts = base.split()
    add = [f for f in flags if f not in parts]
    return f"{base} {' '.join(add)}".strip()


def _host_cpus() -> str:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return os.environ["SPARK_GRAFT_CPUS"]
    try:
        return str(len(os.sched_getaffinity(0)))
    except AttributeError:  # no affinity API off Linux
        return str(os.cpu_count() or 1)


def _host_driver_memory() -> str:
    """``$SPARK_DRIVER_MEMORY``, else half the host's physical memory
    capped at 16g: in local mode the driver JVM is the whole engine, and a
    heap larger than the box lets the JVM grow until the OS kills it."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError):  # no sysconf, or no such key
        return "1g"  # Spark's own default
    return f"{min(phys // 2, 16 * 2**30) // 2**20}m"


def get_spark(app_name: str = "energy-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    NOTE: ``getOrCreate()`` REUSES any live session in the process — in
    that case none of these configs (warehouse dir, Derby home, shuffle
    partitions) are applied; they only take effect for the process's FIRST
    session. Callers embedding this engine next to another Spark app get
    that app's session settings."""
    import tempfile

    cpus = _host_cpus()
    parts = str(shuffle_partitions or cpus)
    # Keep session byproducts (spark-warehouse/ from saveAsTable, Derby's
    # derby.log/metastore_db) out of the caller's cwd: root them under a
    # per-process scratch dir instead of littering the repo.
    run_dir = os.path.join(
        os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir()),
        f"edsp-spark-{os.getpid()}",
    )
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _host_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions", _driver_java_options(run_dir))
        # in local mode the driver is the executor; on a cluster put the
        # jar on spark.executor.extraClassPath too
        .config("spark.driver.extraClassPath", _driver_class_path())
        .config("spark.hadoop.fs.file.impl", LOCAL_FS_CLASS)
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .getOrCreate()
    )
