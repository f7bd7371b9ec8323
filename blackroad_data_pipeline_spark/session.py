"""SparkSession factory.

One place to configure the session so tests, the CLI, bench.py and the
driver harness all run with the same scale-aware defaults:

- AQE on (runtime re-planning, skew-join handling, partition
  coalescing) — at 100 TB the static plan is never right;
- shuffle partitions sized to the machine for local runs (the 200
  default over-parallelizes tiny local data and under-parallelizes a
  real cluster — production deployments should set
  ``spark.sql.shuffle.partitions`` / rely on AQE);
- UTC session timezone so timestamp semantics match ANSI engines
  (and the DuckDB correctness oracle);
- Arrow enabled for any Pandas-UDF path;
- Python workers forked from ``_pydaemon``, which stops every task
  from re-reading pyspark.zip and the spark-core jar;
- a driver heap sized to the machine (``_default_driver_mem``) unless
  ``SPARK_GRAFT_DRIVER_MEM`` sets it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Two fifths of physical memory in whole GiB, between 1g and 32g.
    In local mode the driver JVM is also the executor, and it shares
    the box with its Python workers and any DuckDB oracle: a 32g heap
    on a 15 GB box let the JVM grow past physical memory before a full
    GC (the sf1 oracle sweep was OOM-killed at 14.5 GB RSS), while
    6g finished it at about 7.5 GB RSS."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf: old cap
        return "32g"
    return f"{max(1, min(32, phys * 2 // 5 // 2 ** 30))}g"


def get_spark(
    app_name: str = "blackroad_data_pipeline_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if
    unset). On a real cluster, pass ``master=None`` with
    ``SPARK_GRAFT_MASTER`` unset and let spark-submit supply it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        master = f"local[{cpus}]"

    cores = (os.cpu_count() or 8) if cpus == "*" else int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # NOTE: spark.sql.optimizer.runtime.bloomFilter.enabled +
        # runtimeFilter.semiJoinReduction were tried and REVERTED —
        # with observe()-instrumented plans on this build (4.1.2) even
        # trivial jobs hang. Revisit per-query if fact-fact joins
        # dominate; do not re-enable globally without the smoke test.
        # parquet TIMESTAMP(NANOS) isn't a Spark type; read as long and
        # convert explicitly (see sources.readers.nanos_to_timestamp)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # workers must be able to import this package (run from the
        # repo root or put it on PYTHONPATH), as the module-level
        # pandas UDFs pickled by reference already require
        .config("spark.python.daemon.module",
                "blackroad_data_pipeline_spark._pydaemon")
    )
    # Pin the JVM default locale (ADVICE r7): Java
    # String.toLowerCase() — the F.lower fallback for non-ASCII — is
    # default-locale sensitive (Turkish 'I' -> dotless 'ı'). F.lower
    # is in every text normalization (content_key, the shingle and
    # token columns, the SQL oracles' replays), so on a non-English
    # host every one of them would disagree with the Python kernels'
    # locale-independent str.lower() and with other engines. Executors
    # get the same pin for real-cluster deployments — APPENDED to any
    # caller-supplied executor JVM options, never replacing them.
    # (Options set only in spark-defaults.conf are not visible here
    # and WOULD be overridden by this key — a cluster deployment that
    # manages executor JVM flags there should add the locale flags to
    # its own list.)
    conf_map = dict(extra_conf or {})
    locale_flags = "-Duser.language=en -Duser.country=US"
    prev_opts = conf_map.get("spark.executor.extraJavaOptions", "")
    if not prev_opts:
        # Surface the silent-override hazard (ADVICE r8): a value set
        # only in spark-defaults.conf is invisible here and this
        # .config() call replaces it. Loud, so cluster deployments that
        # manage executor JVM flags in defaults notice and fold the
        # locale pin into their own list.
        import logging
        logging.getLogger(__name__).warning(
            "setting spark.executor.extraJavaOptions=%r; any value "
            "configured only in spark-defaults.conf is overridden — "
            "pass it via extra_conf to preserve it", locale_flags)
    conf_map["spark.executor.extraJavaOptions"] = \
        f"{prev_opts} {locale_flags}".strip()
    for k, v in conf_map.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # The driver JVM may predate this call (shared gateway), so pin
    # its locale at runtime rather than via extraJavaOptions.
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.util.Locale.setDefault(
            jvm.java.util.Locale.forLanguageTag("en-US"))
    except Exception:
        pass  # non-py4j backends (Spark Connect): rely on host locale
    return spark
