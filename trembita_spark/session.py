"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM with N executor threads; on a real cluster the
same settings (AQE, skew-join handling, UTC session timezone, Arrow) are the
ones you want at 100 TB. Shuffle partitions default to a local-friendly
value; at cluster scale AQE coalesces / splits them at runtime, so the
static number is a starting hint, not a hard layout.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from trembita_spark import cds
from trembita_spark.streaming.pbcompat import ship_worker_env

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

# A 16g heap on a 15 GB host let the JVM grow to 14 GB RSS and be
# OOM-killed; a third of RAM leaves room for Python workers and the OS.
DEFAULT_DRIVER_MEM_MB = min(
    16384, (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20) // 3
)

_BROADCAST_THRESHOLD = str(8 * 1024 * 1024)


def get_session(
    app_name: str = "trembita_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Host-dependent defaults:

    - cores (``local[cpus]``): ``$SPARK_GRAFT_CPUS`` if set, otherwise
      the usable CPUs, ``len(os.sched_getaffinity(0))``.
    - driver heap: ``min(16384, physical RAM in MB // 3)`` MB.

    Every other setting is a constant; ``extra_conf`` is applied last,
    so it overrides any of them, the heap included. The session's Python
    workers get the package and protobuf from
    ``streaming.pbcompat.ship_worker_env``.

    Start-up archive (``trembita_spark.cds``): a call that launches the
    driver JVM starts it from a dynamic AppCDS archive in
    ``$XDG_CACHE_HOME/trembita_spark/`` (default ``~/.cache``), about
    100 MB, which cuts the set-up CPU by about a third. Its key is the java
    binary, libjvm and every Spark jar's path, size and mtime. The first
    launch with no archive dumps one at JVM exit, the next checks and
    publishes it, and only an intact archive of the same key is offered.
    Deleting the directory is always safe. Conf-dir rule: the JVM is
    launched with ``SPARK_CONF_DIR`` pointing at an empty directory of
    the cache only when the real conf dir holds nothing but
    ``*.template`` files; when it holds a real file (or another setting
    adds to the launch class path) no archive is used and the session
    is launched as before.

    Settings rationale (100 TB posture):

    - ``spark.sql.adaptive.enabled`` + coalesce + skewJoin: runtime re-plan
      fixes both over-partitioned small shuffles and skewed joins without
      hand-tuning per query.
    - ``spark.sql.session.timeZone=UTC``: deterministic timestamp semantics,
      matches the DuckDB oracle (UTC-naive).
    - Arrow on: vectorized Python interop for the Pandas-UDF slow path.
    - shuffle partitions ~= cores locally; on a cluster you'd size this to
      ~2-3x total executor cores and let AQE coalesce.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing floor: with the default 1 MB floor and
        # parallelismFirst, the sub-32 MB local shuffles coalesce to
        # ~10 partitions, idling 2/3 of the cores mid-query. 64 KB keeps
        # local parallelism at the session's width; at production shuffle
        # sizes (>= advisory 256 MB partitions) the floor is never the
        # binding constraint, so this is local-only in effect; cluster
        # tuning overrides it through extra_conf. Measured (noop, same
        # box): fsm 0.61->0.52, dedup_near 1.50->1.24, tfidf 0.78->0.65,
        # asof 0.48->0.35.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", f"{DEFAULT_DRIVER_MEM_MB}m")
        .config("spark.ui.enabled", "false")
        # 8 MB broadcast threshold, applied to BOTH the static planner and
        # AQE's runtime re-plan (which otherwise converts shuffle joins
        # back to broadcast from actual shuffle sizes). The previous 64 MB
        # let the 10.8 MB-file lineitem FACT table broadcast in the
        # sf0.1 star joins — a serial 600k-row broadcast build per query
        # that no production scale would ever plan (guide §3.1: broadcast
        # the side that fits, i.e. true dimensions; every dim here is
        # <3 MB at sf0.1 and stays broadcast). Measured on the SQL join
        # family: q5 0.89->0.77, q18 1.17->0.97, q21 1.12->0.84,
        # q9 0.78->0.64 (noop sink, quiet box). Cluster tuning overrides
        # both through extra_conf.
        .config("spark.sql.autoBroadcastJoinThreshold", _BROADCAST_THRESHOLD)
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", _BROADCAST_THRESHOLD)
        # managed-table warehouse (bucketed tables) — keep out of the repo;
        # env-overridable so concurrent gauntlet shards (tools/
        # run_gauntlet.py) don't race each other's fixed-name tables.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/trembita_spark_warehouse"
            ),
        )
    )
    extra_conf = extra_conf or {}
    with cds.driver_jvm(extra_conf) as java_options:
        if java_options:
            builder = builder.config("spark.driver.defaultJavaOptions", java_options)
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_worker_env(spark)
    return spark
