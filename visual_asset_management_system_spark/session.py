"""SparkSession factory tuned for the engine.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting
  and dynamic broadcast conversion replace the reference's hand-tuned
  page sizes (SURVEY.md §4).
- ``spark.sql.shuffle.partitions`` is a *starting* value; with AQE the
  effective number adapts to data volume, so the same code runs on
  local[32] and a 1000-executor cluster.
- Arrow execution enabled for the pandas-UDF paths (similarity search,
  multimodal decode) — batch columnar transfer, never row-at-a-time.
- PySpark's per-call call-site capture is off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). Spark 4
  turns it on by default, and then every ``F.*`` and ``Column`` call
  makes extra py4j round trips (the active session, the
  ``spark.sql.stackTracesInDataFrameContext`` depth, and a
  ``PySparkCurrentOrigin`` set/clear pair around the call) — about half
  of all round trips on the expression-heavy batch paths (corpus
  build, MinHash probe). What this removes is the Python side of a
  DataFrame error's query context — the PySpark function name and the
  ``file:line`` that built the failing expression; the error class and
  message are unchanged. PySpark reads the setting once per process,
  from the first active session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_DRIVER_MEMORY`` when set, else
    half of physical RAM, capped at 24g. A fixed 24g lets the JVM heap
    outgrow a smaller host's memory, and the kernel then kills the
    process."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return f"{min(phys_mb // 2, 24 * 1024)}m"


def get_spark(
    app_name: str = "spark-vams",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Every config here is cluster-size independent: on a real cluster the
    same settings hold, only ``master`` and executor sizing change.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: the scale story -------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # small dims (region/nation/buckets/schemas/policies) always broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python interop ---------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # no Python call-site capture per Column call (design notes)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # --- scan sizing: keep partitions memory-friendly at high SF ----
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # deterministic timestamp semantics for the DuckDB differential
        .config("spark.sql.session.timeZone", "UTC")
        # materialized maintained state (search tables, postings) lands
        # in managed tables — pin the warehouse next to the package so
        # the artifact location does not depend on the caller's cwd
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "spark-warehouse",
            ),
        )
        # nanosecond parquet timestamps (events.ts) surface as bigint
        # nanos — exact integer math instead of lossy double conversion
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # local mode puts every executor thread + all persisted state in
        # the driver JVM: an undersized heap turns into sporadic multi-
        # second GC pauses on whichever query is running when it fills
        # (measured 2.5s → 52s swings on the bucket self-join at 8g); the
        # default stays inside physical memory (driver_memory)
        .config("spark.driver.memory", driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
