"""SparkSession factory with scale-aware defaults.

The reference builds sessions ad hoc (`local[2]`, no tuning —
/root/reference/doc/temp.md:439-443, /root/reference/doc/Cumulative.java:26-30).
Here session construction is centralized so every entry point gets the
same posture:

* UTC session time zone — all event-time bucketing is deterministic and
  hash-compatible with the DuckDB oracle (SURVEY.md §7 risk 3).
* AQE on (dynamic coalesce + skew-join splitting) — at 100 TB the
  static shuffle-partition number is always wrong for some stage; AQE
  re-plans from runtime statistics.
* `nanosAsLong` — the `events` fixture carries TIMESTAMP(NANOS), which
  Spark's vectorized parquet reader rejects; we read raw int64 nanos
  and derive microsecond timestamps ourselves (functions.time.event_ts).
* Arrow enabled — all Python-side exchange (pandas UDFs for the
  north-star ops) rides Arrow batches, never row pickling.
* DataFrame call-site capture off
  (`spark.python.sql.dataFrameDebugging.enabled=false`). PySpark 4.1
  turns it on by default and then wraps every `pyspark.sql.functions`
  call and `Column` method: an active-session lookup, a conf read, a
  stack walk, and a set and clear of the JVM origin. Its py4j round
  trips add to the fixed per-op cost of small queries (turning it
  off, together with building small frames in the JVM, cut the
  perfbench corpus workload's `first_pass_s` by 13.9%; SCALE.md).
  What it adds is the Python file and line of the failing call inside
  a Spark error's query context. With it off, an error still carries
  the Python traceback of the call that raised and the JVM error
  class and message (e.g. `[DIVIDE_BY_ZERO]`, `[UNRESOLVED_COLUMN]`).
  PySpark caches the flag per process at the first wrapped call (off
  if no session is active yet, else the session's value), so it takes
  effect when this factory builds the session before any wrapped call
  runs under another session.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "bigdataentrytask-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the configured SparkSession.

    On a real cluster, drop ``master`` and submit with
    ``spark-submit``; every other conf below carries over unchanged.
    """
    cpus = default_parallelism()
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # local mode: the driver JVM hosts all executor threads — the
        # 1g default would OOM any real shuffle at local[32]
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true) DELIBERATELY:
        # measured both ways on the sf0.1 headline at local[32] —
        # false speeds small JVM-only aggregations by ~10-15% (fewer
        # tiny shuffle partitions) but collapses the partition count
        # feeding the Arrow kernels, where the work is Python-CPU
        # bound: minhash_dedup went 3.9s -> 10.7s and the total
        # regressed 27.9s -> 32.2s. Parallelism preservation is the
        # right trade for a workload that mixes codegen stages with
        # applyInPandas kernels (SCALE.md "AQE coalescing posture").
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # call-site capture off: see the module docstring
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # managed tables (bucketed writers) land in tmp, not the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", tempfile.mkdtemp(prefix="spark_wh_")
            ),
        )
    )
    spark = builder.getOrCreate()
    # Session-level confs in case an outer harness built the session
    # first with different settings (getOrCreate reuses it).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # non-modifiable once set at startup on some builds
    return spark


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply the confs that matter for correctness to a session we did
    not build (the driver harness passes its own SparkSession)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for key, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(key, val)
        except Exception:
            pass
    return spark
