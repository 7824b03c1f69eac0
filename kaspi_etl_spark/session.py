"""SparkSession factory tuned for both local testing and cluster scale.

Local runs use ``local[N]``; on a real cluster the same builder works with
whatever master the environment provides. All scale-relevant knobs (AQE,
skew-join handling, broadcast threshold, partition sizing) are set here so
every operator in the engine inherits them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """A quarter of the host's memory, at most 48g: the local-mode JVM
    holds driver and executors, and a fixed 48g heap lets a host with
    less memory kill it. 48g where the host's memory cannot be read."""
    try:
        with open(meminfo) as f:
            total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{min(48 * 1024, total_kb // 4 // 1024)}m"


def get_spark(
    app_name: str = "kaspi_etl_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Settings rationale (100 TB design notes):
      - AQE on: runtime coalescing of shuffle partitions, skew-join
        splitting, and dynamic broadcast conversion — essential when data
        statistics at plan time are wrong at scale.
      - shuffle.partitions matches local cores here; on a cluster this is
        overridden by AQE's coalescing (initialPartitionNum can be raised).
      - Arrow enabled so the Pandas-UDF slow path uses columnar transfer.
      - Session timezone pinned to UTC so date semantics never depend on
        host locale (reference parses day-first RU dates explicitly;
        SURVEY.md section 7 risk 4).
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE (measured, round 2): lowering
        # adaptive.coalescePartitions.minPartitionSize below the 1MB
        # default widens small-SF shuffles (export_flat ~ -13%) but costs
        # iterative jobs far more in per-round task overhead
        # (dedup_clusters ~ +50%); the default is the right trade.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate turns every explode(expensive_expr)
        # into a size(expensive_expr)>0 filter that predicate-pushdown
        # then re-inlines into the SCAN (alias substitution ignores
        # expression cost) — measured 27x on doc_fingerprints, and it
        # re-executes Pandas UDFs whose output is exploded. Our generators
        # are shingle/fingerprint/pair arrays where the inferred filter
        # never prunes anything the explode wouldn't. Driver-facing
        # queries additionally use explode_outer at the hot sites, since
        # the driver runs them on a vanilla session without this conf.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r12 (guide §1.2 step 2, driver-side): PySpark 4 wraps EVERY
        # DataFrame/Column API call with error-context capture — a
        # getActiveSession + conf.get + JVM PySparkCurrentOrigin.set py4j
        # round-trip plus a Python stack walk PER CALL (~2.8 ms measured
        # here; a deep query build makes hundreds of wrapped calls).
        # The context only enriches error MESSAGES; values and plans are
        # unaffected. Scale-independent: driver plan-construction
        # latency, not a data-sized knob.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Event dumps may store ts as parquet TIMESTAMP(NANOS), which Spark
        # reads only as BIGINT under this flag (registry.read_events then
        # converts). A session-wide setting: the cached builders never
        # re-run their body on a plan-cache hit.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/kaspi_spark_warehouse"),
        )
    )
    if not os.environ.get("SPARK_MASTER") and "spark.master" not in (extra_conf or {}):
        builder = builder.master(f"local[{cpus}]")
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
