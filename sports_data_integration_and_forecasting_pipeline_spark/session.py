"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]`` but every config choice is made for the
1000-executor / 100 TB target: AQE on (runtime partition coalescing, skew
join splitting), broadcast threshold sized for dimension tables, Arrow for
the few pandas-interchange points, UTC session time zone so timestamp
semantics are stable across clusters.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_PKG_PARENT = str(Path(__file__).resolve().parent.parent)


def _ensure_worker_import_path() -> None:
    """Python WORKERS deserialize this package's Arrow UDFs by REFERENCE
    (cloudpickle pickles module-level functions as import paths), so the
    package must be importable in the worker interpreter, not just the
    driver. A consumer script that reached the package via
    ``sys.path.insert`` from some other cwd works fine on the driver,
    then dies mid-job in the worker with
    ``ModuleNotFoundError: sports_data_integration_and_forecasting_pipeline_spark`` the first time a
    mapInPandas stage runs (observed: ``multimodal_image_features``
    driven from /tmp). Prepending the package parent to ``PYTHONPATH``
    before the JVM launches fixes local mode, where workers inherit the
    launching process env; like ``spark.driver.memory`` above it is only
    effective for the process that LAUNCHES the JVM. A real cluster
    ships the package to executors via --py-files / a packed env
    instead — this helper is deliberately a no-op there (the path just
    won't exist on executors)."""
    existing = os.environ.get("PYTHONPATH", "")
    if _PKG_PARENT not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_PARENT + os.pathsep + existing if existing else _PKG_PARENT
        )


def get_spark(
    app_name: str = "sports_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster ``master`` comes from the environment; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    _ensure_worker_import_path()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # local[N] runs driver AND all executor threads in ONE JVM whose
        # heap defaults to spark.driver.memory = 1g — a 32-thread battery
        # in 1 GB spends its time in GC and eventually fails broadcast
        # builds (observed: GCLocker retry warnings + "not enough memory
        # to build and broadcast" mid-battery). 8g measured BEST here:
        # big heaps are not free — ≥31g made a fixed 50M-row md5 pass
        # ~5-10× slower on this box (G1 geometry/page-touch costs), while
        # 8g was slightly faster than 1g AND removes the OOM. Only
        # effective for the process that LAUNCHES the JVM — a real
        # cluster's submit-time settings take precedence.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # AQE: runtime shuffle-partition coalescing + skew-join splitting —
        # the main lever that keeps one plan valid from sf0.001 to 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Dimension tables (region/nation/bookmaker maps) stay broadcastable.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Nested-schema pruning so exploded JSON scans read only used fields.
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Time columns arrive as parquet timestamp[us] (TIMESTAMP_NTZ in
        # Spark). Legacy TIMESTAMP(NANOS) files would be rejected by
        # default; reading them as nanos-since-epoch longs keeps older
        # snapshots loadable alongside the µs schema.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Recursive-CTE row valve: the 1M-row default is sized for
        # exploratory use and trips on legitimate bounded walks at
        # ~100k+ seed rows (observed: the digit-hierarchy walk at the
        # sf1 probe scale). Raise the ROW valve; the level limit (100)
        # still catches true runaway recursion.
        .config("spark.sql.cteRecursionRowLimit", "2000000000")
        .config("spark.ui.enabled", "false")
        # PySpark wraps every Column method to record its Python file:line
        # in the JVM for error messages: ~5 py4j round trips per call
        # (active session, class lookup, conf read, origin set + clear).
        # Building the plans of one odds op (arbitrage scan + EV table)
        # made 3,867 py4j calls with it and 1,119 without. Errors keep
        # their error class and SQL fragment; pass
        # extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}
        # to get the Python call site back.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
