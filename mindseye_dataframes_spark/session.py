"""SparkSession factory tuned for the engine.

Test/bench topology is ``local[N]`` (single JVM), but every setting
here is chosen to also be the right default on a large cluster:
AQE owns runtime re-planning (partition coalescing, skew-join
splitting, dynamic broadcast), Arrow is on for every pandas-UDF
boundary, and shuffle partitioning scales with parallelism instead of
being hardcoded to data size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
ARROW_MAX_RECORDS_PER_BATCH = 10_000
# Generated classes Spark keeps compiled per JVM (Spark's default is
# 100). One headline pass touches ~150 classes, so with the default
# every pass evicted them all and re-ran Janino and the JIT on each
# (~150 compiles per warm pass). Measured working sets (4 cores): a
# headline pass 150 (176 with the cold pass's one-off classes), the
# largest single query 66 (q162), bench.py's headline+extended phases
# 507 at sf0.1, the whole 236-query registry 3,236 at sf0.001. A cached
# class keeps ~75 KB of heap after GC, so 1,024 costs at most ~75 MB.
CODEGEN_CACHE_MAX_ENTRIES = 1024


def get_session(
    app_name: str = "mindseye-dataframes-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real
    cluster the caller passes a master URL via ``extra_conf``; nothing
    below is local-mode specific.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(DEFAULT_SHUFFLE_PARTITIONS, cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        # --- determinism ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- runtime re-planning: coalesce small shuffles, split skewed
        # partitions, convert to broadcast join when runtime stats allow ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Arrow for every Python<->JVM data boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        # dimension tables (region/nation/customer at any SF we broadcast)
        # stay well under this; Catalyst auto-broadcasts them.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scans: bound per-task input so huge files split into sane tasks
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # --- generated-class cache: compile each class once per JVM ---
        # (static conf: it only takes effect when this call starts the JVM)
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES)
        )
        # The cache is keyed by the class source. AQE numbers codegen
        # stages in the order its query stages finish, which varies run
        # to run, so with the stage id in the class name the same
        # pipeline recompiled under a new name (e.g. q32's 4 classes on
        # some warm passes). The id stays in the plan and in a comment.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    session = builder.getOrCreate()
    _mute_expected_window_warning(session)
    return session


def _mute_expected_window_warning(session: SparkSession) -> None:
    """Mute WindowExec's "No Partition Defined" warning.

    The only unpartitioned windows in this engine run over O(buckets)
    metadata frames (zip_frames/packing offset tables — tiny by
    construction), but each emits the warning per task attempt,
    burying real log signal. A lit(0) partition key can't help: Spark
    4's EliminateWindowPartitions optimizer rule folds foldable
    partition keys away (verified). Single-partition exchanges on DATA
    paths are instead guarded by plan-shape tests
    (tests/test_plans.py::test_no_single_partition_exchange_on_data_paths).
    """
    try:
        jvm = session.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # logging backend differs — warning is cosmetic
