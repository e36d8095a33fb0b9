"""Storage-tier staging (SURVEY §4.2): the reference pins each
pipeline stage to an explicit storage tier — raw scans DISK_ONLY
(`Trainer.scala:94`: big, cold, read a handful of times), working sets
MEMORY_ONLY_SER (`Trainer.scala:142`: compact serialized rows, hot),
per-epoch training batches MEMORY_ONLY_SER persisted/unpersisted per
epoch (`Trainer.scala:174,190`).

PySpark note: ``StorageLevel.MEMORY_ONLY`` here IS the serialized
variant (deserialized=False), i.e. Scala's MEMORY_ONLY_SER — PySpark
dropped the ``_SER`` aliases because Python-side data is always
serialized. ``MEMORY_AND_DISK`` is offered as the lenient tier for
intermediates that are expensive to recompute but must never OOM.

At 100 TB the tier choice is the difference between an epoch that
re-reads the lake and one that reads executor memory: raw inputs don't
fit in cluster RAM (disk tier), working sets are sized by the sample
fraction to fit serialized (memory tier), and anything else should
not be pinned at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# tier name → storage level (reference call sites cited above)
TIERS: dict[str, StorageLevel] = {
    "raw": StorageLevel.DISK_ONLY,           # Trainer.scala:94
    "working": StorageLevel.MEMORY_ONLY,     # = MEMORY_ONLY_SER; Trainer.scala:142,174
    "intermediate": StorageLevel.MEMORY_AND_DISK,
}


def stage(df: DataFrame, tier: str = "working") -> DataFrame:
    """Persist ``df`` at the named tier. Returns the same DataFrame so
    call sites can chain; free with ``df.unpersist()`` (the reference
    unpersists per-epoch batches, `Trainer.scala:190`)."""
    try:
        level = TIERS[tier]
    except KeyError:
        raise ValueError(f"unknown tier {tier!r}; one of {sorted(TIERS)}") from None
    return df.persist(level)


STAGING_DIR_CONF = "spark.mindseye.stagingDir"


def staging_dir(spark, prefix: str) -> str:
    """Resolve a scratch directory that BOTH the driver and executors
    can reach for multi-step staging (stream sources, posting logs,
    checkpoints).

    A driver-local ``tempfile.mkdtemp`` is only safe under a
    ``local[*]`` master; on a real cluster executors don't share the
    driver's filesystem, so parquet writes/reads would silently target
    different machines (ADVICE r7 on q205). Deployments set
    ``spark.mindseye.stagingDir`` to a shared location (HDFS/S3/NFS);
    local mode falls back to tempfile. Callers own cleanup of the
    returned path."""
    import tempfile
    import uuid

    root = spark.conf.get(STAGING_DIR_CONF, None)
    if root:
        return f"{root.rstrip('/')}/{prefix}{uuid.uuid4().hex[:12]}"
    master = spark.conf.get("spark.master", "")
    if not master.startswith("local"):
        raise ValueError(
            f"non-local master {master!r} requires {STAGING_DIR_CONF} to be"
            " set to an executor-reachable shared path; a driver-local"
            " tempdir would not be visible to executors"
        )
    return tempfile.mkdtemp(prefix=prefix)


def read_log_or_empty(spark, path: str, like_schema) -> DataFrame:
    """Read a staged micro-batch log, tolerating the zero-batch case.

    ``foreachBatch`` sinks (q205/q212 ingest, q218/q219 checkpoint
    re-stage) write ``<log>/batch=<id>`` directories only when a
    trigger actually fired; a drained stream over an EMPTY delta
    leaves the log path nonexistent, and a bare
    ``spark.read.parquet`` would throw AnalysisException instead of
    yielding base-only results (ADVICE r9). Missing/empty logs
    resolve to an empty frame with ``like_schema`` — the same schema
    downstream unions expect. Catching the read error (rather than
    probing the filesystem) keeps this Spark-Connect-safe: no JVM
    handles, no driver-local ``os.path`` assumption about a possibly
    remote staging root.

    Only the error classes that MEAN "no batches yet"
    (``PATH_NOT_FOUND``; ``UNABLE_TO_INFER_SCHEMA`` for a created-but-
    empty dir) map to empty — any other AnalysisException (corrupt
    footer, schema-merge conflict, permission failure surfaced as
    AnalysisException) re-raises, so a genuinely broken log fails
    loudly instead of silently yielding base-only results
    (ADVICE r10)."""
    from pyspark.errors import AnalysisException

    empty_log_classes = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        try:
            err_class = exc.getErrorClass()
        except Exception:
            err_class = None
        msg = str(exc)
        if err_class is not None:
            # class-bearing (3.3+) sessions are authoritative: never
            # consult message text, so a corrupt-table error that
            # merely EMBEDS a missing-path phrase re-raises (ADVICE
            # r12)
            if err_class in empty_log_classes:
                return spark.createDataFrame([], like_schema)
            raise
        if any(f"[{c}]" in msg for c in empty_log_classes):
            return spark.createDataFrame([], like_schema)
        # pre-3.3 classic sessions carry no error class and no
        # [CLASS] bracket — only the legacy message text (ADVICE r11).
        # Anchored to the canonical legacy forms (message STARTS with
        # the phrase), not a substring scan, so wrapped/nested errors
        # can't take this path (ADVICE r12)
        legacy_msgs = ("Path does not exist", "Unable to infer schema")
        if any(msg.startswith(m) for m in legacy_msgs):
            return spark.createDataFrame([], like_schema)
        raise
