"""Classic-vs-Connect capability shims (VERDICT r9 item 5).

Spark Connect sessions expose no ``sparkContext`` (no JVM handle, no
RDD view of a DataFrame), so the handful of classic-only calls the
engine uses are routed through this module with a Connect-safe
fallback each. Everything else the engine relies on —
``DataFrame.localCheckpoint`` included — is already in the Connect
API as of Spark 4 (``pyspark/sql/connect/dataframe.py``).

Fallback semantics, per capability:

- ``session_key(spark)``: classic ``applicationId``; Connect falls
  back to the client session id (or the Python object id as a last
  resort). Only ever used as a per-session cache-key component, so
  uniqueness within the process is the whole contract.
- ``broadcast_value(spark, value)``: classic wraps
  ``sparkContext.broadcast``; Connect returns a plain closure capture
  with the same ``.value`` surface. Closure capture re-ships the
  object per task batch instead of once per executor — fine for the
  ≤10 MB parameter/centroid payloads these call sites hold (the repo
  caps them; anything bigger should be a DataFrame join, not a
  broadcast variable).
- ``scan_partition_count(df, default)``: classic asks the RDD;
  Connect cannot (no ``df.rdd``), so it reports ``default``.
  Callers use this to decide whether to widen a SMALL scan
  (``ensure_min_parallelism``), so the Connect default of "assume
  wide enough" degrades to a no-op — correct on any real cluster
  where scans have many splits, and a bounded single-machine
  papercut in the local corner the probe exists for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def is_classic(spark: SparkSession) -> bool:
    """True when a JVM-backed SparkContext is reachable (classic
    PySpark); False under Spark Connect."""
    try:
        spark.sparkContext  # noqa: B018 — probe, raises on Connect
        return True
    except Exception:
        return False


def session_key(spark: SparkSession) -> str:
    """A stable per-session cache-key component."""
    try:
        return spark.sparkContext.applicationId
    except Exception:
        sid = getattr(getattr(spark, "client", None), "_session_id", None)
        return str(sid) if sid else f"session-{id(spark):x}"


class _ClosureCapture:
    """Connect-side stand-in for a Broadcast handle: same ``.value``
    read surface, lifecycle calls are no-ops (the capture lives in
    the serialized task closure and dies with it)."""

    __slots__ = ("value",)

    def __init__(self, value):
        self.value = value

    def unpersist(self, *_a, **_k):
        pass

    def destroy(self, *_a, **_k):
        pass


def broadcast_value(spark: SparkSession, value):
    """Executor-visible read-only handle for a small driver object:
    a real broadcast variable on classic, a closure capture under
    Connect. Call sites read ``.value`` inside their UDFs either way."""
    try:
        return spark.sparkContext.broadcast(value)
    except Exception:
        return _ClosureCapture(value)


def scan_partition_count(df: DataFrame, default: int) -> int:
    """Physical partition count of ``df``'s scan when the backend can
    answer (classic RDD probe); ``default`` under Connect."""
    try:
        return df.rdd.getNumPartitions()
    except Exception:
        return default


def plan_size_in_bytes(df: DataFrame, default: int) -> int:
    """The optimizer's size estimate for ``df`` (file bytes for a
    bare scan) when the backend exposes the JVM plan handle;
    ``default`` under Connect or on any introspection surprise. A
    SIZING hint only — callers must degrade gracefully (the
    streaming state-store partition derivation uses it with its
    measured gate-scale floor as the default)."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return default


def codegen_compile_count(spark: SparkSession) -> int | None:
    """How many generated classes this JVM has Janino-compiled so far
    (Spark's ``CodegenMetrics`` compile-time histogram count; in
    ``local[N]`` it covers the driver and every executor). ``None``
    under Connect, where there is no JVM handle. A delta around a query
    is its compile count: 0 when every class was in the codegen cache."""
    try:
        metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(metrics.METRIC_COMPILATION_TIME().getCount())
    except Exception:
        return None
