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

One shim acts on the Python worker rather than the session:
``stamp_zip_reloads()`` (below) stops each UDF task from re-reading
the directories of the zips on the worker's path on CPython < 3.13.
"""

from __future__ import annotations

import os
import sys

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


def stamp_zip_reloads() -> None:
    """Inside a PySpark worker on CPython < 3.13, make
    ``zipimporter.invalidate_caches`` re-read an archive only when its
    file has changed since this importer last read it.

    Every Python UDF task calls ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``). Before 3.13 (gh-103200)
    each ``zipimporter`` on the path then re-reads its archive's whole
    central directory. A Spark 4.1 worker has 16: 12 into
    ``pyspark.zip`` (1,328 entries), 2 into the spark-core jar (5,359)
    and 2 into py4j's zip, ~27,000 entries and ~0.25 CPU-s per task
    before the UDF runs. The stamp is ``(st_mtime_ns, st_size, st_ino)``,
    taken before the read, so a rewrite during the read re-reads again
    next time. The driver and other processes are left as they are."""
    if sys.version_info >= (3, 13) or "pyspark.worker" not in sys.modules:
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            reread(self)
            self._archive_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
