"""Spark Connect seam audit (VERDICT r9 item 5).

The engine must run under Spark Connect, where ``spark.sparkContext``
(and everything hanging off it: JVM handles, broadcast variables, the
RDD view of a DataFrame) does not exist. Every classic-only call is
routed through ``mindseye_dataframes_spark.compat`` (or a documented
local fallback); these tests pin that discipline three ways:

1. the shim functions exist and their Connect fallbacks work when the
   classic path is unavailable (simulated with a stub session);
2. the classic paths still work against the real local session;
3. a source grep proves no NEW classic-only call site appears outside
   the audited allow-list.
"""

from __future__ import annotations

import os
import re

import pytest

from mindseye_dataframes_spark.compat import (
    _ClosureCapture,
    broadcast_value,
    is_classic,
    scan_partition_count,
    session_key,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "mindseye_dataframes_spark")


class _NoContextSession:
    """Duck-typed stand-in for a Connect session: any sparkContext
    access raises, conf reads work."""

    class _Conf:
        def get(self, key, default=None):
            return {"spark.sql.shuffle.partitions": "17"}.get(key, default)

    conf = _Conf()

    @property
    def sparkContext(self):
        raise Exception("[NOT_IMPLEMENTED] sparkContext is not implemented.")


class _NoRddFrame:
    """DataFrame stand-in whose .rdd raises (the Connect behavior)."""

    @property
    def rdd(self):
        raise Exception("[NOT_IMPLEMENTED] rdd is not implemented.")


def test_is_classic_detects_both_backends(spark):
    assert is_classic(spark) is True
    assert is_classic(_NoContextSession()) is False


def test_session_key_classic_and_fallback(spark):
    assert session_key(spark) == spark.sparkContext.applicationId
    k = session_key(_NoContextSession())
    assert isinstance(k, str) and k  # unique-per-process is the contract


def test_broadcast_value_classic_and_fallback(spark):
    bc = broadcast_value(spark, {"w": [1.0, 2.0]})
    assert bc.value == {"w": [1.0, 2.0]}
    bc.unpersist()
    bc.destroy()
    cc = broadcast_value(_NoContextSession(), (1, 2, 3))
    assert isinstance(cc, _ClosureCapture) and cc.value == (1, 2, 3)
    cc.unpersist()
    cc.destroy()  # lifecycle no-ops must exist


def test_scan_partition_count_fallback():
    assert scan_partition_count(_NoRddFrame(), default=42) == 42


def test_default_parallelism_reads_conf_without_context():
    from mindseye_dataframes_spark.plans.parallelism import default_parallelism

    assert default_parallelism(_NoContextSession()) == 17


def test_scan_partitions_degrades_to_no_op_widening():
    """Under Connect (no JVM plan handle, no RDD) scan_partitions must
    report 'wide enough' so ensure_min_parallelism adds no shuffle."""
    from mindseye_dataframes_spark.plans.parallelism import scan_partitions

    class _Frame(_NoRddFrame):
        sparkSession = _NoContextSession()

        @property
        def _jdf(self):
            raise Exception("[NOT_IMPLEMENTED]")

    assert scan_partitions(_Frame()) == 17


def test_hadoop_lister_raises_actionable_error_without_jvm():
    from mindseye_dataframes_spark.sources.bucketing import hadoop_lister

    lister = hadoop_lister(_NoContextSession())
    with pytest.raises(RuntimeError, match="connect_lister"):
        lister("/tmp")


def test_connect_lister_matches_local_lister(spark, tmp_path):
    """The binaryFile-backed lister and the local walk must agree on
    (relative name, size) — the fingerprint-relevant fields."""
    from mindseye_dataframes_spark.sources.bucketing import (
        _local_lister,
        connect_lister,
    )

    d = tmp_path / "ds"
    (d / "sub").mkdir(parents=True)
    (d / "a.bin").write_bytes(b"x" * 10)
    (d / "sub" / "b.bin").write_bytes(b"y" * 20)
    got = sorted((n, s) for n, s, _v in connect_lister(spark)(str(d)))
    want = sorted((n, s) for n, s, _v in _local_lister(str(d)))
    assert got == want == [("a.bin", 10), (os.path.join("sub", "b.bin"), 20)]


ALLOWED_CLASSIC_SITES = {
    # the shim itself
    "compat.py",
    # classic fast paths with in-function Connect fallbacks (tested
    # above): default_parallelism, scan_partitions
    "plans/parallelism.py",
    # two guarded JVM-plan-introspection fast paths (_rescan_cheap →
    # False, _common_source_keys → generic path, both on ANY
    # exception); the boundary-cache key's _jdf touch was retired in
    # r11 for public df.semanticHash() (VERDICT r10 item 7)
    "operators/zip_frames.py",
    # hadoop_lister raises an actionable error pointing at
    # connect_lister; session.py's log-muting is try/excepted cosmetic
    "sources/bucketing.py",
    "session.py",
    # the measurement record reads the status store only when
    # is_classic; under Connect it times the run and calls no JVM
    # (tests/test_measure.py)
    "measure.py",
}

_CLASSIC_PATTERNS = re.compile(
    r"sparkContext\.|\.rdd\.getNumPartitions|\._jvm\b|\._jsc\b|\._jdf\b"
)


def test_no_unaudited_classic_only_call_sites():
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            if rel in ALLOWED_CLASSIC_SITES:
                continue
            for i, line in enumerate(open(path, encoding="utf-8"), 1):
                stripped = line.strip()
                if stripped.startswith("#"):
                    continue
                if _CLASSIC_PATTERNS.search(line):
                    offenders.append(f"{rel}:{i}: {stripped[:80]}")
    assert not offenders, (
        "classic-only Spark API outside the audited shim sites — route "
        "through mindseye_dataframes_spark.compat:\n" + "\n".join(offenders)
    )
