"""The session factory's settings, checked on the shared test session."""

from __future__ import annotations

import os
import sys

import pytest

from mindseye_dataframes_spark.measure import passes
from mindseye_dataframes_spark.queries import load_all
from mindseye_dataframes_spark.session import CODEGEN_CACHE_MAX_ENTRIES


def test_warm_headline_pass_compiles_nothing(spark, sf_dir):
    """A headline pass touches ~150 generated classes. With Spark's
    default 100-entry codegen cache every pass evicted them all and the
    next pass Janino-compiled ~150 again.

    The cold pass fills the cache, so a warm pass must compile
    nothing. That also needs one executed plan per query: a join whose
    build side AQE picks by which branch finishes first runs a second
    plan variant on some pass and compiles its classes then (q13's
    final zip join, without its join hint). So each query must show
    one final-plan fingerprint across all three passes. The queries run
    at sf0.01, the scale the oracles are checked at."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )
    headline = {n: q for n, q in sorted(load_all().items()) if q.bench}
    assert len(headline) == 8
    gate_sf_dir = os.path.join(os.path.dirname(sf_dir), "sf0.01")

    runs = passes(spark, headline, gate_sf_dir, 3)
    compiled = {n: [r.codegen_compiles for r in recs] for n, recs in runs.items()}
    plans = {n: {r.plan for r in recs} for n, recs in runs.items()}
    assert not any(any(c[1:]) for c in compiled.values()), f"compiles per pass: {compiled}"
    assert all(len(p) == 1 for p in plans.values()), f"plan fingerprints: {plans}"


def _zip_cache_probe(batches):
    """Inside a worker: after the package import, does
    ``importlib.invalidate_caches()`` keep every cached zip directory,
    and does it still pick up a member added to a rewritten archive?"""
    import importlib
    import os
    import tempfile
    import uuid
    import zipfile
    import zipimport

    import pandas as pd

    import mindseye_dataframes_spark  # noqa: F401 — installs the stamp

    for _ in batches:
        pass
    importlib.invalidate_caches()
    before = {k: id(v) for k, v in zipimport._zip_directory_cache.items()}
    importlib.invalidate_caches()
    kept = bool(before) and all(
        id(zipimport._zip_directory_cache.get(k)) == v for k, v in before.items()
    )

    name = f"zipstamp_{uuid.uuid4().hex}"
    archive = os.path.join(tempfile.mkdtemp(), "probe.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}_a.py", "A = 1\n")
    sys.path.insert(0, archive)
    try:
        importlib.import_module(f"{name}_a")
        importlib.invalidate_caches()  # stamps the new importer
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{name}_a.py", "A = 1\n")
            z.writestr(f"{name}_b.py", "B = 2\n")
        importlib.invalidate_caches()
        reloaded = importlib.import_module(f"{name}_b").B == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for mod in (f"{name}_a", f"{name}_b"):
            sys.modules.pop(mod, None)
        os.remove(archive)
        os.rmdir(os.path.dirname(archive))
    yield pd.DataFrame({"kept": [kept], "reloaded": [reloaded]})


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport reads lazily from 3.13 (gh-103200)"
)
def test_worker_keeps_unchanged_zip_directories(spark):
    """Every Python UDF task calls ``importlib.invalidate_caches()``.
    Before 3.13 that re-read the central directory of each zip on the
    path (``pyspark.zip``, the spark-core jar) once per zipimporter,
    ~0.25 CPU-s per task. With the package
    imported, a second call keeps every cached directory, yet an archive
    rewritten in between is re-read. Each of two tasks must see both."""
    df = spark.range(1, numPartitions=1)
    for _ in range(2):
        (row,) = df.mapInPandas(_zip_cache_probe, "kept boolean, reloaded boolean").collect()
    assert row["kept"], "invalidate_caches re-read an unchanged zip archive"
    assert row["reloaded"], "a rewritten zip archive was not re-read"
