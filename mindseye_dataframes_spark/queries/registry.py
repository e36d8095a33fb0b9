"""Query registry: name → (spark callable, duckdb oracle SQL, tags)."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "Query"] = {}


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None  # ANSI SQL for the DuckDB oracle; None → rows-only check
    tags: tuple[str, ...] = ()
    bench: bool = False  # include in bench.py's headline set
    # Opt-in spec for queries whose OUTPUT outgrows a driver collect at
    # big SF (q120's ~6.5e8 pairs at sf1 die on maxResultSize AND
    # poison the session for subsequent queries): when the result
    # exceeds threshold_rows, the sweep harness compares order-
    # insensitive aggregates computed INSIDE each engine instead of
    # collecting — exact cardinality, the summed metric column, and a
    # SUM over per-row 2^32-bucket md5 digests (any changed/missing/
    # extra row moves it; n·2^32 < 2^63 keeps the BIGINT sum exact for
    # n < 2^31 rows). Columns must be non-null int/string. Below the
    # threshold the standard exact value compare runs unchanged — the
    # driver's sf0.01 gate never engages this. Run by
    # tests/helpers.py:assert_matches_oracle_bounded, reached from
    # tools/parity_sweep.py.
    # {"cols": [...], "metric": "...", "threshold_rows": int}
    bounded_compare: dict | None = None


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    bounded_compare: dict | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Register a query. ``oracle`` must alias every computed column to
    the same name the Spark DataFrame uses (driver hashes by column name)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(
            name=name, fn=fn, oracle=oracle, tags=tags, bench=bench,
            bounded_compare=bounded_compare,
        )
        return fn

    return deco
