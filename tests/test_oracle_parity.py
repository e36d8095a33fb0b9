"""Driver-style correctness gate: every registered query with an
oracle must match DuckDB exactly at the test scale factor."""

from __future__ import annotations

import pytest

from mindseye_dataframes_spark.queries import load_all
from tests.helpers import assert_matches_oracle

REGISTRY = load_all()
ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, sf_dir, name):
    q = REGISTRY[name]
    assert_matches_oracle(q.fn(spark, sf_dir), q.oracle, sf_dir, name=name)


def test_rows_only_queries_run(spark, sf_dir):
    """Queries without an oracle still must execute and return a schema."""
    for name, q in REGISTRY.items():
        if q.oracle is None:
            df = q.fn(spark, sf_dir)
            assert df.columns, name
            assert df.count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_bounded_compare_engages_and_matches(spark, sf_dir):
    """The opt-in bounded-aggregate comparison (Query.bounded_compare)
    must (a) reproduce the exact compare's verdict on q120 when forced
    to engage via a tiny threshold — the aggregates are engine-equal
    at every sf because the underlying relation is — and (b) catch a
    tampered result: dropping one row moves the cardinality AND the
    order-insensitive checksum, so the assertion fires. This is the
    r12 harness upgrade that turns q120's sf1 row from a documented
    maxResultSize kill (which also poisoned the session for the
    queries swept after it, r8) into a real value-verified green."""
    q = REGISTRY["q120_simhash_hamming_pairs"]
    assert q.bounded_compare is not None
    spec = dict(q.bounded_compare, threshold_rows=1)  # force-engage
    df = q.fn(spark, sf_dir)
    assert_matches_oracle(df, q.oracle, sf_dir, name="q120", bounded=spec)

    n = df.count()
    tampered = df.limit(n - 1)
    with pytest.raises(AssertionError, match="bounded aggregates differ"):
        assert_matches_oracle(
            tampered, q.oracle, sf_dir, name="q120", bounded=spec
        )


def test_bounded_compare_stays_exact_below_threshold(spark, sf_dir):
    """Below threshold_rows the standard exact value compare must run
    (the driver's sf0.01 gate never sees the bounded path): a tampered
    result that keeps count+sum+checksum-sensitive columns intact in
    AGGREGATE but permutes values across rows would only be caught by
    the exact compare — verify the exact path is the one engaged by
    checking a row-level value mismatch is reported as 'rows differ',
    not 'bounded aggregates differ'."""
    import pyspark.sql.functions as F

    q = REGISTRY["q120_simhash_hamming_pairs"]
    df = q.fn(spark, sf_dir)
    # swap the pair orientation on one row: aggregate-invariant for
    # count, but row-level different
    tampered = df.select(
        F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "hamming"
    )
    with pytest.raises(AssertionError, match="rows differ"):
        assert_matches_oracle(
            tampered, q.oracle, sf_dir, name="q120",
            bounded=q.bounded_compare,  # real threshold: stays exact
        )
    # the same real relation and oracle with the threshold at 0 take
    # the aggregate-checksum path
    spec = dict(q.bounded_compare, threshold_rows=0)
    assert assert_matches_oracle(
        df, q.oracle, sf_dir, name="q120", bounded=spec
    ) == "bounded"


def test_bounded_compare_refuses_unsafe_order_by_strip(spark, sf_dir):
    """ADVICE r12: the bounded path strips the oracle's trailing
    ORDER BY before aggregating — sound only for a bare OUTER sort. An
    oracle ending in 'ORDER BY ... LIMIT n', or whose last ORDER BY
    sits inside a subquery, would aggregate a DIFFERENT relation, so
    the helper must refuse instead of green-lighting."""
    from tests.helpers import assert_matches_oracle_bounded

    df = spark.createDataFrame([(1, 2, 0)], "id_a long, id_b long, hamming long")
    spec = {"cols": ["id_a", "id_b", "hamming"], "metric": "hamming"}
    agg = (1, 0, 0, 0)
    with pytest.raises(AssertionError, match="order-free oracle form"):
        assert_matches_oracle_bounded(
            df,
            "SELECT 1 AS id_a, 2 AS id_b, 0 AS hamming ORDER BY id_a LIMIT 5",
            sf_dir, spec, name="limit-case", spark_agg=agg,
        )
    with pytest.raises(AssertionError, match="order-free oracle form"):
        assert_matches_oracle_bounded(
            df,
            "SELECT * FROM (SELECT 1 AS id_a, 2 AS id_b, 0 AS hamming"
            " ORDER BY id_a)",
            sf_dir, spec, name="subquery-case", spark_agg=agg,
        )


def test_guard_spec_auto_engages_and_refuses(spark, sf_dir):
    """VERDICT r12 item 4: the sweep's generic large-result guard.
    A query with an all-int/string result above the guard threshold
    must auto-derive a bounded spec and verify via the aggregate
    path; a result whose schema can't be digested engine-stably
    (floats) must REFUSE before any collect; small results stay on
    the exact path."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from parity_sweep import derived_guard_spec

    import pyspark.sql.functions as F

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    oracle = (
        "SELECT CAST(range AS BIGINT) AS k, CAST(range * 2 AS BIGINT) AS v"
        " FROM range(100)"
    )
    # above threshold → auto-derived digest spec engages
    spec = derived_guard_spec(df, guard_rows=10, name="synthetic")
    assert spec["cols"] == ["k", "v"] and spec["metric"] == "k"
    assert assert_matches_oracle(df, oracle, sf_dir, bounded=spec) == "bounded"
    # below threshold → exact path unaffected
    spec_big = derived_guard_spec(df, guard_rows=10_000, name="synthetic")
    assert assert_matches_oracle(df, oracle, sf_dir, bounded=spec_big) == "exact"
    # non-digestable schema above threshold → refuse, no collect
    dff = df.withColumn("f", F.col("k") / 3.0)
    spec_f = derived_guard_spec(dff, guard_rows=10, name="synthetic")
    assert spec_f.get("refuse")
    with pytest.raises(AssertionError, match="register a bounded_compare spec"):
        assert_matches_oracle(
            dff, oracle + " -- wide", sf_dir, bounded=spec_f
        )
    # and BELOW threshold a refuse-spec falls through to exact
    spec_f_big = derived_guard_spec(dff, guard_rows=10_000, name="synthetic")
    oracle_f = (
        "SELECT CAST(range AS BIGINT) AS k, CAST(range * 2 AS BIGINT) AS v,"
        " CAST(range AS BIGINT) / 3.0 AS f FROM range(100)"
    )
    assert (
        assert_matches_oracle(dff, oracle_f, sf_dir, bounded=spec_f_big)
        == "exact"
    )
