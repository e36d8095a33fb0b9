"""Regression tests for the code-review findings: parameter-table
roundtrip completeness, driver/executor key-rendering parity, as-of
payload atomicity, salted-join how restriction, ANN empty corpus."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mindseye_dataframes_spark.featurize import (
    CategorizingStrategy,
    DataframeModeler,
    HashedBucketStrategy,
    ModelContext,
    ModelingStrategy,
)
from mindseye_dataframes_spark.featurize.layers import mlp
from mindseye_dataframes_spark.operators.asof import asof_join
from mindseye_dataframes_spark.operators.similarity import ann_topk_lsh
from mindseye_dataframes_spark.operators.skew import salted_join


def test_context_roundtrip_preserves_stats_and_frozen(spark, tmp_path):
    """A loaded model must run numeric-channel inference and keep
    one-hot labels frozen (previously stats/frozen were dropped)."""
    rows = [("a", 1.0, "X"), ("b", 2.0, "Y"), ("a", 3.0, "X")]
    df = spark.createDataFrame(rows, "cat string, x double, label string")
    strategy = CategorizingStrategy(
        "label", categories=2, value_index={"X": 0, "Y": 1}, default_size=4
    )
    modeler = DataframeModeler(strategy)
    modeler.init_keys(df, "label")
    path = str(tmp_path / "model")
    modeler.context.save(spark, path)

    back = ModelContext.load(spark, path)
    assert back.stats == modeler.context.stats
    assert back.frozen == modeler.context.frozen and back.frozen

    # inference through the LOADED context (guard skips init_keys) —
    # previously a KeyError on stats inside mapInPandas
    m2 = DataframeModeler(strategy, back)
    out = m2.eval_to_dataframe(df.drop("label"), "f").collect()
    assert len(out) == 3 and len(out[0]["f"]) == 4


def test_boolean_and_nullable_int_channel_keys(spark):
    """Executor-side key rendering must match Spark's CAST(x AS STRING):
    booleans are 'true'/'false', nullable ints have no '.0', nulls
    contribute a zero vector (previously 'True'/'7.0'/'nan' keys
    silently missed the dictionary)."""
    df = spark.createDataFrame(
        [(0, True, 7), (1, False, None), (2, True, None)],
        "rid long, flag boolean, code int",
    )
    feat_cols = df.drop("rid")
    modeler = DataframeModeler(ModelingStrategy(default_size=4))
    modeler.init_keys(feat_cols)
    reps = modeler.context.representations
    assert "flag=true" in reps and "flag=false" in reps
    assert "code=7" in reps
    assert not any("True" in k or ".0" in k or "nan" in k.lower() for k in reps)

    out = {
        r["rid"]: np.array(r["f"])
        for r in modeler.eval_to_dataframe(df, "f", passthrough=["rid"]).collect()
    }
    # row 1 (False, None): flag embedding only — null code contributes zero
    assert np.allclose(out[1], reps["flag=false"], atol=1e-12)
    # row 0 (True, 7): both embeddings sum
    assert np.allclose(out[0], reps["flag=true"] + reps["code=7"], atol=1e-12)


def test_null_labels_dropped_in_eval(spark):
    df = spark.createDataFrame(
        [("a", 1.0, "X"), ("b", 2.0, None), ("a", 3.0, "Y")],
        "cat string, x double, label string",
    )
    strategy = CategorizingStrategy(
        "label", categories=2, value_index={"X": 0, "Y": 1}, default_size=4
    )
    modeler = DataframeModeler(strategy)
    modeler.init_keys(df, "label")
    net = mlp("m", 4, [5], 2)
    for k, v in net.init_params().items():
        modeler.context.layers[k] = v
    loss, grads = modeler.eval(df, net, "label")  # must not raise on null label
    assert np.isfinite(loss)


def test_hashed_strategy_needs_no_value_discovery(spark):
    """enumerate_keys path: the dictionary exists a priori — no
    distinct-value collect (previously defeated the bound)."""
    strategy = HashedBucketStrategy(n_buckets=8, default_size=4)
    assert len(strategy.enumerate_keys("user")) == 8
    df = spark.createDataFrame([(i, f"u{i}") for i in range(50)], "id long, user string")
    modeler = DataframeModeler(strategy)
    modeler.init_keys(df)
    assert len(modeler.context.representations) == 16  # 8 buckets × 2 paths


def test_asof_payload_fills_atomically(spark):
    """A NULL field in the most recent right row must NOT be backfilled
    from an older row — the payload is one real row."""
    left = spark.createDataFrame([(1, 10)], "k int, lts int")
    right = spark.createDataFrame(
        [(1, 1, 1.0, 2.0), (1, 2, None, 5.0)], "k int, rts int, a double, b double"
    )
    out = asof_join(left, right, ["k"], "lts", "rts", ["a", "b"]).collect()
    assert len(out) == 1
    assert out[0]["a"] is None and out[0]["b"] == 5.0  # the ts=2 row, verbatim


def test_salted_join_rejects_right_outer():
    with pytest.raises(ValueError, match="swap the sides"):
        salted_join(None, None, ["k"], how="full_outer")
    with pytest.raises(ValueError):
        salted_join(None, None, ["k"], how="right")


def test_ann_empty_corpus_returns_empty(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.limit(3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    empty = emb.filter("vec_id < 0").select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("cv")
    )
    out = ann_topk_lsh(queries, empty, "qid", "qv", "nid", "cv", k=3)
    assert out.count() == 0
    assert out.columns == ["qid", "rank", "nid", "cos_r"]


def test_nanos_parquet_compat_matches_duckdb(spark, tmp_path):
    """ADVICE r2: the TIMESTAMP(NANOS) compat path in `_load_table` must
    agree with DuckDB on pre-1970 non-µs-aligned values.

    DuckDB truncates nanos→micros toward zero (-999ns → 0µs); Spark's
    native NANOS reader floors (-999ns → -1µs). The legacy-int64 path is
    the only one we control, so it truncates to match DuckDB. A tz-naive
    NANOS file exercises that path (this Spark build rejects it
    natively, falling through to the legacy conf)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mindseye_dataframes_spark.sources.readers import _load_table

    nanos = [-1_500_001_234, -999, 999, 1_500_001_234]
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4], pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
        }
    )
    path = tmp_path / "events.parquet"
    pq.write_table(table, str(path))

    oracle = dict(
        duckdb.sql(
            f"select event_id, epoch_us(ts) from '{path}' order by event_id"
        ).fetchall()
    )
    df = _load_table(spark, str(tmp_path), "events")
    got = {
        r["event_id"]: r["us"]
        for r in df.select(
            "event_id", F.unix_micros(F.col("ts")).alias("us")
        ).collect()
    }
    assert got == oracle  # {1: -1500001, 2: 0, 3: 0, 4: 1500001}


def test_missing_parquet_raises_immediately(spark, tmp_path):
    """ADVICE r2: a missing events file must surface the real error, not
    be silently retried under the legacy nanos conf."""
    from mindseye_dataframes_spark.sources.readers import _load_table

    with pytest.raises(Exception) as exc_info:
        _load_table(spark, str(tmp_path / "nope"), "events")
    assert "NANOS" not in str(exc_info.value)


def test_merge_upsert_semantics(spark):
    """keep/update/insert markers; update columns subset of base —
    missing columns inherit base values; bad columns rejected."""
    from mindseye_dataframes_spark.operators.merge import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    upd = spark.createDataFrame(
        [(2, 99.0), (4, 40.0)], "k long, v double"  # no 'name' column
    )
    out = {r["k"]: r for r in merge_upsert(base, upd, ["k"]).collect()}
    assert out[1]["action"] == "keep" and out[1]["v"] == 10.0
    assert out[2]["action"] == "update" and out[2]["v"] == 99.0
    assert out[2]["name"] == "b"  # inherited from base
    assert out[4]["action"] == "insert" and out[4]["name"] is None

    import pytest as _pytest

    bad = spark.createDataFrame([(1, 2.0)], "k long, nope double")
    with _pytest.raises(ValueError):
        merge_upsert(base, bad, ["k"])


def test_expectations_fail_and_single_pass(spark):
    """A violated check must report passed=False with the violation
    count; all checks compile into ONE aggregate (no per-check jobs)."""
    from mindseye_dataframes_spark.operators.expectations import (
        check_in_range,
        check_min_rows,
        check_unique,
        run_checks,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (1, 50.0), (2, -3.0)], "k long, v double"
    )
    out = run_checks(
        df, [check_min_rows(10), check_unique("k"), check_in_range("v", 0, 10)]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one pass over the input: a single scan feeding one aggregate
    # (the post-agg exchanges move O(n_checks) rows, not data)
    assert plan.count("Scan") == 1
    rows = {r["check"]: r for r in out.collect()}
    assert rows["min_rows"]["passed"] is False and rows["min_rows"]["observed"] == 3
    assert rows["unique:k"]["passed"] is False and rows["unique:k"]["observed"] == 1
    assert rows["in_range:v"]["passed"] is False and rows["in_range:v"]["observed"] == 2


def test_tuple_rank_no_id_ceiling(spark):
    """VERDICT r3: the q115/q89 survivor rank must stay collision-free
    for doc_id far beyond the old integer-rank's 100000 ceiling. The
    padded-string tuple rank orders by (n_chars, doc_id) for any int64,
    and Spark max_by agrees with DuckDB arg_max on the same encoding."""
    import duckdb

    from mindseye_dataframes_spark.functions.exact import (
        oracle_tuple_rank,
        tuple_rank,
    )

    # doc_id >> 100000: with the old rank (n_chars*100000 + doc_id) the
    # huge id of the SHORTER doc (10 chars, id 7e10) would beat the
    # longer doc (500 chars, id 3); the tuple rank must pick id 3.
    rows = [
        (3, 500, "g"),
        (70_000_000_000, 10, "g"),
        (9_223_372_036_854, 500, "g"),  # tie on n_chars -> higher id wins
        (5, 7, "h"),
        (100_001, 7, "h"),  # tie on n_chars, id past old ceiling
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long, grp string")
    got = {
        r["grp"]: r["survivor"]
        for r in df.groupBy("grp")
        .agg(F.max_by("doc_id", tuple_rank("n_chars", "doc_id")).alias("survivor"))
        .collect()
    }
    assert got == {"g": 9_223_372_036_854, "h": 100_001}

    con = duckdb.connect()
    vals = ", ".join(f"({i}, {c})" for i, c in [(r[0], r[1]) for r in rows[:3]])
    (oracle_survivor,) = con.execute(
        f"SELECT arg_max(doc_id, {oracle_tuple_rank('n_chars', 'doc_id')}) "
        f"FROM (VALUES {vals}) t(doc_id, n_chars)"
    ).fetchone()
    assert oracle_survivor == 9_223_372_036_854


def test_exact_decimal_ties_round_away_from_zero_in_both_engines(spark):
    """A double can be an exact tie at the target scale: 0.03125 at 4
    decimals, 0.125 at 2. Spark's casts and ``cents`` round each away
    from zero, as DuckDB's casts and ROUND do (functions/exact.py)."""
    import duckdb

    from mindseye_dataframes_spark.functions.exact import cents, dec

    ties = [0.03125, -0.03125, 0.125, -0.125]
    df = spark.createDataFrame(list(enumerate(ties)), "i int, x double")
    got = [
        tuple(r)[1:]
        for r in df.select("i", dec("x"), dec("x", scale=2), cents("x")).orderBy("i").collect()
    ]
    want = duckdb.sql(
        "SELECT CAST(x AS DECIMAL(18,4)), CAST(x AS DECIMAL(18,2)), "
        "CAST(ROUND(x * 100) AS BIGINT) "
        f"FROM (VALUES {', '.join(f'({i}, {t}::DOUBLE)' for i, t in enumerate(ties))}) t(i, x) "
        "ORDER BY i"
    ).fetchall()
    assert got == want
    assert [str(r[0]) for r in got] == ["0.0313", "-0.0313", "0.1250", "-0.1250"]
    assert [(str(r[1]), r[2]) for r in got] == [
        ("0.03", 3), ("-0.03", -3), ("0.13", 13), ("-0.13", -13)
    ]


def test_asof_tolerance_nulls_stale_matches(spark):
    """tolerance_seconds must null the payload when the matched right
    row is older than the bound — exactly as if no row preceded — and
    leave fresh matches untouched."""
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 12:00:00")],
        "id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(10, "2024-01-01 09:59:00", "x")],
        "rid long, rts string, tag string",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    left = left.withColumn("k", F.lit(1))
    right = right.withColumn("k", F.lit(1))
    out = {
        r["id"]: (r["tag"], r["rid"])
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts",
            payload=["tag", "rid"], tolerance_seconds=120,
        ).collect()
    }
    assert out[1] == ("x", 10)        # 60s old: within tolerance
    assert out[2] == (None, None)     # 2h old: stale -> all-null payload


def test_pq_train_rejects_indivisible_dim(spark):
    from mindseye_dataframes_spark.operators.pq import pq_train

    df = spark.createDataFrame([(0, [0.0] * 10)], "id long, v array<float>")
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, "id", "v", dim=10, m=4)


def test_merge_upsert_rejects_unknown_update_columns(spark):
    from mindseye_dataframes_spark.operators.merge import merge_upsert

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    upd = spark.createDataFrame([(1, "b", 9)], "k long, v string, extra long")
    with pytest.raises(ValueError, match="extra"):
        merge_upsert(base, upd, on=["k"])


def test_read_log_or_empty_missing_and_present(spark, tmp_path):
    """ADVICE r9: a drained stream over an EMPTY delta leaves the
    foreachBatch log path unwritten; the post-drain read must yield an
    empty frame with the expected schema (base-only results), not an
    AnalysisException — and must be a plain read when batches exist."""
    from pyspark.sql import types as T

    from mindseye_dataframes_spark.sources.staging import read_log_or_empty

    schema = T.StructType(
        [
            T.StructField("token", T.StringType()),
            T.StructField("tf", T.LongType()),
        ]
    )
    missing = read_log_or_empty(spark, str(tmp_path / "never_written"), schema)
    assert missing.count() == 0
    assert missing.schema == schema

    log = str(tmp_path / "log")
    spark.createDataFrame([("a", 3)], schema).write.parquet(f"{log}/batch=0")
    present = read_log_or_empty(spark, log, schema)
    assert {r["token"]: r["tf"] for r in present.collect()} == {"a": 3}


def test_read_log_or_empty_corrupt_log_reraises(spark, tmp_path):
    """ADVICE r10/r12: only errors that MEAN "no batches yet" map to
    base-only; a log directory that EXISTS but holds a corrupt parquet
    footer must fail loudly, even if some layer's message were to
    embed a missing-path phrase — the class-bearing branch never
    consults message text."""
    import pytest
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    from mindseye_dataframes_spark.sources.staging import read_log_or_empty

    schema = T.StructType([T.StructField("token", T.StringType())])
    log = tmp_path / "log"
    log.mkdir()
    (log / "part-00000.parquet").write_bytes(b"not a parquet file at all")
    with pytest.raises(Exception) as exc_info:
        read_log_or_empty(spark, str(log), schema).collect()
    assert not isinstance(exc_info.value, AssertionError)
