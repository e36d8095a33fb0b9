"""Featurization + training tests (SURVEY §5.2: seeded parity vs
numpy on tiny frames; training smoke = loss strictly decreases)."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mindseye_dataframes_spark.featurize import (
    CategorizingStrategy,
    DataframeModeler,
    ModelContext,
    ModelingStrategy,
)
from mindseye_dataframes_spark.featurize import modeler as modeler_module
from mindseye_dataframes_spark.featurize.modeler import Channel
from mindseye_dataframes_spark.featurize.strategy import HashedBucketStrategy
from mindseye_dataframes_spark.featurize.layers import Dense, Network, ReLU, mlp
from mindseye_dataframes_spark.functions.hashing import (
    hmac_sha1_seed,
    name_uuid,
    seeded_unit_rms_tensor,
)
from mindseye_dataframes_spark.measure import last_plan_description, record


def test_name_uuid_matches_java_scheme():
    # UUID.nameUUIDFromBytes("hello".getBytes("UTF-8")) in Java
    assert name_uuid("hello") == "5d41402a-bc4b-3a76-b971-9d911017c592"


def test_seeded_tensor_deterministic_unit_rms():
    a = seeded_unit_rms_tensor("some/key=v", 10)
    b = seeded_unit_rms_tensor("some/key=v", 10)
    assert np.array_equal(a, b)
    assert abs(np.sqrt(np.mean(a**2)) - 1.0) < 1e-12
    assert hmac_sha1_seed("k1") != hmac_sha1_seed("k2")


def test_schema_recursion_channels(spark):
    df = spark.createDataFrame(
        [(1, "x", 2.0, (3, 4.0))],
        "i int, s string, d double, st struct<a:int, b:double>",
    )
    modeler = DataframeModeler(ModelingStrategy(default_size=4))
    chans = {c.path: (c.kind, c.col) for c in modeler.channels(df.schema)}
    assert chans == {
        "i": ("categorical", "i"),
        "s": ("categorical", "s"),
        "d": ("numeric", "d"),
        "st/a": ("categorical", "st.a"),
        "st/b": ("numeric", "st.b"),
    }


def test_featurize_matches_numpy(spark):
    """F1+F2+F3 parity: summed features equal a hand computation."""
    rows = [("a", 1.0), ("b", 2.0), ("a", 3.0)]
    df = spark.createDataFrame(rows, "cat string, x double")
    strategy = ModelingStrategy(default_size=4, mapping_power=2)
    modeler = DataframeModeler(strategy)
    modeler.init_keys(df)
    out = (
        modeler.eval_to_dataframe(df, "f")
        .select("f")
        .toPandas()["f"]
        .map(np.array)
    )

    xs = np.array([1.0, 2.0, 3.0])
    mean, std = xs.mean(), xs.std()
    ctx = modeler.context
    w = ctx.transforms["transform/x"]
    for i, (cat, x) in enumerate(rows):
        z = (x - mean) / std
        expect = ctx.representations[f"cat={cat}"] + np.array([1.0, z]) @ w
        assert np.allclose(out[i], expect, atol=1e-9), i
    assert abs(ctx.stats["x"][1] - mean) < 1e-9
    assert abs(ctx.stats["x"][2] - std) < 1e-9


def test_one_hot_strategy():
    s = CategorizingStrategy("label", categories=3, base=1)
    assert np.array_equal(s.initial_representation("label=2"), [0, 1, 0])
    assert s.is_frozen("label=2")
    assert not s.is_frozen("other=2")
    vi = {"R": 0, "A": 1, "N": 2}
    s2 = CategorizingStrategy("flag", categories=3, value_index=vi)
    assert np.array_equal(s2.initial_representation("flag=A"), [0, 1, 0])


def test_network_gradcheck():
    """Analytic vs numerical gradients on a tiny MLP."""
    net = mlp("t", 4, [5], 3)
    params = net.init_params()
    rng = np.random.default_rng(0)
    x = rng.standard_normal((6, 4))
    target = np.eye(3)[rng.integers(0, 3, 6)]
    loss, grads, _ = net.loss_and_grads(params, x, target)
    eps = 1e-6
    for key in grads:
        flat = params[key].ravel()
        for idx in [0, flat.size // 2, flat.size - 1]:
            orig = flat[idx]
            flat[idx] = orig + eps
            lp, _, _ = net.loss_and_grads(params, x, target)
            flat[idx] = orig - eps
            lm, _, _ = net.loss_and_grads(params, x, target)
            flat[idx] = orig
            num = (lp - lm) / (2 * eps)
            assert abs(num - grads[key].ravel()[idx]) < 1e-4, (key, idx)


def test_eval_distributed_matches_local(spark):
    """Distributed eval (mapInPandas + grouped merge) equals a local
    numpy computation of the same loss/gradients."""
    rows = [("a", 1.0, "X"), ("b", 2.0, "Y"), ("a", 3.0, "X"), ("b", 4.0, "Y")]
    df = spark.createDataFrame(rows, "cat string, x double, label string").repartition(3)
    strategy = CategorizingStrategy(
        "label", categories=2, value_index={"X": 0, "Y": 1}, default_size=4
    )
    modeler = DataframeModeler(strategy)
    modeler.init_keys(df, "label")
    net = mlp("m", 4, [6], 2)
    for k, v in net.init_params().items():
        modeler.context.layers[k] = v

    loss, grads = modeler.eval(df, net, "label")

    # local recomputation
    ctx = modeler.context
    params = ctx.all_params()
    xs = np.array([r[1] for r in rows])
    mean, std = ctx.stats["x"][1], ctx.stats["x"][2]
    feats = np.stack([np.ones(4), (xs - mean) / std], axis=1)
    x_in = np.stack([params[f"cat={r[0]}"] for r in rows]) + feats @ params["transform/x"]
    target = np.stack([params[f"label={r[2]}"] for r in rows])
    loss_l, grads_l, gx = net.loss_and_grads(params, x_in, target)

    assert abs(loss - loss_l) < 1e-9
    for key, g in grads_l.items():
        assert np.allclose(grads[key], g, atol=1e-9), key
    # embedding grads: routed per categorical value
    for v, idx in (("a", [0, 2]), ("b", [1, 3])):
        assert np.allclose(grads[f"cat={v}"], gx[idx].sum(axis=0), atol=1e-9)
    assert np.allclose(grads["transform/x"], feats.T @ gx, atol=1e-9)


def test_training_loss_decreases(spark):
    """M4 smoke (SURVEY §5.2): loss strictly decreases over iterations
    on a covtype-like synthetic task."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_returnflag"
    )
    strategy = CategorizingStrategy(
        "l_returnflag",
        categories=3,
        value_index={"A": 0, "N": 1, "R": 2},
        default_size=8,
    )
    modeler = DataframeModeler(strategy)
    net = mlp("clf", 8, [16], 3)
    losses = modeler.fit(
        li, net, "l_returnflag", fractions=[0.5], max_iters=4, lr=0.5, seed=1
    )
    assert len(losses) == 4
    assert losses[-1] < losses[0], losses


def test_missing_label_fails_before_any_spark_job(spark):
    """A misspelled label is a ValueError naming the label and the
    columns that exist, raised from the schema before ``fit`` runs
    key discovery (or any other Spark job)."""
    df = spark.createDataFrame([(1.0, "X")], "x double, label string")
    modeler = DataframeModeler(ModelingStrategy(default_size=4))

    def fit():
        with pytest.raises(ValueError, match=r"'lable'.*\['x', 'label'\]"):
            modeler.fit(df, mlp("m", 4, [], 2), "lable")

    assert record(spark, fit).jobs == 0
    assert not modeler.context.representations and not modeler.context.stats
    with pytest.raises(ValueError, match="'lable'"):
        modeler.eval_to_dataframe(df, "f", label_col="lable")


def test_context_save_load_roundtrip(spark, tmp_path):
    ctx = ModelContext()
    ctx.representations["a=1"] = np.arange(4.0)
    ctx.transforms["transform/x"] = np.arange(8.0).reshape(2, 4)
    ctx.layers["layer/w"] = np.arange(6.0).reshape(2, 3)
    path = str(tmp_path / "params")
    ctx.save(spark, path)
    back = ModelContext.load(spark, path)
    assert np.array_equal(back.representations["a=1"], ctx.representations["a=1"])
    assert np.array_equal(back.transforms["transform/x"], ctx.transforms["transform/x"])
    assert np.array_equal(back.layers["layer/w"], ctx.layers["layer/w"])


def test_hashed_bucket_strategy_caps_dictionary(spark):
    """HashedBucketStrategy bounds the parameter dictionary regardless
    of categorical cardinality (SURVEY §7.3 risk 2) while keeping
    lookups deterministic."""
    from mindseye_dataframes_spark.featurize import HashedBucketStrategy

    n_values = 200
    df = spark.createDataFrame(
        [(i, f"user_{i}") for i in range(n_values)], "id long, user string"
    )
    strategy = HashedBucketStrategy(n_buckets=16, default_size=4)
    modeler = DataframeModeler(strategy)
    modeler.init_keys(df)
    bucket_keys = [k for k in modeler.context.representations if k.startswith("user#")]
    assert 0 < len(bucket_keys) <= 16  # dictionary capped, not 200
    # id is also categorical (long) → its buckets are separate per path
    assert all(k.split("#")[0] in ("user", "id") for k in modeler.context.representations)

    out = modeler.eval_to_dataframe(df, "f", passthrough=["id"]).collect()
    assert len(out) == n_values
    # colliding values share embeddings: featurization must equal the
    # bucket embedding sum computed by hand
    import numpy as np

    params = modeler.context.all_params()
    by_id = {r["id"]: np.array(r["f"]) for r in out}
    for i in (0, 7, 199):
        # passthrough columns are excluded from featurization, so the
        # output is exactly the (possibly shared) user-bucket embedding
        expect = params[strategy.key_for("user", f"user_{i}")]
        assert np.allclose(by_id[i], expect, atol=1e-12)


def test_timestamp_channel_epoch_zscore(spark):
    """Timestamp columns featurize as epoch-seconds z-scores: executor
    features must reproduce CAST(ts AS DOUBLE) against driver moments."""
    import numpy as np

    from mindseye_dataframes_spark.featurize import DataframeModeler, ModelingStrategy

    df = spark.createDataFrame(
        [(0, "2024-01-01 00:00:00"), (1, "2024-01-02 00:00:00"), (2, None)],
        "rid long, ts string",
    ).select("rid", F.col("ts").cast("timestamp").alias("ts"))
    feat = df.select("rid", "ts")
    modeler = DataframeModeler(ModelingStrategy(default_size=4))
    modeler.init_keys(feat.drop("rid"))
    n, mean, std = modeler.context.stats["ts"]
    assert n == 2  # null excluded from moments
    epochs = [1704067200.0, 1704153600.0]
    assert abs(mean - np.mean(epochs)) < 1e-6
    w = modeler.context.transforms["transform/ts"]
    out = {
        r["rid"]: np.array(r["f"])
        for r in modeler.eval_to_dataframe(feat, "f", passthrough=["rid"]).collect()
    }
    for rid, epoch in enumerate(epochs):
        z = (epoch - mean) / std
        want = np.array([1.0, z]) @ w
        assert np.allclose(out[rid], want, atol=1e-9), rid
    # null timestamp -> z=0 -> bias row only
    assert np.allclose(out[2], np.array([1.0, 0.0]) @ w, atol=1e-9)


def test_vector_channel_affine_and_gradients(spark):
    """array<double> embedding columns project through a learned
    [dim x size] map; gradients flow back into it during training."""
    import numpy as np

    from mindseye_dataframes_spark.featurize import (
        CategorizingStrategy,
        DataframeModeler,
    )
    from mindseye_dataframes_spark.featurize.layers import mlp

    rows = [
        (0, [1.0, 0.0, 2.0], "X"),
        (1, [0.5, 1.5, -1.0], "Y"),
        (2, None, "X"),
    ]
    df = spark.createDataFrame(rows, "rid long, emb array<double>, label string")
    strategy = CategorizingStrategy(
        "label", categories=2, value_index={"X": 0, "Y": 1}, default_size=4
    )
    modeler = DataframeModeler(strategy)
    modeler.init_keys(df.drop("rid"), "label")
    w = modeler.context.transforms["vector/emb"]
    assert w.shape == (3, 4)
    out = {
        r["rid"]: np.array(r["f"])
        for r in modeler.eval_to_dataframe(
            df.drop("label"), "f", passthrough=["rid"]
        ).collect()
    }
    assert np.allclose(out[0], np.array([1.0, 0.0, 2.0]) @ w, atol=1e-9)
    assert np.allclose(out[2], np.zeros(4), atol=1e-12)  # null vector -> zero
    net = mlp("m", 4, [5], 2)
    for k, v in net.init_params().items():
        modeler.context.layers[k] = v
    loss, grads = modeler.eval(df.drop("rid"), net, "label")
    assert np.isfinite(loss)
    assert "vector/emb" in grads and grads["vector/emb"].shape == (3, 4)
    assert float(np.abs(grads["vector/emb"]).sum()) > 0


def test_dictionary_overflow_auto_buckets_high_cardinality(spark):
    """VERDICT r4 item 2: init_keys must never collect a dictionary
    beyond max_dictionary_keys to the driver. Over the cap, the
    offending path auto-switches to hashed buckets (PathBucketedOverlay)
    while low-cardinality paths keep per-value embeddings; featurization
    then runs end-to-end with the overlay. Reference context:
    `DataframeModeler.scala:163-178` is the unconditional collect being
    guarded."""
    from mindseye_dataframes_spark.featurize.strategy import (
        PathBucketedOverlay,
    )

    n = 500
    df = spark.createDataFrame(
        [
            (i, f"user_{i}", "red" if i % 2 else "blue", float(i))
            for i in range(n)
        ],
        "id long, user string, color string, x double",
    )

    modeler = DataframeModeler(
        ModelingStrategy(default_size=4),
        max_dictionary_keys=50,
        overflow_buckets=16,
    )
    modeler.init_keys(df)
    assert isinstance(modeler.strategy, PathBucketedOverlay)
    # both high-cardinality paths bucket; color stays exact
    assert modeler.strategy.bucketed_paths == frozenset({"user", "id"})
    reps = modeler.context.representations
    user_keys = [k for k in reps if k.startswith("user")]
    # the whole user dictionary is the 16 a-priori buckets — no
    # user=<value> key was ever materialized on the driver
    assert sorted(user_keys) == sorted(f"user#bucket={b}" for b in range(16))
    # the low-cardinality path keeps exact per-value embeddings
    assert {"color=red", "color=blue"} <= set(reps)

    out = modeler.eval_to_dataframe(df, "f", passthrough=["id"]).collect()
    assert len(out) == n
    params = modeler.context.all_params()
    ctx = modeler.context
    mean, std = ctx.stats["x"][1], ctx.stats["x"][2]
    w = ctx.transforms["transform/x"]
    by_id = {r["id"]: np.array(r["f"]) for r in out}
    for i in (0, 3, 499):
        z = (float(i) - mean) / std
        expect = (
            params[modeler.strategy.key_for("user", f"user_{i}")]
            + params[f"color={'red' if i % 2 else 'blue'}"]
            + np.array([1.0, z]) @ w
        )
        assert np.allclose(by_id[i], expect, atol=1e-9), i


def test_bucketed_overlay_respects_base_path_size():
    """A base strategy with per-path size overrides must size bucketed
    keys by the ORIGINAL path, not the synthetic 'p#bucket' path —
    otherwise layers sized from strategy.size(p) receive mismatched
    representations (review finding, round 5)."""
    from mindseye_dataframes_spark.featurize.strategy import (
        ModelingStrategy,
        PathBucketedOverlay,
    )

    class SizedBase(ModelingStrategy):
        def size(self, path):
            return 32 if path == "wide_col" else self.default_size

    overlay = PathBucketedOverlay(SizedBase(), ["wide_col"], n_buckets=4)
    assert overlay.size("wide_col") == 32
    for key in overlay.enumerate_keys("wide_col"):
        assert overlay.initial_representation(key).shape == (32,), key
    # non-bucketed paths keep base behavior end to end
    assert overlay.initial_representation("other=x").shape == (10,)


def _numeric_stats(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    modeler = DataframeModeler(ModelingStrategy(default_size=4))
    modeler.init_keys(df)
    return modeler.context.stats["x"]


def test_init_keys_moments_treat_nan_as_null(spark, ansi):
    """``_featurize`` maps NaN to z = 0 like NULL, so the moments must
    skip it like NULL: before, the count kept the NaN while the decimal
    sums dropped it ((4.0, 1.5, 1.118) instead of (3.0, 2.0, 0.816))."""
    nan = _numeric_stats(spark, [1.0, 2.0, 3.0, float("nan")])
    null = _numeric_stats(spark, [1.0, 2.0, 3.0, None])
    assert nan == null
    assert null[:2] == (3.0, 2.0) and abs(null[2] - np.sqrt(2 / 3)) < 1e-12
    # the largest 4-decimal value below the range bound still counts
    assert _numeric_stats(spark, [9_999_999_999.9999, 0.0])[1] == 4_999_999_999.99995


@pytest.mark.parametrize("big", [1e10, -1e12, 1e15, float("inf"), float("-inf")])
def test_init_keys_rejects_values_outside_exact_moment_range(spark, ansi, big):
    """A value the decimal(14,4) moments cannot hold raises a named
    ValueError in both ANSI modes; before, ANSI on raised
    NUMERIC_VALUE_OUT_OF_RANGE and ANSI off dropped it from the sums."""
    with pytest.raises(ValueError, match=r"column 'x' has 1 value\(s\) outside the exact-moment range"):
        _numeric_stats(spark, [1.0, 2.0, 3.0, big])


def test_init_keys_runs_one_aggregate_query(spark, ansi):
    """The moments, the vector dimension and the one-hot label need the
    jobs of one bare aggregate: the label's keys are enumerated, not
    discovered, and the dimension probe rides in the moments query."""
    df = spark.range(200).select(
        (F.col("id") / 7).alias("x"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("emb"),
        (F.col("id") % 3 + 1).cast("int").alias("label"),
    )
    bare = record(spark, lambda: df.agg(F.count("*")).collect()).jobs
    modeler = DataframeModeler(CategorizingStrategy("label", categories=3, base=1, default_size=4))
    jobs = record(spark, lambda: modeler.init_keys(df, "label")).jobs
    assert jobs == bare > 0
    ctx = modeler.context
    assert set(ctx.representations) == ctx.frozen == {"label=1", "label=2", "label=3"}
    assert ctx.stats["x"][0] == 200.0
    assert ctx.transforms["vector/emb"].shape == (2, 4)


def _two_cast_stats(df) -> dict:
    """The decimal reference moments: Σx over its own decimal(18,4)
    cast, Σx² over decimal(14,4), each decimal sum cast to double."""
    aggs = []
    for c, dtype in df.dtypes:
        src = F.nanvl(F.col(c).cast("double") if dtype == "timestamp" else F.col(c), F.lit(None))
        s14 = src.try_cast("decimal(14,4)")
        aggs += [
            F.count(src).alias(f"n_{c}"),
            F.sum(src.try_cast("decimal(18,4)")).cast("double").alias(f"s_{c}"),
            F.sum(s14 * s14).cast("double").alias(f"q_{c}"),
        ]
    row = df.agg(*aggs).collect()[0]
    out = {}
    for c in df.columns:
        n = float(row[f"n_{c}"] or 0)
        s = float(row[f"s_{c}"] or 0.0)
        q = float(row[f"q_{c}"] or 0.0)
        mean = s / n if n else 0.0
        std = float(np.sqrt(abs(q / n - mean * mean))) if n else 1.0
        out[c] = (n, mean, std if std > 0 else 1.0)
    return out


def test_one_cast_moments_match_two_cast_reference(spark, ansi):
    """The limb-sum moments equal the decimal reference bit for bit, on
    values that stress the 4-decimal rounding (binary ties such as
    ±0.03125 round away from zero), the sign, the range bound, floats
    and timestamps, at 1 and at 7 partitions."""
    big = 9_999_999_999.9999
    i = F.col("id")
    df = spark.range(3000).select(
        (i / 7).alias("sevenths"),
        (i * 1.00005).cast("float").alias("floats"),
        (i * 0.00005).alias("ties"),
        ((i - 1500) / 32).alias("binary_ties"),
        (-(i / 3) - i * 0.00015).alias("negatives"),
        F.when(i % 3 == 0, -big).otherwise(big).alias("bound"),
        F.when(i % 5 == 0, F.lit(None))
        .when(i % 5 == 1, F.lit(float("nan")))
        .otherwise(i / 3)
        .alias("null_nan"),
        F.lit(None).cast("double").alias("all_null"),
        F.timestamp_micros((i - 1000) * 987_654_321_017).alias("ts"),
    )
    want = _two_cast_stats(df)
    for frame in (df.coalesce(1), df.repartition(7)):
        modeler = DataframeModeler(ModelingStrategy(default_size=4))
        modeler.init_keys(frame)
        assert modeler.context.stats == want
    assert want["all_null"] == (0.0, 0.0, 1.0) and want["null_nan"][0] == 1800.0


def test_init_keys_rejects_columns_past_the_exact_row_ceiling(spark, ansi, monkeypatch):
    """Past MAX_MOMENT_ROWS non-null values the limb sums may overflow
    a long: init_keys names the column instead of returning moments."""
    monkeypatch.setattr(modeler_module, "MAX_MOMENT_ROWS", 3)
    assert _numeric_stats(spark, [1.0, 2.0, 3.0, None])[0] == 3.0
    with pytest.raises(ValueError, match=r"column 'x' has 4 non-null values, more than the 3"):
        _numeric_stats(spark, [1.0, 2.0, 3.0, 4.0])


def test_moment_aggregate_stays_in_whole_stage_codegen(spark):
    """The moment aggregate has a fixed width: at 40 numeric columns its
    final plan still runs every HashAggregate in whole-stage codegen. An
    aggregate with a column per moment leaves it from 17 columns on
    (over spark.sql.codegen.maxFields = 100 buffer fields)."""
    df = spark.range(100).select(*[(F.col("id") / (c + 1)).alias(f"c{c}") for c in range(40)])
    DataframeModeler(ModelingStrategy(default_size=4)).init_keys(df)
    final = last_plan_description(spark).split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    aggregates = [line for line in final.splitlines() if "HashAggregate" in line]
    assert len(aggregates) == 2 and all("* HashAggregate" in line for line in aggregates), final


def test_value_index_label_enumerates_exactly_its_keys(spark):
    """With a value_index the label's keys are the index's, all frozen,
    whether or not the data holds each value."""
    df = spark.createDataFrame([(1.0, "X"), (2.0, "Y"), (3.0, None)], "x double, label string")
    vi = {"X": 0, "Y": 1, "Z": 2}
    modeler = DataframeModeler(CategorizingStrategy("label", categories=3, value_index=vi, default_size=4))
    modeler.init_keys(df, "label")
    ctx = modeler.context
    assert set(ctx.representations) == ctx.frozen == {"label=X", "label=Y", "label=Z"}
    assert np.array_equal(ctx.representations["label=Z"], [0.0, 0.0, 1.0])


def test_out_of_range_int_label_evaluates_as_its_zero_vector(spark):
    """A label outside base … base+categories-1 has no key in the
    context; eval's fallback gives it the all-zero vector, so loss and
    gradients equal those with that zero vector stored by hand (what
    key discovery stored before the keys were enumerated)."""
    rows = [(float(i), lbl) for i, lbl in enumerate([1, 2, 0, 3, 8, 2, 0, 1])]
    df = spark.createDataFrame(rows, "x double, label int").repartition(2)
    modeler = DataframeModeler(CategorizingStrategy("label", categories=3, base=1, default_size=4))
    modeler.init_keys(df, "label")
    ctx = modeler.context
    assert "label=0" not in ctx.representations and "label=8" not in ctx.representations
    net = mlp("m", 4, [5], 3)
    ctx.layers.update(net.init_params())
    loss, grads = modeler.eval(df, net, "label")

    for key in ("label=0", "label=8"):
        ctx.representations[key] = np.zeros(3)
        ctx.frozen.add(key)
    loss_stored, grads_stored = modeler.eval(df, net, "label")
    assert loss == loss_stored
    assert grads.keys() == grads_stored.keys()
    for key, g in grads.items():
        assert np.array_equal(g, grads_stored[key]), key


@pytest.mark.parametrize(
    "dtype, values, value_index, message",
    [
        ("string", ["1", "2", "two", None, "x"], None, r"'label' has 2 value\(s\).*an integer"),
        ("boolean", [True, False, None], None, r"'label' has 2 value\(s\).*an integer"),
        ("string", ["X", "Y", "Q", None], {"X": 0, "Y": 1}, r"'label' has 1 value\(s\).*value_index"),
    ],
    ids=["non_integer_string", "boolean", "outside_value_index"],
)
def test_unencodable_label_raises_from_the_aggregate(spark, ansi, dtype, values, value_index, message):
    """A label value the one-hot strategy cannot encode raises a
    ValueError naming the column, counted inside the moments aggregate
    (no job of its own) and before the context is touched."""
    df = spark.createDataFrame([(float(i), v) for i, v in enumerate(values)], f"x double, label {dtype}")
    bare = record(spark, lambda: df.agg(F.count("*")).collect()).jobs
    strategy = CategorizingStrategy("label", categories=2, value_index=value_index, default_size=4)
    modeler = DataframeModeler(strategy)

    def init():
        with pytest.raises(ValueError, match=message):
            modeler.init_keys(df, "label")

    assert record(spark, init).jobs == bare
    assert not modeler.context.representations and not modeler.context.stats


def test_bucketed_overlay_keeps_the_label_check(spark):
    """An auto-bucketing overlay delegates the label check to its base
    for every path it does not bucket."""
    from mindseye_dataframes_spark.featurize.strategy import PathBucketedOverlay

    base = CategorizingStrategy("label", categories=2, default_size=4)
    modeler = DataframeModeler(PathBucketedOverlay(base, ["user"], n_buckets=4))
    df = spark.createDataFrame([("u1", "two"), ("u2", "1")], "user string, label string")
    with pytest.raises(ValueError, match=r"'label' has 1 value\(s\)"):
        modeler.init_keys(df, "label")


def test_all_null_vector_column_has_no_dimension(spark, ansi):
    """size(NULL) is -1 with ANSI off; an all-NULL vector column still
    gets no transform rather than a negative dimension. The aggregate
    returns no row for a group with no input: an all-NULL numeric
    column and a 0-row frame still give (0.0, 0.0, 1.0), no vector
    transform and no label error."""
    schema = "x double, blank double, emb array<double>, label int"
    rows = [(1.0, None, None, 1), (2.0, None, None, 2)]
    for data, x_stats in ((rows, (2.0, 1.5, 0.5)), ([], (0.0, 0.0, 1.0))):
        modeler = DataframeModeler(CategorizingStrategy("label", categories=2, base=1, default_size=4))
        modeler.init_keys(spark.createDataFrame(data, schema), "label")
        assert "vector/emb" not in modeler.context.transforms
        assert modeler.context.stats == {"x": x_stats, "blank": (0.0, 0.0, 1.0)}


def test_label_name_suffix_is_an_ordinary_categorical(spark):
    """Only the label column, top-level or nested under a struct
    (``a/label``), is the one-hot label. A column whose name merely ends
    with the label's (``prev_label``) is discovered, sized and trained
    like any categorical."""
    s = CategorizingStrategy("label", categories=3, base=1, default_size=4)
    assert s.size("prev_label") == 4 and s.enumerate_keys("prev_label") is None
    assert not s.is_frozen("prev_label=2")
    assert s.initial_representation("prev_label=2").shape == (4,)
    assert s.size("a/label") == 3 and s.is_frozen("a/label=2")
    assert np.array_equal(s.initial_representation("a/label=2"), [0, 1, 0])

    df = spark.createDataFrame([("x", 1), ("y", 2)], "prev_label string, label int")
    modeler = DataframeModeler(s)
    modeler.init_keys(df, "label")  # a string prev_label is no unencodable label
    ctx = modeler.context
    assert ctx.frozen == {"label=1", "label=2", "label=3"}
    assert set(ctx.representations) - ctx.frozen == {"prev_label=x", "prev_label=y"}
    assert ctx.representations["prev_label=x"].shape == (4,)

    nested = spark.createDataFrame([((1,),), ((3,),)], "a struct<label:int>")
    modeler = DataframeModeler(s)
    modeler.init_keys(nested, "a.label")
    assert set(modeler.context.representations) == modeler.context.frozen == {
        "a/label=1", "a/label=2", "a/label=3"
    }


def test_loss_only_eval_is_one_job_and_matches_the_merged_loss(spark, monkeypatch):
    """A line-search probe runs the jobs of one bare collect of its
    input: its per-partition loss rows are summed on the driver, not
    shuffled to a grouped merge. The sum is bit for bit the loss the grouped merge of
    the same rows gives."""
    import pandas as pd

    rng = np.random.default_rng(3)
    rows = [(f"c{i % 5}", float(x), f"L{i % 3}") for i, x in enumerate(rng.standard_normal(60))]
    df = spark.createDataFrame(rows, "cat string, x double, label string").repartition(5)
    modeler = DataframeModeler(
        CategorizingStrategy("label", categories=3, value_index={"L0": 0, "L1": 1, "L2": 2}, default_size=4)
    )
    modeler.init_keys(df, "label")
    net = mlp("m", 4, [6], 3)
    modeler.context.layers.update(net.init_params())

    frame = type(df)
    partials = []
    map_in_pandas = frame.mapInPandas

    def spy(self, *args, **kwargs):
        partials.append(map_in_pandas(self, *args, **kwargs))
        return partials[-1]

    monkeypatch.setattr(frame, "mapInPandas", spy)
    bare = record(spark, df.collect).jobs
    result = []
    jobs = record(spark, lambda: result.append(modeler.eval(df, net, "label", loss_only=True))).jobs
    assert jobs == bare > 0
    loss, grads = result[0]
    assert grads == {}

    def merge(key, pdf):
        return pd.DataFrame(
            [(key[0], float(pdf["loss"].sum()), int(pdf["n"].sum()))], columns=["key", "loss", "n"]
        )

    (ref,) = partials[0].groupBy("key").applyInPandas(merge, "key string, loss double, n long").collect()
    assert ref["n"] == len(rows)
    assert loss == ref["loss"] / ref["n"]


def test_gradient_merge_sums_partials_in_partition_order():
    """A key's partials reach the merge in the order the shuffle fetched
    them, which a cluster does not fix. ``merge_group`` sums them in
    partition order whatever the arrival order, bit for bit. In the
    other orders these partials sum to something else: (1e16 + 1.0) -
    1e16 is 0.0, but (1e16 - 1e16) + 1.0 is 1.0."""
    import pandas as pd

    grads = [[1e16, 1.0], [1.0, 1e16], [-1e16, -1e16]]  # partitions 0, 1, 2
    losses = [1e16, 1.0, -1e16]
    folds = {tuple(sum((grads[p] for p in o), start=np.zeros(2))) for o in itertools.permutations(range(3))}
    assert len(folds) > 1  # the partials are order-sensitive
    want_grad = np.add(np.add(grads[0], grads[1]), grads[2])
    want_loss = (losses[0] + losses[1]) + losses[2]
    for order in itertools.permutations(range(3)):
        pdf = pd.DataFrame(
            {
                "key": ["w"] * 3,
                "grad": [grads[p] for p in order],
                "loss": [losses[p] for p in order],
                "n": [1] * 3,
                "part": list(order),
            }
        )
        (row,) = modeler_module.merge_group(("w",), pdf).itertuples()
        assert np.asarray(row.grad).tobytes() == want_grad.tobytes(), order
        (row,) = modeler_module.merge_group((modeler_module.LOSS_KEY,), pdf).itertuples()
        assert (row.loss, row.n) == (want_loss, 3), order


def _render(v, dtype: str) -> str | None:
    """Spark's CAST(x AS STRING) of one pandas cell, NULL and NaN as None."""
    if v is None or v is pd.NA or (isinstance(v, float) and np.isnan(v)):
        return None
    if dtype == "boolean":
        return "true" if v else "false"
    return str(int(v)) if dtype in ("int", "bigint") else str(v)


def _row_order_reference(pdf, chans, params, strat, grad_in):
    """The categorical kernels, one row at a time: each row's parameter
    summed channel by channel, and each value's gradient summed over its
    rows in row order from +0.0, then added per key in order of first
    appearance (colliding hashed buckets)."""
    n, size = len(pdf), strat.default_size
    out, grads = np.zeros((n, size)), {}
    for ch in chans:
        rows, per_value = np.zeros((n, size)), {}
        for i, raw in enumerate(pdf[ch.col]):
            v = _render(raw, ch.dtype)
            if v is None:
                continue
            key = strat.key_for(ch.path, v)
            rows[i] = params[key] if key in params else strat.initial_representation(key)
            per_value[v] = per_value.get(v, np.zeros(size)) + grad_in[i]
        out += rows
        for v, g in per_value.items():
            key = strat.key_for(ch.path, v)
            grads[key] = grads[key] + g if key in grads else g
    return out, grads


_CELLS = {
    "s": (["a", "b", "c", "nan", "", None], "string"),
    "i": ([-3.0, -0.0, 0.0, 1.0, 2.0, None], "int"),
    "b": ([True, False, None], "boolean"),
    "k": ([0, 1, 5, -(2**40)], "bigint"),
}


@given(data=st.data())
@settings(max_examples=300, deadline=None)
def test_categorical_kernels_match_row_order_reference(data):
    """``_featurize``, ``_route_feature_grads`` and the label target give
    a row-by-row computation's doubles bit for bit: NULL, NaN, booleans,
    integers that arrived as float64, hashed-bucket collisions,
    signed-zero and order-sensitive gradients, empty and all-NULL
    batches, sizes 1 through 10."""
    size = data.draw(st.integers(1, 10), label="size")
    strat = data.draw(
        st.sampled_from(
            [ModelingStrategy(default_size=size), HashedBucketStrategy(n_buckets=7, default_size=size)]
        )
    )
    n = data.draw(st.integers(0, 20), label="rows")
    all_null = data.draw(st.booleans(), label="all_null")
    cols = {}
    for name, (cells, _) in _CELLS.items():
        vals = data.draw(st.lists(st.sampled_from(cells), min_size=n, max_size=n), label=name)
        if all_null and None in cells:
            vals = [None] * n
        if name == "i" and (None in vals or data.draw(st.booleans(), label="int_as_float")):
            cols[name] = pd.Series([np.nan if v is None else v for v in vals], dtype="float64")
        elif name == "b" and None not in vals:
            cols[name] = pd.Series(vals, dtype=bool)
        else:
            cols[name] = pd.Series(vals, dtype="int64" if name == "k" else object)
    pdf = pd.DataFrame(cols)
    chans = [Channel(name, name, "categorical", dtype) for name, (_, dtype) in _CELLS.items()]
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1), label="seed"))
    known = {_render(v, d) for name, (_, d) in _CELLS.items() for v in pdf[name]} - {None}
    params = {
        strat.key_for(ch.path, v): rng.standard_normal(size)
        for ch in chans for v in sorted(known) if rng.random() < 0.5
    }
    grid = [0.0, -0.0, 1.0, -1.0, 0.1, 1e16, -1e16, 3.0e-17]
    grad_in = np.array(data.draw(st.lists(st.sampled_from(grid), min_size=n * size, max_size=n * size)))
    grad_in = grad_in.reshape(n, size)

    out, caches = DataframeModeler._featurize(pdf, chans, params, {}, set(), strat)
    grads = DataframeModeler._route_feature_grads(grad_in, chans, caches, strat)
    want_out, want_grads = _row_order_reference(pdf, chans, params, strat, grad_in)
    assert out.tobytes() == want_out.tobytes()
    assert grads.keys() == want_grads.keys()
    for key, g in want_grads.items():
        assert grads[key].tobytes() == g.tobytes(), key

    # the label target: the non-NULL rows' parameters, in row order
    ch = chans[1]
    codes, values = modeler_module._encode(pdf[ch.col], ch.dtype)
    target = modeler_module._value_table(ch.path, values, params, strat, size)[codes[codes >= 0]]
    want, _ = _row_order_reference(pdf, [ch], params, strat, np.zeros((n, size)))
    rendered = [_render(v, ch.dtype) for v in pdf[ch.col]]
    assert target.tobytes() == want[[v is not None for v in rendered]].tobytes()


@pytest.mark.parametrize("parts", [1, 3])
def test_categorical_rendering_through_arrow(spark, parts):
    """The rendering rules, end to end through Arrow: a nullable int
    column reaches pandas as float64 and keys as ``i=3``, a boolean as
    ``b=true``, and a NULL contributes zero. Gradient keys are the keys
    ``init_keys`` found; none reads ``.0``, ``True``, ``nan`` or ``None``."""
    combos = list(itertools.product([3, None], [True, None], ["x", None]))
    rows = [(rid, i, b, s, 1 + rid % 2) for rid, (i, b, s) in enumerate(combos * 2)]
    df = spark.createDataFrame(
        rows, "rid long, i int, b boolean, s string, label int"
    ).repartition(parts)
    modeler = DataframeModeler(CategorizingStrategy("label", categories=2, default_size=4))
    modeler.init_keys(df.drop("rid"), "label")
    reps = modeler.context.representations
    assert {"i=3", "b=true", "s=x"} <= set(reps)

    out = modeler.eval_to_dataframe(df.drop("label"), "f", passthrough=["rid"]).collect()
    assert len(out) == len(rows)
    for r in out:
        _, i, b, s, _ = rows[r["rid"]]
        want = np.zeros(4)
        for key in ("i=3" if i else None, "b=true" if b else None, "s=x" if s else None):
            want = want + (reps[key] if key else np.zeros(4))
        assert np.array_equal(np.array(r["f"]), want), r["rid"]

    net = mlp("m", 4, [5], 2)
    modeler.context.layers.update(net.init_params())
    _, grads = modeler.eval(df.drop("rid"), net, "label")
    cat_keys = {k for k in grads if "=" in k}
    assert cat_keys == {"i=3", "b=true", "s=x"}
    assert cat_keys <= set(reps)
    for key in grads:
        assert not any(bad in key for bad in (".0", "True", "nan", "None")), key
