"""End-to-end reproduction of the reference's covtype workload
(FIXTURES.md §1): synthesize covtype_raw → generated staging view
(`Trainer.scala:100-116`) → CategorizingStrategy + DataframeModeler →
training with decreasing loss (`Trainer.scala:170-193`) → positional
zip of (label, features, prediction) preview (`Trainer.scala:195-200`).

This is the 'a user of the reference could switch' proof: same
pipeline, same staging semantics, same model shape — on PySpark.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mindseye_dataframes_spark.featurize import CategorizingStrategy, DataframeModeler
from mindseye_dataframes_spark.featurize.layers import mlp
from mindseye_dataframes_spark.operators.zip_frames import zip_frames
from tests.helpers import COVTYPE_LABELS as LABELS
from tests.helpers import covtype_raw, covtype_staging_view

N_SOIL = 8  # reference has 40; 8 keeps the fixture fast with identical shape


@pytest.fixture(scope="module")
def covtype_staged(spark):
    """covtype_raw staged through the generated view like
    `Trainer.scala:100-116` (drop Soil_Type*, cast ints, keep label)."""
    return covtype_staging_view(spark, covtype_raw(spark, 3000, N_SOIL))


def test_staging_view_schema(spark, covtype_staged):
    types = dict(covtype_staged.dtypes)
    assert not any(c.startswith("Soil_Type") for c in covtype_staged.columns)
    assert types["Cover_Type"] == "int"
    assert all(t == "double" for c, t in types.items() if c != "Cover_Type")
    assert covtype_staged.count() == 3000


def test_nary_eval_to_dataframe(spark):
    """The reference's N-ary façade (`DataframeModeler.scala:48-50`):
    eval_to_dataframe over a LIST of frames positionally zips them
    (`:246-258`) before featurization. Equivalent to featurizing the
    keyed join, row for row."""
    from mindseye_dataframes_spark.featurize import ModelingStrategy

    a = spark.range(300).select(
        F.col("id").alias("ka"), (F.col("id") % 7).cast("double").alias("x")
    )
    b = spark.range(300).select(
        F.col("id").alias("kb"), (F.col("id") % 3).cast("string").alias("c")
    )
    modeler = DataframeModeler(ModelingStrategy(default_size=4))
    joined = a.join(b, F.col("ka") == F.col("kb")).select("ka", "x", "c")
    modeler.init_keys(joined.drop("ka"))

    nary = modeler.eval_to_dataframe(
        [a, b],
        "features",
        passthrough=["ka", "kb"],
        order_keys=[["ka"], ["kb"]],
    )
    single = modeler.eval_to_dataframe(joined, "features", passthrough=["ka"])
    got = {r["ka"]: r["features"] for r in nary.collect()}
    want = {r["ka"]: r["features"] for r in single.collect()}
    assert len(got) == 300
    assert got == want

    with pytest.raises(ValueError, match="order_keys"):
        modeler.eval_to_dataframe([a, b], "features")


def test_covtype_training_and_zip_preview(spark, covtype_staged):
    from mindseye_dataframes_spark.sources.staging import TIERS, stage

    # raw staging tier pinned DISK_ONLY like `Trainer.scala:94`
    raw = stage(covtype_staged, "raw")
    assert raw.storageLevel == TIERS["raw"]

    strategy = CategorizingStrategy(
        "Cover_Type", categories=LABELS, base=1, default_size=10
    )
    modeler = DataframeModeler(strategy)
    net = mlp("covtype", 10, [20], LABELS)

    losses = modeler.fit(
        raw, net, "Cover_Type", fractions=[0.3], max_iters=4, lr=0.3, seed=5
    )
    raw.unpersist()
    assert losses[-1] < losses[0], losses
    # bisection line search (`Trainer.scala:68-69,183-184`): ≥2
    # distributed probes per optimizer step, and within-epoch losses
    # monotone non-increasing (steps only taken when a probe improved)
    assert modeler.probe_history, "line search ran no probes"
    assert all(p >= 2 for p in modeler.probe_history), modeler.probe_history
    assert all(b <= a for a, b in zip(losses, losses[1:])), losses

    # evaluation preview (`Trainer.scala:195-200`): labels, features
    # and predictions zipped positionally (J1) under an explicit order
    preview_src = covtype_staged.limit(100)
    keys = ["Elevation", "Aspect", "Slope", "Hillshade_9am"]
    labels = preview_src.select(*keys, "Cover_Type")
    feats = modeler.eval_to_dataframe(
        preview_src.drop("Cover_Type"), "features", passthrough=keys
    ).select(
        *[F.col(k).alias(f"f_{k}") for k in keys], "features"
    )
    preds = modeler.eval_to_dataframe(
        preview_src.drop("Cover_Type"), "prediction", network=net, passthrough=keys
    ).select(
        *[F.col(k).alias(f"p_{k}") for k in keys], "prediction"
    )
    zipped = zip_frames(
        [labels, feats, preds],
        [keys, [f"f_{k}" for k in keys], [f"p_{k}" for k in keys]],
    )
    rows = zipped.collect()
    assert len(rows) == 100
    for r in rows:
        # all three frames aligned on the same logical row
        assert [r[k] for k in keys] == [r[f"f_{k}"] for k in keys]
        assert [r[k] for k in keys] == [r[f"p_{k}"] for k in keys]
        assert len(r["features"]) == 10 and len(r["prediction"]) == LABELS
