"""Featurization-calculus queries (SURVEY §2A F1/F2/F4/F5/F6).

The relational faces of the featurize/ package: z-score
standardization with exact-decimal moments, one-hot expansion, and
deterministic parameter identity (name-UUID v3) — each with a DuckDB
oracle twin. The full differentiable pipeline (q40/q65/q78) runs the
REAL broadcast-params + Arrow mapInPandas path with pinned parameter
configurations that make every channel SQL-expressible, so the driver
hash-checks it end to end; free-parameter semantics (seeded inits,
gradients, training) stay pinned by tests/test_featurize.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mindseye_dataframes_spark.queries.registry import query
from mindseye_dataframes_spark.sources.readers import load_table

_MOMENTS = """
      SELECT
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
          / CAST(COUNT(l_quantity) AS DOUBLE) AS mean_q,
        SQRT(ABS(
          CAST(SUM(CAST(l_quantity AS DECIMAL(14,4)) * CAST(l_quantity AS DECIMAL(14,4))) AS DOUBLE)
            / CAST(COUNT(l_quantity) AS DOUBLE)
          - (CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE))
            * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE))
        )) AS std_q
      FROM lineitem
"""


@query(
    "q37_zscore_expansion",
    oracle=f"""
    WITH m AS ({_MOMENTS})
    SELECT l_orderkey, l_linenumber,
           (l_quantity - m.mean_q) / m.std_q AS z,
           ((l_quantity - m.mean_q) / m.std_q) * ((l_quantity - m.mean_q) / m.std_q) AS z2
    FROM lineitem, m
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("featurize", "parity:F2,F6"),
)
def q37_zscore_expansion(spark, sf_dir):
    """F2: frozen affine z-score + polynomial expansion, computed from
    exact-decimal moments (engine-identical doubles), as a relational
    query: broadcast the 1-row moments — no per-row shuffle."""
    from mindseye_dataframes_spark.functions.exact import davg, dec

    li = load_table(spark, sf_dir, "lineitem")
    x = dec("l_quantity", 4, 14)
    m = li.agg(
        davg("l_quantity").alias("mean_q"),
        F.sqrt(
            F.abs(
                F.sum(x * x).cast("double") / F.count("l_quantity").cast("double")
                - davg("l_quantity") * davg("l_quantity")
            )
        ).alias("std_q"),
    )
    z = (F.col("l_quantity") - F.col("mean_q")) / F.col("std_q")
    return (
        li.crossJoin(F.broadcast(m))
        .select(
            "l_orderkey",
            "l_linenumber",
            z.alias("z"),
            (z * z).alias("z2"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q38_onehot_labels",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CASE WHEN l_returnflag = 'A' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS flag_a,
           CAST(CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS flag_n,
           CAST(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS flag_r
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("featurize", "parity:F4"),
)
def q38_onehot_labels(spark, sf_dir):
    """F4: one-hot target encoding, flattened to columns
    (`CategorizingModelingStrategy.scala:27-41`)."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = [
        F.when(F.col("l_returnflag") == v, 1.0).otherwise(0.0).alias(f"flag_{v.lower()}")
        for v in ("A", "N", "R")
    ]
    return li.select("l_orderkey", "l_linenumber", *cols).orderBy(
        "l_orderkey", "l_linenumber"
    )


@query(
    "q39_param_identity",
    oracle="""
    WITH keys AS (
      SELECT DISTINCT 'lineitem/l_returnflag=' || l_returnflag AS key FROM lineitem
      UNION
      SELECT DISTINCT 'lineitem/l_linestatus=' || l_linestatus AS key FROM lineitem
    ), hashed AS (SELECT key, md5(key) AS h FROM keys)
    SELECT key,
           concat(
             substr(h, 1, 8), '-', substr(h, 9, 4), '-3', substr(h, 14, 3), '-',
             substr('89ab', (strpos('0123456789abcdef', substr(h, 17, 1)) - 1) % 4 + 1, 1),
             substr(h, 18, 3), '-', substr(h, 21, 12)
           ) AS param_uuid
    FROM hashed
    ORDER BY key
    """,
    tags=("featurize", "parity:F5"),
)
def q39_param_identity(spark, sf_dir):
    """F5: deterministic name-based (MD5 v3) parameter UUIDs, the
    Java ``UUID.nameUUIDFromBytes`` scheme rebuilt as pure SQL on both
    engines (version nibble := '3', variant nibble := (v & 3) | 8)."""
    li = load_table(spark, sf_dir, "lineitem")
    keys = (
        li.select(F.concat(F.lit("lineitem/l_returnflag="), F.col("l_returnflag")).alias("key"))
        .union(
            li.select(
                F.concat(F.lit("lineitem/l_linestatus="), F.col("l_linestatus")).alias("key")
            )
        )
        .distinct()
    )
    h = F.md5("key")
    variant = F.substring(
        F.lit("89ab"),
        ((F.conv(F.substring(h, 17, 1), 16, 10).cast("int") % 4) + 1).cast("int"),
        1,
    )
    uuid = F.concat(
        F.substring(h, 1, 8), F.lit("-"), F.substring(h, 9, 4), F.lit("-3"),
        F.substring(h, 14, 3), F.lit("-"), variant, F.substring(h, 18, 3),
        F.lit("-"), F.substring(h, 21, 12),
    )
    return keys.select("key", uuid.alias("param_uuid")).orderBy("key")


def _moments_sql(col: str, table: str = "lineitem") -> str:
    """Exact-decimal moments CTE body — the engine-identical double
    derivation ``init_keys`` performs (sum DECIMAL(18,4), sum of
    DECIMAL(14,4) squares, single cast→divide→sqrt IEEE sequence).

    ``init_keys`` reaches the same doubles without decimal sums. It
    takes each value's DECIMAL(14,4) unscaled long v (``rint(x·1e4)``
    when that is exactly x, else the cast itself, so both round a tie
    away from zero), sums v and v² exactly as 24-bit limbs in long
    sums, and divides the rebuilt integers by 10^4 and 10^8 on the
    driver: an int division that is correctly rounded, like the
    decimal → double cast here. The DECIMAL(18,4) cast of Σx gives the
    same sum: a cast rounds the double to 4 decimals whatever the
    precision, and ``init_keys`` raises for any value DECIMAL(14,4)
    cannot hold. The SQL keeps the decimal casts: it is the
    independent reference the oracle checks compare against."""
    return f"""
      SELECT
        CAST(SUM(CAST({col} AS DECIMAL(18,4))) AS DOUBLE)
          / CAST(COUNT({col}) AS DOUBLE) AS mean_x,
        SQRT(ABS(
          CAST(SUM(CAST({col} AS DECIMAL(14,4)) * CAST({col} AS DECIMAL(14,4))) AS DOUBLE)
            / CAST(COUNT({col}) AS DOUBLE)
          - (CAST(SUM(CAST({col} AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT({col}) AS DOUBLE))
            * (CAST(SUM(CAST({col} AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT({col}) AS DOUBLE))
        )) AS std_x
      FROM {table}
"""


def _pin_rank_representations(modeler, path: str, scales: tuple[float, ...]) -> None:
    """Replace the seeded embeddings of every discovered key under
    ``path`` with rank-derived constants (value rank i, 1-based, in
    lexicographic order → vector [s*i for s in scales]) — the pinning
    that makes the REAL mapInPandas featurize path SQL-expressible
    (the q78 technique, generalized to any value set so the oracle
    holds at every SF)."""
    import numpy as np

    vals = sorted(
        k.split("=", 1)[1]
        for k in modeler.context.representations
        if k.startswith(path + "=")
    )
    for i, v in enumerate(vals, start=1):
        modeler.context.representations[f"{path}={v}"] = np.array(
            [s * i for s in scales]
        )


@query(
    "q40_featurize_pipeline",
    oracle=f"""
    WITH mq AS ({_moments_sql("l_quantity")}),
    rf AS (SELECT v, 10.0 * r AS r0, 16.0 * r AS r1 FROM (
      SELECT l_returnflag AS v,
             ROW_NUMBER() OVER (ORDER BY l_returnflag) AS r
      FROM (SELECT DISTINCT l_returnflag FROM lineitem))),
    ls AS (SELECT v, 100.0 * r AS r0, 32.0 * r AS r1 FROM (
      SELECT l_linestatus AS v,
             ROW_NUMBER() OVER (ORDER BY l_linestatus) AS r
      FROM (SELECT DISTINCT l_linestatus FROM lineitem)))
    SELECT l.l_orderkey, l.l_linenumber,
           (l.l_quantity - mq.mean_x) / mq.std_x
             + (l.l_extendedprice - 0.0) / 1024.0
             + (l.l_discount - 0.0) / 0.0625
             + rf.r0 + ls.r0 AS f0,
           ((l.l_quantity - mq.mean_x) / mq.std_x) * 2.0
             + ((l.l_extendedprice - 0.0) / 1024.0) * 4.0
             + ((l.l_discount - 0.0) / 0.0625) * 8.0
             + rf.r1 + ls.r1 AS f1
    FROM lineitem l
    JOIN rf ON l.l_returnflag = rf.v
    JOIN ls ON l.l_linestatus = ls.v
    CROSS JOIN mq
    ORDER BY l.l_orderkey, l.l_linenumber
    """,
    tags=("featurize", "parity:M1,F1,F2,F3"),
)
def q40_featurize_pipeline(spark, sf_dir):
    """M1 end-to-end, driver-hash-checked (VERDICT r5 item 3): the
    REAL featurize pipeline — schema recursion over three numeric +
    two categorical channels, init_keys' exact moments,
    broadcast params, Arrow-batched mapInPandas forward, struct-sum
    reduction (F3) of all five channels into one size-2 feature — with
    the numeric transforms pinned to [[0,0],[1,c]] (c a power of two)
    and the categorical embeddings pinned to rank constants, so every
    output feature equals a plain SQL expression over the same
    moments. The quantity channel keeps the REAL data-derived moments
    (the A1 machinery under oracle check); price/discount get pinned
    frozen-affine stats (mean 0, power-of-two std → exact scaling) —
    their data-derived path would push the oracle's squared-sum
    unscaled decimals past the 2^53 ceiling where DuckDB's
    int128→double conversion double-rounds (functions/exact.py
    discipline). The channel accumulation order (schema order, left
    fold from zeros) is mirrored by the oracle's left-associated sums,
    so the doubles are bit-identical, not approximately equal."""
    import numpy as np

    from mindseye_dataframes_spark.featurize import DataframeModeler, ModelingStrategy

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag", "l_linestatus",
    )
    modeler = DataframeModeler(ModelingStrategy(default_size=2))
    modeler.init_keys(li.drop("l_orderkey", "l_linenumber"))
    for path, c in (
        ("l_quantity", 2.0), ("l_extendedprice", 4.0), ("l_discount", 8.0)
    ):
        modeler.context.transforms[f"transform/{path}"] = np.array(
            [[0.0, 0.0], [1.0, c]]
        )
    # frozen-affine stats for the wide-magnitude channels (see oracle
    # note): (n, mean, std) with power-of-two std → exact scaling
    modeler.context.stats["l_extendedprice"] = (0.0, 0.0, 1024.0)
    modeler.context.stats["l_discount"] = (0.0, 0.0, 0.0625)
    _pin_rank_representations(modeler, "l_returnflag", (10.0, 16.0))
    _pin_rank_representations(modeler, "l_linestatus", (100.0, 32.0))
    out = modeler.eval_to_dataframe(
        li, "features", passthrough=["l_orderkey", "l_linenumber"]
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.element_at("features", 1).alias("f0"),
        F.element_at("features", 2).alias("f1"),
    ).orderBy("l_orderkey", "l_linenumber")


@query(
    "q78_eval_identity",
    oracle=f"""
    WITH m AS ({_MOMENTS})
    SELECT l_orderkey, l_linenumber,
           (l_quantity - m.mean_q) / m.std_q
             + CASE l_returnflag WHEN 'A' THEN 10.0 WHEN 'N' THEN 20.0
                                 ELSE 30.0 END AS feat
    FROM lineitem, m
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("featurize", "parity:M1,F1,F2,F3"),
)
def q78_eval_identity(spark, sf_dir):
    """M1 batch inference (`ModelingStrategy.scala:167-186`) made
    SQL-checkable: run the REAL ``eval_to_dataframe`` path (broadcast
    params → Arrow mapInPandas → featurize → array<double> column) with
    a degenerate pinned configuration — numeric transform [[0],[1]]
    makes the z-score channel an identity, and the categorical
    embeddings are pinned scalars — so the summed feature equals a
    plain SQL expression over the exact-decimal moments."""
    import numpy as np

    from mindseye_dataframes_spark.featurize import DataframeModeler, ModelingStrategy

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    modeler = DataframeModeler(ModelingStrategy(default_size=1))
    modeler.init_keys(li.select("l_quantity", "l_returnflag"))
    modeler.context.transforms["transform/l_quantity"] = np.array([[0.0], [1.0]])
    for v, c in (("A", 10.0), ("N", 20.0), ("R", 30.0)):
        modeler.context.representations[f"l_returnflag={v}"] = np.array([c])
    out = modeler.eval_to_dataframe(
        li, "features", passthrough=["l_orderkey", "l_linenumber"]
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.element_at("features", 1).alias("feat"),
    ).orderBy("l_orderkey", "l_linenumber")


@query(
    "q65_featurize_temporal_embedding",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, event_type, value FROM events
      WHERE event_id % 100 < 10),
    m AS ({_moments_sql("value", "ev")}),
    et AS (SELECT v, 10.0 * r AS rep FROM (
      SELECT event_type AS v,
             ROW_NUMBER() OVER (ORDER BY event_type) AS r
      FROM (SELECT DISTINCT event_type FROM ev)))
    SELECT ev.event_id,
           (et.rep + (ev.value - m.mean_x) / m.std_x)
             + COALESCE(CAST(e.embedding[1] AS DOUBLE), 0.0) AS feat
    FROM ev
    JOIN et ON ev.event_type = et.v
    LEFT JOIN embeddings e ON e.vec_id = ev.event_id
    CROSS JOIN m
    ORDER BY ev.event_id
    """,
    tags=("featurize", "parity:type-extension"),
)
def q65_featurize_temporal_embedding(spark, sf_dir):
    """Type-matrix extension end-to-end, driver-hash-checked (VERDICT
    r5 item 3): timestamp channel (events.ts → epoch-seconds z-score),
    categorical channel, numeric z-score channel, and an
    embedding-vector channel (array<float> → affine map) featurized in
    ONE real mapInPandas pass. Pinning makes it SQL-expressible while
    every channel still executes: the ts transform is pinned to zeros
    (the channel runs; its contribution is exactly 0.0 — sub-second
    timestamps are not engine-exact through the ns/µs epoch paths, so
    its VALUE semantics stay pinned by tests/test_featurize.py), the
    value transform to the identity [[0],[1]], event_type embeddings
    to rank constants, and the vector map to e₀ (so the projection is
    exactly embedding[0]; a missing left-join row contributes 0.0).
    Channel accumulation order (ts, event_type, value, embedding) is
    mirrored by the oracle's left-associated sum."""
    import numpy as np

    from mindseye_dataframes_spark.featurize import DataframeModeler, ModelingStrategy

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .filter(F.col("event_id") % 100 < 10)  # bounded slice for the gate
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("event_id"), "embedding"
    )
    joined = ev.join(emb, "event_id", "left")
    modeler = DataframeModeler(ModelingStrategy(default_size=1))
    modeler.init_keys(joined.drop("event_id"))
    modeler.context.transforms["transform/ts"] = np.array([[0.0], [0.0]])
    modeler.context.transforms["transform/value"] = np.array([[0.0], [1.0]])
    _pin_rank_representations(modeler, "event_type", (10.0,))
    vec_w = modeler.context.transforms.get("vector/embedding")
    if vec_w is not None:  # absent when NO slice row joined an
        # embedding (d-probe 0): the channel then contributes nothing,
        # exactly the oracle's COALESCE(embedding[1], 0.0) on all-null
        e0 = np.zeros((vec_w.shape[0], 1))
        e0[0, 0] = 1.0
        modeler.context.transforms["vector/embedding"] = e0
    out = modeler.eval_to_dataframe(joined, "features", passthrough=["event_id"])
    return out.select(
        "event_id", F.element_at("features", 1).alias("feat")
    ).orderBy("event_id")


# --- q235: eval preview zip (the reference's closing lifecycle step) ------
#
# Pinned classifier head: 1 feature -> 3 class logits, chosen so the
# argmax actually varies across the preview rows (feat crossings at
# z = -0.4/3 and z = 0.1).
_PV_W = (0.5, -1.0, 2.0)
_PV_B = (0.1, 0.0, -0.2)


@query(
    "q235_eval_preview_zip",
    oracle=f"""
    WITH m AS ({_MOMENTS}),
    t AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
             l_extendedprice
      FROM lineitem
      ORDER BY l_extendedprice, l_orderkey, l_linenumber LIMIT 100),
    p AS (
      SELECT t.*, (l_quantity - m.mean_q) / m.std_q AS feat FROM t, m),
    s AS (
      SELECT l_returnflag, l_quantity,
             feat * {_PV_W[0]} + {_PV_B[0]} AS s1,
             feat * {_PV_W[1]} + {_PV_B[1]} AS s2,
             feat * {_PV_W[2]} + {_PV_B[2]} AS s3,
             row_number() OVER (
               ORDER BY l_extendedprice, l_orderkey, l_linenumber) - 1
               AS rid
      FROM p)
    SELECT rid, l_returnflag, l_quantity, s1, s2, s3,
           CASE WHEN s1 >= s2 AND s1 >= s3 THEN 1
                WHEN s2 >= s3 THEN 2 ELSE 3 END AS pred_class
    FROM s ORDER BY rid
    """,
    tags=("featurize", "join", "parity:J1,M1"),
)
def q235_eval_preview_zip(spark, sf_dir):
    """The reference's FINAL lifecycle step (`Trainer.scala:195-200`),
    driver-hash-checked: take a 100-row test preview, then positionally
    zip THREE frames — the label column, the feature columns, and
    ``evalToDataframe``'s network predictions over the label-dropped
    frame — exactly the J1+M1 composition the reference displays after
    training. Determinism pins: the preview is the first 100 rows of
    the UNIQUE (l_extendedprice, l_orderkey, l_linenumber) order (a
    bare ``limit`` is partition-arbitrary); the model is the q78
    pinned-identity featurizer (feat = z-scored quantity against the
    exact-decimal full-table moments) with a pinned Dense(1→3) head,
    so all three logits and the argmax class are plain SQL over the
    moments. The zip is the real ``zip_frames`` positional join (each
    frame under its own renamed copy of the unique key), not a
    self-join shortcut — the driver hash therefore certifies J1's
    alignment AND M1's network forward in one row."""
    import numpy as np

    from mindseye_dataframes_spark.featurize import (
        DataframeModeler,
        ModelingStrategy,
    )
    from mindseye_dataframes_spark.featurize.layers import Dense, Network
    from mindseye_dataframes_spark.operators.zip_frames import zip_frames

    li = load_table(spark, sf_dir, "lineitem")
    test = (
        li.select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
            "l_extendedprice",
        )
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .limit(100)
    )

    # labels / features / predictions, each carrying its own renamed
    # copy of the unique order key (zip needs disjoint names)
    labels = test.select(
        F.col("l_returnflag"),
        F.col("l_extendedprice").alias("_la_ep"),
        F.col("l_orderkey").alias("_la_ok"),
        F.col("l_linenumber").alias("_la_ln"),
    )
    feats = test.select(
        F.col("l_quantity"),
        F.col("l_extendedprice").alias("_fb_ep"),
        F.col("l_orderkey").alias("_fb_ok"),
        F.col("l_linenumber").alias("_fb_ln"),
    )

    modeler = DataframeModeler(ModelingStrategy(default_size=1))
    modeler.init_keys(li.select("l_quantity"))
    modeler.context.transforms["transform/l_quantity"] = np.array(
        [[0.0], [1.0]]
    )
    head = Dense("preview", 1, 3)
    modeler.context.layers[head.w_key] = np.array([list(_PV_W)])
    modeler.context.layers[head.b_key] = np.array([list(_PV_B)])
    # the featurized column keeps its name (the pinned transform is
    # keyed by path "l_quantity"); it is consumed by featurization and
    # never reaches the zip, so names stay disjoint
    preds = modeler.eval_to_dataframe(
        test.select(
            "l_quantity",
            F.col("l_extendedprice").alias("_pc_ep"),
            F.col("l_orderkey").alias("_pc_ok"),
            F.col("l_linenumber").alias("_pc_ln"),
        ),
        "prediction",
        network=Network([head]),
        passthrough=["_pc_ep", "_pc_ok", "_pc_ln"],
    )

    zipped = zip_frames(
        [labels, feats, preds],
        [
            ["_la_ep", "_la_ok", "_la_ln"],
            ["_fb_ep", "_fb_ok", "_fb_ln"],
            ["_pc_ep", "_pc_ok", "_pc_ln"],
        ],
        index_col="rid",
    )
    return zipped.select(
        "rid",
        "l_returnflag",
        "l_quantity",
        F.element_at("prediction", 1).alias("s1"),
        F.element_at("prediction", 2).alias("s2"),
        F.element_at("prediction", 3).alias("s3"),
        F.array_position(
            F.col("prediction"), F.array_max("prediction")
        ).cast("int").alias("pred_class"),
    ).orderBy("rid")
