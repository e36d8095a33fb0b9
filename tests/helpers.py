"""DuckDB-oracle comparison mirroring the driver's correctness gate:
row count + column names + order-insensitive exact value compare.

We compare EXACTLY (no float tolerance): queries are designed for
engine-exact results (see ``functions/exact.py``), so any drift is a
real determinism bug that would also flip the driver's value-hash.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb

from mindseye_dataframes_spark.sources.readers import TABLES


def duckdb_oracle(sql: str, sf_dir: str):
    # Spark-written tables are DIRECTORIES of part files
    # (tools/make_benchdata.py output) — _duckdb_connect_views globs
    # them; the driver's single-file drops take the plain path
    con = _duckdb_connect_views(sf_dir)
    try:
        # The driver fetches oracle results through pandas, where
        # DuckDB HUGEINT (e.g. SUM over integers without an outer
        # CAST) degrades to float64 — fetchall() would hide that by
        # returning exact Python ints. Mirror the degradation so the
        # q25-class of driver-only failures reproduces locally.
        hugeint_cols = {
            r[0]
            for r in con.execute(f"DESCRIBE {sql}").fetchall()
            if r[1].upper() in ("HUGEINT", "UHUGEINT")
        }
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        if hugeint_cols:
            idx = [i for i, c in enumerate(cols) if c in hugeint_cols]
            rows = [
                tuple(
                    float(v) if i in idx and v is not None else v
                    for i, v in enumerate(r)
                )
                for r in rows
            ]
        return cols, rows
    finally:
        con.close()


def _norm(v):
    # int vs float is deliberately NOT unified: the driver's value-hash
    # may distinguish 123 from 123.0, so queries must align dtypes
    # across engines (cast Spark INT ranks to long, floor/ceil to
    # double, DuckDB integer SUMs to BIGINT, …).
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return ("f", v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def canonicalize(cols, rows):
    """Sort columns by name, normalize values, sort rows — the same
    shape the driver hashes."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def _duckdb_connect_views(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _bounded_spark_agg(spark_df, spec: dict) -> tuple:
    """ONE aggregation pass over ``spark_df``: (n_rows, sum_metric,
    checksum, checksum2). Shared by the engage decision and the comparison so a
    6.5e8-row relation executes once, never once-to-count plus
    once-to-digest (the r12 chunk-A lesson: the extra full pass is
    ~900 s of pure GC pressure at sf1)."""
    import pyspark.sql.functions as F

    joined = ", ".join(spec["cols"])
    # two INDEPENDENT digests (disjoint md5 prefixes, chars 1-8 and
    # 9-16): compensating per-row collisions would have to cancel in
    # both 2^32-bucket sums simultaneously (~2^-64), closing the ADVICE
    # r12 gap between bounded and exact evidence
    digests = [
        F.expr(
            f"CAST(conv(substr(md5(concat_ws(':', {joined})), {start}, 8),"
            " 16, 10) AS BIGINT)"
        )
        for start in (1, 9)
    ]
    srow = spark_df.agg(
        F.count(F.lit(1)), F.sum(spec["metric"]), *[F.sum(d) for d in digests]
    ).collect()[0]
    return tuple(int(v or 0) for v in srow)


def assert_matches_oracle_bounded(
    spark_df,
    oracle_sql: str,
    sf_dir: str,
    spec: dict,
    name: str = "query",
    spark_agg: tuple | None = None,
):
    """Order-insensitive AGGREGATE comparison for results too large to
    collect (a Query's opt-in ``bounded_compare`` spec): exact
    cardinality, the summed metric column, and a SUM over per-row
    2^32-bucket md5 digests of the spec's columns — any changed,
    missing, or extra row moves the checksum, and n·2^32 < 2^63 keeps
    the BIGINT sum exact below 2^31 rows. Column names are still
    checked (DESCRIBE plans the oracle without running it).
    ``tools/parity_sweep.py`` reaches it through a query's spec, which
    is how q120's sf1 values are checked; requires non-null int/string
    columns.
    ``spark_agg`` lets the caller pass an already-computed Spark-side
    triple so the relation is never executed twice. Digest parity pair
    (verify-skill gotcha): Spark ``conv(substr(md5(x),1,8),16,10)``
    cast BIGINT ≡ DuckDB
    ``CAST(('0x' || substr(md5(x),1,8)) AS BIGINT)``."""
    cols, metric = spec["cols"], spec["metric"]
    got = spark_agg if spark_agg is not None else _bounded_spark_agg(
        spark_df, spec
    )

    con = _duckdb_connect_views(sf_dir)
    try:
        db_cols = [
            r[0] for r in con.execute(f"DESCRIBE {oracle_sql}").fetchall()
        ]
        assert sorted(spark_df.columns) == sorted(db_cols), (
            f"{name}: column names differ: spark={sorted(spark_df.columns)}"
            f" duckdb={sorted(db_cols)}"
        )
        # the registered oracle ends with ORDER BY — irrelevant under
        # aggregation and a huge sort on the DuckDB side. The strip is
        # only sound for a BARE OUTER trailing ORDER BY: a LIMIT after
        # it, or a last ORDER BY inside a subquery/window (unbalanced
        # parens in the prefix, or a later ')'), would make the
        # aggregate run a DIFFERENT relation — refuse instead of
        # silently green-lighting (ADVICE r12)
        prefix, sep, tail = oracle_sql.rpartition("ORDER BY")
        if sep:
            assert "limit" not in tail.lower(), (
                f"{name}: bounded_compare oracle ends in ORDER BY"
                " ... LIMIT — register an order-free oracle form"
            )
            assert ")" not in tail and prefix.count("(") == prefix.count(")"), (
                f"{name}: last ORDER BY is not the outer sort —"
                " register an order-free oracle form for bounded compare"
            )
            rel_sql = prefix
        else:
            rel_sql = oracle_sql
        db_joined = " || ':' || ".join(cols)
        digest_sums = ", ".join(
            f"CAST(sum(CAST(('0x' || substr(md5({db_joined}), {start}, 8))"
            " AS BIGINT)) AS BIGINT)"
            for start in (1, 9)
        )
        orow = con.execute(
            f"WITH rel AS ({rel_sql}) SELECT CAST(count(*) AS BIGINT),"
            f" CAST(sum({metric}) AS BIGINT), {digest_sums} FROM rel"
        ).fetchone()
    finally:
        con.close()
    want = tuple(int(v or 0) for v in orow)
    assert got == want, (
        f"{name}: bounded aggregates differ "
        f"(n_rows, sum_{metric}, checksum, checksum2): "
        f"spark={got} duckdb={want}"
    )


def assert_matches_oracle(
    spark_df, oracle_sql: str, sf_dir: str, name: str = "query", bounded=None
):
    """Returns the comparison mode that ran — "exact" (collect + full
    value compare) or "bounded" (aggregate checksums; only when a
    ``bounded`` spec is given AND the result exceeds its row
    threshold) — so sweep artifacts can record which evidence form
    each green row carries."""
    if bounded is not None and bounded.get("refuse"):
        # guard-derived spec over a non-digestable schema
        # (tools/parity_sweep.py:derived_guard_spec): the count
        # aggregate alone makes the engage decision; above threshold
        # we REFUSE with the spec's message instead of attempting the
        # session-killing collect
        n = spark_df.count()
        assert n <= bounded.get("threshold_rows", 20_000_000), (
            f"{bounded['refuse']} (rows={n})"
        )
        bounded = None
    if bounded is not None:
        # ONE pass decides AND digests: the tuple's n_rows is the
        # engage decision, so the huge case never pays a separate
        # count() execution of the full relation before the digest
        # aggregate (r12 chunk-A lesson). Cost note (ADVICE r12): when
        # the result lands BELOW the threshold the relation executes
        # twice in full (this digest pass, then the exact-path
        # collect) — size threshold_rows so mid-scale sweeps of the
        # opt-in query sit clearly on one side or the other
        agg = _bounded_spark_agg(spark_df, bounded)
        if agg[0] > bounded.get("threshold_rows", 20_000_000):
            assert_matches_oracle_bounded(
                spark_df, oracle_sql, sf_dir, bounded, name=name,
                spark_agg=agg,
            )
            return "bounded"
    sp_cols = spark_df.columns
    sp_rows = [tuple(r) for r in spark_df.collect()]
    db_cols, db_rows = duckdb_oracle(oracle_sql, sf_dir)

    sp_cols_c, sp_canon = canonicalize(sp_cols, sp_rows)
    db_cols_c, db_canon = canonicalize(db_cols, db_rows)

    assert sp_cols_c == db_cols_c, (
        f"{name}: column names differ: spark={sp_cols_c} duckdb={db_cols_c}"
    )
    assert len(sp_canon) == len(db_canon), (
        f"{name}: row count differs: spark={len(sp_canon)} duckdb={len(db_canon)}"
    )
    mismatches = [
        (i, s, d) for i, (s, d) in enumerate(zip(sp_canon, db_canon)) if s != d
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)}/{len(sp_canon)} rows differ; first 3:\n"
        + "\n".join(f"  row {i}:\n    spark : {s}\n    duckdb: {d}" for i, s, d in mismatches[:3])
        + f"\n  (columns: {sp_cols_c})"
    )
    return "exact"


def formatted_plan(df) -> str:
    """The formatted physical plan of a fresh ``executePlan`` over the
    DataFrame's logical plan — the warm plan a re-run executes."""
    spark = df.sparkSession
    qe = df._jdf.queryExecution()
    return (
        spark._jsparkSession.sessionState()
        .executePlan(qe.logical(), qe.mode())
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )


COVTYPE_LABELS = 7


def covtype_raw(spark, n_rows: int, n_soil: int):
    """The reference's covtype_raw table (FIXTURES §1.1), synthesized:
    10 integer measurements, 4 Wilderness_Area and ``n_soil``
    Soil_Type flags, and a Cover_Type label correlated with elevation
    so training has signal. Every value is hashed from the row id, so
    the table does not depend on partitioning."""
    from pyspark.sql import functions as F

    h = lambda i: F.abs(F.xxhash64("id", F.lit(i)))  # noqa: E731
    return spark.range(n_rows).select(
        (h(1) % 2000 + 1000).cast("int").alias("Elevation"),
        (h(2) % 360).cast("int").alias("Aspect"),
        (h(3) % 60).cast("int").alias("Slope"),
        (h(4) % 1000).cast("int").alias("Horizontal_Distance_To_Hydrology"),
        (h(5) % 500).cast("int").alias("Vertical_Distance_To_Hydrology"),
        (h(6) % 4000).cast("int").alias("Horizontal_Distance_To_Roadways"),
        (h(7) % 255).cast("int").alias("Hillshade_9am"),
        (h(8) % 255).cast("int").alias("Hillshade_Noon"),
        (h(9) % 255).cast("int").alias("Hillshade_3pm"),
        (h(10) % 5000).cast("int").alias("Horizontal_Distance_To_Fire_Points"),
        *[(h(20 + i) % 2).cast("int").alias(f"Wilderness_Area{i}") for i in range(1, 5)],
        *[(h(30 + i) % 2).cast("int").alias(f"Soil_Type{i}") for i in range(1, n_soil + 1)],
        F.least(
            F.greatest(((h(1) % 2000) * 7 / 2000 + 1).cast("int"), F.lit(1)),
            F.lit(COVTYPE_LABELS),
        ).alias("Cover_Type"),
    )


def covtype_staging_view(spark, raw):
    """Register ``raw`` as ``covtype_raw`` and stage it through the
    generated ``CREATE TEMPORARY VIEW covtype`` exactly like
    `Trainer.scala:100-116` — a schema walk that drops Soil_Type*,
    casts every feature to DOUBLE and keeps the label. Returns the
    ``covtype`` view."""
    from mindseye_dataframes_spark.repl import SqlRepl

    raw.createOrReplaceTempView("covtype_raw")
    select_list = []
    for field in raw.schema.fields:
        if field.name.startswith("Soil_Type"):
            continue
        if field.name == "Cover_Type":
            select_list.append(f"`{field.name}`")
        else:
            select_list.append(f"CAST(`{field.name}` AS DOUBLE) AS `{field.name}`")
    SqlRepl(spark).run(
        "%sql CREATE OR REPLACE TEMPORARY VIEW covtype AS SELECT "
        + ", ".join(select_list)
        + " FROM covtype_raw"
    )
    return spark.table("covtype")
