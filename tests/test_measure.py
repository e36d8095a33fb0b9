"""``mindseye_dataframes_spark.measure``: a record counts its own Spark
work and nothing else, the pass loop survives a failing query, and
under Connect a record is wall time only."""

from __future__ import annotations

from pyspark.sql import functions as F

from mindseye_dataframes_spark import measure
from mindseye_dataframes_spark.measure import Record, passes, record
from mindseye_dataframes_spark.queries.registry import Query


def test_record_counts_only_its_own_jobs(spark):
    """A job run just before the record is not counted, and the
    caller's job group is back in place afterwards."""
    sc = spark.sparkContext
    sc.setJobGroup("caller", "the caller's group")
    try:
        spark.range(1000, numPartitions=4).groupBy(F.col("id") % 3).count().collect()
        rec = record(spark, lambda: spark.range(10, numPartitions=2).collect())
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert (rec.jobs, rec.stages, rec.tasks) == (1, 1, 2)
    assert rec.shuffle_read_mb == rec.shuffle_write_mb == 0
    assert rec.wall_s > 0 and rec.task_cpu_s >= 0 and rec.plan is not None


def test_rerun_over_a_reused_shuffle_counts_its_skipped_stage_out(spark, monkeypatch):
    """A second action on the same DataFrame reuses the first one's
    shuffle output: the map stage is SKIPPED, so the record has the
    result stage alone, which reads the shuffle and writes none.

    Past ``spark.ui.retainedStages`` the status store evicts SKIPPED
    stages first, and ``lastStageAttempt`` raises for an evicted one;
    the record is the same when the skipped stage is gone."""
    df = spark.range(2000, numPartitions=4).groupBy((F.col("id") % 7).alias("k")).count()
    first = record(spark, df.collect)
    again = record(spark, df.collect)
    assert first.stages == 2 and first.shuffle_write_mb > 0
    assert (again.jobs, again.stages) == (1, 1)
    assert again.shuffle_read_mb > 0 and again.shuffle_write_mb == 0

    jsc = spark.sparkContext._jsc
    store = jsc.sc().statusStore()

    class Evicted:
        def lastStageAttempt(self, sid):
            data = store.lastStageAttempt(sid)
            skipped = data.status().toString() == "SKIPPED"
            return store.lastStageAttempt(-1) if skipped else data  # raises: no stage -1

    class Jsc:
        def __getattr__(self, name):
            return getattr(jsc, name)

        def sc(self):
            return type("Sc", (), {"__getattr__": lambda _, n: getattr(jsc.sc(), n),
                                   "statusStore": lambda _: Evicted()})()

    monkeypatch.setattr(spark.sparkContext, "_jsc", Jsc())
    evicted = record(spark, df.collect)
    assert (evicted.jobs, evicted.stages, evicted.tasks) == (again.jobs, again.stages, again.tasks)


def test_passes_record_a_failure_and_keep_timing_the_rest(spark):
    def boom(spark, sf_dir):
        raise ValueError(f"no table under {sf_dir}")

    queries = {
        "q_fail": Query("q_fail", boom),
        "q_ok": Query("q_ok", lambda spark, sf_dir: spark.range(10)),
    }
    runs = passes(spark, queries, "sf-missing", 2)
    assert runs["q_fail"] == "FAIL no table under sf-missing"
    ok = runs["q_ok"]
    assert len(ok) == 2 and all(0 <= r.build_s <= r.wall_s for r in ok)
    # the second pass finds its one generated class in the codegen cache
    assert ok[1].codegen_compiles == 0
    assert ok[0].plan == ok[1].plan is not None


class _NoJvm:
    """A session stand-in on which any attribute access fails."""

    def __getattr__(self, name):
        raise AssertionError(f"record touched spark.{name}")


def test_connect_record_is_wall_time_only(monkeypatch):
    monkeypatch.setattr(measure, "is_classic", lambda spark: False)
    ran = []
    rec = record(_NoJvm(), lambda: ran.append(1))
    assert ran == [1] and rec.wall_s >= 0
    assert rec == Record(wall_s=rec.wall_s)


def test_plan_fingerprint_masks_staging_directory_names():
    """A staging directory's random name is run-local: two plans that
    differ only there hash alike; a different operator does not."""
    plan = (
        "(1) Scan parquet \n"
        "Output [2]: [id#{n}L, png#{m}]\n"
        "Location: InMemoryFileIndex [file:/tmp/msdf_png_packed_{suffix}]\n"
        "ReadSchema: struct<id:bigint,png:binary>\n"
    )
    a = plan.format(n=12, m=13, suffix="k2x_9q1a")
    b = plan.format(n=40, m=41, suffix="z0m4c7_e")
    assert measure.plan_fingerprint(a) == measure.plan_fingerprint(b)
    assert measure.plan_fingerprint(a) != measure.plan_fingerprint(a.replace("Scan parquet", "Scan orc"))
