"""One measured run of Spark work (``record``), the pass loop that times
registry queries with it (``passes``), and the tools' JSON logs
(``write``, under the git-ignored ``benchdata/probes/``). Nothing on the
query or featurize path imports this module."""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import re
import statistics
import sys
import time
import uuid

from py4j.protocol import Py4JJavaError

from mindseye_dataframes_spark.compat import is_classic

PROBE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "benchdata", "probes")

# StageData getter → (Record field, factor from Spark's unit)
_STAGE_FIELDS = {
    "numCompleteTasks": ("tasks", 1),
    "executorRunTime": ("task_run_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "inputBytes": ("input_mb", 2**-20),
    "shuffleReadBytes": ("shuffle_read_mb", 2**-20),
    "shuffleWriteBytes": ("shuffle_write_mb", 2**-20),
    "diskBytesSpilled": ("spill_mb", 2**-20),
}
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

# Numbers a re-run of the same plan may renumber: lambda variables
# (PySpark numbers their names per process), expression ids (``#123``),
# exchange plan ids, whole-stage codegen ids, the RDD id and call site of
# a frame built from Python rows, AQE query-stage ids (stages are
# created as earlier ones finish), and the rest of a staging directory's
# name after its ``msdf_`` prefix (``sources.staging.staging_dir`` adds a
# random suffix per run).
_PLAN_IDS = re.compile(
    r"lambda \w+#\d+|#\d+|plan_id=\d+|codegen id : \d+|RDD\[\d+\] at [^,\n]*|(?<=msdf_)[^/\]\s,]+"
)
_STAGE_IDS = re.compile(r"(QueryStage\n(?:Output .*\n)?Arguments: )\d+")


@dataclasses.dataclass
class Record:
    wall_s: float
    build_s: float | None = None  # the part of wall_s spent building the DataFrame
    jobs: int | None = None
    stages: int | None = None  # skipped stages left out
    tasks: int | None = None
    task_run_s: float | None = None
    task_cpu_s: float | None = None
    input_mb: float | None = None
    shuffle_read_mb: float | None = None
    shuffle_write_mb: float | None = None
    spill_mb: float | None = None
    codegen_compiles: int | None = None
    loadavg_1m: float | None = None  # just before the run
    plan: str | None = None  # last_plan_fingerprint, None when no SQL ran


def codegen_compile_count(spark) -> int:
    """How many generated classes this JVM has Janino-compiled so far
    (Spark's ``CodegenMetrics`` compile-time histogram count; in
    ``local[N]`` it covers the driver and every executor)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _last_execution(spark):
    """The latest SQL execution (or None), once the listener bus is drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0) if n else None


def last_plan_description(spark) -> str:
    """The ``physicalPlanDescription`` of the session's latest SQL
    execution: formatted, with AQE's final plan once it ends."""
    return _last_execution(spark).physicalPlanDescription()


def plan_fingerprint(description: str) -> str:
    """A short hash of a physical plan description with run-local ids
    masked. Two runs with the same fingerprint executed the same
    physical plan."""
    masked = _STAGE_IDS.sub(r"\1#", _PLAN_IDS.sub("#", description))
    return hashlib.sha256(masked.encode()).hexdigest()[:12]


def last_plan_fingerprint(spark) -> str:
    """``plan_fingerprint`` of ``last_plan_description``."""
    return plan_fingerprint(last_plan_description(spark))


def record(spark, action) -> Record:
    """Run ``action()`` under a fresh job group, then restore the
    caller's. The stage fields sum ``lastStageAttempt`` over the group's
    stages, SKIPPED ones left out. Under Connect only ``wall_s`` is set."""
    if not is_classic(spark):
        start = time.perf_counter()
        action()
        return Record(wall_s=round(time.perf_counter() - start, 4))
    sc = spark.sparkContext
    before = _last_execution(spark)
    caller = [sc.getLocalProperty(p) for p in _GROUP_PROPS]
    group = f"measure-{uuid.uuid4().hex}"
    loadavg, compiled = round(os.getloadavg()[0], 2), codegen_compile_count(spark)
    sc.setJobGroup(group, group)
    start = time.perf_counter()
    try:
        action()
    finally:
        wall = time.perf_counter() - start
        for prop, value in zip(_GROUP_PROPS, caller):
            sc.setLocalProperty(prop, value)
    compiled = codegen_compile_count(spark) - compiled
    after = _last_execution(spark)
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    totals = dict.fromkeys([f for f, _ in _STAGE_FIELDS.values()] + ["stages"], 0)
    for sid in {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}:
        try:
            data = store.lastStageAttempt(sid)
        except Py4JJavaError:  # gone: past spark.ui.retainedStages, skipped stages go first
            continue
        if data.status().toString() != "SKIPPED":
            totals["stages"] += 1
            for getter, (f, unit) in _STAGE_FIELDS.items():
                totals[f] += getattr(data, getter)() * unit
    new_sql = after is not None and (before is None or after.executionId() != before.executionId())
    return Record(
        wall_s=round(wall, 4),
        jobs=len(jobs),
        codegen_compiles=compiled,
        loadavg_1m=loadavg,
        plan=last_plan_fingerprint(spark) if new_sql else None,
        **{f: v if isinstance(v, int) else round(v, 3) for f, v in totals.items()},
    )


def passes(spark, queries, sf_dir: str, n: int) -> dict[str, list[Record] | str]:
    """``n`` passes over ``name → Query``, each after one
    ``clearCache()``; pass 0 is the cold pass. A run builds the query and
    drains it to the ``noop`` sink inside one ``record``. Returns ``name →
    [Record per pass]``, or ``"FAIL <message>"`` for a query that raised
    (later passes skip it)."""
    out: dict[str, list[Record] | str] = {name: [] for name in queries}
    for i in range(n):
        spark.catalog.clearCache()
        for name, q in queries.items():
            if isinstance(out[name], str):
                continue
            build = []

            def run(q=q, build=build):
                start = time.perf_counter()
                df = q.fn(spark, sf_dir)
                build.append(round(time.perf_counter() - start, 4))
                df.write.format("noop").mode("overwrite").save()

            try:
                out[name].append(dataclasses.replace(record(spark, run), build_s=build[0]))
            except Exception as ex:  # noqa: BLE001 — record, keep timing
                out[name] = f"FAIL {str(ex)[:150]}"
            shown = out[name] if isinstance(out[name], str) else out[name][-1].wall_s
            print(f"pass {i} {name} {shown}", file=sys.stderr, flush=True)
    return out


def spread(values) -> dict[str, float]:
    """Median, min and quartiles (inclusive method) of repeated measurements."""
    s = sorted(values)
    p25, median, p75 = statistics.quantiles(s, n=4, method="inclusive") if len(s) > 1 else s * 3
    return {"median": median, "min": s[0], "p25": p25, "p75": p75}


def write(name: str, payload, path: str | None = None) -> str:
    """Write ``payload``, Records included, as JSON to ``path`` (default
    ``benchdata/probes/<name>.json``; a name too long for a file name is
    cut and suffixed with its md5) and return the path."""
    if path is None:
        if len(name) > 120:
            name = f"{name[:100]}-{hashlib.md5(name.encode()).hexdigest()[:10]}"
        path = os.path.join(PROBE_DIR, f"{name}.json")
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True, default=dataclasses.asdict)
    return path
