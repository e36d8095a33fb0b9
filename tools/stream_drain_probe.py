"""Operator-dominant timing for the streaming/maintenance harness
queries (VERDICT r9 item 4).

q228 (streaming LEFT OUTER drain) and q218 (ANN checkpoint fold)
previously had only whole-query probe rows, which re-stage their
source drop / ingest log inside the timed region on EVERY run — so
the recorded numbers were majority-harness and useless as regression
trackers for the operators themselves. This probe stages ONCE per
session, then times the drain/fold alone, min-of-N:

- q228: ``oj_stage`` once → N × ``oj_drain`` (each drain is a fresh
  bounded stream with its own checkpoint/memory table over the same
  staged drop — the multi-trigger join + eviction IS the timed work).
- q218: ``ann_ckpt_stage_log`` once → N × ``ann_ckpt_fold`` with a
  per-run salt, so every run performs a REAL fold + publish (not the
  warm no-op re-publish a same-fingerprint re-run would measure).

Each timed result is also sanity-checked (rollup rows / probe rows
non-empty) so a probe can't go green on a short-circuited run.

Statistical protocol (VERDICT r10 item 3 — the r10 sf1 numbers spanned
a ±2× band, useless as a regression tracker): UNTIMED warm-up runs
per family first (the r10 spread's worst outliers were cold JVM/
codegen/state-store initialization on run 1), then median-of-N
(default 5) with min and quartiles (``measure.spread``) and every
run's ``measure.Record``; a jvm System.gc() plus an untimed 8 s settle
between runs (with the state-store maintenance interval shortened to 5 s) lets
finished queries' state providers unload before the next run starts —
without it the sf1 series CLIMBED 18→49 s run-over-run as provider
heap from completed drains billed their successors. Trigger count is
already pinned by the staged layout (32 aged files + 1 sentinel at
maxFilesPerTrigger=8 → 5 triggers, every run).

Usage:  python tools/stream_drain_probe.py [sf_dir] [n_runs]
Writes benchdata/probes/stream_drain_<sfname>.json (git-ignored).
"""

from __future__ import annotations

import itertools
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mindseye_dataframes_spark.measure import record, spread, write  # noqa: E402

# untimed settle between runs: one state-store maintenance cycle
SETTLE_SEC = 8.0


def _jvm_gc(spark) -> None:
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def _drop_probe_views(spark, prefix: str) -> None:
    """Drop the memory-sink tables earlier drains registered: each
    bounded drain materializes its result into a session temp view,
    and letting those accumulate across runs biases later runs with
    mounting heap pressure."""
    try:
        for t in spark.catalog.listTables():
            if t.name.startswith(prefix):
                spark.catalog.dropTempView(t.name)
    except Exception:
        pass


def _warm_to_steady(spark, run, *, max_warm: int = 6, tol: float = 0.10):
    """Run untimed warm-ups until two consecutive runs agree within
    ``tol`` (or ``max_warm`` runs) — a single warm-up is not enough
    for the stateful-join drain, whose generated code keeps getting
    C2-compiled across the first few full drains (the r11 sf0.1
    five-run series decayed 42 → 19 s monotonically after ONE
    warm-up). Returns the warm-up timings for the probe record.
    The divisor floors at 0.01 s so a drain fast enough to round to
    0.00 can't abort the probe with ZeroDivisionError (ADVICE r11)."""
    warm = []
    prev = None
    for _ in range(max_warm):
        t = record(spark, run).wall_s
        warm.append(t)
        if prev is not None and abs(t - prev) / max(prev, 0.01) < tol:
            break
        prev = t
    return warm


def _time_family(spark, stage, run, n_runs):
    """Stage once, warm ``run`` to steady, then time it ``n_runs``
    times, each after a JVM GC and an untimed settle so every timed run
    starts from the same unloaded-provider state. ``run`` takes a tag
    that is unique per call. The result keeps the staging record, the
    warm-up times, the spread of the timed runs (the IQR is the
    regression-tracking band) and their records."""
    staged = record(spark, stage)
    warm_tags = (f"w{i}" for i in itertools.count())
    warm = _warm_to_steady(spark, lambda: run(next(warm_tags)))
    runs = []
    for i in range(n_runs):
        _jvm_gc(spark)
        time.sleep(SETTLE_SEC)
        runs.append(record(spark, lambda: run(f"probe{i}")))
    walls = spread([r.wall_s for r in runs])
    print(walls, flush=True)
    return {"stage_once": staged, "warmup_runs": warm, **walls, "runs": runs}


def main() -> None:
    os.chdir(REPO)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    from mindseye_dataframes_spark.session import get_session

    spark = get_session(
        app_name="stream-drain-probe",
        extra_conf={
            # default 60s: with ~5 drains of 20-50s each, providers from
            # FINISHED queries outlive several timed runs and their heap
            # bills the successors (the r11 sf1 series CLIMBED 18→49 s
            # run-over-run); a short cycle unloads them between runs
            "spark.sql.streaming.stateStore.maintenanceInterval": "5s",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from mindseye_dataframes_spark.queries.similarity import (
        ann_ckpt_fold,
        ann_ckpt_stage_log,
    )
    from mindseye_dataframes_spark.queries.timeseries import oj_drain, oj_stage
    from mindseye_dataframes_spark.sources.staging import staging_dir

    out = {"sf_dir": sf_dir, "n_runs": n_runs, "results": {}}

    # --- q228: stage once, drain N times -------------------------------
    src = staging_dir(spark, "msdf_probe_oj_")

    def drain(_tag):
        assert oj_drain(spark, src, timeout_sec=300).count() > 0
        _drop_probe_views(spark, "q228_oj_")

    try:
        out["results"]["q228_drain"] = _time_family(
            spark, lambda: oj_stage(spark, sf_dir, src), drain, n_runs
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)

    # --- q218: stage the log once, fold N times ------------------------
    root = staging_dir(spark, "msdf_probe_annckpt_")
    post_log = f"{root}/postings"

    def fold(tag):
        # a distinct salt per run makes each one a real fold + publish
        assert ann_ckpt_fold(spark, sf_dir, post_log, salt=f":{tag}").count() > 0

    try:
        out["results"]["q218_fold"] = _time_family(
            spark, lambda: ann_ckpt_stage_log(spark, sf_dir, post_log), fold, n_runs
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)

    sfname = os.path.basename(os.path.normpath(sf_dir))
    print("WROTE", write(f"stream_drain_{sfname}", out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
