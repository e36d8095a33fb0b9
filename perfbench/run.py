"""Closed-loop benchmark of mindseye_dataframes_spark.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 5 --trace 0

One client, one driver process, ``local[N]`` with N = nproc, and the
session exactly as ``session.get_session`` builds it. A run sets up the
workload from the seed, runs a cold op that checks the outputs, then
times the ops that follow for ``--seconds``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. The line
before it (``{"info": ...}``) holds the per-op wall series and the host
co-variates. Generated tables, Spark scratch space and trace spans go
to ``.bench_build/perfbench`` under the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import host  # noqa: E402
from tracing import Tracer, jvm_gc_s  # noqa: E402
from workloads import CovtypeTrain, Headline, NullTracer  # noqa: E402

from mindseye_dataframes_spark.session import get_session  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("headline", "covtype_train")
COVTYPE_ROWS = 581_012  # the UCI covtype size the reference trains on
HEADLINE_SF = "0.01"
SMOKE_COVTYPE_ROWS = 5_000
SMOKE_SF = "0.001"
# Per-layer prefixes of layers a workload never enters. Their declared
# metrics print as 0 (no work done); every other declared metric must be
# computed, and every computed one declared.
UNENTERED = {"headline": ("featurize.",), "covtype_train": ("queries.",)}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    return p.parse_args(argv)


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def isolate_environment() -> None:
    """Keep scratch files inside the checkout and the session at its
    defaults: no master, core count or heap override from the caller."""
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # what an interrupted run left
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # Python workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


def build_tables(sf: str) -> tuple[str, float]:
    """Generate the sf tables once per checkout with the repo's own
    generator; returns their directory and the seconds spent building."""
    out = os.path.join(WORK, "data", f"sf{sf}")
    if os.path.isdir(out):
        return out, 0.0
    start = time.perf_counter()
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "tools", "make_benchdata.py"), sf, tmp],
        cwd=ROOT, stdout=subprocess.DEVNULL, start_new_session=True,
    )
    rc = proc.wait()
    wait_group_gone(proc.pid)
    if rc != 0:
        raise RuntimeError(f"make_benchdata.py {sf} exited {rc}")
    os.rename(tmp, out)
    return out, time.perf_counter() - start


def wait_group_gone(pgid: int, timeout_s: float = 60.0) -> None:
    """Wait until every process of a finished child's group (its JVM
    included) has ended; kill what outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            os.killpg(pgid, 9)
        time.sleep(0.1)


def wait_gone(pids: set[int], timeout_s: float = 60.0) -> None:
    """Wait until each of ``pids`` has ended; kill what outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    while pids := {p for p in pids if host.running(p)}:
        if time.monotonic() > deadline:
            for p in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, 9)
        time.sleep(0.1)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM gateway, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


class Loop:
    """Cold check op, then the timed window, counting every op
    attempted and every op or check that failed."""

    def __init__(self, args, wl, spark, cores: int):
        self.args, self.wl, self.spark, self.cores = args, wl, spark, cores
        self.attempted = self.failed = 0
        self.null = NullTracer()

    def op(self, tracer):
        """One op: its wall time and its span (None when untraced)."""
        self.attempted += 1
        with tracer.span("op") as span:
            start = time.perf_counter()
            try:
                self.wl.op(tracer)
                ok = True
            except Exception as exc:  # an op that raises is a failed op, not a failed run
                print(f"op failed: {exc!r}"[:500], file=sys.stderr)
                ok = False
            wall = time.perf_counter() - start
        self.failed += not (ok and self.wl.check_op())
        return wall, span

    def check_pass(self) -> list[str]:
        self.attempted += 1
        try:
            bad = self.wl.check_pass()
        except Exception as exc:  # a check that raises is a failed check
            bad = [repr(exc)[:200]]
        self.failed += bool(bad)
        return bad

    def untraced_op(self) -> tuple[float, float, float]:
        """Wall time of one op, the CPU seconds this process tree spent
        on it, and the share of the host's CPU time that other tenants
        stole while it ran."""
        me = os.getpid()
        steal0, cpu0 = host.cpu_seconds()["steal_s"], host.tree_cpu_seconds(me)
        wall = self.op(self.null)[0]
        cpu_s = host.tree_cpu_seconds(me) - cpu0
        steal_s = host.cpu_seconds()["steal_s"] - steal0
        return wall, cpu_s, steal_s / (wall * os.cpu_count())

    def traced_op(self, tracer: Tracer) -> tuple[float, dict[str, float]]:
        cpu0, gc0 = host.cpu_seconds(), jvm_gc_s(self.spark)
        with tracer.patched(self.wl.trace_targets):
            wall, span = self.op(tracer)
        gc_s, cpu = jvm_gc_s(self.spark) - gc0, host.cpu_delta(cpu0, host.cpu_seconds())
        spans, tot = tracer.finish_op(span)
        row = self.wl.layer_metrics(tracer, spans, wall, self.cores, tot)
        row.update({"jvm.gc_s": gc_s, "host.busy_s": cpu["busy_s"], "host.steal_s": cpu["steal_s"]})
        return wall, row

    def run(self) -> dict:
        # the cold op is the first check, and the only warm-up the time
        # budget holds (README.md): the headline's oracle pass runs the
        # queries the timed passes drain, and covtype's is the first fit
        start = time.perf_counter()
        bad = self.check_pass()
        cold_s = time.perf_counter() - start
        # the traced run's overhead compares neighbouring ops, which the
        # steep first step of the warm-up curve would swamp: skip it
        warm = [self.op(self.null)[0] for _ in range(self.args.trace)]

        # a traced run alternates untraced and traced ops and ends on an
        # untraced one, so the traced ops sit between untraced ones and the
        # tracing overhead is not confused with the warm-up trend
        first_timed_op_at_s = time.perf_counter() - T0
        setup_cpu_s = host.tree_cpu_seconds(os.getpid())
        tracer = Tracer(self.spark) if self.args.trace else None
        timed_ops, cpu_ops, steal_shares, traced_ops, rows = [], [], [], [], []
        cpu0 = host.cpu_seconds()
        window_start = time.perf_counter()
        while True:
            if tracer and len(timed_ops) > len(traced_ops):
                wall, row = self.traced_op(tracer)
                traced_ops.append(wall)
                rows.append(row)
            else:
                wall, cpu_s, share = self.untraced_op()
                timed_ops.append(wall)
                cpu_ops.append(cpu_s)
                steal_shares.append(share)
            if time.perf_counter() - window_start >= self.args.seconds and (
                not tracer or (traced_ops and len(timed_ops) > len(traced_ops))
            ):
                break
        window_cpu = host.cpu_delta(cpu0, host.cpu_seconds())

        layers = {}
        if tracer:
            layers = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
            layers["trace.overhead_s"] = statistics.median(traced_ops) - statistics.median(timed_ops)
            self.dump_spans(tracer)
        return {
            "layers": layers,
            "info": {
                "workload": self.args.workload,
                "seed": self.args.seed,
                "cold_op_s": cold_s,
                "warm_op_s": warm,
                "timed_op_s": timed_ops,
                "timed_op_cpu_s": cpu_ops,
                "timed_op_steal_share": steal_shares,
                "traced_op_s": traced_ops,
                "failed_checks": bad,
                "first_timed_op_at_s": first_timed_op_at_s,
                "setup_cpu_s": setup_cpu_s,
                "window_busy_s": window_cpu["busy_s"],
                "window_steal_s": window_cpu["steal_s"],
                "loadavg_1m": os.getloadavg()[0],
                "error_rate": self.failed / self.attempted,
            },
        }

    def dump_spans(self, tracer: Tracer) -> None:
        path = os.path.join(WORK, f"spans-{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump(
                [
                    {"id": s.id, "name": s.name, "parent": s.parent, "start": s.start,
                     "end": s.end, "jobs": s.jobs, "stages": sorted(s.stage_ids)}
                    for s in tracer.spans
                ],
                fh,
            )


def result_metrics(computed: dict[str, float], declared_metrics: list[dict], unentered=()) -> dict:
    """The printed metrics: every declared one with its unit. Raises when a
    computed metric is not declared, or a declared one was not computed
    and is not under an ``unentered`` prefix."""
    names = {m["name"] for m in declared_metrics}
    undeclared = sorted(set(computed) - names)
    missing = sorted(n for n in names - set(computed) if not n.startswith(tuple(unentered)))
    if undeclared or missing:
        raise RuntimeError(f"undeclared metrics {undeclared}; declared but not computed {missing}")
    return {m["name"]: {"value": computed.get(m["name"], 0.0), "unit": m["unit"]} for m in declared_metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    isolate_environment()
    cpu0 = host.tree_cpu_seconds(os.getpid())
    sf_dir, build_s = (
        build_tables(SMOKE_SF if args.smoke else HEADLINE_SF) if args.workload == "headline" else ("", 0.0)
    )
    build_cpu_s = host.tree_cpu_seconds(os.getpid()) - cpu0
    cores = host.nproc()
    with host.PeakRss() as rss:
        start = time.perf_counter()
        spark = get_session(app_name=f"perfbench-{args.workload}", cpus=cores)
        session_start_s = time.perf_counter() - start
        try:
            if args.workload == "headline":
                wl = Headline(spark, args.seed, sf_dir)
            else:
                wl = CovtypeTrain(spark, args.seed, SMOKE_COVTYPE_ROWS if args.smoke else COVTYPE_ROWS)
            loop = Loop(args, wl, spark, cores)
            result = loop.run()
        finally:
            # the JVM's Python workers outlive it briefly once orphaned
            started = set(host.descendants(os.getpid())) - {os.getpid()}
            stop_session(spark)
            wait_gone(started)

    info = result["info"]
    # the one-time table build is a build step, not set-up
    setup_s = info["setup_cpu_s"] - build_cpu_s
    info.update(
        session_start_s=session_start_s, build_s=build_s, setup_s=setup_s,
        setup_wall_s=info["first_timed_op_at_s"] - build_s,
        stated_rows=wl.stated_rows, peak_rss_mb=rss.peak_bytes / 1e6, nproc=cores,
    )
    if args.trace:
        metrics = {**result["layers"], "session.start_s": session_start_s, "peak_rss_mb": info["peak_rss_mb"]}
        kind, unentered = "per_layer", UNENTERED[args.workload]
    else:
        cpu = info["timed_op_cpu_s"]
        metrics = {
            "op_cpu_s.p50": statistics.median(cpu),
            "rows_per_cpu_s": wl.stated_rows / statistics.fmean(cpu),
            "setup_s": setup_s,
        }
        kind, unentered = "end_to_end", ()
    printed = result_metrics(metrics, declared()[kind], unentered)
    info["metrics_computed"] = sorted(metrics)
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": loop.failed == 0,
                "attempted": loop.attempted,
                "failed": loop.failed,
                "metrics": printed,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
