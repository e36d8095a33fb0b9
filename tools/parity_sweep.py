"""Full-registry oracle-parity sweep at an arbitrary scale factor —
the scale-hardening companion to tests/test_oracle_parity.py (which
runs at the suite's sf0.001 default) and the driver's sf0.01 gate.

The bug class this hunts is scale-DEPENDENT arithmetic: BIGINT/2^53
overflow ceilings, rank ties that only materialize with more data,
and approximation-quality gates whose estimators degrade with corpus
size. Round 6's sweep at sf0.1 caught exactly one: the PQ recall
gate (q162) — code distance alone fell from 0.62 to 0.42 avg
recall@10 when the corpus grew 4×, which motivated the ADC+re-rank
path (operators/pq.py:pq_topk_rerank). Round 6's sf1 probe of q101
caught regr_slope accumulation-order drift (fixed b04fb97).

Every run writes an AUDITABLE JSON log (--log, default
benchdata/probes/sweep_<sfname>_<lo>_<hi>[_only-...].json) recording the
sf dir, the chunk bounds, the EXACT skip set and which queries it
suppressed, per-query status + wall seconds (a ``measure.record``
each), and the final fail list — so "all pass at sfX" is checkable
after the fact, including what was NOT checked (VERDICT r6 watch item).

Usage (run FROM THE REPO ROOT, or export PYTHONPATH=<repo> — Python
workers resolve module imports through PYTHONPATH/cwd, not the
driver's sys.path, so a /tmp-launched sweep fails with
ModuleNotFoundError inside pandas UDFs):

    python tools/parity_sweep.py /root/testdata/sf0.1 0 40
    python tools/parity_sweep.py /root/testdata/sf0.1 40 80
    python tools/parity_sweep.py /root/testdata/sf1 --only q101,q165,q168
    python tools/parity_sweep.py benchdata/sf1 --only q120,q213,q226
    ...

The last line is the sf1 value check of the output- and compare-bound
pair queries: q120's result outgrows a driver collect, so its
registered ``bounded_compare`` spec compares engine-side aggregate
checksums (``tests/helpers.py:assert_matches_oracle_bounded``); q213
and q226 run the exact compare.

Chunked by [lo, hi) registry index so each invocation stays inside a
CI step timeout; prints one line per query and a final FAILS list.
"""

from __future__ import annotations

import argparse
import os
import sys

# Spark SQL types whose string rendering inside the checksum digest
# (concat_ws) is engine-stable vs DuckDB — the only types a
# guard-derived bounded spec may digest. Floats/decimals/timestamps
# render differently across engines, so schemas containing them can't
# be auto-digested: the guard then refuses the collect instead.
_DIGESTABLE = ("string", "bigint", "int", "smallint", "tinyint", "long")


def derived_guard_spec(df, guard_rows: int, name: str = "query"):
    """Generic large-result guard (VERDICT r12 item 4): derive a
    bounded_compare spec from the RESULT SCHEMA for queries that never
    opted in, so any future query whose result outgrows a driver
    collect degrades to the engine-side aggregate compare instead of
    reproducing q120's session-killing maxResultSize failure.

    All-int/string schemas digest every column and sum the first
    integral column as the metric; any other dtype raises — the sweep
    records the refusal as a FAIL (too-large-needs-spec) so the query
    gets a hand-written spec, which is still strictly better than a
    poisoned session. Returns a spec dict shaped exactly like
    Query.bounded_compare; assert_matches_oracle applies its normal
    below-threshold exact path, so small results are unaffected."""
    fields = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    bad = [n for n, t in fields if t not in _DIGESTABLE]
    metric = next(
        (n for n, t in fields if t in _DIGESTABLE and t != "string"), None
    )

    if bad or metric is None:
        # non-digestable schema: still guard the collect. The spec
        # carries a poison marker the sweep checks AFTER the engage
        # decision (the count aggregate) — raising there, before any
        # collect, keeps the session alive.
        return dict(
            cols=[], metric="", threshold_rows=guard_rows,
            refuse=f"{name}: result exceeds guard-rows and schema has "
            f"non-digestable columns {bad or '(no integral metric)'} — "
            "register a bounded_compare spec",
        )
    return dict(
        cols=[n for n, _ in fields], metric=metric, threshold_rows=guard_rows
    )


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("lo", nargs="?", type=int, default=0)
    ap.add_argument("hi", nargs="?", type=int, default=10**9)
    ap.add_argument(
        "--skip",
        default="",
        help="comma-separated name prefixes to skip (oracle-cost-bound "
        "at big SF: recursive closures, quadratic verifies, multi-M-row "
        "result materialization in the COMPARISON harness — not engine "
        "paths). Recorded verbatim in the log.",
    )
    ap.add_argument(
        "--only",
        default="",
        help="comma-separated name prefixes: run ONLY matching queries "
        "(targeted family sweeps, e.g. the exact-BIGINT ceiling set)",
    )
    ap.add_argument(
        "--log",
        default="",
        help="JSON log path (default benchdata/probes/"
        "sweep_<sfname>_<lo>_<hi>.json under the repo root)",
    )
    ap.add_argument(
        "--guard-rows",
        type=int,
        default=0,
        help="generic large-result guard (VERDICT r12 item 4): when "
        "> 0, every oracle query WITHOUT its own bounded_compare spec "
        "is pre-probed with one count aggregate; past this row "
        "threshold the sweep auto-derives a bounded spec from the "
        "result schema (all-int/string columns) and compares via "
        "engine-side aggregate checksums — or records "
        "too-large-needs-spec instead of attempting the "
        "session-killing collect. 0 = off (small-SF sweeps, where the "
        "extra count execution per query isn't worth it); the round "
        "protocol passes 20000000 at sf1.",
    )
    args = ap.parse_args()

    skip = tuple(s for s in args.skip.split(",") if s)
    only = tuple(s for s in args.only.split(",") if s)

    from mindseye_dataframes_spark.session import get_session

    def make_session():
        return get_session(
            app_name="parity-sweep",
            extra_conf={
                # q120's sf1 digest aggregate (6.5e8 rows) can stall the
                # single local-mode JVM in long GC pauses; stock
                # tolerances (10s heartbeats, 120s network timeout)
                # declare the executor dead mid-aggregate and poison the
                # rest of the chunk — give the heavy chunks a survival
                # margin
                "spark.network.timeout": "800s",
                "spark.executor.heartbeatInterval": "30s",
            },
        )

    spark = make_session()
    import __spark_entry__ as e
    from mindseye_dataframes_spark.measure import record, write
    from mindseye_dataframes_spark.queries import load_all
    from tests.helpers import assert_matches_oracle

    qs, osql = e.queries(), e.oracle_sql()
    # opt-in bounded-aggregate comparison for results too large to
    # collect at big SF (q120's ~6.5e8 sf1 pairs killed the r8/r12
    # collect AND poisoned the session for the queries after it);
    # below each spec's row threshold the exact compare runs unchanged
    bounded = {n: q.bounded_compare for n, q in load_all().items()}
    names = sorted(qs)[args.lo : args.hi]
    if only:
        names = [n for n in names if any(n.startswith(o) for o in only)]

    fails, skipped, results = [], [], {}
    for name in names:
        if any(name.startswith(s) for s in skip):
            print(f"{name} skipped", flush=True)
            skipped.append(name)
            results[name] = {"status": "skipped", "sec": 0.0}
            continue
        status = []

        def run(name=name, status=status):
            try:
                if name in osql:
                    df = qs[name](spark, args.sf_dir)
                    spec = bounded.get(name)
                    if spec is None and args.guard_rows > 0:
                        spec = derived_guard_spec(
                            df, args.guard_rows, name=name
                        )
                    mode = assert_matches_oracle(
                        df, osql[name], args.sf_dir, name=name, bounded=spec,
                    )
                    # "ok-bounded" marks rows verified by engine-side
                    # aggregate checksums (result too large to collect) so
                    # the artifact records which evidence form each green
                    # row carries
                    status.append("ok" if mode == "exact" else f"ok-{mode}")
                else:
                    assert qs[name](spark, args.sf_dir).count() >= 0
                    status.append("rows-only-ok")
            except Exception as ex:  # noqa: BLE001 — report, keep sweeping
                status.append(f"FAIL {repr(ex)[:300]}")

        sec = record(spark, run).wall_s
        results[name] = {"status": status[0], "sec": sec}
        print(f"{name} {status[0]} {sec}s", flush=True)
        if status[0].startswith("FAIL"):
            fails.append(name)
            # a heavy failure (maxResultSize kill, executor GC death)
            # POISONS the local-mode session for every later query in
            # the chunk (the r12 chunk-A lesson) — restart after ANY
            # fail so subsequent rows are judged by a healthy session
            try:
                spark.stop()
            except Exception:
                pass
            spark = make_session()
            print(f"  [session restarted after {name}]", flush=True)
        # query-path persists (doc features, gram counts, fingerprint
        # relations, ...) are lazy and can't be unpersisted inside the
        # query builders — drop them between queries so a long sweep
        # session doesn't accumulate MEMORY_AND_DISK cache across all
        # 236 queries (ADVICE r13: persist hygiene on multi-query
        # sessions; bench.py already clears per timed pass)
        try:
            spark.catalog.clearCache()
        except Exception:
            pass

    sfname = os.path.basename(args.sf_dir.rstrip("/"))
    hi_tag = "end" if args.hi >= 10**9 else str(args.hi)
    only_tag = ("_only-" + "-".join(only)) if only else ""
    log_path = write(
        f"sweep_{sfname}_{args.lo}_{hi_tag}{only_tag}",
        {
            "sf_dir": args.sf_dir,
            "chunk": [args.lo, args.hi],
            "only": list(only),
            "skip_prefixes": list(skip),
            "skipped_queries": skipped,
            "n_run": len(names) - len(skipped),
            "n_fail": len(fails),
            "fails": fails,
            "total_sec": round(sum(r["sec"] for r in results.values()), 1),
            "results": results,
        },
        args.log or None,
    )
    print("LOG", log_path, flush=True)
    print("CHUNK", args.lo, args.hi, "FAILS", fails, flush=True)
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
