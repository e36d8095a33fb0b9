"""Min-of-N wall-clock probe for registry queries — the tool behind
the README's sf0.1 → sf1 scale tables. Engine side only (no oracle):
each query's fn runs against the given sf_dir and is drained through
the noop sink (count() would let the optimizer prune columns and
subtrees, so noop is the honest operator cost); run 0 is reported
separately (the cold number — standing-table builds, first-touch
JIT/codegen) and the min over the remaining runs as warm.

``all`` in place of the name list times every registry query in
sorted order (the optimization-round coverage sweep); a query that
raises is recorded as ``FAIL <message>`` and the loop goes on.

Usage (from the repo root, like parity_sweep):

    python tools/time_probe.py <sf_dir> q212_...,q213_... [N]
    python tools/time_probe.py <sf_dir> all 1

Writes docs/probes/time_<sfname>_<first|all>_<n>q.json.
"""

from __future__ import annotations

import json
import os
import sys
import time


def time_queries(spark, queries, sf_dir, n_runs):
    """Time each ``name → Query`` entry ``n_runs`` times with a cold
    cache; returns ``name → {cold, warm_min, runs, codegen_compiles}``
    (the classes each run Janino-compiled; ``None`` under Connect), or
    ``name → "FAIL <message>"`` for a query that raised."""
    from mindseye_dataframes_spark.compat import codegen_compile_count

    results = {}
    for name, q in queries.items():
        runs, compiles = [], []
        try:
            for _ in range(n_runs):
                spark.catalog.clearCache()
                c0 = codegen_compile_count(spark)
                t0 = time.monotonic()
                q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(round(time.monotonic() - t0, 2))
                c1 = codegen_compile_count(spark)
                compiles.append(None if c0 is None else c1 - c0)
        except Exception as ex:  # noqa: BLE001 — record, keep timing
            results[name] = f"FAIL {str(ex)[:150]}"
        else:
            results[name] = {
                "cold": runs[0],
                "warm_min": min(runs[1:]) if len(runs) > 1 else None,
                "runs": runs,
                "codegen_compiles": compiles,
            }
        print(name, results[name], flush=True)
    return results


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    sf_dir, selection = sys.argv[1], sys.argv[2]
    n_runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from mindseye_dataframes_spark.queries import load_all
    from mindseye_dataframes_spark.session import get_session

    spark = get_session(app_name="time-probe")
    spark.sparkContext.setLogLevel("ERROR")

    registry = load_all()
    names = sorted(registry) if selection == "all" else selection.split(",")
    results = time_queries(
        spark, {n: registry[n] for n in names}, sf_dir, n_runs
    )
    out = {
        "sf_dir": sf_dir,
        "n_runs": n_runs,
        "results": results,
        "fails": [n for n, r in results.items() if isinstance(r, str)],
    }
    sfname = os.path.basename(os.path.normpath(sf_dir))
    first = "all" if selection == "all" else names[0]
    tag = os.environ.get("PROBE_TAG", "")
    log = os.path.join(
        repo, "docs", "probes", f"time_{sfname}_{first}_{len(names)}q{tag}.json"
    )
    with open(log, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print("LOG", log, "FAILS", out["fails"])


if __name__ == "__main__":
    main()
