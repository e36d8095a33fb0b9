"""Min-of-N wall-clock probe for registry queries — the tool behind
the README's sf0.1 → sf1 scale tables. Engine side only (no oracle):
each query's fn runs against the given sf_dir and is drained with
count(); the per-query minimum over N runs is reported, with run 0
separately (the cold number — standing-table builds, first-touch
JIT/codegen) and the min over the remaining runs as warm.

Usage (from the repo root, like parity_sweep):

    python tools/time_probe.py /root/testdata/sf0.1 q212_...,q213_... [N]

Writes docs/probes/time_<sfname>_<first>_<n>q.json.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    sf_dir = sys.argv[1]
    names = sys.argv[2].split(",")
    n_runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    # NOOP=1: drain through the noop sink instead of count() — count
    # lets the optimizer prune columns/subtrees (guide §1.4), so noop
    # is the honest operator cost; kept opt-in so historical count-
    # based probe numbers stay comparable
    use_noop = os.environ.get("NOOP", "") == "1"

    from mindseye_dataframes_spark.session import get_session

    spark = get_session(app_name="time-probe")
    spark.sparkContext.setLogLevel("ERROR")

    from mindseye_dataframes_spark.queries import load_all

    registry = load_all()
    out = {"sf_dir": sf_dir, "n_runs": n_runs, "results": {}}
    for name in names:
        q = registry[name]
        runs = []
        for i in range(n_runs):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            df = q.fn(spark, sf_dir)
            if use_noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            runs.append(round(time.monotonic() - t0, 2))
        out["results"][name] = {
            "cold": runs[0],
            "warm_min": min(runs[1:]) if len(runs) > 1 else None,
            "runs": runs,
        }
        print(name, out["results"][name], flush=True)
    sfname = os.path.basename(os.path.normpath(sf_dir))
    out["noop"] = use_noop
    tag = os.environ.get("PROBE_TAG", "")
    log = os.path.join(
        repo, "docs", "probes",
        f"time_{sfname}_{names[0]}_{len(names)}q{tag}.json",
    )
    with open(log, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print("LOG", log)


if __name__ == "__main__":
    main()
