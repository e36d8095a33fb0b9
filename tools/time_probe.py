"""Min-of-N wall-clock probe for registry queries — the tool behind
the README's sf0.1 → sf1 scale tables. Engine side only (no oracle):
``measure.passes`` drains each query through the noop sink (count()
would let the optimizer prune columns and subtrees, so noop is the
honest operator cost) and records every pass: pass 0 is the cold
number (standing-table builds, first-touch JIT/codegen), the min over
the remaining passes the warm one.

``all`` in place of the name list times every registry query in
sorted order (the optimization-round coverage sweep); a query that
raises is recorded as ``FAIL <message>`` and the loop goes on.

Usage (from the repo root, like parity_sweep):

    python tools/time_probe.py <sf_dir> q212_...,q213_... [N]
    python tools/time_probe.py <sf_dir> all 1

Writes benchdata/probes/time_<sfname>_<first|all>_<n>q<$PROBE_TAG>.json.
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    sf_dir, selection = sys.argv[1], sys.argv[2]
    n_runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from mindseye_dataframes_spark.measure import passes, write
    from mindseye_dataframes_spark.queries import load_all
    from mindseye_dataframes_spark.session import get_session

    spark = get_session(app_name="time-probe")
    spark.sparkContext.setLogLevel("ERROR")

    registry = load_all()
    names = sorted(registry) if selection == "all" else selection.split(",")
    results = passes(spark, {n: registry[n] for n in names}, sf_dir, n_runs)
    fails = [n for n, r in results.items() if isinstance(r, str)]
    sfname = os.path.basename(os.path.normpath(sf_dir))
    first = "all" if selection == "all" else names[0]
    log = write(
        f"time_{sfname}_{first}_{len(names)}q{os.environ.get('PROBE_TAG', '')}",
        {"sf_dir": sf_dir, "n_runs": n_runs, "results": results, "fails": fails},
    )
    print("LOG", log, "FAILS", fails)


if __name__ == "__main__":
    main()
