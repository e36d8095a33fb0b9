"""One noop-sink timing of EVERY registered query at a scale factor —
the optimization-round coverage sweep ("every operator examined"
evidence). Single pass per query (ranking, not regression tracking —
use tools/time_probe.py for min-of-N on the interesting ones),
`clearCache()` between queries so no query inherits another's persists.

Usage: python tools/noop_sweep.py [sf_dir] [out_json]
Writes docs/probes/noop_sweep_<sfname>.json by default.
"""

from __future__ import annotations

import json
import os
import sys
import time

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from mindseye_dataframes_spark.session import get_session

    spark = get_session(app_name="noop-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    from mindseye_dataframes_spark.queries import load_all

    registry = load_all()
    out: dict = {"sf_dir": sf_dir, "results": {}, "fails": []}
    t_all = time.time()
    for name in sorted(registry):
        t0 = time.time()
        try:
            registry[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            sec = round(time.time() - t0, 2)
            out["results"][name] = sec
            print(f"{name} {sec}s", flush=True)
        except Exception as ex:  # noqa: BLE001 — record, keep sweeping
            out["fails"].append(name)
            out["results"][name] = f"FAIL {str(ex)[:150]}"
            print(f"{name} FAIL {str(ex)[:150]}", flush=True)
        spark.catalog.clearCache()
    out["total_sec"] = round(time.time() - t_all, 1)
    sfname = os.path.basename(os.path.normpath(sf_dir))
    path = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(repo, "docs", "probes", f"noop_sweep_{sfname}.json")
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print("LOG", path, "TOTAL", out["total_sec"], "FAILS", out["fails"])


if __name__ == "__main__":
    main()
