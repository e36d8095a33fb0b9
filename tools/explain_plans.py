"""Formatted physical plans of registry queries, written to files.

For each named query, write plans/$PLAN_ROUND/<query>_<suffix>.txt
(PLAN_ROUND defaults to r14): the warm plan a re-run executes, for
before/after snapshots of a plan change. Plan stability is tested, not
dumped: ``tests/test_session.py::test_warm_headline_pass_compiles_nothing``
asserts one executed-plan fingerprint per headline query across a cold
and two warm passes.

Usage: python tools/explain_plans.py <suffix> <query> [<query> ...]
"""

from __future__ import annotations

import os
import sys

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)


def main() -> None:
    from mindseye_dataframes_spark.queries import load_all
    from mindseye_dataframes_spark.session import get_session
    from tests.helpers import formatted_plan

    if len(sys.argv) < 3:
        sys.exit(__doc__.rsplit("Usage: ", 1)[1])
    suffix, names = sys.argv[1], sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session(app_name="explain-plans", cpus=8)
    registry = load_all()
    out_dir = os.path.join(repo, "plans", os.environ.get("PLAN_ROUND", "r14"))
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(registry[name].fn(spark, sf_dir)))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
