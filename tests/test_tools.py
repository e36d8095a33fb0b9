"""The command-line tools under ``tools/``: every name they import
from the package or the test helpers exists, and the timing loop
shared by ``time_probe`` records failures and keeps going."""

from __future__ import annotations

import ast
import importlib
import os
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")


@pytest.mark.parametrize(
    "tool", sorted(f for f in os.listdir(TOOLS) if f.endswith(".py"))
)
def test_tool_imports_resolve(tool):
    """Walk the tool's whole AST, imports inside functions included
    (most tools import lazily in ``main()``), so a name the package
    drops fails here instead of on the tool's first run."""
    with open(os.path.join(TOOLS, tool)) as f:
        tree = ast.parse(f.read(), filename=tool)
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or not node.module:
            continue
        if node.module.split(".")[0] not in ("mindseye_dataframes_spark", "tests"):
            continue
        module = importlib.import_module(node.module)
        for alias in node.names:
            assert hasattr(module, alias.name), (
                f"{tool}:{node.lineno}: {node.module} has no {alias.name}"
            )


def test_time_queries_records_failure_and_times_the_rest(spark):
    sys.path.insert(0, TOOLS)
    from time_probe import time_queries

    from mindseye_dataframes_spark.queries.registry import Query

    def boom(spark, sf_dir):
        raise ValueError(f"no table under {sf_dir}")

    queries = {
        "q_fail": Query("q_fail", boom),
        "q_ok": Query("q_ok", lambda spark, sf_dir: spark.range(10)),
    }
    results = time_queries(spark, queries, "sf-missing", 2)
    assert results["q_fail"] == "FAIL no table under sf-missing"
    ok = results["q_ok"]
    assert len(ok["runs"]) == 2
    assert ok["cold"] == ok["runs"][0] and ok["warm_min"] == ok["runs"][1]
    # the second run finds its one generated class in the codegen cache
    assert len(ok["codegen_compiles"]) == 2 and ok["codegen_compiles"][1] == 0
