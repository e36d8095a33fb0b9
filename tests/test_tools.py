"""The command-line tools under ``tools/``: every name they import
from the package or the test helpers exists, and every probe log kept
under ``docs/probes/`` is cited by a tracked file outside it."""

from __future__ import annotations

import ast
import fnmatch
import importlib
import os
import re
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")


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


# a file name or glob ending in a log extension, or anything after
# ``docs/probes/``; ``{a,b}`` lists expand, ``*`` matches
_CITATION = re.compile(r"docs/probes/[\w.{},*\-]+|[\w.{},*\-]*\w[\w.{},*\-]*\.(?:json|log)\b")


def _expand_braces(pattern: str) -> list[str]:
    m = re.search(r"\{([^{}]*)\}", pattern)
    if not m:
        return [pattern]
    return [
        out
        for alt in m.group(1).split(",")
        for out in _expand_braces(pattern[: m.start()] + alt + pattern[m.end() :])
    ]


def test_every_tracked_probe_log_is_cited():
    """A log under ``docs/probes/`` is tracked only as evidence that a
    tracked file outside it names, by file name (with or without its
    extension) or by a glob or brace list such as
    ``sweep_sf1_{0_31,31_48}.json``. The tools write new logs to the
    git-ignored ``benchdata/probes/``."""
    tracked = subprocess.run(
        ["git", "ls-files"], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.split()
    probes = {os.path.basename(f) for f in tracked if f.startswith("docs/probes/")}
    cited = set()
    for f in tracked:
        if f.startswith("docs/probes/"):
            continue
        try:
            with open(os.path.join(REPO, f), encoding="utf-8") as fh:
                text = fh.read()
        except (OSError, UnicodeDecodeError):
            continue
        for token in set(_CITATION.findall(text)):
            for pattern in _expand_braces(token.removeprefix("docs/probes/")):
                cited.update(
                    n for n in probes
                    if fnmatch.fnmatchcase(n, pattern)
                    or fnmatch.fnmatchcase(os.path.splitext(n)[0], pattern)
                )
    assert not probes - cited, f"uncited probe logs: {sorted(probes - cited)}"
