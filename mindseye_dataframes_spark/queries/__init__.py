"""The engine's declared query surface.

Every operator from SURVEY.md §2 is declared here as a named query:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) the equivalent ANSI SQL the DuckDB
oracle runs on the same parquet tables. ``__spark_entry__.py`` simply
re-exports this registry.

The driver checks only the FIRST 50 entries of ``queries()``, so the
registry order is the verification strategy. It is derived from the
driver's own ``CORRECTNESS_rNN.json`` files: queries in ``REFRESH``
head the window, never-proven queries come next, and the rest follow
by last green round, oldest first, so re-verification rotates. The
per-round step is to edit ``REFRESH``; the next CORRECTNESS file does
the rest.
"""

from __future__ import annotations

import importlib
import json
import os
import re
from collections.abc import Iterable

from mindseye_dataframes_spark.queries.registry import REGISTRY, Query, query  # noqa: F401

_MODULES = (
    "relational",
    "windows",
    "featurize",
    "dedup",
    "similarity",
    "text",
    "timeseries",
    "multimodal",
    "scalars",
    "joins_extra",
    "json_props",
    "suppliers",
    "pipeline",
    "pivot",
    "sources_formats",
    "subqueries",
    "maps_stats",
    "curation",
    "training",
    "llm_prep",
    "scale_patterns",
    "lakehouse",
    "analytics_extra",
    "reshape",
    "sketches",
    "quality_gate",
    "incremental",
    "corpus_stats",
    "behavior",
    "graph_vectors",
    "ml_features",
    "basket",
    "sequences",
    "clustering",
    "paragraphs",
)
_loaded = False
_ordered: dict[str, Query] = {}

# Queries whose executed code changed after their last green driver
# row: that row proves superseded code, so they re-prove at the head
# of the window. Drop a query from it once a CORRECTNESS file shows
# it green again.
REFRESH: set[str] = {
    # DataframeModeler.init_keys computes its moments with exact long
    # limb sums over one grouped aggregate
    "q37_zscore_expansion",
    "q38_onehot_labels",
    "q39_param_identity",
    "q40_featurize_pipeline",
    "q65_featurize_temporal_embedding",
    "q78_eval_identity",
    "q235_eval_preview_zip",
}

# The driver writes one CORRECTNESS_rNN.json per round next to
# __spark_entry__.py, at the repository root.
_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
_CORRECTNESS = re.compile(r"CORRECTNESS_r(\d+)\.json")


def last_green(root: str = _REPO_ROOT) -> dict[str, int]:
    """Each query's last driver round with a green (``hash_match``) row
    in the ``CORRECTNESS_rNN.json`` files under ``root``."""
    last: dict[str, int] = {}
    for fname in os.listdir(root):
        m = _CORRECTNESS.fullmatch(fname)
        if not m:
            continue
        with open(os.path.join(root, fname)) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if row.get("hash_match"):
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def window_order(names: Iterable[str], last: dict[str, int], refresh: set[str]) -> list[str]:
    """Refresh set first, then never-proven queries (round 1), then
    the rest by last green round, oldest first; ties by name."""
    return sorted(names, key=lambda n: (0 if n in refresh else last.get(n, 1), n))


def load_all() -> dict[str, Query]:
    """Import every query module (idempotent) and return the registry
    ordered for the driver's verification window (see window_order)."""
    global _loaded, _ordered
    if not _loaded:
        for mod in _MODULES:
            try:
                importlib.import_module(f"mindseye_dataframes_spark.queries.{mod}")
            except ModuleNotFoundError as exc:
                # allow partial builds while modules land incrementally
                if f"queries.{mod}" not in str(exc):
                    raise
        order = window_order(REGISTRY, last_green(), REFRESH)
        _ordered = {name: REGISTRY[name] for name in order}
        _loaded = True
    return dict(_ordered)
