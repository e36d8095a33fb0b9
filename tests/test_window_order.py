"""The driver checks only the FIRST 50 entries of queries() — the
registry ordering IS the verification strategy (queries/__init__.py).
The order is derived from the tracked CORRECTNESS_rNN.json files plus
the hand-kept REFRESH set; these tests pin its properties so a
rotation mistake (stale queries pushed out, never-proven queries left
waiting) fails loudly instead of silently shrinking coverage.
"""

from __future__ import annotations

import json
import os

from mindseye_dataframes_spark.queries import (
    REFRESH,
    last_green,
    load_all,
    window_order,
)

WINDOW = 50


def _row(green: bool) -> dict:
    return {"rows_match": green, "schema_match": True, "hash_match": green}


def test_refresh_set_heads_the_window():
    qs = load_all()
    window = list(qs)[:WINDOW]
    # the changed-after-check queries occupy the first slots, before
    # anything else — their green rows prove superseded code
    assert REFRESH <= set(qs), f"REFRESH names unregistered queries: {REFRESH - set(qs)}"
    assert set(window[: len(REFRESH)]) == REFRESH


def test_every_registered_query_is_oracle_bearing():
    # q157 (the one by-design rows-only entry) was folded into q162's
    # hashed recall gate in round 8 — VERDICT r7 item 7's "done" state
    qs = load_all()
    rows_only = [n for n, q in qs.items() if q.oracle is None]
    assert not rows_only, f"oracle-less registry entries: {rows_only}"
    assert "q157_pq_ann_topk" not in qs


def test_unproven_and_stale_queries_fit_the_window():
    qs = load_all()
    last = last_green()
    window = list(qs)[:WINDOW]
    unproven = [n for n in qs if n not in last and n not in window]
    assert not unproven, f"never-proven queries outside the window: {unproven}"


def test_window_is_exactly_refresh_plus_unproven_plus_stalest():
    qs = load_all()
    last = last_green()
    window = set(list(qs)[:WINDOW])
    # no slot may go to a query proven more recently than one that
    # waits outside (refresh queries are exempt: they head by design)
    rounds = {n: last.get(n, 1) for n in qs if n not in REFRESH}
    inside = [r for n, r in rounds.items() if n in window]
    outside = [r for n, r in rounds.items() if n not in window]
    assert not outside or max(inside) <= min(outside), (
        f"window holds round-{max(inside)} queries while round-{min(outside)} ones wait outside"
    )


def test_order_derived_from_synthetic_correctness_files(tmp_path):
    names = ["a", "b", "c", "d", "e"]
    # no CORRECTNESS files: plain name order
    assert last_green(str(tmp_path)) == {}
    assert window_order(reversed(names), {}, set()) == names

    rounds = {
        # r01: a green, b red (its first row)
        1: {"a": _row(True), "b": _row(False)},
        # r02 is missing: a driver round whose artifacts never arrived
        # r03: b green, c green, a red (a stays proven at r01)
        3: {"b": _row(True), "c": _row(True), "a": _row(False)},
        # r04: c green again, d green
        4: {"c": _row(True), "d": _row(True)},
    }
    for rnd, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))
    # files that are not round records are ignored
    (tmp_path / "CORRECTNESS_r04_c8.json").write_text(json.dumps({"e": _row(True)}))
    (tmp_path / "BENCH_r04.json").write_text("{}")

    last = last_green(str(tmp_path))
    assert last == {"a": 1, "b": 3, "c": 4, "d": 4}
    # d: green but in REFRESH (heads); e: never proven (round 1, tied
    # with a's r01 row, so by name after a); then by last green round
    assert window_order(names, last, {"d"}) == ["d", "a", "e", "b", "c"]
    assert window_order(names, last, set()) == ["a", "e", "b", "c", "d"]


def test_readme_query_count():
    """README's architecture block quotes the registry size; a stale
    literal survived two rounds of registry growth (VERDICT r11 item
    4: '232 named queries' at registry 235), so the count is now
    pinned to len(load_all()) — it can't rot without failing here."""
    import re

    readme = os.path.join(os.path.dirname(__file__), "..", "README.md")
    with open(readme) as fh:
        text = fh.read()
    m = re.search(r"(\d+) named queries", text)
    assert m, "README no longer states the query count"
    assert int(m.group(1)) == len(load_all()), (
        f"README says {m.group(1)} named queries; registry has "
        f"{len(load_all())} — update README.md"
    )
