"""Pin the sample-window rotation: the external correctness check runs
the FIRST WINDOW entries of all_queries(). The policy (queries/__init__.py
plan_rotation): the queries whose code the current change edits
(CHANGED) come first, then the entries whose newest correctness row
(CORRECTNESS_r<N>.json) is oldest, each block in registration order. These tests re-derive that policy's invariants from their own
reading of the artifacts, so a reordered or hand-edited window fails
here without any per-round constant to update."""

from __future__ import annotations

import glob
import json
import os
import re

from druid_datafusion_bridge_spark.queries import (
    CHANGED,
    QUERIES,
    WINDOW,
    all_queries,
    load_all,
    plan_rotation,
    rotation,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _newest_sampled_rounds() -> dict[str, int]:
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path, encoding="utf-8") as f:
                for name in json.load(f):
                    latest[name] = max(latest.get(name, 0), int(m.group(1)))
    return latest


def test_driver_sample_window_matches_rotation_plan():
    names = list(all_queries())
    registered = list(QUERIES)  # registration order: QUERIES is never reordered
    assert sorted(names) == sorted(registered)
    window = list(rotation())
    # the registry prefix IS the window, and it fills every slot
    assert names[: len(window)] == window
    if not _newest_sampled_rounds():  # checkout without CORRECTNESS artifacts
        assert window == [] and names == registered
        return
    assert len(window) == WINDOW
    # every CHANGED name is registered and leads, in registration order
    assert set(CHANGED) <= set(registered)
    assert window[: len(CHANGED)] == [n for n in registered if n in CHANGED]


def test_rotation_wastes_no_window_slot():
    """No window slot may re-sample fresher evidence than a query left
    outside: every non-CHANGED query in the window has a newest sampled
    round no later than any query outside it (never sampled counts as
    round 0), and within one round the window keeps registration
    order."""
    latest = _newest_sampled_rounds()
    if not latest:
        return
    load_all()
    registered = list(QUERIES)
    pos = {n: i for i, n in enumerate(registered)}
    window = list(rotation())
    resampled = [n for n in window if n not in CHANGED]
    outside = [n for n in registered if n not in window]
    assert all(n not in CHANGED for n in outside)
    if outside:
        newest_inside = max(latest.get(n, 0) for n in resampled)
        oldest_outside = min(latest.get(n, 0) for n in outside)
        assert newest_inside <= oldest_outside, (newest_inside, oldest_outside)
    rounds = [latest.get(n, 0) for n in resampled]
    assert rounds == sorted(rounds), "re-samples must run stalest first"
    for rnd in set(rounds):
        block = [n for n in resampled if latest.get(n, 0) == rnd]
        assert block == sorted(block, key=pos.__getitem__), rnd


def test_rotation_without_artifacts_keeps_registration_order():
    load_all()
    assert plan_rotation(list(QUERIES), {}) == ()
