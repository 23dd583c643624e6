"""Registry and driver-window rotation invariants.

The external driver hash-checks only the first ``DRIVER_WINDOW`` of
``ordered_queries()``. The reference-parity queries (``parity=True``)
are pinned there; the window's other slots take a slice of the
remaining queries, in registration order, that slides each round.
These tests pin the properties that make that safe:

* the parity set is NEVER displaced out of the window;
* the window stays exactly full and deterministic;
* the slide re-covers every non-parity query within
  ⌈non-parity/slots⌉ rounds;
* the round is derived from the driver's artifacts, not hand-bumped;
* a name can be registered only once.
"""

from __future__ import annotations

import glob
import os
import re

import pytest

from kingsfoil_seed_data_ingestor_spark import plans  # noqa: F401 — populates registry
from kingsfoil_seed_data_ingestor_spark.plans import core

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _window():
    return [q.name for q in core.ordered_queries()[: core.DRIVER_WINDOW]]


def test_rotation_preserves_parity_band():
    window = set(_window())
    parity = [q.name for q in core.QUERIES.values() if q.parity]
    assert parity, "registry lost its reference-parity set"
    for name in parity:
        assert name in window, f"parity query {name} displaced by rotation"


def test_window_full_deterministic_and_oracled():
    w1, w2 = _window(), _window()
    assert w1 == w2
    assert len(w1) == len(set(w1)) == core.DRIVER_WINDOW
    ordered = [q.name for q in core.ordered_queries()]
    assert sorted(ordered) == sorted(core.QUERIES), "ordering drops or repeats"
    for name in w1:
        assert core.QUERIES[name].oracle.strip(), f"{name} has an empty oracle"


def test_steady_state_rotation_keeps_cycling(monkeypatch):
    """The window's non-parity slots slide so every non-parity query
    comes back under the driver's independent gate within
    ⌈non-parity/slots⌉ consecutive rounds."""
    others = [q.name for q in core.QUERIES.values() if not q.parity]
    slots = core.DRIVER_WINDOW - (len(core.QUERIES) - len(others))
    rounds_needed = -(-len(others) // slots)  # ceil
    seen: set[str] = set()
    for rnd in range(core.ROTATION_ROUND, core.ROTATION_ROUND + rounds_needed):
        monkeypatch.setattr(core, "ROTATION_ROUND", rnd)
        tail = [n for n in _window() if not core.QUERIES[n].parity]
        assert len(tail) == len(set(tail)) == slots
        seen.update(tail)
    assert seen == set(others), (
        "steady-state slide must touch every non-parity query across rounds"
    )


def test_rotation_round_tracks_artifacts(monkeypatch):
    """The round is DERIVED, not hand-bumped. The env override wins;
    else the newest CORRECTNESS_r{N}.json implies round N+1."""
    artifact_rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    if artifact_rounds:
        assert core.ROTATION_ROUND >= max(artifact_rounds) + 1, (
            "rotation round lags the newest correctness artifact — "
            "the window froze"
        )
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "123")
    assert core._detect_round() == 123
    monkeypatch.delenv("SPARK_GRAFT_ROUND")
    assert core._detect_round() == core.ROTATION_ROUND


def test_register_rejects_duplicate_name(monkeypatch):
    """A second registration of a name must fail loudly instead of
    silently replacing the first query."""
    monkeypatch.setattr(core, "QUERIES", dict(core.QUERIES))
    original = core.QUERIES["q1_pricing_summary"]
    with pytest.raises(ValueError, match="q1_pricing_summary"):
        core.register("q1_pricing_summary", oracle="SELECT 1")(lambda s, d: None)
    assert core.QUERIES["q1_pricing_summary"] is original
