"""Per-round sf1 and sf3 growth gates (VERDICT r10 #6).

The round-10 sf1 full-suite sweep caught a quadratic
(``dedup_embed_cosine_rhp``, 53.6× on 10× data) that the sf0.03–3
scaling corpus missed because the query wasn't in its metric set —
proof that the sweep works as an instrument. This gate
institutionalizes it: every registered query's warm wall at sf1
(``BENCH_SF1_FULL.json``, produced from ``tools/gen_bench_sf1.py``
data) must stay within ``MAX_RATIO`` of its sf0.1 wall — 10× data plus
slack — and at sf3 within ``MAX_RATIO_SF3``. Referees are gated too:
their input is capped to O(1) in sf, so they pass on their own.

Both sides of a ratio come from explicitly named artifacts with the
same core count where it is recorded (``BENCH_FULL_sf{sf}_c{cpus}.json``,
as ``bench.py`` writes them), so a later run at another core count
changes no gate input. A missing artifact, or one at the wrong sf, is
a failure, never a skip.

Walls carry 2–4× hypervisor noise spikes (PERF_NOTES §r10), so the
gate uses the WARM wall (min-biased) and a deliberately loose ratio —
it exists to catch complexity-class regressions (≥ 50× blowups), not
percent-level drift.
"""

from __future__ import annotations

import json
import os

import pytest

from kingsfoil_seed_data_ingestor_spark import plans  # noqa: F401 — populates registry
from kingsfoil_seed_data_ingestor_spark.plans.core import QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: 10× data × measured non-defect inflation. Calibration (r11): the
#: iterative union-find operators legitimately exceed 10× by one extra
#: O(log N) label-propagation round at sf1 (star rounds 1 → 2), and
#: warm walls recorded deep inside the 125-query bench session carry
#: up to ~2× state/GC inflation over an isolated run of the same plan
#: (dedup_fuzzy_apply: 28.5 s in-session vs 15.1 s isolated, probes
#: flat — PERF_NOTES §r11). The regressions this gate exists for
#: measure far past this line: the r10 sweep's catches were 53.6× and
#: 74.5×.
MAX_RATIO = 25.0
#: walls under this are scheduler-floor noise at both SFs — a ratio of
#: two sub-second walls says nothing about complexity class
MIN_BASE_WALL = 0.35


#: the sf0.1 side of both ratios; the sf3 sweep ran at 32 cores
BASE_ARTIFACT = "BENCH_FULL_sf0.1_c32.json"
SF1_ARTIFACT = "BENCH_SF1_FULL.json"
SF3_ARTIFACT = "BENCH_FULL_sf3.0_c32.json"

#: sf3 vs sf0.1 is 30× data; gating against sf0.1 rather than sf1
#: maximizes class separation (a quadratic reads ~900×, the gate line
#: 30× × 2.5 slack = 75×) so host noise can't blur the verdict the way
#: it could on a 3×-data ratio
MAX_RATIO_SF3 = 75.0
#: the self-join Jaccard pair source grows quadratically on this
#: corpus (132.6× and 115.3× on the committed sf3 artifacts); ROADMAP
#: Direction 1 replaces it with MinHash-banded candidates
SF3_KNOWN_OFFENDERS = ("dedup_ngram_jaccard", "dedup_components")


def _load(name: str, sf: float) -> dict:
    path = os.path.join(REPO, name)
    assert os.path.exists(path), f"{name} is missing — regenerate the bench artifact"
    with open(path) as fh:
        art = json.load(fh)
    assert float(art.get("sf", 0)) == sf, f"{name} holds sf {art.get('sf')}, expected {sf}"
    return art


def _offenders(base: dict, big: dict, max_ratio: float) -> list[tuple]:
    """(name, sf0.1 warm, big warm, ratio) of every registered query
    whose warm wall grew past ``max_ratio``."""
    offenders = []
    checked = 0
    for name in QUERIES:
        b = base["queries"].get(name, {}).get("warm")
        s = big["queries"].get(name, {}).get("warm")
        if b is None or s is None or b <= 0 or s <= 0:
            continue  # query added after the artifacts were recorded
        checked += 1
        if b < MIN_BASE_WALL and s < max_ratio * MIN_BASE_WALL:
            continue  # both inside the scheduler floor
        ratio = s / max(b, MIN_BASE_WALL)
        if ratio > max_ratio:
            offenders.append((name, round(b, 2), round(s, 2), round(ratio, 1)))
    assert checked >= 50, "artifacts cover too few queries to mean anything"
    return offenders


def _sf3_offenders() -> list[tuple]:
    return _offenders(
        _load(BASE_ARTIFACT, 0.1), _load(SF3_ARTIFACT, 3.0), MAX_RATIO_SF3
    )


def test_sf3_growth_within_bound():
    """Full-suite sf3 sweep gate: every registered query outside
    ``SF3_KNOWN_OFFENDERS`` stays within ``MAX_RATIO_SF3`` of its sf0.1
    warm wall."""
    offenders = [o for o in _sf3_offenders() if o[0] not in SF3_KNOWN_OFFENDERS]
    assert not offenders, (
        "queries grew faster than 30× data + slack at sf3 "
        f"(name, sf0.1 warm, sf3 warm, ratio): {offenders}"
    )


@pytest.mark.xfail(
    strict=True,
    reason="ROADMAP Direction 1: the Jaccard self-join pair source is "
    "quadratic; fixing it must remove this mark",
)
def test_sf3_known_offenders_within_bound():
    offenders = [o for o in _sf3_offenders() if o[0] in SF3_KNOWN_OFFENDERS]
    assert not offenders, f"(name, sf0.1 warm, sf3 warm, ratio): {offenders}"


def test_sf1_growth_within_bound():
    offenders = _offenders(
        _load(BASE_ARTIFACT, 0.1), _load(SF1_ARTIFACT, 1.0), MAX_RATIO
    )
    assert not offenders, (
        "queries grew faster than 10× data + slack at sf1 "
        f"(name, sf0.1 warm, sf1 warm, ratio): {offenders}"
    )
