"""The committed rename table (tools/renames.json) and the ledger built
from it.

``hash_ledger``'s soundness argument — chaining every historical name
through ALL maps in order translates it exactly once — holds only if
every rotation after round 2 is a set of pairwise number swaps that
keeps each query's suffix. These tests are where that invariant lives.
"""

from __future__ import annotations

import json
from collections import Counter

import pytest

from tools.hash_ledger import RENAMES, ROOT, build, load_maps

ENTRIES = json.loads(RENAMES.read_text())


def _split(name: str) -> tuple[str, str]:
    number, suffix = name.split("_", 1)
    return number, suffix


def test_round2_map_keeps_suffix_and_is_injective():
    first = ENTRIES[0]
    assert first["round"] == 2
    mapping = first["mapping"]
    assert len(set(mapping.values())) == len(mapping)
    for old, new in mapping.items():
        assert _split(old)[1] == _split(new)[1], (old, new)


@pytest.mark.parametrize(
    "entry", ENTRIES[1:], ids=[e["source"] for e in ENTRIES[1:]]
)
def test_rotation_is_pairwise_number_swaps(entry):
    mapping = entry["mapping"]
    assert mapping
    assert len(set(mapping.values())) == len(mapping)
    olds = [_split(k)[0] for k in mapping]
    news = [_split(v)[0] for v in mapping.values()]
    assert Counter(olds) == Counter(news)
    swaps = set(zip(olds, news))
    for old, new in mapping.items():
        (a, x), (b, y) = _split(old), _split(new)
        assert x == y, (old, new)
        assert a != b, (old, new)
        assert (b, a) in swaps, (old, new)


def test_rounds_are_non_decreasing():
    rounds = [e["round"] for e in ENTRIES]
    assert rounds == sorted(rounds)


def test_load_maps_filters_by_round():
    assert load_maps() == [e["mapping"] for e in ENTRIES]
    sources = {f"renumber_r{r}.py" for r in (12, 13, 14, 15)}
    later = [e["mapping"] for e in ENTRIES if e["source"] in sources]
    assert len(later) == 4
    assert load_maps(after_round=11) == later


def test_committed_hash_ledger_is_current():
    committed = json.loads((ROOT / "HASHLEDGER.json").read_text())
    assert build(files=committed["folded_files"]) == committed
