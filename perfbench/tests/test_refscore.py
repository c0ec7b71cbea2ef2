"""Tests of the benchmark's reference scorer and input generator.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import itertools
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import refscore  # noqa: E402


@pytest.mark.parametrize(
    "a, b, dist",
    [
        ("kitten", "sitting", 3),
        ("flaw", "lawn", 2),
        ("", "abc", 3),
        ("abc", "", 3),
        ("", "", 0),
        ("same", "same", 0),
        ("intention", "execution", 5),
        ("ab", "ba", 2),
    ],
)
def test_levenshtein_known_values(a, b, dist):
    assert refscore.levenshtein(a, b) == dist
    assert refscore.levenshtein(b, a) == dist


def _lev_recursive(a: str, b: str) -> int:
    """Definition-level recursion, for short strings only."""
    if not a or not b:
        return len(a) + len(b)
    return min(
        _lev_recursive(a[1:], b) + 1,
        _lev_recursive(a, b[1:]) + 1,
        _lev_recursive(a[1:], b[1:]) + (a[0] != b[0]),
    )


def test_levenshtein_matches_definition_on_all_short_strings():
    words = ["".join(p) for n in range(4) for p in itertools.product("ab", repeat=n)]
    for a, b in itertools.product(words, repeat=2):
        assert refscore.levenshtein(a, b) == _lev_recursive(a, b), (a, b)


def test_levenshtein_sim_is_normalised_by_longer_string():
    assert refscore.levenshtein_sim("kitten", "sitting") == pytest.approx(1 - 3 / 7)
    assert refscore.levenshtein_sim("", "") == 1.0


@pytest.mark.parametrize(
    "a, b, jaro, jw",
    [
        # textbook values (Winkler 1990 examples)
        ("martha", "marhta", 0.944444, 0.961111),
        ("dwayne", "duane", 0.822222, 0.840000),
        ("dixon", "dicksonx", 0.766667, 0.813333),
        ("crate", "trace", 0.733333, 0.733333),
        ("abc", "xyz", 0.0, 0.0),
        ("same", "same", 1.0, 1.0),
        ("", "x", 0.0, 0.0),
    ],
)
def test_jaro_and_jaro_winkler_known_values(a, b, jaro, jw):
    assert refscore.jaro(a, b) == pytest.approx(jaro, abs=1e-6)
    assert refscore.jaro_winkler_sim(a, b) == pytest.approx(jw, abs=1e-6)


def test_jaro_winkler_symmetric_and_bounded():
    rng = random.Random(7)
    for _ in range(500):
        a = "".join(rng.choice("abcde") for _ in range(rng.randint(0, 9)))
        b = "".join(rng.choice("abcde") for _ in range(rng.randint(0, 9)))
        s = refscore.jaro_winkler_sim(a, b)
        assert 0.0 <= s <= 1.0
        assert s == pytest.approx(refscore.jaro_winkler_sim(b, a), abs=1e-12)


def test_passes_keeps_scores_exactly_at_the_threshold():
    assert refscore.passes(0.75, 75)
    assert refscore.passes(1 - 3 / 12, 75)
    assert not refscore.passes(0.7499, 75)
    assert refscore.passes(1.0, 100)
    assert not refscore.passes(0.99, 100)
    # the engine truncates fractional thresholds
    assert refscore.passes(0.75, 75.9)


def test_typo_stays_within_its_edit_budget():
    rng = random.Random(3)
    for _ in range(300):
        s = gen._company(rng)
        k = rng.randint(1, 3)
        assert refscore.levenshtein(s, gen.typo(rng, s, k)) <= k


def test_pair_inputs_are_seeded_and_planted_pairs_pass():
    a = gen.pair_inputs(5, 300, 200)
    b = gen.pair_inputs(5, 300, 200)
    assert a.left.equals(b.left) and a.right.equals(b.right)
    assert a.planted == b.planted
    assert not gen.pair_inputs(6, 300, 200).right.equals(a.right)
    assert len(a.planted) == 100
    assert a.left.l_name.str.lower().is_unique
    assert a.right.r_name.str.lower().is_unique
    left = dict(zip(a.left.l_id, a.left.l_name))
    right = dict(zip(a.right.r_id, a.right.r_name))
    for l_id, r_id in a.planted:
        sim = refscore.levenshtein_sim(left[l_id].lower(), right[r_id].lower())
        assert refscore.passes(sim, 75)


def test_batch_inputs_planted_pairs_pass_every_mapping():
    data = gen.batch_inputs(9, 2000, 400, 50, 100, 2)
    assert data.reference.ref_name.nunique() == 400
    ref = data.reference.set_index("ref_id")
    for batch, truth in zip(data.batches, data.planted):
        assert len(batch) == 100 and len(truth) == 50
        rows = batch.set_index("b_id")
        for b_id, ref_id in truth:
            src, dst = rows.loc[b_id], ref.loc[ref_id]
            jw = refscore.jaro_winkler_sim(src.b_name.lower(), dst.ref_name.lower())
            city = refscore.levenshtein_sim(src.b_city.lower(), dst.ref_city.lower())
            assert refscore.passes(jw, 90)
            assert refscore.passes(city, 80)
            assert src.b_country == dst.ref_country
