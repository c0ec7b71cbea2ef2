"""Tests of the benchmark's output check and span accounting, on small
inputs and without Spark.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# the worker's engine imports resolve from the checkout root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

import gen  # noqa: E402
import refscore  # noqa: E402
from spans import Span, self_times  # noqa: E402
from worker import BatchWorkload, PairWorkload  # noqa: E402


def _pair_workload():
    w = PairWorkload(n_left=60, n_right=40, threshold=75)
    w.data = gen.pair_inputs(11, w.n_left, w.n_right)
    return w


def _true_pair_rows(w):
    """Brute-force output of the pair join, from the reference scorer."""
    rows = []
    for (l_id, l_name), (r_id, r_name) in itertools.product(
        zip(w.data.left.l_id, w.data.left.l_name),
        zip(w.data.right.r_id, w.data.right.r_name),
    ):
        s = refscore.levenshtein_sim(l_name.lower(), r_name.lower())
        if refscore.passes(s, w.threshold):
            rows.append({"l_id": l_id, "l_name": l_name, "r_id": r_id,
                         "r_name": r_name, "l_name_vs_r_name_levenshtein": s})
    return rows


def test_pair_check_accepts_the_true_output():
    w = _pair_workload()
    errors, found, planted = w.check(_true_pair_rows(w), 0)
    assert errors == []
    assert found == planted == 20


@pytest.mark.parametrize("mutation", ["score", "payload", "duplicate"])
def test_pair_check_rejects_a_broken_output(mutation):
    w = _pair_workload()
    rows = _true_pair_rows(w)
    planted = next(r for r in rows if (r["l_id"], r["r_id"]) in w.data.planted)
    if mutation == "score":
        planted["l_name_vs_r_name_levenshtein"] -= 0.01
    elif mutation == "payload":
        planted["r_name"] = planted["r_name"] + "x"
    else:
        rows.append(dict(planted))
    errors, _, _ = w.check(rows, 0)
    assert errors


def test_pair_check_reports_recall_without_failing():
    w = _pair_workload()
    rows = [r for r in _true_pair_rows(w) if (r["l_id"], r["r_id"]) in w.data.planted]
    errors, found, planted = w.check(rows[:-5], 0)
    assert errors == []
    assert (found, planted) == (15, 20)


def _batch_workload():
    w = BatchWorkload(n_reference=200, n_names=40, n_cities=20, batch_rows=30,
                      n_batches=1)
    w.data = gen.batch_inputs(3, w.n_reference, w.n_names, w.n_cities,
                              w.batch_rows, w.n_batches)
    return w


def _true_batch_rows(w):
    named = w._named()
    rows = []
    ref_cols = ["ref_id", "ref_name", "ref_city", "ref_country"]
    for b in w.data.batches[0].to_dict("records"):
        matched = False
        for ref in w.data.reference.to_dict("records"):
            row = {**b, **ref}
            for m in named:
                a, c = row[m.left_col].lower(), row[m.right_col].lower()
                s = (float(a == c) if m.threshold_score >= 100
                     else refscore.SIMILARITY[m.fuzzy_type](a, c))
                if not refscore.passes(s, m.threshold_score):
                    break
                row[m.output_column_name] = s
            else:
                rows.append(row)
                matched = True
        if not matched:
            rows.append({**b, **{c: None for c in ref_cols},
                         **{m.output_column_name: None for m in named}})
    return rows


def test_batch_check_accepts_the_true_output():
    w = _batch_workload()
    errors, found, planted = w.check(_true_batch_rows(w), 0)
    assert errors == []
    assert found == planted == 15


@pytest.mark.parametrize(
    "mutation, error",
    [
        ("lost", "missing"),
        ("duplicate matched", "duplicate"),
        ("duplicate unmatched", "duplicate"),
    ],
)
def test_batch_check_rejects_a_broken_output(mutation, error):
    w = _batch_workload()
    rows = _true_batch_rows(w)
    unmatched = next(r for r in rows if r["ref_id"] is None)
    if mutation == "lost":
        rows.remove(unmatched)
    elif mutation == "duplicate matched":
        rows.append(dict(next(r for r in rows if r["ref_id"] is not None)))
    else:
        rows.append(dict(unmatched))
    errors, _, _ = w.check(rows, 0)
    assert any(error in e for e in errors)


def _span(i, layer, start, end, parent=None):
    return Span(i, layer, layer, start, end, parent, 1, "t")


def test_self_times_split_concurrent_children_and_sum_to_the_root():
    spans = [
        _span(1, "bench", 0.0, 10.0),
        _span(2, "matcher", 1.0, 9.0, parent=1),
        # two concurrent planner calls under the matcher span
        _span(3, "planner", 2.0, 4.0, parent=2),
        _span(4, "planner", 3.0, 5.0, parent=2),
        _span(5, "candidates", 6.0, 8.0, parent=2),
    ]
    st = self_times(spans)
    assert sum(st.values()) == pytest.approx(10.0)
    assert st["bench"] == pytest.approx(2.0)
    assert st["planner"] == pytest.approx(3.0)
    assert st["candidates"] == pytest.approx(2.0)
    assert st["matcher"] == pytest.approx(3.0)
