"""The brute-force top-k reference the serve and ingest checks rely on."""

import numpy as np
import pytest

from vbench.topk_check import Snapshot, check_topk

# unit vectors at known angles to q = e0, so cosines are exact
ROWS = {
    "a": ([1.0, 0.0], ["x"]),
    "b": ([0.6, 0.8], ["x", "y"]),   # cos 0.6
    "c": ([0.6, -0.8], ["y"]),       # cos 0.6, ties with b
    "d": ([0.0, 1.0], ["x"]),        # cos 0
    "e": ([-1.0, 0.0], []),          # cos -1
}
Q = [2.0, 0.0]


@pytest.fixture
def snap():
    ids = list(ROWS)
    return Snapshot(ids, [ROWS[i][1] for i in ids], [ROWS[i][0] for i in ids])


def test_exact_answer_passes(snap):
    assert check_topk(snap, Q, 3, None, [("a", 1.0), ("b", 0.6), ("c", 0.6)]) is None


def test_either_tied_row_may_fill_the_last_place(snap):
    assert check_topk(snap, Q, 2, None, [("a", 1.0), ("b", 0.6)]) is None
    assert check_topk(snap, Q, 2, None, [("a", 1.0), ("c", 0.6)]) is None


def test_missing_a_better_row_fails(snap):
    assert "below the k-th best" in check_topk(snap, Q, 2, None, [("a", 1.0), ("d", 0.0)])


def test_skipping_the_best_row_fails_even_when_scores_tie(snap):
    # b and c tie for second; returning both at k=2 skips a (cos 1)
    assert "missed a row" in check_topk(snap, Q, 2, None, [("b", 0.6), ("c", 0.6)])


def test_wrong_score_fails(snap):
    assert "scored" in check_topk(snap, Q, 1, None, [("a", 0.9)])


def test_order_and_duplicates(snap):
    assert "descending" in check_topk(snap, Q, 2, None, [("b", 0.6), ("a", 1.0)])
    assert "duplicate" in check_topk(snap, Q, 2, None, [("a", 1.0), ("a", 1.0)])


def test_tag_scope_is_a_superset_match(snap):
    # rows whose tag set contains "x": a, b, d
    assert check_topk(snap, Q, 3, ["x"], [("a", 1.0), ("b", 0.6), ("d", 0.0)]) is None
    assert "not in scope" in check_topk(snap, Q, 2, ["x"], [("a", 1.0), ("c", 0.6)])
    assert check_topk(snap, Q, 5, ["x", "y"], [("b", 0.6)]) is None


def test_short_and_empty_results(snap):
    # k larger than the rows in scope: every in-scope row is expected
    assert "expected 1" in check_topk(snap, Q, 5, ["x", "y"], [])
    assert check_topk(snap, Q, 10, ["nope"], []) is None
    assert "expected 5" in check_topk(snap, Q, 10, None, [("a", 1.0)])


def test_scores_match_a_plain_loop():
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(50, 8))
    snap = Snapshot([str(i) for i in range(50)], [[]] * 50, vecs)
    q = rng.normal(size=8)
    loop = [float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))) for v in vecs]
    assert np.allclose(snap.scores(q), loop, rtol=0, atol=1e-12)
    best = sorted(range(50), key=lambda i: -loop[i])[:10]
    assert check_topk(snap, q, 10, None, [(str(i), loop[i]) for i in best]) is None
