"""Brute-force reference for the index's top-k answers.

The reference scores every row of a ``scan()`` snapshot (the dequantized
vectors the index itself searches) with numpy, so a correct answer must
match it up to ties: any row may fill the last places when scores tie
within ``TOL``.
"""

from __future__ import annotations

import numpy as np

TOL = 1e-9


class Snapshot:
    """ids, tag sets and dequantized vectors of every stored row."""

    def __init__(self, ids, tags, vectors):
        self.ids = np.asarray(ids, dtype=object)
        self.tags = [frozenset(t or ()) for t in tags]
        vecs = np.asarray(vectors, dtype=np.float64).reshape(len(self.ids), -1)
        self.unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        self.pos = {i: n for n, i in enumerate(self.ids)}

    @classmethod
    def from_index(cls, index) -> "Snapshot":
        pdf = index.scan().select("id", "tags", "embedding").toPandas()
        return cls(pdf["id"].tolist(), [list(t) for t in pdf["tags"]],
                   np.stack(pdf["embedding"].to_numpy()))

    def scores(self, query, tags=None) -> np.ndarray:
        """Cosine of every row to ``query``; NaN for rows outside the tag
        scope (a row matches when its tag set contains every query tag)."""
        q = np.asarray(query, dtype=np.float64)
        s = self.unit @ (q / np.linalg.norm(q))
        if tags:
            want = frozenset(tags)
            s[[not want <= t for t in self.tags]] = np.nan
        return s


def check_topk(snapshot: Snapshot, query, k: int, tags, result) -> str | None:
    """None when ``result`` (a list of (id, score), best first) is a valid
    top-k of ``query`` over the rows in scope; otherwise what is wrong."""
    s = snapshot.scores(query, tags)
    in_scope = np.flatnonzero(~np.isnan(s))
    want = min(k, len(in_scope))
    if len(result) != want:
        return f"{len(result)} rows, expected {want}"
    got = []
    for rid, score in result:
        n = snapshot.pos.get(rid)
        if n is None or np.isnan(s[n]):
            return f"row {rid!r} is not in scope"
        if abs(score - s[n]) > TOL:
            return f"row {rid!r} scored {score}, reference {s[n]}"
        got.append(n)
    if len(set(got)) != len(got):
        return "duplicate rows"
    scores = [score for _rid, score in result]
    if any(b > a + TOL for a, b in zip(scores, scores[1:])):
        return "scores not in descending order"
    if want == 0:
        return None
    kth = np.sort(s[in_scope])[::-1][want - 1]
    worst = min(s[n] for n in got)
    if worst < kth - TOL:
        return f"returned score {worst} below the k-th best {kth}"
    rest = np.setdiff1d(in_scope, got)
    if len(rest) and s[rest].max() > worst + TOL:
        return f"missed a row scoring {s[rest].max()} above returned {worst}"
    return None
