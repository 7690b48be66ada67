"""Independent answer checker: numpy and plain Python, no engine top-k code.

The total order is the engine's documented one: cosine similarity
descending, then id ascending.
"""

from __future__ import annotations

import numpy as np

from gen import COLUMNS

# Two answers that differ only inside this similarity band are the same
# answer: float64 scores of float32 vectors agree far tighter than this,
# and genuinely different neighbours are much further apart.
SIM_TOL = 1e-9


class Corpus:
    """Corpus vectors as a row-normalized float64 matrix."""

    def __init__(self, ids, vecs):
        self.ids = np.asarray(ids, dtype=np.int64)
        m = np.asarray(vecs, dtype=np.float64).reshape(len(self.ids), -1)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        self.mat = m / np.where(norms == 0, 1.0, norms)

    def sims(self, q) -> np.ndarray:
        """Cosine of ``q`` with every row. A row-wise sum rather than a BLAS
        product: BLAS may round rows differently by their position, which
        would split identical vectors into a fake non-tie."""
        q = np.asarray(q, dtype=np.float64)
        n = np.linalg.norm(q)
        return (self.mat * (q / (n if n else 1.0))).sum(axis=1)

    def topk(self, q, k: int) -> list[tuple[int, float]]:
        """Exact top-k as (id, similarity), sim desc then id asc."""
        s = self.sims(q)
        order = np.lexsort((self.ids, -s))[:k]
        return [(int(self.ids[i]), float(s[i])) for i in order]


def same_topk(got_ids: list[int], corpus: Corpus, q, k: int) -> bool:
    """``got_ids`` in rank order is the exact top-k of ``q``.

    Rank by rank the id must equal numpy's, with one allowance: a different
    id whose similarity differs from the expected one by a nonzero amount
    within SIM_TOL is a near-tie the engine's float order may resolve either
    way. An exact tie (bit-equal similarity, e.g. identical vectors) must be
    broken by id ascending, so a swap there is a wrong answer."""
    want = corpus.topk(q, k)
    if list(got_ids) == [i for i, _ in want]:
        return True
    if len(got_ids) != len(want) or len(set(got_ids)) != len(got_ids):
        return False
    sims = corpus.sims(q)
    pos = {int(i): n for n, i in enumerate(corpus.ids)}
    for g, (w, ws) in zip(got_ids, want):
        if g == w:
            continue
        if g not in pos:
            return False
        gs = float(sims[pos[g]])
        if gs == ws or abs(gs - ws) > SIM_TOL:
            return False
    return True


def recall(got_ids, want_ids) -> float:
    want = set(want_ids)
    return len(want & set(got_ids)) / len(want) if want else 1.0


def group_ranked(rows, qcol: str, idcol: str) -> dict:
    """Engine result rows → {query_id: [(id, sim), ...] in rank order}."""
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r[qcol], r["rank"])):
        out.setdefault(r[qcol], []).append((int(r[idcol]), float(r["similarity"])))
    return out


def check_topk(rows, queries: dict, corpus: Corpus, k: int, qcol="query_id",
               idcol="frame_number") -> bool:
    """Every query in ``queries`` (id → vector) got exactly the numpy top-k."""
    got = group_ranked(rows, qcol, idcol)
    return set(got) == set(queries) and all(
        same_topk([i for i, _ in got[q]], corpus, v, k) for q, v in queries.items()
    )


def ann_recall(rows, queries: dict, corpus: Corpus, k: int, qcol="query_id",
               idcol="frame_number") -> tuple[float, int]:
    """Mean recall@k of ANN answers against the numpy top-k, and the number
    of queries it averages over."""
    got = group_ranked(rows, qcol, idcol)
    vals = [
        recall([i for i, _ in got.get(q, [])], [i for i, _ in corpus.topk(v, k)])
        for q, v in queries.items()
    ]
    return float(np.mean(vals)), len(vals)


def row_matches(stored: dict, generated: tuple) -> bool:
    """A stored row (engine column names) equals the generated CSV record.
    Empty CSV fields read back as null."""
    for col, want in zip(COLUMNS, generated):
        have = stored.get(col)
        if col == "frame_number":
            if have is None or int(have) != int(want):
                return False
        elif (have or "") != want:
            return False
    return True
