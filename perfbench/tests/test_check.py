"""The numpy checker on a toy corpus with a known top-k."""

import numpy as np

from check import Corpus, ann_recall, check_topk, row_matches, same_topk

# q = (1, 0). Ids 3 and 9 hold the same vector: an exact tie at sim 1.0,
# which the engine's order breaks by id ascending.
IDS = [5, 3, 9, 1, 4]
VECS = [[0.8, 0.6], [1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.6, 0.8]]
Q = [2.0, 0.0]


def test_topk_orders_by_similarity_then_id():
    c = Corpus(IDS, VECS)
    assert [i for i, _ in c.topk(Q, 3)] == [3, 9, 5]
    assert np.allclose([s for _, s in c.topk(Q, 3)], [1.0, 1.0, 0.8])


def test_same_topk_rejects_a_wrongly_broken_exact_tie():
    c = Corpus(IDS, VECS)
    assert same_topk([3, 9, 5], c, Q, 3)
    assert not same_topk([9, 3, 5], c, Q, 3)
    assert not same_topk([3, 9, 4], c, Q, 3)
    assert not same_topk([3, 9], c, Q, 3)
    assert not same_topk([3, 3, 5], c, Q, 3)


def test_same_topk_accepts_a_float_near_tie_either_way():
    eps = 1e-5  # similarity 1 - 5e-11: distinct, but inside SIM_TOL
    c = Corpus([1, 2], [[1.0, 0.0], [1.0, eps]])
    assert same_topk([1, 2], c, [1.0, 0.0], 2)
    assert same_topk([2, 1], c, [1.0, 0.0], 2)


def test_check_topk_and_recall_on_engine_shaped_rows():
    c = Corpus(IDS, VECS)
    good = [{"query_id": 0, "frame_number": i, "rank": r + 1, "similarity": s}
            for r, (i, s) in enumerate(c.topk(Q, 3))]
    assert check_topk(good, {0: Q}, c, 3)
    assert not check_topk(good[:2], {0: Q}, c, 3)
    assert not check_topk(good, {0: Q, 1: Q}, c, 3)
    half = [dict(good[0]), dict(good[1], frame_number=1), dict(good[2], frame_number=4)]
    assert ann_recall(half, {0: Q}, c, 3) == (1 / 3, 1)


def test_row_matches_treats_empty_fields_as_null():
    gen_row = ("7", "1.5", "172.25.0.2", "172.25.0.3", "", "", "UDP", "60")
    stored = {"frame_number": 7, "frame_time": "1.5", "ip_src": "172.25.0.2",
              "ip_dst": "172.25.0.3", "tcp_srcport": None, "tcp_dstport": None,
              "_ws_col_protocol": "UDP", "frame_len": "60"}
    assert row_matches(stored, gen_row)
    assert not row_matches(dict(stored, ip_src="172.25.0.9"), gen_row)
    assert not row_matches(dict(stored, frame_number=8), gen_row)


def test_identical_vectors_tie_exactly_wherever_they_sit():
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((2000, 64)).astype(np.float32)
    vecs[::7] = vecs[3]
    c = Corpus(range(2000), vecs)
    s = c.sims(rng.standard_normal(64))
    assert len(set(s[::7].tolist())) == 1
