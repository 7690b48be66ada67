"""The generator derives every input from the seed alone."""

import csv
import io

import gen


def test_capture_is_byte_identical_per_seed():
    a_rows, a = gen.capture(7, 1, 3000)
    b_rows, b = gen.capture(7, 1, 3000)
    assert a == b and a_rows == b_rows
    assert gen.capture(8, 1, 3000)[1] != a


def test_capture_has_the_reference_shape_and_dirty_keys():
    rows, data = gen.capture(3, 1, 5000)
    recs = list(csv.reader(io.StringIO(data.decode())))
    assert recs[0] == gen.HEADER and all(len(r) == 8 for r in recs)
    keys = [r[0] for r in recs[1:]]
    assert any(k == "" for k in keys)  # empty keys
    assert any(k.startswith("x") for k in keys)  # garbage keys
    numeric = [k for k in keys if k.isdigit()]
    assert len(numeric) > len(set(numeric))  # replayed keys
    assert set(int(k) for k in numeric) == set(rows) == set(range(1, 5001))
    hosts = {r[2] for r in recs[1:]} - {""}
    assert hosts <= set(gen.HOSTS) and len(hosts) == 32
    assert {r[6] for r in recs[1:]} == {"HTTP", "DNS", "ARP", "ICMP", "UDP"}


def _ops(seed, n):
    corpus, _ = gen.capture(seed, 1, 2000)
    s = gen.CrudStream(seed, corpus, batch=50, file_rows=100)
    first = s.add_data()
    return [first] + [s.next_op() for _ in range(n)], s.live


def test_crud_stream_is_deterministic_and_replays_the_key_set():
    ops_a, live_a = _ops(5, 9)
    ops_b, live_b = _ops(5, 9)
    assert [(o.kind, o.rows, o.keys, o.csv) for o in ops_a] == \
        [(o.kind, o.rows, o.keys, o.csv) for o in ops_b]
    assert live_a == live_b
    assert [o.kind for o in ops_a[1:5]] == ["delete", "upsert", "update", "add_data"]
    replay = dict(gen.capture(5, 1, 2000)[0])
    for o in ops_a:
        for k in o.keys:
            del replay[k]
        replay.update(o.rows)
    assert replay == live_a


def test_query_serve_plan_is_seeded_and_every_round_holds_the_mix():
    plan = gen.query_serve_plan(11, list(range(1, 100)), 2)
    first = [next(plan) for _ in range(15)]
    again = gen.query_serve_plan(11, list(range(1, 100)), 2)
    assert first == [next(again) for _ in range(15)]
    for i in range(0, 15, 5):
        assert sorted(k for k, _ in first[i:i + 5]) == sorted(gen.ROUND)
    assert all(len(a) == 2 for k, a in first if k == "point")
