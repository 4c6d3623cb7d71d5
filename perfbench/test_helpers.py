"""Tests for the benchmark's pure helpers and its changelog generator (no
Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pytest  # noqa: E402

import gen  # noqa: E402
from spans import Tracer, self_time, tail, union_length  # noqa: E402


def test_tail_leaves_exactly_ten_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90, 0.9, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_ignores_input_order_and_ties():
    xs = [5.0] * 15 + [1.0] * 5 + [9.0] * 10
    value, pct, n = tail(list(reversed(xs)))
    assert n == 30 and value == 5.0 and pct == pytest.approx(20 / 30)


def test_tail_without_enough_samples_is_the_maximum():
    assert tail([3, 1, 2]) == (3, 1.0, 3)
    with pytest.raises(ValueError):
        tail([])


def test_union_length_merges_overlaps_and_keeps_gaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(0, 10), (2, 3), (4, 5)]) == pytest.approx(10.0)
    assert union_length([(1, 2), (2, 3)]) == pytest.approx(2.0)


def test_self_time_uses_the_union_of_overlapping_children():
    # two concurrent table tasks covering [1, 4] between them
    children = [(1.0, 3.0), (2.0, 4.0)]
    assert self_time(0.0, 10.0, children) == pytest.approx(7.0)
    # children are clipped to the parent
    assert self_time(0.0, 2.0, [(-1.0, 1.0), (1.5, 5.0)]) == pytest.approx(0.5)


def test_spans_nest_by_thread_and_fall_back_to_the_operation():
    tr = Tracer()
    with tr.op("job.process_batch", 7) as op:
        with tr.span("store.fold") as fold:
            with tr.span("store.read") as inner:
                pass

        def worker():
            with tr.span("store.publish_delta", table="t"):
                pass

        th = threading.Thread(target=worker, name="pool-0")
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    with tr.span("read") as outside:
        pass
    by_name = {s.name: s for s in tr.spans}
    assert op.parent is None and op.op == 7
    assert fold.parent == op.idx
    assert inner.parent == fold.idx
    # a pool thread has no open span of its own: parent is the operation
    assert by_name["store.publish_delta"].parent == op.idx
    assert by_name["store.publish_delta"].thread == "pool-0"
    assert by_name["store.publish_delta"].op == 7
    assert outside.parent is None and outside.op is None
    assert all(s.end is not None and s.end >= s.start for s in tr.spans)
    assert [s.idx for s in tr.spans] == list(range(len(tr.spans)))


def _changelog(seed, batches):
    cl = gen.Changelog(seed, inserts=42,
                       route=lambda keys: [f"t{int(k) % 4}" for k in keys])
    lines = [cl.next_batch() for _ in range(batches)]
    return cl, lines


def test_changelog_follows_the_reference_op_mix():
    cl, lines = _changelog(5, 6)
    # 42 inserts, 14 updates of the previous batch's keys, 6 deletes of the
    # keys two batches back: 21 : 7 : 3, as in synth_orders_changelog
    assert [len(b) for b in lines] == [42, 56, 62, 62, 62, 62]
    ev = cl.events_table().to_pydict()
    seen, live = set(), set()
    for op, k in zip(ev["op"], ev["o_orderkey"]):
        if op == "c":
            assert k not in seen
            seen.add(k)
            live.add(k)
        else:  # updates and deletes only hit keys the target holds
            assert k in live
            assert k % (3 if op == "u" else 7) == 0
            if op == "d":
                live.remove(k)
    assert ev["ts_ms"] == sorted(set(ev["ts_ms"]))


def test_changelog_lines_route_by_key_and_repeat_per_seed():
    cl, lines = _changelog(5, 3)
    for line in lines[2]:
        env = json.loads(line)
        row = env["before"] if env["op"] == "d" else env["after"]
        assert env["source"]["table"] == f"t{row['o_orderkey'] % 4}"
    assert _changelog(5, 3)[1] == lines
    assert _changelog(6, 3)[1] != lines
