import json
import os
import re

from perfbench import gen


def _run(seed, ticks=5, stamps=None):
    g = gen.FeedGenerator(seed, keys=200, live=150, events_per_tick=60)
    stamps = stamps or [1_000_000 + 500 * k for k in range(ticks)]
    return g, [g.tick(s) for s in stamps]


def test_same_seed_same_bytes_and_expected_state():
    g1, b1 = _run(7)
    g2, b2 = _run(7)
    assert b1 == b2
    assert g1.summary() == g2.summary()


def test_other_seed_other_bytes():
    assert _run(7)[1] != _run(8)[1]


def test_clock_only_moves_stamps():
    """The random stream never reads the clock: other stamps give the same
    events apart from the stamp fields."""
    g1, b1 = _run(3, stamps=[10, 20, 30])
    g2, b2 = _run(3, stamps=[11, 21, 31])
    assert g1.summary() == g2.summary()
    assert b1 != b2
    assert [re.sub(r'"ts_ms":\d+', "", x) for x in b1] == [
        re.sub(r'"ts_ms":\d+', "", x) for x in b2]


def test_replaying_the_feed_gives_the_expected_state_and_counts():
    seed = 5
    g, bodies = _run(seed, ticks=8)
    state = {k: list(gen.snapshot_row(k, seed)) for k in range(150)}
    ops, corrupt = {}, []
    for body in bodies:
        keys_in_tick = set()
        for line in body.splitlines():
            try:
                p = json.loads(line)["payload"]
            except json.JSONDecodeError:
                corrupt.append(line)
                continue
            key = (p["after"] or p["before"])["id"]
            assert key not in keys_in_tick  # a key occurs once per tick
            keys_in_tick.add(key)
            ops[p["op"]] = ops.get(p["op"], 0) + 1
            if p["op"] == "d":
                assert key in state
                del state[key]
            else:
                a = p["after"]
                state[key] = [a["name"], a["qty"], a["price"], a["category"]]
    s = g.summary()
    assert s["state"] == {str(k): v for k, v in state.items()}
    assert s["op_counts"] == ops
    assert s["corrupt_lines"] == corrupt
    assert s["events"] == sum(ops.values()) == 8 * 60
    assert set(ops) == {"c", "u", "d"}


def test_writer_lands_files_with_increasing_mtimes(tmp_path):
    w = gen.FeedWriter(tmp_path / "feed")
    for i in range(5):
        w.write(f"line {i}\n")
    files = sorted((tmp_path / "feed").iterdir())
    assert [f.name for f in files] == [f"tick-{i:06d}.json" for i in range(5)]
    mtimes = [os.stat(f).st_mtime_ns for f in files]
    assert all(b > a for a, b in zip(mtimes, mtimes[1:]))
    assert not any((tmp_path / "feed.staging").iterdir())
