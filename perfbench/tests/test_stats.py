"""Self-tests of the benchmark's pure helpers. Run from the repository root:
``python -m pytest perfbench/tests -q``."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_tail_percentile_needs_ten_beyond():
    assert stats.tail_percentile(list(range(19))) is None
    # 20 samples: p50 leaves exactly 10 beyond it
    p, v = stats.tail_percentile(list(range(1, 21)))
    assert (p, v) == (50.0, 10.0)
    # 100 samples: p90 has 10 beyond, p95 only 5
    p, v = stats.tail_percentile(list(range(1, 101)))
    assert (p, v) == (90.0, 90.0)
    # 1000 samples: p99 has 10 beyond, p99.9 only 1
    p, _ = stats.tail_percentile([float(i) for i in range(1000)])
    assert p == 99.0


def test_median_of_samples():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_interval_union_merges_overlaps():
    assert stats.interval_union([]) == 0.0
    assert stats.interval_union([(0, 1), (2, 3)]) == 2.0
    # overlapping and nested intervals count once
    assert stats.interval_union([(0, 2), (1, 3), (1.5, 1.7), (5, 6)]) == 4.0
    # unsorted input, touching intervals
    assert stats.interval_union([(3, 4), (0, 1), (1, 3)]) == 4.0


def _row(i, finish=0, status=2):
    return {
        "urlhash": f"h{i}", "url": f"http://a.test/{i}", "parent": None,
        "status": status, "finish": finish, "absdepth": 1, "reldepth": 0,
        "monodepth": 0, "dupdepth": 0, "words": {"w": 2}, "links": [],
        "exhash": "e", "smhash": i, "gen": 1, "seq": f"0000000.c{i:07d}",
        "domain": "http://a.test", "retries": 0,
    }


def test_digest_rejects_one_flipped_finish_code():
    state = {f"h{i}": _row(i) for i in range(5)}
    want = stats.state_digests(state)
    assert stats.compare_digests(stats.state_digests(dict(state)), want) == []
    flipped = dict(state)
    flipped["h3"] = _row(3, finish=5)  # OK -> TOO_SIMILAR
    problems = stats.compare_digests(stats.state_digests(flipped), want)
    assert problems == ["row state differs: 1 rows differ, 0 extra, 0 missing"]


def test_digest_ignores_retries_and_word_map_order():
    state = {f"h{i}": _row(i) for i in range(3)}
    other = {h: dict(v) for h, v in state.items()}
    other["h1"]["retries"] = 4
    other["h2"]["words"] = {"b": 1, "a": 3}
    state["h2"]["words"] = {"a": 3, "b": 1}
    assert stats.compare_digests(stats.state_digests(other), stats.state_digests(state)) == []


def test_order_digest_sees_processing_order():
    a = [(1, "0.c1", "u1"), (1, "0.c2", "u2")]
    assert stats.order_digest(a) != stats.order_digest(list(reversed(a)))
    # the engine side derives its order from (gen, seq), whatever the
    # row order of the collected frontier
    state = {f"h{i}": _row(i) for i in range(4)}
    shuffled = {h: state[h] for h in ("h2", "h0", "h3", "h1")}
    assert stats.processed_visits(shuffled) == stats.processed_visits(state)
    # pending rows are not processed; sifted ones are
    state["h1"] = _row(1, status=0)
    state["h2"] = _row(2, finish=8, status=0)
    assert [u for _, _, u in stats.processed_visits(state)] == [
        "http://a.test/0", "http://a.test/2", "http://a.test/3"
    ]


def test_wave_intervals_exclude_store_commits():
    import probe

    # waves end at 10 and 30; a commit ran 10.5-14 between them, and the
    # final commit (31-33) comes after the last wave
    log = [{"start": 10.5, "end": 14.0}, {"start": 31.0, "end": 33.0}]
    assert probe.wave_intervals(0.0, [10.0, 30.0], log) == [(0.0, 10.0), (14.0, 30.0)]
    assert probe.wave_intervals(0.0, [], log) == []
