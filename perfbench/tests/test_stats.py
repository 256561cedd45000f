"""The benchmark's own arithmetic, checked without Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import random
import sys
from collections import Counter
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import stats  # noqa: E402
from run import check_read  # noqa: E402
from workloads import WORKLOADS, make_files, prefill_rows, read_mix  # noqa: E402


# -- percentile rule ----------------------------------------------------------
def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))
    assert stats.percentile(vals, 50) == 50
    assert stats.percentile(vals, 90) == 90
    assert stats.percentile(vals, 99) == 99
    assert stats.percentile([7.0], 90) == 7.0


def test_tail_reports_highest_percentile_with_ten_beyond():
    # 100 samples: p90 has exactly 10 beyond it, p95 only 5
    q, v, n = stats.tail(list(range(100)))
    assert (q, v, n) == (90.0, 89, 100)
    # 1000 samples: p99 has 10 beyond it
    assert stats.tail(list(range(1000)))[0] == 99.0
    # 40 samples: p75 has 10 beyond, p90 only 4
    assert stats.tail(list(range(40)))[0] == 75.0
    # 20 samples: only the median qualifies
    assert stats.tail(list(range(20)))[0] == 50.0


def test_tail_refuses_too_few_samples():
    assert stats.tail(list(range(19))) is None
    assert stats.tail([]) is None


def test_mix_mean_weights_each_kind_equally():
    samples = [("a", 1.0), ("a", 3.0), ("b", 10.0)]
    assert stats.mix_mean(samples) == pytest.approx((2.0 + 10.0) / 2)
    # one more cheap operation does not drag the figure toward it
    assert stats.mix_mean(samples + [("a", 2.0)]) == pytest.approx(6.0)
    with pytest.raises(ValueError):
        stats.mix_mean([])


def test_beyond_counts_samples_above_the_rank():
    assert stats.beyond(100, 90) == 10
    assert stats.beyond(10, 50) == 5
    assert stats.beyond(1, 99) == 0


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    import statistics

    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / 14.5)


# -- freshness and backlog ----------------------------------------------------------
POLLS = [(10.0, -1), (10.5, 0), (11.0, 0), (11.5, 1), (12.0, 2)]


def test_visible_at_waits_for_the_batch_and_the_start_time():
    assert stats.visible_at(POLLS, 0) == 10.5
    assert stats.visible_at(POLLS, 1) == 11.5
    assert stats.visible_at(POLLS, 0, not_before=10.8) == 11.0
    assert stats.visible_at(POLLS, 3) is None


def test_freshness_from_file_to_batch_map():
    due = {"a": 10.2, "b": 10.9, "c": 11.9, "d": 11.95}
    file_batch = {"a": 0, "b": 1, "c": 2}  # d was never taken by a batch
    samples, missing = stats.freshness(due, file_batch, POLLS)
    assert samples == pytest.approx({"a": 300.0, "b": 600.0, "c": 100.0})
    assert missing == ["d"]


def test_freshness_misses_a_batch_no_poll_showed():
    samples, missing = stats.freshness({"a": 10.0}, {"a": 5}, POLLS)
    assert samples == {} and missing == ["a"]


def test_backlog_counts_arrived_but_unseen_files():
    arrived = {"a": 10.1, "b": 10.2, "c": 10.3, "d": 11.6}
    file_batch = {"a": 0, "b": 1, "c": 1, "d": 2}
    # at 10.3 all three have arrived and none is visible; at 10.5 'a' is
    assert stats.backlog_max(arrived, file_batch, POLLS) == 3
    # a file no batch ever took stays in the backlog
    assert stats.backlog_max({"x": 10.0, "y": 10.0}, {}, POLLS) == 2


# -- failures and oracle --------------------------------------------------------------
def test_failed_frac():
    assert stats.failed_frac(200, 0) == 0.0
    assert stats.failed_frac(200, 3) == 0.015
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)


def test_count_mismatches_sees_a_corrupted_expected_count():
    w = WORKLOADS["ingest_lowcard"]
    (f,) = make_files(w, random.Random(3), "f", 1, 1_700_000_000)
    got = Counter(f.counts)
    assert stats.count_mismatches(f.counts, got) == []
    key = next(iter(f.counts))
    f.counts[key] += 1
    assert stats.count_mismatches(f.counts, got) == [key]
    assert stats.count_mismatches({("x", 0): 1}, {}) == [("x", 0)]


def test_generated_counts_match_the_generated_lines():
    import json

    w = WORKLOADS["ingest_highcard"]
    files = make_files(w, random.Random(5), "f", 2, 1_700_000_000)
    for f in files:
        recount = Counter()
        for line in f.lines:
            r = json.loads(line)
            ts = r["timestamp"]
            recount[(r["user_id"], r["event_type"], ts // 10 * 10)] += 1
        assert recount == f.counts
        assert sum(f.counts.values()) == w.rows_per_file
    assert make_files(w, random.Random(5), "f", 2, 1_700_000_000)[1].lines == files[1].lines


def test_read_answers_come_from_the_prefill():
    w = WORKLOADS["serve_full_store"]
    prefill = prefill_rows(w, random.Random(1))
    assert {r[4] for r in prefill} == set(range(-w.prefill_batches, 0))
    mix = read_mix(random.Random(2), list(range(-50, 0)), prefill, 10)
    assert [m["route"] for m in mix[:5]] == ["rv", "dv", "sr", "eoe", "sql"]
    dv = next(m for m in mix if m["route"] == "dv")
    b = int(dv["path"].rsplit("/", 1)[1])
    assert dv["rows"] == sorted(tuple(r) for r in prefill if r[4] == b)
    body = [dict(zip(("etype", "bucket_start", "bucket_end", "count", "RST_ID"), r))
            for r in dv["rows"]]
    import json

    read = {**dv, "status": 200, "body": json.dumps(body).encode(), "t0": 0, "t1": 1}
    assert check_read(read, [])[0]
    body[0]["count"] += 1
    assert not check_read({**read, "body": json.dumps(body).encode()}, [])[0]


def test_recent_values_invariant_uses_polls_around_the_request():
    import json

    polls = [(1.0, 7, 0.9), (2.0, 8, 1.9), (3.0, 9, 2.9)]
    rows = [{"RST_ID": i} for i in (4, 5, 6, 7, 8)]
    read = {"route": "rv", "status": 200, "body": json.dumps(rows).encode(), "t0": 1.5, "t1": 2.5}
    # before the request rst was 7, after it 9: ids in (2, 9] are allowed
    assert check_read(read, polls)[0]
    old = [{"RST_ID": 2}]
    assert not check_read({**read, "body": json.dumps(old).encode()}, polls)[0]
    assert not check_read({**read, "status": 500}, polls)[0]
    # a poll sent before the response may predate the read's snapshot
    late = [(1.0, 7, 0.9), (2.6, 7, 2.0), (3.0, 9, 2.9)]
    assert check_read({**read, "body": json.dumps([{"RST_ID": 9}]).encode()}, late)[0]


# -- span self time -------------------------------------------------------------------------
def _span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, "api", 0.0, 10.0),
        _span(2, 1, "view", 1.0, 4.0),
        _span(3, 1, "view", 3.0, 6.0),  # overlaps the first child
        _span(4, 2, "snapshot", 1.5, 2.0),
        _span(5, 1, "late", 9.0, 12.0),  # clipped to the parent's end
    ]
    selfs = stats.self_times(spans)
    assert selfs[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert selfs[2] == pytest.approx(2.5)
    assert selfs[3] == pytest.approx(3.0)
    assert selfs[4] == pytest.approx(0.5)
    table = stats.layer_table(spans)
    assert table["view"]["calls"] == 2
    assert table["view"]["self_s"] == pytest.approx(5.5)
    assert table["api"]["total_s"] == pytest.approx(10.0)
