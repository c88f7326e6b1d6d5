"""Tests for the seeded packet generator.

    python -m pytest perfbench/test_packets.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from packets import PacketGenerator, expected_counts  # noqa: E402


def test_same_seed_same_lines():
    a, b = PacketGenerator(7), PacketGenerator(7)
    assert a.lines(3000) == b.lines(3000)
    assert a.expected == b.expected


def test_seeds_differ_in_lines_and_mix():
    mixes = {PacketGenerator(s).mix for s in range(6)}
    assert len(mixes) == 6
    assert PacketGenerator(1).lines(500) != PacketGenerator(2).lines(500)


def test_expected_counts_match_lines():
    for seed in (1, 2, 3):
        gen = PacketGenerator(seed)
        lines = gen.lines(1500) + gen.lines(1500)
        expected = {k: v for k, v in gen.expected.items() if k != "lines"}
        assert expected_counts([lines], dedup_across_batches=True) == expected
        assert gen.expected["lines"] == len(lines)
        # every class is present, in roughly the seeded shares
        assert all(v > 0 for v in expected.values())
        mix = gen.mix
        assert abs(expected["duplicates"] / len(lines) - mix.dup_share) < 0.03
        assert len({json.loads(x)["from"] for x in lines if x.endswith("}")}) == mix.n_nodes


def test_event_time_disorder_stays_inside_watermark():
    gen = PacketGenerator(5)
    ts = [json.loads(x)["timestamp"] for x in gen.lines(3000) if x.endswith("}")]
    high = ts[0]
    worst = 0
    for t in ts:
        high = max(high, t)
        worst = max(worst, high - t)
    assert 0 < worst < 600


def test_batches_without_cross_batch_dedup_count_each_batch():
    lines = PacketGenerator(4).lines(1000)
    # split right before a duplicate of an earlier telemetry packet
    cut = next(i for i, x in enumerate(lines) if '"telemetry"' in x and x in lines[:i])
    a, b = lines[:cut], lines[cut:]
    one = expected_counts([a, b], dedup_across_batches=True)
    two = expected_counts([a, b], dedup_across_batches=False)
    per_batch = [expected_counts([x], dedup_across_batches=False) for x in (a, b)]
    facts = ("airwise_data", "battery_data", "airwise_datav1")
    for table in (*facts, "quarantine"):
        assert two[table] == per_batch[0][table] + per_batch[1][table]
    assert sum(two[t] for t in facts) > sum(one[t] for t in facts)
    # without watermark dedup every unknown-type copy is quarantined
    bad = sum(1 for x in lines if not x.endswith("}") or '"type":"position"' in x)
    assert two["quarantine"] == bad
