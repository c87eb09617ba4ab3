"""Tests of the benchmark's pure functions (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402

from perfbench import gen, layers, stats  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    value, p, n = stats.tail_percentile([float(i) for i in range(1, 101)])
    assert (value, p, n) == (90.0, 90, 100)
    assert sum(1 for x in range(1, 101) if x > value) == 10


def test_tail_percentile_scales_with_sample_count():
    value, p, n = stats.tail_percentile([float(i) for i in range(1, 21)])
    assert (value, p, n) == (10.0, 50, 20)


def test_tail_percentile_falls_back_to_max_when_too_few_samples():
    assert stats.tail_percentile([3.0, 1.0, 2.0]) == (3.0, 100, 3)
    assert stats.tail_percentile([]) == (0.0, 0, 0)


def test_self_time_subtracts_union_of_children():
    span = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 5.0}, {"start": 8.0, "end": 12.0}]
    # children cover 1..5 and 8..10 of the span: 6 s
    assert stats.self_time(span, kids) == pytest.approx(4.0)
    assert stats.self_time(span, []) == pytest.approx(10.0)


def test_failed_frac_counts_raises_and_every_attempt_of_a_wrong_query():
    outcomes = {"a": [False, False], "b": [True, False], "c": [False, False]}
    assert stats.failed_frac(outcomes, set()) == (6, 1, pytest.approx(1 / 6))
    assert stats.failed_frac(outcomes, {"c"}) == (6, 3, pytest.approx(0.5))
    assert stats.failed_frac({}, set()) == (0, 0, 0.0)


@pytest.mark.parametrize("workload", ["warehouse", "corpus", "terasort"])
def test_seed_determinism(workload):
    def sums(seed):
        return {k: gen.checksum(v) for k, v in gen.generate(workload, seed, scale=0.01).items()}

    first = sums(7)
    assert sums(7) == first
    other = sums(8)
    assert other.keys() == first.keys()
    assert all(other[k] != first[k] for k in first if k not in ("region", "nation"))


def test_generated_tables_split_into_part_files(tmp_path):
    tables = gen.generate("warehouse", 3, scale=0.01)
    total = gen.write_tables(tables, str(tmp_path), 4)
    parts = os.listdir(tmp_path / "lineitem.parquet")
    assert len(parts) == 4
    assert total == sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(tmp_path) for f in fs
    )


def test_parse_metric_reads_display_strings():
    assert layers.parse_metric("15,000") == (15000.0, 0.0)
    value, tol = layers.parse_metric("total (min, med, max (stageId: taskId))\n10.3 MiB (1.0 MiB, 2.0 MiB, 3.0 MiB)")
    assert value == pytest.approx(10.3 * 2**20)
    assert tol == pytest.approx(0.05 * 2**20)
    assert layers.parse_metric("1393.0 B") == (1393.0, 0.0)
    assert layers.parse_metric("320 ms")[0] == pytest.approx(0.32)
    assert layers.parse_metric("1.1 s")[0] == pytest.approx(1.1)
