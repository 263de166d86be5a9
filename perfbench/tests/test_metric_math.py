"""Unit tests for the benchmark's metric arithmetic.

Run with ``python3 -m pytest perfbench/tests -q``; no Spark needed.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402


def test_tail_needs_eleven_samples():
    assert stats.tail([1.0] * 10) is None
    p, v = stats.tail([float(x) for x in range(1, 12)])
    assert v == 1.0  # rank 1 of 11: ten samples beyond it
    assert p == pytest.approx(100 / 11)


def test_tail_leaves_exactly_ten_samples_beyond():
    values = [float(x) for x in range(100, 0, -1)]  # unsorted input
    p, v = stats.tail(values)
    assert p == 90.0
    assert v == 90.0
    assert sum(x > v for x in values) == 10


def test_tail_percentile_grows_with_sample_count():
    assert stats.tail([0.0] * 20)[0] == 50.0
    assert stats.tail([0.0] * 1000)[0] == 99.0


def test_error_rate():
    assert stats.error_rate(10, 0) == 0.0
    assert stats.error_rate(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(3, 4)


def test_rate_is_work_over_seconds():
    assert stats.rate(345_600, 17.28) == pytest.approx(20_000.0)
    with pytest.raises(ValueError):
        stats.rate(1, 0.0)


def test_quartiles_and_spread_match_statistics_quantiles():
    values = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
    q1, q2, q3 = stats.quartiles(values)
    assert q2 == pytest.approx(10.0)
    assert stats.iqr_share(values) == pytest.approx((q3 - q1) / q2)
    assert stats.quartiles([4.0]) == (4.0, 4.0, 4.0)


def test_worse_share_respects_direction():
    assert stats.worse_share(10.0, 11.0, "lower") == pytest.approx(0.1)
    assert stats.worse_share(10.0, 9.0, "higher") == pytest.approx(0.1)
    assert stats.worse_share(10.0, 9.0, "lower") == pytest.approx(-0.1)
    with pytest.raises(ValueError):
        stats.worse_share(1.0, 1.0, "sideways")


def _span(i, parent, start, end, name="x.y"):
    return Span(i, name, parent, "run", start, end)


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 9.0)]
    own = self_times(spans)
    assert own[0] == pytest.approx(4.0)
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(4.0)


def test_self_time_counts_overlapping_children_once_and_clips():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 6.0),
        _span(2, 0, 4.0, 8.0),  # overlaps span 1
        _span(3, 0, 9.0, 12.0),  # runs past its parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_self_time_ignores_grandchildren():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 0.0, 4.0), _span(2, 1, 1.0, 2.0)]
    own = self_times(spans)
    assert own[0] == pytest.approx(6.0)
    assert own[1] == pytest.approx(3.0)


def test_tracer_records_parents_and_nothing_when_off():
    tr = Tracer(True, "r1")
    with tr.span("a.outer"):
        with tr.span("b.inner", key="k"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("a.outer", None), ("b.inner", 0)]
    assert tr.spans[1].attrs == {"key": "k"} and tr.spans[1].run == "r1"
    assert tr.spans[0].duration >= tr.spans[1].duration >= 0
    off = Tracer(False, "r2")
    with off.span("a.outer"):
        pass
    assert off.spans == []


def _record(env, **values):
    return {"env": env, "metrics": {k: {"value": v} for k, v in values.items()}}


BENCH = {
    "end_to_end": [
        {"name": "setup_s", "better": "lower", "bound": 0.25},
        {"name": "op_p50_s", "better": "lower", "bound": 0.1},
    ]
}


def test_steadiness_agrees_within_bound():
    import steady

    env = {"nproc": 4}
    first = [_record(env, setup_s=s, op_p50_s=1.0) for s in (10, 10.5, 11, 11.5)]
    second = [_record(env, setup_s=s, op_p50_s=1.05) for s in (10, 10.5, 11, 11.5)]
    lines, ok = steady.compare(BENCH, first, second)
    assert ok and len(lines) == 2


def test_steadiness_holds_the_setup_spread_to_its_bound():
    import steady

    env = {"nproc": 4}
    first = [_record(env, setup_s=s, op_p50_s=1.0) for s in (10, 20, 30, 40)]
    lines, ok = steady.compare(BENCH, first, first)
    assert not ok
    assert "DISAGREE" in lines[0] and "agree" in lines[1]


def test_overhead_ratio_is_traced_over_untraced_round_time():
    import steady

    env = {"nproc": 4}
    untraced = [_record(env, round_cpu_s=v) for v in (10.0, 12.0, 11.0)]
    traced = [_record(env, **{"bench.round_cpu_s": v}) for v in (12.1, 13.2)]
    assert steady.overhead_ratio(untraced, traced) == pytest.approx(12.65 / 11.0)
    with pytest.raises(ValueError, match="environments"):
        steady.overhead_ratio(untraced, [_record({"nproc": 8}, **{"bench.round_cpu_s": 1.0})])


def test_steadiness_flags_a_worse_median_and_refuses_mixed_environments():
    import steady

    first = [_record({"nproc": 4}, setup_s=10, op_p50_s=1.0) for _ in range(4)]
    second = [_record({"nproc": 4}, setup_s=10, op_p50_s=1.2) for _ in range(4)]
    assert not steady.compare(BENCH, first, second)[1]
    with pytest.raises(ValueError, match="environments"):
        steady.compare(BENCH, first, [_record({"nproc": 8}, setup_s=10, op_p50_s=1.0)])


def test_oracle_cache_is_keyed_by_input_bytes_and_sql(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    import oracle

    data, cache = tmp_path / "data", str(tmp_path / "cache")
    data.mkdir()
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), data / "region.parquet")
    sql = "SELECT r_name FROM region ORDER BY r_name"
    con = oracle.connect(str(data))
    digest = oracle.data_digest(str(data))
    want = oracle.expected(con, sql, digest, cache)
    assert want.column("r_name").to_pylist() == ["A", "B"]
    con.close()  # a hit must not query DuckDB
    assert oracle.expected(con, sql, digest, cache).equals(want)
    assert oracle.compare(pa.table({"r_name": ["B", "A"]}), want) is None
    assert oracle.compare(pa.table({"r_name": ["A", "C"]}), want) is not None

    pq.write_table(pa.table({"r_regionkey": [0], "r_name": ["C"]}), data / "region.parquet")
    assert oracle.data_digest(str(data)) != digest
