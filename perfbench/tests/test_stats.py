"""Unit tests for the benchmark's own arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from run import layer_times, summarize_traced  # noqa: E402
from stats import (  # noqa: E402
    MIN_TAIL_SAMPLES,
    geomean,
    quartile_spread,
    self_times,
    suite_figures,
    tail_percentile,
)
from tracing import PER_LAYER_UNITS  # noqa: E402


def test_geomean():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([5.0]) == pytest.approx(5.0)
    assert geomean([1.0, 10.0, 100.0]) == pytest.approx(10.0)
    with pytest.raises(ValueError):
        geomean([])
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_suite_figures_sum_and_geomean_of_per_query_medians():
    out = suite_figures({"a": [3.0, 1.0, 2.0], "b": [8.0, 9.0, 7.0, 10.0]})
    # medians: a = 2.0 (odd count), b = 8.5 (even count: mean of middle two)
    assert out["suite_s"] == pytest.approx(10.5)
    assert out["query_geomean_s"] == pytest.approx((2.0 * 8.5) ** 0.5)


def test_tail_percentile_needs_ten_samples_beyond():
    # 100 distinct samples: p90 is the 90th, and exactly 10 lie beyond it
    values = [float(i) for i in range(1, 101)]
    assert tail_percentile(values, 90) == 90.0
    # 99 samples: p90 is the 90th (nearest rank), only 9 lie beyond it
    assert tail_percentile(values[:99], 90) is None
    assert tail_percentile([], 90) is None


def test_tail_percentile_counts_strictly_greater():
    # ties with the percentile value do not count as beyond it
    values = [1.0] * 95 + [2.0] * 5
    assert tail_percentile(values, 90) is None
    values = [1.0] * 90 + [2.0] * MIN_TAIL_SAMPLES
    assert tail_percentile(values, 90) == 1.0


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    # statistics.quantiles(n=4), 'exclusive' method: Q1=11.75, Q2=14.5, Q3=17.25
    assert quartile_spread(values) == pytest.approx((17.25 - 11.75) / 14.5)


def span(sid, parent, t0, t1, name="x"):
    return {"id": sid, "parent": parent, "t0": t0, "t1": t1, "name": name}


def test_self_time_subtracts_direct_children_only():
    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 1.0, 4.0),
        span(2, 1, 2.0, 3.0),  # grandchild: counted in span 1, not span 0
        span(3, 0, 5.0, 6.0),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 3.0 - 1.0)
    assert selfs[1] == pytest.approx(3.0 - 1.0)
    assert selfs[2] == pytest.approx(1.0)
    assert selfs[3] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once():
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 1.0, 5.0), span(2, 0, 3.0, 7.0)]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0)


def test_self_time_clips_children_to_parent():
    spans = [span(0, None, 2.0, 4.0), span(1, 0, 1.0, 3.0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_layer_times_inclusive_and_self():
    spans = [
        span(0, None, 0.0, 10.0, "query"),
        span(1, 0, 0.0, 4.0, "registry.build"),
        span(2, 1, 0.5, 1.5, "tables.register_views"),
        span(3, 1, 2.0, 3.0, "materialize.checkpoint"),
        span(4, 3, 2.2, 2.6, "materialize.checkpoint"),  # nested, same layer
        span(5, 0, 4.0, 10.0, "collect"),
    ]
    out = layer_times(spans)
    assert out["registry.build_s"] == pytest.approx(4.0)
    assert out["self_s.registry"] == pytest.approx(2.0)
    assert out["tables.register_views_s"] == pytest.approx(1.0)
    # the nested checkpoint is inside the outer one's inclusive time
    assert out["materialize.checkpoint_s"] == pytest.approx(1.0)
    assert out["self_s.materialize"] == pytest.approx(1.0)
    assert out["collect.s"] == pytest.approx(6.0)
    assert "query" not in out


def test_summarize_traced_is_per_pass():
    # query a traced twice, query b once: per-pass = mean per query, summed
    recs = {
        "a": [{"collect.s": 1.0, "tables.register_views_calls": 1.0,
               "tables.view_memo_hits": 1.0, "exec.disk_spill_mb": 4.0},
              {"collect.s": 3.0, "tables.register_views_calls": 1.0,
               "tables.view_memo_hits": 0.0, "exec.disk_spill_mb": 6.0}],
        "b": [{"collect.s": 5.0, "tables.register_views_calls": 1.0,
               "tables.view_memo_hits": 1.0, "exec.disk_spill_mb": 1.0}],
    }
    out = summarize_traced(recs)
    assert out["collect.s"] == pytest.approx(2.0 + 5.0)
    assert out["tables.register_views_calls"] == pytest.approx(2.0)
    assert out["tables.view_memo_hit_ratio"] == pytest.approx(1.5 / 2.0)
    assert out["exec.min_query_disk_spill_mb"] == pytest.approx(1.0)
    assert out["pagerank.s"] == 0.0


def test_benchmark_json_lists_every_per_layer_metric():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER_UNITS
