"""Summary-statistic and self-time arithmetic of the benchmark."""

import pytest

from stats import (
    attribute_jobs,
    batch_freshness,
    nearest_rank,
    parse_group,
    quartile_spread,
    self_time_by_name,
    self_times,
    summarize,
    tail_percentile,
)


@pytest.mark.parametrize(
    "n, expected",
    [(1, None), (10, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_summarize_names_the_tail_after_its_percentile():
    vals = list(range(1, 101))  # 1..100
    s = summarize(vals)
    assert s["n"] == 100 and s["p50"] == 50.5 and s["p90"] == 90
    assert set(summarize(vals[:20])) == {"n", "p50"}
    assert summarize([]) == {"n": 0}


def test_nearest_rank():
    assert nearest_rank([1, 2, 3, 4], 50) == 2
    assert nearest_rank([1, 2, 3, 4], 100) == 4
    assert nearest_rank([7], 90) == 7


def test_quartile_spread_matches_statistics_quantiles():
    assert quartile_spread([10, 10, 10, 10]) == 0
    assert quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5)


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "request": "r", "parent": parent,
            "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [
        _span(0, "batch", 0.0, 10.0),
        _span(1, "commit", 1.0, 3.0, 0),
        _span(2, "commit", 2.0, 5.0, 0),  # overlaps the first child
        _span(3, "late", 8.0, 12.0, 0),  # runs past the parent's end
        _span(4, "leaf", 1.5, 2.5, 1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    by_name = self_time_by_name(spans)
    assert by_name["commit"] == pytest.approx(4.0)


def test_self_times_of_a_sequential_tree_add_up_to_the_root():
    spans = [
        _span(0, "batch", 0.0, 6.0),
        _span(1, "is_empty", 0.0, 0.5, 0),
        _span(2, "load", 0.5, 6.0, 0),
        _span(3, "commit", 1.0, 2.0, 2),
        _span(4, "commit", 4.0, 5.5, 2),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(6.0)


def test_parse_group():
    assert parse_group("q:pricing_summary#2:exec") == ("q", "pricing_summary#2", "exec")
    assert parse_group("x:poll3:export") == ("x", "poll3", "export")
    assert parse_group("q:query:fact_upsert_lww#0:build") == (
        "q", "query:fact_upsert_lww#0", "build")
    assert parse_group("070ae2ae-f51e-4093-8ca1-62f4d48a1aa5") is None
    assert parse_group(None) is None


def test_attribute_jobs_separates_build_and_exec_groups():
    jobs = [{"group": "q:a#0:build"}, {"group": "q:a#0:build"}, {"group": "q:a#0:exec"},
            {"group": "q:b#0:exec"}, {"group": None}]
    assert attribute_jobs(jobs) == {
        "a#0": {"build": 2, "exec": 1}, "b#0": {"exec": 1}, "-": {"untagged": 1},
    }


def test_batch_freshness_is_a_per_batch_mean_over_window_batches_only():
    fb = {"f0": 0, "f1": 1, "f2": 1, "f3": 2, "f4": 2, "f5": 3}
    due = {"f2": 10.0, "f3": 11.0, "f4": 12.0, "f5": 13.0}  # f0, f1 precede the window
    end = {0: 5.0, 1: 14.0, 2: 17.0, 3: 19.5}
    assert batch_freshness(fb, due, end) == {2: pytest.approx(5.5), 3: pytest.approx(6.5)}
