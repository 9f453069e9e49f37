"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import statistics
import time

import pytest

from perfbench import procfs, reference, stats
from perfbench.tracing import Span, Tracer, covered_length, self_times

# -- union-find reference -----------------------------------------------------------


def test_union_find_min_key_components_and_singletons():
    got = reference.union_find_clusters(
        ["a", "b", "c", "d", "e"], [("c", "b"), ("d", "c")]
    )
    assert got == {"a": "a", "b": "b", "c": "b", "d": "b", "e": "e"}


def test_union_find_transitive_chain_in_any_edge_order():
    edges = [("x4", "x3"), ("x1", "x2"), ("x3", "x2")]
    for order in (edges, edges[::-1]):
        got = reference.union_find_clusters(["x1", "x2", "x3", "x4"], order)
        assert set(got.values()) == {"x1"}


def test_union_find_adds_edge_endpoints_missing_from_the_entity_list():
    assert reference.union_find_clusters(["a"], [("a", "b")]) == {"a": "a", "b": "a"}


# -- other references ---------------------------------------------------------------


def test_best_rank1_threshold_and_right_key_tie_break():
    rows = [
        ("e1", "Q2", 0.9), ("e1", "Q1", 0.9), ("e1", "Q0", 0.8),
        ("e2", "Q5", 0.5),  # not above the threshold
        ("e3", "Q7", 0.51),
    ]
    assert reference.best_rank1(rows, 0.5) == {"e1": ("Q1", 0.9), "e3": ("Q7", 0.51)}


def test_review_page_orders_entities_and_ranks_matches():
    rows = [("b", "Q1", 0.7), ("a", "Q3", 0.2), ("a", "Q2", 0.9), ("c", "Q1", 0.4)]
    assert reference.review_page(rows, page=1, per_page=2, top_k=1) == [
        ("a", 0.9, ["Q2"]),
        ("b", 0.7, ["Q1"]),
    ]
    assert reference.review_page(rows, page=2, per_page=2) == [("c", 0.4, ["Q1"])]


def test_job_status_counts_entities_above_threshold():
    rows = [("a", "Q1", 0.9), ("a", "Q2", 0.1), ("b", "Q1", 0.5)]
    assert reference.job_status(rows, 0.5) == (2, 1)


def test_pair_f1_is_order_insensitive():
    labeled = [("a", "b", True), ("c", "d", True), ("a", "c", False)]
    f1, tp, fp, fn = reference.pair_f1(labeled, {("b", "a"), ("a", "c")})
    assert (tp, fp, fn) == (1, 1, 1)
    assert f1 == pytest.approx(0.5)


def test_positive_recall_and_accuracy():
    labeled = [("a", "b", True), ("c", "d", True), ("a", "c", False)]
    assert reference.positive_recall(labeled, {("b", "a")}) == 0.5
    assert reference.best_match_accuracy(
        {"a": "Q1", "b": None, "z": "Q9"}, {"a": "Q1", "b": "Q2"}
    ) == 0.5


# -- percentile rule ------------------------------------------------------------------


def test_quantile_matches_statistics_quantiles_inside_the_sample():
    values = [0.7, 0.2, 0.9, 0.4, 0.5, 0.3, 0.8]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.quantile(values, 0.25) == pytest.approx(q1)
    assert stats.quantile(values, 0.5) == pytest.approx(q2)
    assert stats.quantile(values, 0.75) == pytest.approx(q3)


def test_quantile_small_samples_clamp_to_the_ends():
    assert stats.quantile([3.0], 0.75) == 3.0
    assert stats.quantile([1.0, 2.0], 0.75) == 2.0
    assert stats.quantile([1.0, 2.0], 0.25) == 1.0
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)


def test_reportable_percentile_needs_ten_samples_beyond_it():
    assert stats.reportable_percentile(19) is None
    assert stats.reportable_percentile(20) == 50.0
    assert stats.reportable_percentile(40) == 75.0
    assert stats.reportable_percentile(100) == 90.0
    assert stats.reportable_percentile(1000) == 99.0


def test_summarize_and_spread():
    s = stats.summarize([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (s["median"], s["n"]) == (3.0, 5)
    assert s["p25"] == pytest.approx(1.5) and s["p75"] == pytest.approx(4.5)
    assert stats.spread([10.0] * 10) == 0.0


# -- /proc reader -------------------------------------------------------------------------


def test_parse_stat_with_spaces_and_parentheses_in_comm():
    line = "4242 (odd (name) x) S 17 4242 4242 0 -1 4194304 1 0 0 0 300 100 50 25 20 0 1 0"
    st = procfs.parse_stat(line)
    assert (st.pid, st.comm, st.ppid) == (4242, "odd (name) x", 17)
    assert st.cpu_s == pytest.approx((300 + 100 + 50 + 25) / procfs.TICKS)


def test_parse_vm_hwm():
    assert procfs.parse_vm_hwm_kb("Name:\tx\nVmHWM:\t  2048 kB\nVmRSS:\t 100 kB\n") == 2048
    assert procfs.parse_vm_hwm_kb("Name:\tkthread\n") == 0


def test_tree_cpu_grows_with_work_and_rss_is_positive():
    before = procfs.tree_cpu()
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    delta = procfs.cpu_delta(before, procfs.tree_cpu())
    assert delta["driver"] >= 0.2
    assert delta["total"] == pytest.approx(sum(v for k, v in delta.items() if k != "total"))
    assert procfs.tree_peak_rss_mb() > 1.0
    assert os.getpid() in procfs.tree_pids(os.getpid())


def test_tree_cpu_counts_a_reaped_child():
    before = procfs.tree_cpu()
    pid = os.fork()
    if pid == 0:  # child: burn CPU, then exit without cleanup handlers
        t = time.process_time()
        while time.process_time() - t < 0.3:
            pass
        os._exit(0)
    os.waitpid(pid, 0)
    assert procfs.cpu_delta(before, procfs.tree_cpu())["driver"] >= 0.2


def test_net_clock_subtracts_steal_per_vcpu(monkeypatch):
    steal = iter([10.0, 18.0])
    monkeypatch.setattr(procfs, "steal_s", lambda: next(steal))
    monkeypatch.setattr(procfs.os, "cpu_count", lambda: 4)
    clock = procfs.NetClock()  # reads steal 10.0
    time.sleep(0.05)
    wall = time.monotonic() - clock._t0
    assert clock.elapsed() == pytest.approx(wall - 2.0, abs=0.01)  # (18 - 10) / 4


def test_steal_is_read_from_proc_stat():
    assert procfs.steal_s() >= 0.0


# -- span self time -------------------------------------------------------------------


def _span(i, parent, start, end):
    return Span(span_id=i, name=f"s{i}", trace_id="t", parent=parent, start=start, end=end)


def test_covered_length_merges_overlaps_and_clips():
    assert covered_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered_length([], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1: counted once
        _span(3, 1, 1.5, 2.5),  # grandchild: only span 1 loses it
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(5.0)
    assert got[1] == pytest.approx(2.0)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(1.0)


def test_tracer_nests_spans_and_disabled_tracer_records_nothing():
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert inner.trace_id == outer.trace_id
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert set(inner.cpu) == {"driver", "jvm", "python_workers", "total"}
    assert tr.overhead_s > 0
    rows = tr.to_rows()
    assert rows[0]["self_s"] <= rows[0]["duration_s"]

    off = Tracer(enabled=False)
    ran = []
    with off.span("x"):
        ran.append(1)
    assert ran == [1] and off.spans == []

