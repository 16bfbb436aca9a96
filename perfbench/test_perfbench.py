"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

import time

import pytest

from perfbench import inputs
from perfbench.spans import (
    Tracer,
    self_time_by_layer,
    self_times,
    top_level_coverage,
    union_length,
)
from perfbench.workloads import tail


def test_pages_fingerprint_is_a_function_of_the_seed():
    a = inputs.pages_fingerprint(seed=5, n=45)
    assert a == inputs.pages_fingerprint(seed=5, n=45)
    assert a != inputs.pages_fingerprint(seed=6, n=45)


def test_page_rows_sample_many_crawl_segments():
    ids = inputs.page_row_ids(100)
    per = inputs.PAGES_PER_SEGMENT
    assert len(set(ids)) == 100
    assert len({i // 1024 for i in ids}) == 100 // per


def test_query_stream_fingerprint_is_a_function_of_the_seed():
    a = inputs.query_stream(3, 500)
    assert inputs.stream_fingerprint(a) == inputs.stream_fingerprint(
        inputs.query_stream(3, 500))
    assert inputs.stream_fingerprint(a) != inputs.stream_fingerprint(
        inputs.query_stream(4, 500))
    # each search pass runs its own part of the seed's stream
    assert inputs.stream_fingerprint(a) != inputs.stream_fingerprint(
        inputs.query_stream(3, 500, part=1))


def test_query_stream_has_hot_repeats_and_a_first_seen_tail():
    qs = inputs.query_stream(1, 2000)
    hot = [q for q in qs if q.hot]
    cold = [q.text for q in qs if not q.hot]
    assert 0.5 < len(hot) / len(qs) < 0.62
    assert len({q.text for q in hot}) == inputs.hot_queries(2000) == 120
    # distinct queries are half the stream, as in the cited query log
    assert 0.45 < len({q.text for q in qs}) / len(qs) < 0.55
    assert len(set(cold)) == len(cold)  # every tail query is new
    assert {q.kind for q in qs} == {"head", "rare", "pair", "three"}
    assert all(1 <= len(q.text.split()) <= 3 for q in qs)


def test_update_slices_are_seeded_and_disjoint():
    urls = sorted(f"https://host{h:04d}.example/p/{i:010d}"
                  for h in range(30) for i in range(h * 100, h * 100 + 40))
    a = inputs.update_slices(urls, seed=9, rnd=0)
    assert a == inputs.update_slices(urls, seed=9, rnd=0)
    assert a != inputs.update_slices(urls, seed=10, rnd=0)
    assert {inputs.host_of(u) for u in a.host_urls} == {a.host}
    assert len(a.host_urls) == len(a.random_urls) == 40
    assert not set(a.host_urls) & set(a.random_urls)
    assert not set(a.delete_urls) & (set(a.host_urls) | set(a.random_urls))
    assert all(inputs.host_of(u) != a.host for u in a.delete_urls)


def _span(i, parent, start, end, layer="l"):
    return {"id": i, "parent": parent, "start": start, "end": end,
            "layer": layer, "name": str(i)}


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0, "a"),
        _span(1, 0, 1.0, 4.0, "b"),
        _span(2, 0, 3.0, 6.0, "b"),   # overlaps span 1: [1, 6) covered
        _span(3, 1, 1.5, 2.0, "c"),   # grandchild: only span 1 loses it
        _span(4, None, 12.0, 13.0, "a"),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)
    by = self_time_by_layer(spans)
    assert by == pytest.approx({"a": 6.0, "b": 5.5, "c": 0.5})
    # self times sum to the top-level union (11) plus the 1 s that the
    # overlapping siblings 1 and 2 both count
    assert sum(st.values()) == pytest.approx(12.0)


def test_top_level_coverage():
    spans = [_span(0, None, 1.0, 5.0), _span(1, 0, 2.0, 3.0),
             _span(2, None, 6.0, 10.0)]
    assert top_level_coverage(spans, 0.0, 10.0) == pytest.approx(0.8)


def test_tail_needs_ten_samples_beyond():
    xs = list(range(1, 1001))
    assert tail(xs, 99.0) == 990
    with pytest.raises(ValueError):
        tail(xs[:999], 99.0)


class _FakeTracker:
    def __init__(self, sc):
        self.sc = sc

    def getJobIdsForGroup(self, group):
        return [j for j, g in self.sc.jobs if g == group]


class _FakeSc:
    """Stands in for a SparkContext: jobs carry the group set when they ran;
    ``run(thread=True)`` mimics a job submitted from an engine thread, which
    carries no group."""

    def __init__(self):
        self.jobs = []
        self.group = None

    def setJobGroup(self, group, desc):
        self.group = group

    def setJobDescription(self, desc):
        pass

    def statusTracker(self):
        return _FakeTracker(self)

    def run(self, thread=False):
        self.jobs.append((len(self.jobs), None if thread else self.group))


def test_tracer_attributes_jobs_to_spans_and_restores_the_group():
    sc = _FakeSc()
    tr = Tracer()
    tr.bind(sc)
    with tr.span("index.store", "write_index", spark=True) as outer:
        sc.run()
        sc.run(thread=True)
        with tr.span("index.wand", "q", req="r1", spark=True) as inner:
            sc.run()
        assert sc.group == f"perfbench/{outer['id']}"
        sc.run()
    with tr.span("index.serve", "search", req="r2") as local:
        time.sleep(0.001)
    assert outer["jobs"] == [0, 1, 2, 3]
    assert inner["jobs"] == [2]
    assert inner["parent"] == outer["id"] and inner["req"] == "r1"
    assert local["jobs"] == [] and local["parent"] is None
    assert sc.group == "perfbench"
