"""Tests of the benchmark itself: metric names, the percentile reporter,
span self time, and that every comparator rejects a one-row perturbation
of its golden. None of them starts Spark.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import copy
import json
import os
import re

import pytest

from perfbench import gates, run
from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.spans import Span, driver_only_time, self_time, union_length
from perfbench.stats import median_report

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


# -- metric names -------------------------------------------------------------

def test_metric_names_are_well_formed():
    for name in [*END_TO_END, *PER_LAYER]:
        assert NAME_RE.fullmatch(name), name


def test_benchmark_json_matches_the_metrics_printed():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == END_TO_END
    assert layer == PER_LAYER
    from perfbench.workloads import WORKLOADS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


# -- percentile reporter ------------------------------------------------------

def test_median_report_states_sample_count():
    line = median_report("step_s", [3.0, 1.0, 2.0], "s")
    assert "p50=2.0000 s" in line
    assert "(n=3)" in line
    assert "(n=0)" in median_report("step_s", [], "s")


# -- spans ---------------------------------------------------------------------

def _span(name, start, end, parent=None):
    sp = Span(name, start, end, parent=parent)
    if parent is not None:
        parent.children.append(sp)
    return sp


def test_union_length_counts_overlap_once_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], 2, 4) == 2
    assert union_length([]) == 0


def test_self_time_is_wall_minus_child_coverage():
    root = _span("root", 0.0, 10.0)
    _span("a", 1.0, 4.0, root)
    _span("b", 3.0, 5.0, root)        # overlaps a: covered once
    _span("c", 9.0, 12.0, root)       # runs past the parent's end
    assert self_time(root) == pytest.approx(10.0 - 4.0 - 1.0)
    leaf = root.children[0]
    assert self_time(leaf) == pytest.approx(leaf.wall)


def test_driver_only_time_uses_the_subtree_stage_intervals():
    root = _span("root", 0.0, 10.0)
    child = _span("child", 2.0, 6.0, root)
    root.stage_intervals = [(0.5, 1.5)]
    child.stage_intervals = [(2.0, 3.0), (2.5, 4.0)]
    assert driver_only_time(root) == pytest.approx(10.0 - 1.0 - 2.0)
    assert driver_only_time(child) == pytest.approx(4.0 - 2.0)


# -- crawl comparator ------------------------------------------------------------

@pytest.fixture(scope="module")
def crawl_golden():
    from genesis_spark.crawler import oracle
    from genesis_spark.sources import fixtures
    seeds, pages = fixtures.generate(4, 1, 1, seed=3)
    res = oracle.run(seeds, pages, host_budget=100)
    return {"seen": {(r["url"], r["host_key"]) for r in res.seen},
            "crawl_order": res.crawl_order, "documents": res.documents,
            "frontier": res.frontier}


def test_crawl_comparator_accepts_the_golden(crawl_golden):
    assert gates.check_crawl(copy.deepcopy(crawl_golden), crawl_golden) == []


def test_crawl_comparator_accepts_other_cross_host_interleaving(crawl_golden):
    got = copy.deepcopy(crawl_golden)
    n = len(got["crawl_order"])
    first_host = got["crawl_order"][0]["host_key"]
    for r in got["crawl_order"]:          # move one host's rows to the end
        if r["host_key"] == first_host:
            r["crawl_seq"] += n
    assert gates.check_crawl(got, crawl_golden) == []


def test_crawl_comparator_rejects_one_missing_seen_url(crawl_golden):
    got = copy.deepcopy(crawl_golden)
    got["seen"].pop()
    assert any("seen set" in e for e in gates.check_crawl(got, crawl_golden))


def test_crawl_comparator_rejects_swapped_per_host_order(crawl_golden):
    got = copy.deepcopy(crawl_golden)
    rows = got["crawl_order"]
    i = next(k for k in range(len(rows) - 1)
             if rows[k]["host_key"] == rows[k + 1]["host_key"])
    rows[i]["crawl_seq"], rows[i + 1]["crawl_seq"] = \
        rows[i + 1]["crawl_seq"], rows[i]["crawl_seq"]
    assert any("per-host order" in e
               for e in gates.check_crawl(got, crawl_golden))


def test_crawl_comparator_rejects_one_changed_span_text(crawl_golden):
    got = copy.deepcopy(crawl_golden)
    span = next(s for s in got["documents"][0]["spans"] if s["text"])
    span["text"] += " x"
    assert any("spans" in e for e in gates.check_crawl(got, crawl_golden))


def test_crawl_comparator_rejects_one_changed_frontier_state(crawl_golden):
    got = copy.deepcopy(crawl_golden)
    got["frontier"][0]["state"] = "failed"
    assert any("frontier" in e for e in gates.check_crawl(got, crawl_golden))


# -- registry-row comparator ------------------------------------------------------

COLS = ["doc_a", "doc_b", "est_jaccard"]
ROWS = [(1, 100001, 1.0), (2, 100002, 0.9375), (4, 100004, 0.5)]


def test_row_comparator_accepts_reordered_rows_and_columns():
    got = [(r[2], r[1], r[0]) for r in reversed(ROWS)]
    assert gates.check_rows("q", ["est_jaccard", "doc_b", "doc_a"], got,
                            COLS, ROWS) == []


@pytest.mark.parametrize("perturb", [
    lambda rows: rows[:-1],                                  # row missing
    lambda rows: rows + rows[:1],                            # row repeated
    lambda rows: [(1, 100001, 0.9375)] + rows[1:],           # value changed
    lambda rows: [(1, 100003, 1.0)] + rows[1:],              # pair changed
])
def test_row_comparator_rejects_one_row_perturbation(perturb):
    assert gates.check_rows("q", COLS, perturb(list(ROWS)), COLS, ROWS)


def test_row_comparator_rejects_an_empty_result_on_both_sides():
    assert gates.check_rows("q", COLS, [], COLS, [])


def test_row_comparator_rejects_renamed_column():
    assert gates.check_rows("q", ["doc_a", "doc_b", "jaccard"], ROWS,
                            COLS, ROWS)


# -- inputs -------------------------------------------------------------------------

def test_crawl_inputs_are_seeded_and_keep_the_round_shape():
    from genesis_spark.functions import urls as U
    from perfbench import inputs
    seeds, pages, golden = inputs.crawl_graph(5, 120, clearnet=3)
    assert inputs.crawl_graph(5, 120, clearnet=3) == (seeds, pages, golden)
    tasks = {U.clean_url_one(s["url"]) for s in seeds
             if U.is_uri_valid_one(s["url"])}
    hosts = [U.host_name_one(t) for t in tasks]
    assert hosts.count("example") == 3
    others = [inputs._bucket(h) for h in hosts if h != "example"]
    assert len(set(others)) == len(others)          # one task per bucket
    assert inputs._bucket("example") not in others
    assert 100 <= len(golden["crawl_order"]) <= 120


def test_documents_are_seeded_and_shaped_like_sf01():
    from perfbench import inputs
    a = inputs.documents(3, 400)
    assert a == inputs.documents(3, 400) != inputs.documents(4, 400)
    assert a["doc_id"] == list(range(400))
    assert sum(t.endswith(" dup") for t in a["text"]) == 20
    assert all(10 <= len(t.split(" ")) <= 100 for t in a["text"])
    assert a["n_chars"] == [len(t) for t in a["text"]]


def test_exchange_lines_of_a_physical_plan():
    from perfbench.workloads import _is_exchange
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(3) Project [doc_a#1]
   +- ShuffleQueryStage 1
      +- Exchange hashpartitioning(band#2, 8), ENSURE_REQUIREMENTS
         :  +- BroadcastExchange HashedRelationBroadcastMode
         +- ReusedExchange [doc_id#3], Exchange hashpartitioning(doc_id#3)"""
    assert sum(_is_exchange(line) for line in plan.splitlines()) == 2
