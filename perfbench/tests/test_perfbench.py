"""Unit tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import gen
from perfbench.spans import Span, parse_event_log, self_times, union_length
from perfbench.stats import median, tail

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def test_monthly_input_is_a_function_of_the_seed():
    a, b, c = gen.monthly_input(7, 500), gen.monthly_input(7, 500), gen.monthly_input(8, 500)
    assert a.texts == b.texts
    assert np.array_equal(a.hub, b.hub) and np.array_equal(a.langs, b.langs)
    assert a.redelivery_hub == b.redelivery_hub
    assert a.expected(True) == b.expected(True)
    assert a.texts != c.texts


def test_monthly_expected_counts_add_up():
    inp = gen.monthly_input(3, 1000)
    base, red = inp.expected(False), inp.expected(True)
    assert sum(base["per_hub"].values()) == base["items"] == 1000
    assert red["items"] == 1000 + len(inp.new_ids)
    hub = inp.hubs[inp.redelivery_hub]
    assert red["per_hub"][hub] == base["per_hub"][hub] + len(inp.new_ids)
    # contributor counts partition each provider's count
    for name, means in base["provider"].items():
        parts = [m["count"] for (dp, p), m in base["contributor"].items() if p == name]
        assert sum(parts) == means["count"]


def test_mq_flags_follow_the_fixture_rules():
    m = np.arange(1, 421)
    f = gen.mq_flags(m)
    assert f["title"].mean() == pytest.approx(4 / 5)
    assert f["openRights"].sum() == sum(1 for x in m if x % 7 in (1, 2, 3, 4))
    assert np.array_equal(f["mediaAccess"], (m % 3 != 0) | (m % 4 == 0))
    assert f["preview"].all()


def test_dedup_input_is_a_function_of_the_seed():
    args = dict(docs=300, serve_batches=2, delete_batches=1)
    a, b = gen.dedup_input(5, **args), gen.dedup_input(5, **args)
    assert a.corpus_texts == b.corpus_texts
    assert [x.texts for x in a.batches] == [x.texts for x in b.batches]
    assert [x.planted for x in a.after_delete] == [x.planted for x in b.after_delete]
    assert gen.dedup_input(6, **args).corpus_texts != a.corpus_texts


def test_ann_input_is_a_function_of_the_seed():
    args = dict(vectors=200, query_batches=2, append_batches=2)
    a, b = gen.ann_input(5, **args), gen.ann_input(5, **args)
    assert np.array_equal(a.vectors, b.vectors)
    assert all(np.array_equal(x, y) for x, y in zip(a.queries, b.queries))
    assert all(np.array_equal(x, y) for x, y in zip(a.appended, b.appended))
    assert [len(x) for x in a.appended] == [2, 2]
    assert not np.array_equal(gen.ann_input(6, **args).vectors, a.vectors)


def test_planted_duplicates_map_to_their_sources():
    inp = gen.dedup_input(2, docs=400, serve_batches=2, delete_batches=1)
    takedown = set(inp.takedown.tolist())
    seen = set()
    for batch in inp.batches + inp.after_delete:
        assert len(batch.ids) == gen.BATCH_DOCS
        assert len(batch.planted) == gen.BATCH_DOCS // 2
        text = dict(zip(batch.ids.tolist(), batch.texts))
        for new_id, src in batch.planted.items():
            a, b = text[new_id].split(), inp.corpus_texts[src].split()
            assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 2
        sources = set(batch.planted.values())
        assert not (sources - takedown) & seen  # each live source planted once
        seen |= sources - takedown
    assert not any(set(b.planted.values()) & takedown for b in inp.batches)
    assert all(set(b.planted.values()) & takedown for b in inp.after_delete)


def test_exact_topk_matches_a_full_sort():
    rng = np.random.default_rng(0)
    corpus, queries = rng.normal(size=(300, 8)), rng.normal(size=(5, 8))
    got = gen.exact_topk(corpus, queries, 10)
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    for q, row in zip(queries, got):
        sims = cn @ (q / np.linalg.norm(q))
        assert row.tolist() == np.argsort(-sims)[:10].tolist()


def test_tail_leaves_ten_samples_beyond():
    values = list(range(100, 0, -1))  # 1..100, unsorted
    assert tail(values) == (90.0, 90.0)
    v, pct = tail(list(range(1, 31)))
    assert v == 20 and pct == pytest.approx(100 * 20 / 30)
    assert tail(list(range(11)))[0] == 0
    with pytest.raises(ValueError):
        tail(list(range(10)))
    assert median([3.0, 1.0, 2.0]) == 2.0


def test_union_and_self_time():
    assert union_length([(1, 3), (2, 5), (8, 12)]) == 8
    assert union_length([]) == 0
    spans = [
        Span(0, "pass", 0.0, 10.0),
        Span(1, "a", 1.0, 3.0, parent=0),
        Span(2, "b", 2.0, 5.0, parent=0),
        Span(3, "c", 8.0, 12.0, parent=0),  # runs past its parent: clipped
        Span(4, "a.inner", 1.5, 2.5, parent=1),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10 - 4 - 2)
    assert selfs[1] == pytest.approx(2 - 1)
    assert selfs[2] == pytest.approx(3) and selfs[4] == pytest.approx(1)


def test_layer_report_leaves_out_the_cold_pass():
    from perfbench.run import layer_report

    spans = [
        Span(0, "pass", 0.0, 10.0),
        Span(1, "dedup_index.build", 0.0, 8.0, parent=0, job_group="pb:1"),  # cold
        Span(2, "pass", 10.0, 12.0),
        Span(3, "dedup_index.build", 10.0, 12.0, parent=2, job_group="pb:3"),
        Span(4, "dedup_index.serve", 12.0, 12.5, job_group="pb:4"),
    ]
    groups = {
        "pb:1": {"run_s": 16.0, "spill_mb": 9.0},
        "pb:3": {"run_s": 4.0, "spill_mb": 1.5},
        "pb:4": {"run_s": 0.5},
    }
    out = layer_report(spans, groups, 4, "pass")
    assert out["dedup_index.build.calls"] == 1
    assert out["dedup_index.build.wall_s"]["value"] == pytest.approx(2.0)
    assert out["dedup_index.build.busy_share"]["value"] == pytest.approx(0.5)
    assert out["dedup_index.build.spill_mb"] == {"value": 1.5, "unit": "MB"}
    # a leaf layer's self time is its wall time, so it is not printed
    assert out["dedup_index.build.self_s"]["value"] == pytest.approx(2.0)
    assert out["dedup_index.serve.wall_ms"]["value"] == pytest.approx(500.0)
    assert out["ann_index.serve.calls"] == 0 and out["ann_index.serve.wall_ms"]["value"] == 0.0


def test_event_log_parsing_on_a_captured_log():
    """Captured from a local[2] session: group ``pb:0`` ran a count and
    ``pb:1`` a grouped count (each one scan job with a shuffle map stage
    of two tasks, then one reduce job of one task); the trailing
    ungrouped job is not attributed."""
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl"), encoding="utf-8") as f:
        groups = parse_event_log(f)
    assert set(groups) == {"pb:0", "pb:1"}
    for g in groups.values():
        assert (g["jobs"], g["stages"], g["tasks"]) == (2, 2, 3)
        assert g["run_s"] > 0 and g["cpu_s"] > 0 and g["shuffle_write_mb"] > 0
        assert g["out_mb"] == 0 and g["spill_mb"] == 0
    assert groups["pb:0"]["shuffle_write_mb"] == pytest.approx(118e-6)
    assert groups["pb:1"]["run_s"] == pytest.approx(0.353)


def test_benchmark_json_names_every_reported_metric():
    from perfbench.workloads import WORKLOADS, layer_metric_names

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert [m["name"] for m in bench["per_layer"]] == layer_metric_names()
