"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

import json
import os

import pytest

from perfbench import inputs, stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_percentile_nearest_rank_with_count():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == (3.0, 5)
    assert stats.percentile(xs, 90) == (5.0, 5)
    assert stats.percentile(xs, 0) == (1.0, 5)
    assert stats.percentile([7.0], 99) == (7.0, 1)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_rule_keeps_ten_samples_beyond():
    # 100 samples: p90 is rank 90, exactly 10 beyond; p95 leaves only 5
    assert stats.n_beyond(100, 90) == 10
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(99) == 75.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(19) is None
    for n in (20, 37, 100, 401, 5000):
        q = stats.tail_percentile(n)
        assert stats.n_beyond(n, q) >= 10


def test_covered_merges_overlaps_and_clips():
    from perfbench.trace import covered

    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1.0
    assert covered([], 0, 1) == 0


@pytest.mark.parametrize("workload", ["bulk_drain", "polite_crawl"])
def test_generator_is_a_function_of_the_seed(workload):
    a = inputs.input_digest(workload, 3, 12)
    assert a == inputs.input_digest(workload, 3, 12)
    assert a != inputs.input_digest(workload, 4, 12)


def test_workload_inputs_differ_per_seed():
    from perfbench.workloads import WORKLOADS

    for name, cls in WORKLOADS.items():
        assert (inputs.input_digest(name, 1, cls.n_targets(1))
                != inputs.input_digest(name, 2, cls.n_targets(2)))


def test_bulk_input_size_is_fixed_in_canonical_urls():
    from wss_spark.crawl.simulator import canonicalize

    for seed in (1, 2, 3):
        t = inputs.targets_for_urls(seed, 300)
        urls = {canonicalize(r["url"]) for r in inputs.target_pages(seed, t)}
        fewer = {canonicalize(r["url"]) for r in inputs.target_pages(seed, t - 1)}
        assert len(fewer) < 300 <= len(urls)


def test_refresh_snapshot_changes_a_seeded_share_and_adds_pages():
    old = inputs.target_pages(5, 40)
    new = inputs.refresh_pages(5, 40)
    before = {r["url"]: r["html"] for r in old}
    after = {r["url"]: r["html"] for r in new}
    changed = [u for u in before if after[u] != before[u]]
    assert changed == [u for u in before
                       if u in inputs.changed_urls(5, before)]
    assert 0.03 < len(changed) / len(before) < 0.2
    assert all(after[u] == before[u] + inputs.REV_MARK for u in changed)
    assert set(after) > set(before)
    assert inputs.changed_urls(5, before) != inputs.changed_urls(6, before)


def test_corpus_dups_sort_after_their_page():
    rows = inputs.target_pages(5, 40)
    dups = inputs.corpus_dups(5, rows)
    assert dups == inputs.corpus_dups(5, rows)
    assert dups != inputs.corpus_dups(6, inputs.target_pages(6, 40))
    assert len(dups) == inputs.CORPUS_DUPS
    texts = {r["url"]: r["text"] for r in rows}
    assert {i.rsplit("#", 1)[1] for i, _ in dups} == {"dup", "near"}
    for doc_id, text in dups:
        url = doc_id.rsplit("#", 1)[0]
        assert doc_id > url and text != texts[url]
        if doc_id.endswith("#dup"):
            assert " ".join(text.split()) == " ".join(texts[url].split())


def test_not_measured_layers_are_per_layer_metrics():
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = {m["name"] for m in json.load(f)["per_layer"]}
    for cls in WORKLOADS.values():
        assert cls.not_measured <= per_layer
    # every per-layer metric is measured on some workload
    assert not set.intersection(*[set(c.not_measured)
                                  for c in WORKLOADS.values()])


def test_robots_rules_agree_with_the_raw_text():
    assert ("weibo.cn", "/mblog/picAll") in inputs.robots_blocked_prefixes()
    delays = inputs.robots_crawl_delays()
    assert delays["weibo.cn"] == 10.0
    assert "m3.weibo.example" not in delays


def test_metric_names_match_the_pattern():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert not stats.bad_names(names)
    assert len(names) == len(set(names))
    assert stats.bad_names(["ok.name-1_x", "bad name", "bad/name", ""]) == [
        "bad name", "bad/name", ""]


def test_peak_rss_reads_this_process():
    assert stats.vm_hwm_kb(os.getpid()) > 0
    total, parts = stats.peak_rss_mb(os.getpid())
    assert total > 1.0 and parts["driver"] == total
    assert stats.vm_hwm_kb(-1) == 0
