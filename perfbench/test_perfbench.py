"""Tests of the benchmark itself: generators, the tail rule, the
output checks and the metric inventory.

    python3 -m pytest perfbench -q

The traced end-to-end run (a real Spark session, ~2 min) runs only
with PERFBENCH_SLOW=1.
"""

import json
import os
import subprocess
import sys

import numpy as np
import pytest

import checks
import gen
import layers
import run
import stats
import workloads
from spans import Span

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def log_queries(seed, corpus, n_per_kind):
    """A seeded mix with n_per_kind queries of every kind."""
    rng = np.random.default_rng(seed)
    return [gen.answer(k, gen.query_spec(k, rng, corpus, i), corpus)
            for i in range(n_per_kind) for k in gen.KINDS]


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generators --------------------------------------------------------------

def test_log_generator_is_deterministic_per_seed():
    a, b = gen.log_corpus(7, 2000), gen.log_corpus(7, 2000)
    assert a.jsonl() == b.jsonl()
    assert gen.log_corpus(8, 2000).jsonl() != a.jsonl()
    qa, qb = log_queries(7, a, 5), log_queries(7, b, 5)
    assert [(q.text, q.expected, q.top_ts, q.facets) for q in qa] == \
        [(q.text, q.expected, q.top_ts, q.facets) for q in qb]


def test_log_generator_shape():
    c = gen.log_corpus(3, 5000)
    assert len(set(c.trace_id)) == len(c)          # unique trace ids
    assert c.latency_ms.max() > 20 * int(sorted(c.latency_ms)[len(c) // 2])  # long tail
    assert {q.kind for q in log_queries(3, c, 3)} == {
        "filter", "window", "needle", "scored", "panel"}


def test_curation_generator_is_deterministic_per_seed():
    a, b = gen.curation_corpus(5, 200), gen.curation_corpus(5, 200)
    assert a.jsonl() == b.jsonl() and a.near_pairs == b.near_pairs
    assert a.exact_kept == b.exact_kept
    assert gen.curation_corpus(6, 200).jsonl() != a.jsonl()


def test_curation_generator_plants_dups_and_junk():
    c = gen.curation_corpus(5, 200)
    texts = {d: t for d, _, t in c.docs}
    assert len(c.docs) - c.exact_kept == 200 // 10        # the planted exact dups
    assert c.near_pairs and all(texts[a] != texts[b] for a, b in c.near_pairs)
    assert len({s for _, s, _ in c.docs}) == len(gen.SOURCES)
    assert any("#" in t for t in texts.values())           # junk docs


def test_expected_counts_match_brute_force():
    c = gen.log_corpus(11, 3000)
    for q in log_queries(11, c, 4):
        if q.kind == "needle":
            continue
        docs = [dict(c.doc(i), ts_epoch=int(c.ts[i])) for i in range(len(c))]
        assert q.expected == sum(gen.doc_matches(q.spec, d) for d in docs), q.text


# -- tail rule ---------------------------------------------------------------

@pytest.mark.parametrize("n, p", [(1, 50), (19, 50), (20, 50), (30, 66), (100, 90), (1000, 99)])
def test_tail_percentile_values(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in range(21, 2000):
        p = stats.tail_percentile(n)
        assert n * (100 - p) / 100 >= stats.TAIL_MIN_BEYOND - 1e-9
        assert n * (100 - (p + 1)) / 100 < stats.TAIL_MIN_BEYOND


def test_geomean():
    assert stats.geomean([0.25, 1.0, 4.0]) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        stats.geomean([])


def test_tail_value():
    xs = list(range(1, 101))
    value, p = stats.tail(xs)
    assert p == 90 and value == pytest.approx(stats.percentile(xs, 90))


# -- checks reject wrong answers ---------------------------------------------

@pytest.fixture(scope="module")
def corpus_queries():
    c = gen.log_corpus(2, 4000)
    return c, {q.kind: q for q in log_queries(2, c, 1)}


def _matching_docs(c, q, k):
    m = gen.spec_mask(q.spec, c)
    idx = [int(i) for i in m.nonzero()[0]]
    if q.kind == "window":
        idx.sort(key=lambda i: -int(c.ts[i]))
    return [dict(c.doc(i), ts_epoch=int(c.ts[i])) for i in idx[:k]]


def test_check_hits(corpus_queries):
    c, qs = corpus_queries
    q = qs["filter"]
    good = _matching_docs(c, q, gen.TOPK)
    assert checks.check_hits(q, good, gen.TOPK) == []
    assert checks.check_hits(q, good[:-1], gen.TOPK)              # a hit missing
    wrong = [i for i in range(len(c)) if not gen.spec_mask(q.spec, c)[i]][0]
    bad = good[:-1] + [dict(c.doc(wrong), ts_epoch=int(c.ts[wrong]))]
    assert checks.check_hits(q, bad, gen.TOPK)                    # a non-matching hit


def test_check_window(corpus_queries):
    c, qs = corpus_queries
    q = qs["window"]
    good = _matching_docs(c, q, gen.TOPK)
    assert checks.check_window(q, good, gen.TOPK) == []
    assert checks.check_window(q, list(reversed(good)), gen.TOPK)  # oldest first


def test_check_scored(corpus_queries):
    c, qs = corpus_queries
    q = qs["scored"]
    good = [dict(d, _score=10.0 - i) for i, d in enumerate(_matching_docs(c, q, gen.SCORED_K))]
    assert checks.check_scored(q, good, gen.SCORED_K) == []
    assert checks.check_scored(q, list(reversed(good)), gen.SCORED_K)


def test_check_panel(corpus_queries):
    c, qs = corpus_queries
    q = qs["panel"]
    good = _matching_docs(c, q, gen.TOPK)
    assert checks.check_panel(q, good, gen.TOPK, dict(q.facets), dict(q.buckets)) == []
    facets = dict(q.facets)
    facets[next(iter(facets))] += 1
    assert checks.check_panel(q, good, gen.TOPK, facets, dict(q.buckets))
    buckets = dict(q.buckets)
    buckets.pop(next(iter(buckets)))
    assert checks.check_panel(q, good, gen.TOPK, dict(q.facets), buckets)


def test_check_doc_count():
    assert checks.check_doc_count(10_500, 10_500) == []
    assert checks.check_doc_count(10_000, 10_500)


def test_check_curate():
    splits = [(1, 1, "train"), (2, 1, "train"), (3, 3, "valid"), (4, 4, "train")]
    assert checks.check_curate(4, 4, splits, 3) == []
    assert checks.check_curate(5, 4, splits, 3)                   # exact_kept off
    assert checks.check_curate(4, 4, splits, 2)                   # packed != train
    leaky = splits[:1] + [(2, 1, "test")] + splits[2:]
    assert checks.check_curate(4, 4, leaky, 2)                    # cluster spans splits


def test_near_dup_recall():
    splits = [(1, 1, "train"), (2, 1, "train"), (3, 3, "train"), (4, 4, "valid")]
    assert checks.near_dup_recall(splits, [(1, 2), (3, 4), (5, 6)]) == (1, 2)


# -- metric inventory --------------------------------------------------------

def test_benchmark_json_names_match_the_runner():
    b = _bench()
    assert [m["name"] for m in b["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == layers.UNITS
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)


def _span(sid, name, start, end, parent=None, op=0, **attrs):
    s = Span(sid, name, start, parent, op)
    s.end = end
    s.attrs.update(attrs)
    return s


def test_layer_metrics_report_every_named_metric():
    spans = [
        _span(0, "op.fresh_search", 0.0, 1.0),
        _span(1, "search.search", 0.05, 0.95, 0),
        _span(2, "search.search_df", 0.1, 0.5, 1),
        _span(3, "search.read_segments", 0.2, 0.4, 2, segments=4),
        _span(4, "search.prune", 0.1, 0.15, 2, manifested=4, kept=2),
        _span(5, "op.commit", 1.0, 2.0, op=1),
        _span(6, "indexer.index_batch", 1.0, 2.0, 5, op=1),
        _span(7, "indexer.build_segment", 1.1, 1.8, 6, op=1),
        _span(8, "indexer.stats", 1.5, 1.6, 7, op=1),
    ]
    from spans import Job

    job = Job(0, "3", 0.25, [0])
    job.end, job.tasks, job.records_read = 0.35, 4, 100
    m = layers.layer_metrics(spans, [job], {}, {
        "manifest_bytes": 2048, "files_per_segment": 4.0, "hits": 20,
        "input_bytes": 1000, "segments_merged": [], "overhead_ratio": 0.05})
    assert list(m) == list(layers.UNITS)
    assert m["search.segments_kept_ratio"] == 0.5
    assert m["spark.jobs_per_op"] == 0.5 and m["spark.rows_read_per_hit"] == 5.0
    assert m["indexer.write_s"] == pytest.approx(0.6)
    assert m["search.collect_s"] == pytest.approx(0.5)
    assert m["spark.driver_gap_s"] == pytest.approx((0.9 + 1.0) / 2)


def test_overhead_ratio_compares_kinds_of_the_probe():
    def recs(*pairs):
        return [run.OpRecord(k, t, workloads.Outcome()) for k, t in pairs]

    off = recs(("scored", 1.0), ("scored", 1.2), ("panel", 0.5))
    on = recs(("scored", 1.21), ("scored", 1.21), ("panel", 0.55), ("needle", 9.0))
    # scored: 1.21 / 1.1, panel: 0.55 / 0.5; needle ran traced only
    assert run.overhead_ratio(off, on) == pytest.approx(0.1)


class _Counted:
    def __init__(self, n):
        self.n = n

    def count(self):
        return self.n


def test_tracer_reset_and_deferred_counts():
    from spans import Tracer, _hook_finalize

    t = Tracer()
    t.enabled = True
    with t.operation(0, "curate"):
        with t.span("dedup.minhash_lsh_pairs"):
            s = t.open("util.finalize_cached")
            out = _hook_finalize(t, s, lambda res, cand: res, (_Counted(3), _Counted(5)), {})
            t.close(s)
        assert t.counters == {}        # nothing counted inside the spans
    t.count_deferred()
    assert t.counters == {"dedup.candidates": 5, "dedup.verified": 3} and out.n == 3
    t.reset()
    assert t.spans == [] and t.counters == {}
    with t.operation(1, "curate") as s:
        assert s.sid == 3              # ids of dropped spans are not reused


@pytest.mark.skipif(os.environ.get("PERFBENCH_SLOW") != "1", reason="set PERFBENCH_SLOW=1")
def test_traced_run_reports_every_per_layer_metric():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "ingest_search",
         "--seed", "1", "--seconds", "5", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"]
    assert list(result["metrics"]) == [m["name"] for m in _bench()["per_layer"]]
    # every traced cycle holds a merge, so the maintenance layer is measured
    assert result["metrics"]["maintenance.segments_merged"]["value"] > 0
