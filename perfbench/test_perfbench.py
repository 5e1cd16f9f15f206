"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os
from types import SimpleNamespace

import gen
import run
import workloads
from spans import Tracer

SMALL_WEB = gen.CrawlSpec(
    hosts=6, pages_per_host=20, fanout=3, pad=2, robots_hosts=70,
    round_seconds=2, max_delay=2, driver_frontier_max=64,
)
SMALL_DOCS = gen.DocsSpec(
    docs=80, min_len=20, max_len=30, near_dup_groups=6, decoys=4,
    eval_docs=8, contaminated=10,
)


def _size(corpus):
    return sum(len(p.html) for p in corpus.pages)


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = (gen.make_corpus(workloads.BFS_SPEC, s) for s in (7, 7, 8))
    assert gen.fingerprint(a) == gen.fingerprint(b)
    assert gen.fingerprint(a) != gen.fingerprint(c)
    assert len(a.pages) == len(c.pages)
    assert abs(_size(a) - _size(c)) / _size(a) < 0.1
    a, b, c = (gen.make_docs(workloads.DOCS_SPEC, s) for s in (7, 7, 8))
    assert gen.fingerprint(a) == gen.fingerprint(b)
    assert gen.fingerprint(a) != gen.fingerprint(c)
    assert len(a.train) == len(c.train)
    size = lambda d: sum(len(t) for _, t in d.train)  # noqa: E731
    assert abs(size(a) - size(c)) / size(a) < 0.1


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert list(run.END_TO_END) == [m["name"] for m in spec["end_to_end"]]
    assert list(run.PER_LAYER) == [m["name"] for m in spec["per_layer"]]
    assert list(workloads.WORKLOADS) == [w["name"] for w in spec["workloads"]]


def _crawl_workload(spec):
    wl = workloads.CrawlWorkload(3, "unused", 4, spec)
    wl.corpus = gen.make_corpus(spec, 3)
    o = wl.oracle
    metrics = [SimpleNamespace(deferred=0) for _ in range(o.rounds)]
    metrics[0].deferred = o.deferred
    out = {"trace": list(o.trace), "data": list(o.data), "metrics": metrics,
           "committed": True}
    return wl, out


def test_oracle_crawl_passes_and_a_wrong_trace_fails():
    wl, out = _crawl_workload(SMALL_WEB)
    assert wl.oracle.deferred > 0  # the politeness budget binds
    assert all(wl.checks(out).values())
    (u0, s0), (u1, s1) = out["trace"][:2]
    swapped = dict(out, trace=sorted([(u0, s1), (u1, s0)] + out["trace"][2:]))
    assert not wl.checks(swapped)["trace_equals_bfs"]
    dropped = dict(out, trace=out["trace"][1:])
    assert not wl.checks(dropped)["trace_equals_bfs"]
    undeferred = dict(out, metrics=[SimpleNamespace(deferred=0)] * wl.oracle.rounds)
    assert not wl.checks(undeferred)["deferred_equal_bfs"]


def test_bench_crawl_defers_over_budget_hosts():
    wl, _ = _crawl_workload(workloads.BFS_SPEC)
    assert wl.oracle.deferred > 0
    assert wl.oracle.rounds == 5


def test_oracle_gates_robots_and_strips_fragments():
    wl, out = _crawl_workload(SMALL_WEB)
    urls = {u for u, _ in out["trace"]}
    assert "https://host-0.test/page-3.html" not in urls  # Disallow: /page-3
    assert not any("#" in u for u in urls)
    assert len(urls) == len(out["trace"])  # each URL fetched once


def test_decontam_and_dedup_checks():
    wl = workloads.TextopsWorkload(5, "unused", 4)
    wl.docs = gen.make_docs(SMALL_DOCS, 5)
    wl._oracles = None
    reps, contam = wl.oracles
    assert contam and all(n > 0 for n in contam.values())
    for a, b in wl.docs.planted:
        assert gen.jaccard(dict(wl.docs.train)[a], dict(wl.docs.train)[b]) > 0.85
        assert reps[a] == reps[b]
    good = {"reps": dict(reps), "contam": dict(contam)}
    assert all(wl.checks(good).values())
    doc = next(iter(contam))
    wrong = dict(good, contam={**contam, doc: contam[doc] + 1})
    assert not wl.checks(wrong)["decontam_counts_equal_exact"]
    a, b = wl.docs.planted[0]
    split = dict(good, reps={**reps, b: b})
    assert not wl.checks(split)["planted_pairs_merged"]


class _NoSpark:
    def setJobGroup(self, *a):  # pragma: no cover - spans here use spark=False
        raise AssertionError


def test_self_time_subtracts_children():
    t = Tracer(_NoSpark())
    with t.span("outer", spark=False):
        with t.span("inner", spark=False):
            sum(range(10_000))
        with t.span("inner", spark=False):
            pass
    t.self_times()
    outer = t.spans[0]
    inner = sum(s["dur"] for s in t.spans[1:])
    assert abs(outer["self"] - (outer["dur"] - inner)) < 1e-9
    assert abs(t.total("inner", "dur") - inner) < 1e-9
