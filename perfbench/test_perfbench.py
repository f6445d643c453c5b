"""The benchmark's own tests: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os

import pytest

from perfbench.inputs import CrawlInputs, CrawlShape
from perfbench.tracing import Attribution, EventLog, JobStats, Span, Spans, StageStats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = CrawlShape(n_docs=400, n_hosts=30, zipf_s=1.1, links_per_doc=4,
                  spans_per_doc=2, messy_share=0.5, n_seeds=40)


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = CrawlInputs(TINY, 7), CrawlInputs(TINY, 7), CrawlInputs(TINY, 8)
    assert a.digest() == b.digest()
    assert a.digest() != c.digest()
    assert a.documents_table().num_rows == TINY.n_docs


def test_every_link_points_at_a_resolvable_doc_url():
    from cord19_crawler_spark.functions.urls import canonicalize_one

    inp = CrawlInputs(TINY, 3)
    for i in range(20):
        for j in range(TINY.links_per_doc):
            n = int(inp.links[i, j])
            assert canonicalize_one(inp._link(i, j)) == inp.url(n)


def _log(jobs: dict[int, JobStats], stages: dict[int, StageStats]) -> EventLog:
    log = EventLog.__new__(EventLog)
    log.jobs, log.stages = jobs, stages
    log.stage_job = {s: j for j in sorted(jobs) for s in jobs[j].stages}
    return log


def test_jobs_go_to_the_innermost_span_and_driver_time_excludes_job_time():
    spans = Spans()
    spans.spans = [
        Span("round", 1000, 2000),
        Span("storage.commit_round", 1500, 1900, parent=0),
        Span("round", 3000, 4000),
    ]
    log = _log(
        {
            0: JobStats(1100, 1200, [0]),
            1: JobStats(1600, 1800, [1]),
            2: JobStats(2500, 2600, [2]),  # between the rounds: no span
            3: JobStats(3100, 3500, [3]),
        },
        {i: StageStats(scopes={"ArrowEvalPython"} if i == 1 else set(), tasks=2,
                       run_ms=100.0) for i in range(4)},
    )
    att = Attribution(log, spans)
    assert att.job_span == {0: 0, 1: 1, 2: None, 3: 2}
    assert sorted(att.jobs_under(0)) == [0, 1]
    assert att.totals([0]).jobs == 2
    assert att.totals([0], exclude=("storage.commit_round",)).jobs == 1
    assert att.totals([0, 2]).arrow_eval_run_s == pytest.approx(0.1)
    assert att.driver_s(0) == pytest.approx((1000 - 100 - 200) / 1000)
    assert att.escaped([0, 2]) == 0
    log.jobs[1].end = 1950  # outlives storage.commit_round, still inside the round
    log.jobs[3].end = 0  # never ended
    assert att.escaped([0, 2]) == 2


def test_crawl_check_trips_on_a_tampered_fingerprint(tmp_path):
    from perfbench.common import Work
    from perfbench.crawl import Crawl, CrawlSpec

    work = Work(str(tmp_path), "t")
    try:
        crawl = Crawl(work, CrawlSpec(TINY, rounds=1), seed=1)
        ref = {"order_fp": "3:10:1", "seen_fp": "9:20:2"}
        crawl._check(dict(ref), ref, "same")
        assert (crawl.attempted, crawl.failed) == (2, 0)
        crawl._check(dict(ref, seen_fp="9:21:2"), ref, "tampered")
        assert (crawl.attempted, crawl.failed) == (4, 1)
    finally:
        work.remove()


def test_work_restores_what_it_changes(tmp_path):
    import tempfile

    from perfbench.common import Work

    before = ({k: os.environ.get(k) for k in Work.ENV}, tempfile.tempdir)
    work = Work(str(tmp_path), "t")
    assert tempfile.gettempdir() == work.path("tmp")
    work.remove()
    assert ({k: os.environ.get(k) for k in Work.ENV}, tempfile.tempdir) == before
    assert not os.path.exists(work.dir)


def test_benchmark_json_lists_every_query_path_and_its_digest():
    from perfbench.queries import PATHS, load_digests

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    per_layer = {m["name"] for m in spec["per_layer"]}
    assert {f"query.{p}.s" for p in PATHS} <= per_layer
    assert set(load_digests()) == set(PATHS)


# -- with Spark ---------------------------------------------------------------


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    from perfbench.common import Work, shutdown_jvm

    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("PYTHONPATH", ROOT)
        w = Work(str(tmp_path_factory.mktemp("perfbench")), "test")
        try:
            yield w
        finally:
            shutdown_jvm()
            w.remove()


def test_crawl_fingerprints_repeat_per_seed_and_differ_across_seeds(work):
    from perfbench.crawl import Crawl, CrawlSpec

    spec = CrawlSpec(TINY, rounds=2, config=dict(
        batch_size=40, seen_partitions=2, bloom_bits=1 << 14, min_delay_rounds=1,
        max_in_flight=2, hot_host_threshold=20, compact_every=1))
    a = Crawl(work, spec, seed=5)
    first = a._episode(2, "a1", compact=True)
    again = a._episode(2, "a2", compact=False)
    other = Crawl(work, spec, seed=6)._episode(2, "b", compact=True)
    assert (first["order_fp"], first["seen_fp"]) == (again["order_fp"], again["seen_fp"])
    assert first["order_fp"] != other["order_fp"]
    assert first["seen_fp"] != other["seen_fp"]


def test_query_check_trips_on_a_tampered_digest(work):
    from perfbench.queries import QuerySuite, load_digests, paths

    fns = {"q1_pricing_summary": paths(work)["q1_pricing_summary"]}
    good = load_digests()["q1_pricing_summary"]
    for expected, failed in ((good, 0), ("1" + good, 1)):
        suite = QuerySuite(work, 0, {"q1_pricing_summary": expected})
        spark = suite._session()
        suite._pass(spark, fns, Spans(), check=True)
        spark.stop()
        assert (suite.attempted, suite.failed) == (1, failed)
