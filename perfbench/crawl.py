"""Crawl workloads: closed-loop scheduling rounds through ``CrawlScheduler``.

One run:

1. builds the seeded inputs (``inputs.CrawlInputs``);
2. crawls them once single-threaded (``local[1]``, compaction off): the
   reference fingerprints, the single-thread baseline, and the JVM warm-up;
3. runs timed episodes at ``local[CORES]`` until ``seconds`` of round time
   have passed. An episode is a fresh session, corpus load and
   ``init_from_seeds`` (the set-up), then ``rounds`` rounds, each one
   ``run_round`` plus the compaction ``run()`` would do after it. Its crawl
   order and URL-seen fingerprints must equal the reference;
4. with tracing on, repeats one episode with Spark's event log and the
   timed store, and attributes every job to a benchmark span.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from .common import CORES, Work, median, shutdown_jvm, start_spark
from .inputs import CrawlInputs, CrawlShape
from .tracing import Attribution, EventLog, Spans, TimedStore, dir_bytes, peak_rss_mb


@dataclass(frozen=True)
class CrawlSpec:
    shape: CrawlShape
    rounds: int
    config: dict = field(default_factory=dict)


# Why these values (the notes in perfbench/NOTES.md give the measurements):
# - hundreds of hosts with Zipf skew and max_in_flight=2: the per-host caps
#   bind, so round 1 (one seed per host) schedules only part of its batch;
# - hot_host_threshold=100: the hottest host's pending passes it from round
#   2 on, so skew.hot_host_plan is non-empty and the split window runs;
# - batch of hundreds: a round is dominated by its fixed cost (driver
#   planning, ~70 Spark jobs, the five-table commit), not by data;
# - compact_every=1: every timed round also compacts, so each round reads a
#   compaction snapshot and the store sees a commit and a compaction per round;
# - 30% messy links and 3 text spans per doc: the Arrow extract+canonicalize
#   stage and the exact dedup have real work.
WORKLOADS = {
    "crawl_deep": CrawlSpec(
        shape=CrawlShape(n_docs=20_000, n_hosts=300, zipf_s=1.1, links_per_doc=6,
                         spans_per_doc=3, messy_share=0.3, n_seeds=300),
        rounds=3,
        config=dict(batch_size=500, seen_partitions=4, bloom_bits=1 << 18,
                    min_delay_rounds=1, max_in_flight=2, hot_host_threshold=100,
                    compact_every=1),
    ),
}


class Crawl:
    """One crawl workload at one seed."""

    def __init__(self, work: Work, spec: CrawlSpec, seed: int):
        self.work = work
        self.spec = spec
        t0 = time.perf_counter()
        self.inputs = CrawlInputs(spec.shape, seed)
        docs_dir = work.fresh("docs")
        self.inputs.write_documents(docs_dir, files=2 * CORES)
        self.gen_s = time.perf_counter() - t0
        self.docs_dir = docs_dir
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _config(self, compact: bool):
        from cord19_crawler_spark.frontier import SchedulerConfig

        cfg = dict(self.spec.config)
        if not compact:
            cfg["compact_every"] = None
        return SchedulerConfig(**cfg)

    def _episode(self, cores: int, name: str, compact: bool, spans: Spans | None = None,
                 event_dir: str | None = None) -> dict:
        """Session + corpus + scheduler init (timed as set-up), then the
        rounds, then the fingerprints (untimed)."""
        from cord19_crawler_spark.frontier import CrawlScheduler

        t0 = time.perf_counter()
        spark = start_spark(self.work, cores, event_dir=event_dir)
        docs = spark.read.parquet(self.docs_dir).cache()
        docs.count()
        seeds = spark.createDataFrame(self.inputs.seed_rows(), "url string, priority double")
        ckpt = self.work.fresh(name)
        store = TimedStore(ckpt, spans) if spans is not None else None
        sched = CrawlScheduler(spark, docs, ckpt, self._config(compact), store=store)
        spans = spans or Spans()
        with spans.span("scheduler.init"):
            sched.init_from_seeds(seeds)
        setup_s = time.perf_counter() - t0
        ep = {"setup_s": setup_s, "round_s": [], "scheduled": [], "discovered": [],
              "spans": spans}
        every = sched.cfg.compact_every
        for rnd in range(1, self.spec.rounds + 1):
            self.attempted += 1
            try:
                with spans.span("round") as sp:
                    with spans.span("scheduler.run_round"):
                        c = sched.run_round(rnd)
                    if every and rnd % every == 0:
                        with spans.span("scheduler.compact"):
                            sched.compact(rnd)
            except Exception as exc:  # a failed round counts; the run goes on
                self._fail(f"{name} round {rnd}: {exc!r}")
                self.attempted += self.spec.rounds - rnd
                self.failed += self.spec.rounds - rnd
                break
            ep["round_s"].append(sp.seconds)
            ep["scheduled"].append(c["scheduled"])
            ep["discovered"].append(c["discovered_new"])
        ep["order_fp"] = sched.crawl_order_fingerprint()
        ep["seen_fp"] = sched.seen_fingerprint()
        ep["state_mb"] = dir_bytes(ckpt) / 1024.0 / 1024.0
        ep["peak_rss_mb"] = peak_rss_mb()
        docs.unpersist()
        spark.stop()
        return ep

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def _check(self, ep: dict, ref: dict, name: str) -> None:
        for key in ("order_fp", "seen_fp"):
            self.attempted += 1
            if ep[key] != ref[key]:
                self._fail(f"{name} {key} {ep[key]} != local[1] {ref[key]}")

    def run(self, seconds: float, trace: bool) -> dict:
        ref = self._episode(1, "ckpt_ref", compact=False)
        timed: list[dict] = []
        while not timed or sum(sum(e["round_s"]) for e in timed) < seconds:
            ep = self._episode(CORES, "ckpt", compact=True)
            self._check(ep, ref, "local[%d]" % CORES)
            timed.append(ep)
            if not ep["round_s"]:
                break
        round_s = [s for e in timed for s in e["round_s"]]
        total_s = sum(round_s) / len(timed)
        scheduled = sum(sum(e["scheduled"]) for e in timed) / len(timed)
        e2e = {
            "setup_s": (self.gen_s + median([e["setup_s"] for e in timed]), "s"),
            "op_p50_s": (median(round_s) if round_s else 0.0, "s"),
            "op_total_s": (total_s, "s"),
            "items_per_s": (scheduled / total_s if total_s else 0.0, "1/s"),
        }
        if not trace:
            return e2e
        spans = Spans()
        event_dir = self.work.fresh("events")
        traced = self._episode(CORES, "ckpt_traced", compact=True, spans=spans,
                               event_dir=event_dir)
        self._check(traced, ref, "traced")
        layers = self._layers(traced, EventLog(event_dir))
        layers["trace.overhead"] = (sum(traced["round_s"]) / total_s if total_s else 0.0, "ratio")
        layers["process.peak_rss_mb"] = (traced["peak_rss_mb"], "MB")
        layers["baseline.local1_op_p50_s"] = (median(ref["round_s"]) if ref["round_s"] else 0.0, "s")
        return layers

    def _layers(self, ep: dict, log: EventLog) -> dict:
        spans: Spans = ep["spans"]
        att = Attribution(log, spans)
        idx = {name: [i for i, s in enumerate(spans.spans) if s.name == name]
               for name in {s.name for s in spans.spans}}
        rounds = idx.get("round", [])
        n = max(1, len(rounds))
        in_rounds = lambda name: [i for i in idx.get(name, [])  # noqa: E731
                                  if any(a in rounds for a in spans.ancestors(i))]
        tot = att.totals(rounds)
        pre_commit = att.totals(rounds, exclude=("storage.commit_round",))
        commits = in_rounds("storage.commit_round")
        reads = [i for name in ("storage.read_deltas", "storage.read_table",
                                "storage.read_compact_table") for i in in_rounds(name)]
        round_dirs = [spans.spans[i].attrs["bytes"] for i in commits]
        compacts = idx.get("scheduler.compact", [])
        discovered = sum(ep["discovered"])
        batch = self.spec.config["batch_size"]
        mb = 1024.0 * 1024.0
        return {
            "scheduler.round.jobs": (tot.jobs / n, "count"),
            "scheduler.round.stages": (tot.stages / n, "count"),
            "scheduler.round.tasks": (tot.tasks / n, "count"),
            "scheduler.round.driver_s": (sum(att.driver_s(i) for i in rounds) / n, "s"),
            "scheduler.round.task_run_s": (tot.run_s / n, "s"),
            "scheduler.round.task_cpu_s": (tot.cpu_s / n, "s"),
            "scheduler.round.shuffle_write_mb": (tot.shuffle_write_mb / n, "MB"),
            "scheduler.round.spill_mb": (tot.spill_mb / n, "MB"),
            "scheduler.round.batch_fill": (sum(ep["scheduled"]) / (n * batch), "ratio"),
            "scheduler.init_s": (sum(spans.spans[i].seconds for i in idx["scheduler.init"]), "s"),
            "scheduler.compact_s": (
                sum(spans.spans[i].seconds for i in compacts) / max(1, len(compacts)), "s"),
            "storage.commit_s": (sum(spans.spans[i].seconds for i in commits) / n, "s"),
            "storage.commit_jobs": (att.totals(commits).jobs / n, "count"),
            "storage.read_deltas_calls": (len(in_rounds("storage.read_deltas")) / n, "count"),
            "storage.read_deltas_paths": (
                sum(spans.spans[i].attrs["paths"] for i in in_rounds("storage.read_deltas")) / n,
                "count"),
            "storage.read_s": (sum(spans.spans[i].seconds for i in reads) / n, "s"),
            "storage.list_calls": (len(in_rounds("storage.list")) / n, "count"),
            "storage.round_write_mb": (sum(round_dirs) / max(1, len(round_dirs)) / mb, "MB"),
            "storage.state_mb": (ep["state_mb"], "MB"),
            "seen.probe_rows": (pre_commit.cogroup_rows / n, "count"),
            "seen.new_ratio": (
                discovered / pre_commit.cogroup_rows if pre_commit.cogroup_rows else 0.0, "ratio"),
            "seen.python_run_s": (tot.seen_run_s / n, "s"),
            "urls.python_rows": (tot.arrow_eval_rows / n, "count"),
            "urls.python_run_s": (tot.arrow_eval_run_s / n, "s"),
            "politeness.window_run_s": (tot.window_run_s / n, "s"),
            "spark.python_share": (tot.python_run_s / tot.run_s if tot.run_s else 0.0, "ratio"),
            "trace.escaped_jobs": (att.escaped(rounds), "count"),
        }


def run(work: Work, workload: str, seed: int, seconds: float, trace: bool):
    crawl = Crawl(work, WORKLOADS[workload], seed)
    try:
        metrics = crawl.run(seconds, trace)
    finally:
        shutdown_jvm()
    return crawl.attempted, crawl.failed, crawl.errors, metrics
