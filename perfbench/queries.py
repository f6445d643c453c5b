"""The query workload: 16 of ``bench.py``'s 41 timed paths, one at a time.

Each path is built through ``__spark_entry__.queries()`` (or ``bench.py``'s
``minhash_near_dup_e2e``). The untimed warm-up pass checks every path: one
aggregate reads every output column and yields an order-independent digest
(the row count, and the sum and xor of ``xxhash64`` over all columns), which
must equal the one in ``query_digests.json``. The timed passes execute each
path through the noop sink, as ``bench.py`` does. The seed only permutes the
order of the timed paths.
"""

from __future__ import annotations

import json
import os
import random
import time

from .common import CORES, Work, median, shutdown_jvm, start_spark
from .tracing import Attribution, EventLog, Spans, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "query_digests.json")
# bench.py's scan-split settings: the tables are single small parquet files,
# so split them to use every core
SCAN_SPLIT = {
    "spark.sql.files.maxPartitionBytes": "1m",
    "spark.sql.files.openCostInBytes": "32k",
}
# Relational, window, text and dedup paths of bench.py's original headline,
# the four frontier paths (the SQL URL canonicalizer), and the leaves the
# ROADMAP names. All 41 would take a run past its time (perfbench/NOTES.md).
PATHS = (
    "q1_pricing_summary",
    "q5_revenue_by_nation",
    "events_sessionize",
    "tfidf_multiword_search",
    "dedup_minhash_signatures",
    "dedup_simhash",
    "rollup_revenue",
    "dedup_ngram_jaccard",
    "frontier_seen_antijoin",
    "frontier_canonicalize",
    "frontier_per_host_topk",
    "frontier_fetch_batch",
    "lemma_variant_expansion",
    "backward_index_rows",
    "dedup_connected_components",
    "minhash_near_dup_e2e",
)


def paths(work: Work) -> dict:
    import shutil

    import __spark_entry__
    from bench import minhash_near_dup_e2e

    # the registry ships the package to Python workers as a zip it would
    # write under /tmp; hand it one built inside the work directory instead
    root = os.path.dirname(HERE)
    __spark_entry__._PKG_ZIP = shutil.make_archive(
        work.path("pkg"), "zip", root_dir=root, base_dir="cord19_crawler_spark")
    qs = dict(__spark_entry__.queries(), minhash_near_dup_e2e=minhash_near_dup_e2e)
    return {name: qs[name] for name in PATHS}


def digest(df) -> str:
    """Order-independent digest of a DataFrame's rows, computed by one
    aggregate that reads every output column (so, like the noop sink, no
    column is pruned). ``first`` is order-sensitive, which keeps a final
    sort of the query in the plan, so the warm-up compiles the stages the
    timed noop passes run; its value is not part of the digest."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = [
        F.to_json(F.col(f"`{f.name}`")) if isinstance(f.dataType, T.MapType)
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    row = (
        df.select(F.xxhash64(*cols).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
            F.expr("bit_xor(h)").alias("x"),
            F.first("h").alias("keep_sort"),
        )
        .collect()[0]
    )
    return f"{row['n']}:{row['s']}:{row['x']}"


def load_digests(path: str = DIGESTS) -> dict:
    with open(path) as f:
        return json.load(f)


def order(names, seed: int) -> list[str]:
    names = sorted(names)
    random.Random(seed).shuffle(names)
    return names


class QuerySuite:
    def __init__(self, work: Work, seed: int, expected: dict):
        self.work = work
        self.seed = seed
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _session(self, event_dir=None):
        return start_spark(self.work, CORES, event_dir=event_dir, extra=SCAN_SPLIT)

    def _pass(self, spark, fns: dict, spans: Spans, check: bool = False) -> dict[str, float]:
        """One pass over the paths. A check pass runs them in a fixed order
        and compares each digest with the recorded one; otherwise they run
        in seeded order through the noop sink. A path's time covers building
        its plan (some paths run jobs while building) and executing it."""
        times: dict[str, float] = {}
        for name in sorted(fns) if check else order(fns, self.seed):
            self.attempted += 1
            try:
                with spans.span("query") as sp:
                    df = fns[name](spark, DATA)
                    if check:
                        got = digest(df)
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed path counts; the pass goes on
                self.failed += 1
                self.errors.append(f"{name}: {exc!r}")
                continue
            times[name] = sp.seconds
            if check and self.expected.get(name) != got:
                self.failed += 1
                self.errors.append(f"{name}: digest {got} != recorded {self.expected.get(name)}")
        return times

    def run(self, seconds: float, trace: bool) -> dict:
        fns = paths(self.work)
        t0 = time.perf_counter()
        spark = self._session()
        # set-up ends with the untimed check pass: the JVM's just-in-time
        # compilation, codegen and Python worker start land there (a first
        # pass in a fresh JVM runs ~1.5x slower than the next)
        self._pass(spark, fns, Spans(), check=True)
        setup_s = time.perf_counter() - t0
        passes: list[dict[str, float]] = []
        while not passes or sum(sum(p.values()) for p in passes) < seconds:
            passes.append(self._pass(spark, fns, Spans()))
        per_query = [t for p in passes for t in p.values()]
        total_s = sum(per_query) / len(passes)
        e2e = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (median(per_query) if per_query else 0.0, "s"),
            "op_total_s": (total_s, "s"),
            "items_per_s": (len(per_query) / len(passes) / total_s if total_s else 0.0, "1/s"),
        }
        spark.stop()
        if not trace:
            return e2e
        event_dir = self.work.fresh("events")
        spark = self._session(event_dir)
        spans = Spans()
        times = self._pass(spark, fns, spans)
        rss = peak_rss_mb()
        spark.stop()
        layers = self._layers(times, spans, EventLog(event_dir), total_s)
        layers["process.peak_rss_mb"] = (rss, "MB")
        return layers

    def _layers(self, times, spans: Spans, log: EventLog, untraced_total: float) -> dict:
        att = Attribution(log, spans)
        ops = [i for i, s in enumerate(spans.spans) if s.name == "query"]
        tot = att.totals(ops)
        out = {f"query.{name}.s": (t, "s") for name, t in times.items()}
        out.update({
            "query.jobs": (tot.jobs, "count"),
            "query.stages": (tot.stages, "count"),
            "query.python_run_s": (tot.python_run_s, "s"),
            "query.shuffle_write_mb": (tot.shuffle_write_mb, "MB"),
            "query.spill_mb": (tot.spill_mb, "MB"),
            "spark.python_share": (tot.python_run_s / tot.run_s if tot.run_s else 0.0, "ratio"),
            "trace.overhead": (
                sum(times.values()) / untraced_total if untraced_total else 0.0, "ratio"),
            "trace.escaped_jobs": (att.escaped(ops), "count"),
        })
        return out


def run(work: Work, workload: str, seed: int, seconds: float, trace: bool):
    suite = QuerySuite(work, seed, load_digests())
    try:
        metrics = suite.run(seconds, trace)
    finally:
        shutdown_jvm()
    return suite.attempted, suite.failed, suite.errors, metrics

