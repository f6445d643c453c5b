"""CheckpointStore: reads take their schema from the parquet footers (no
Spark job to open a table), round counters match the tables they describe,
and a compaction whose write fails publishes nothing."""

import os
import time
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cord19_crawler_spark.datagen import generate_documents, seed_urls
from cord19_crawler_spark.frontier import CrawlScheduler, SchedulerConfig
from cord19_crawler_spark.storage import CheckpointStore, footer_schema

ROUNDS = 3


def _cfg(compact_every=2):
    return SchedulerConfig(batch_size=20, seen_partitions=4, bloom_bits=1 << 16,
                           min_delay_rounds=2, max_in_flight=3,
                           compact_every=compact_every)


@pytest.fixture(scope="module")
def docs(spark):
    return generate_documents(spark, 300, partitions=4).cache()


@pytest.fixture(scope="module")
def crawled(spark, docs, tmp_path_factory):
    """A 3-round crawl compacted at round 2."""
    ck = str(tmp_path_factory.mktemp("store") / "ck")
    sched = CrawlScheduler(spark, docs, ck, _cfg())
    sched.run(ROUNDS, seeds=seed_urls(spark, 10, 300))
    return sched


@contextmanager
def _job_group(spark, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def _jobs(spark, group):
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _assert_no_jobs(spark, group):
    """Spark's listener bus delivers job events in order: once a job started
    after ``group``'s reads is visible, any job of ``group`` would be too."""
    with _job_group(spark, group + "-after"):
        spark.range(1).collect()
    deadline = time.time() + 30
    while not _jobs(spark, group + "-after") and time.time() < deadline:
        time.sleep(0.05)
    assert _jobs(spark, group + "-after"), "status tracker saw no job at all"
    assert _jobs(spark, group) == []


def _inferred(spark, paths, merge=False):
    reader = spark.read.option("mergeSchema", "true") if merge else spark.read
    return reader.parquet(*paths).schema


def test_store_reads_launch_no_job_and_keep_schema(spark, crawled):
    store, last = crawled.store, ROUNDS
    compact = store.latest_compact()
    assert compact == 2
    round_tables = sorted(os.listdir(store._round_dir(last)))
    round_tables.remove("_COMMITTED.json")
    compact_tables = sorted(
        n for n in os.listdir(store._compact_dir(compact)) if not n.startswith("_")
    )
    with _job_group(spark, "store-reads"):
        reads = [
            ([store.table_path(last, n)], False, store.read_table(spark, last, n))
            for n in round_tables
        ]
        for n in round_tables:
            paths = [store.table_path(r, n) for r in range(1, last + 1)]
            for merge in (False, True):
                reads.append(
                    (paths, merge, store.read_deltas(spark, n, 1, last, merge))
                )
        reads += [
            ([store.compact_table_path(compact, n)], False,
             store.read_compact_table(spark, compact, n))
            for n in compact_tables
        ]
    _assert_no_jobs(spark, "store-reads")
    for paths, merge, df in reads:
        assert df.schema == _inferred(spark, paths, merge), paths


def test_merged_read_unions_footer_schemas(spark, tmp_path):
    """Rounds whose delta tables gained a column read as the union, in the
    field order Spark's own merge gives — still without a job."""
    store = CheckpointStore(str(tmp_path / "ck"))
    spark.createDataFrame([(1, "x")], "a int, b string").write.parquet(
        store.table_path(1, "t"))
    spark.createDataFrame([(2, 0.5, "y")], "a int, c double, b string").write.parquet(
        store.table_path(2, "t"))
    paths = [store.table_path(r, "t") for r in (1, 2)]
    with _job_group(spark, "merged-read"):
        merged = store.read_deltas(spark, "t", 1, 2, merge_schema=True)
        first = store.read_deltas(spark, "t", 1, 2)
    _assert_no_jobs(spark, "merged-read")
    assert merged.schema == _inferred(spark, paths, merge=True)
    assert merged.columns == ["a", "b", "c"]
    assert first.schema == _inferred(spark, paths)
    assert sorted(map(tuple, merged.collect())) == [(1, "x", None), (2, "y", 0.5)]


def test_footer_without_spark_schema_falls_back_to_inference(spark, tmp_path):
    """Files from another writer (here pyarrow, as pandas writes them) carry
    no Spark schema key: the read lets Spark infer the schema."""
    store = CheckpointStore(str(tmp_path / "ck"))
    d = store.table_path(1, "legacy")
    os.makedirs(d)
    pq.write_table(pa.table({"host": ["a", "b"], "n": pa.array([1, None], pa.int32())}),
                   os.path.join(d, "part-legacy.parquet"))
    assert footer_schema([d]) is None
    df = store.read_table(spark, 1, "legacy")
    assert df.schema == _inferred(spark, [d])
    assert sorted(map(tuple, df.collect()), key=str) == [("a", 1), ("b", None)]


def test_round_counters_match_written_tables(spark, crawled):
    store = crawled.store
    for rnd in range(1, ROUNDS + 1):
        c = store.read_counters(rnd)["counters"]
        new = spark.read.parquet(store.table_path(rnd, "url_seen_new"))
        assert c["discovered_new"] == new.count()
        assert c["partition_lineage"] == {
            str(r["partition"]): r["count"]
            for r in new.groupBy("partition").count().collect()
        }
        assert c["scheduled"] == spark.read.parquet(
            store.table_path(rnd, "crawl_log")).count()


class _FailingCompactStore(CheckpointStore):
    """Fails one table's write inside the compaction of round ``fail_at``;
    the other tables' writes run and succeed."""

    def __init__(self, root, fail_at):
        super().__init__(root)
        self.fail_at = fail_at

    def commit_compact(self, rnd, tables):
        if rnd == self.fail_at:
            pending = tables["pending"]
            tables = dict(tables, pending=pending.withColumn(
                "url",
                F.when(F.col("url").isNotNull(),
                       F.raise_error(F.lit("injected write failure")))
                .otherwise(F.col("url")),
            ))
        super().commit_compact(rnd, tables)


def test_failed_compaction_publishes_nothing_and_resumes(spark, docs, crawled, tmp_path):
    ck = str(tmp_path / "ck")
    store = _FailingCompactStore(ck, fail_at=2)
    sched = CrawlScheduler(spark, docs, ck, _cfg(compact_every=None), store=store)
    sched.run(1, seeds=seed_urls(spark, 10, 300))
    assert sched.compact() == 1
    sched.run(2)
    with pytest.raises(Exception, match="injected write failure"):
        sched.compact()
    assert store.latest_compact() == 1
    assert not os.path.exists(store._compact_dir(2))

    resumed = CrawlScheduler(spark, docs, ck, _cfg())
    resumed.run(ROUNDS)
    assert resumed.crawl_order_fingerprint() == crawled.crawl_order_fingerprint()
    assert resumed.seen_fingerprint() == crawled.seen_fingerprint()
