"""Snapshot storage adapter: atomic per-round state commits.

Iceberg is the production design (MERGE INTO + snapshot isolation give the
frontier merge and bit-identical resume for free — SURVEY.md §1.3); the
Iceberg runtime jar is not available in this sandbox, so the adapter
implements the same contract on plain parquet:

* each round's state tables are written under ``<root>/_tmp_round=<k>/``,
* a ``_COMMITTED.json`` marker (counters + per-partition lineage) is written
  LAST inside the tmp dir,
* the tmp dir is atomically ``os.rename``d to ``<root>/round=<k>/``.

A reader only ever sees fully-committed rounds; a killed run leaves at most
one ``_tmp_round`` dir that resume ignores and overwrites. Reads take each
table's schema from its part-file footers (``footer_schema``), so opening a
table runs no Spark job. This is exactly
the snapshot-commit protocol Iceberg's metadata pointer swap provides; with
Iceberg available, ``CheckpointStore`` maps 1:1 onto table snapshots.

Reference analogue: the delta-index auto-save checkpoint
(/root/reference/src/dynamic_indexer.py:46-56,104-105).
"""

from __future__ import annotations

import json
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# footer key under which Spark's parquet writer stores the DataFrame schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(paths: list[str], merge: bool = False) -> StructType | None:
    """The schema ``spark.read.parquet(*paths)`` would infer, read from the
    part-file footers on the driver instead of by a Spark job.

    Mirrors Spark's inference: data files sorted by path, hidden and
    ``_``-prefixed files skipped; without ``merge`` the first file's schema,
    with it the union of all files' schemas in first-seen field order.
    Returns None — the caller lets Spark infer — for anything outside that
    simple case: a file another writer produced (no Spark schema key), a
    missing or nested directory, or fields whose types differ between
    files.
    """
    files = []
    try:
        for path in paths:
            for entry in os.scandir(path):
                if entry.name.startswith(("_", ".")):
                    continue
                if not entry.is_file():
                    return None
                files.append(entry.path)
        files.sort()
        fields: dict = {}
        for f in files if merge else files[:1]:
            raw = (pq.read_metadata(f).metadata or {}).get(SPARK_SCHEMA_KEY)
            if raw is None:
                return None
            for field in StructType.fromJson(json.loads(raw)).fields:
                if fields.setdefault(field.name, field).dataType != field.dataType:
                    return None
    except (OSError, ValueError, KeyError, TypeError):
        # unreadable footer or schema string: Spark's inference reports it
        return None
    return StructType(list(fields.values())) if fields else None


def read_parquet(
    spark: SparkSession, paths: list[str], merge_schema: bool = False
) -> DataFrame:
    """``spark.read.parquet`` with the schema taken from the footers, so
    opening a table launches no schema-inference job."""
    schema = footer_schema(paths, merge_schema)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*paths)


def write_tables(root: str, tables: dict[str, DataFrame]) -> None:
    """Write each table to ``<root>/<name>`` as parquet. The tables are
    independent DataFrames (shared inputs are cached), so their write jobs
    are submitted concurrently and Spark's scheduler interleaves them across
    the executor pool. Returns once every write has finished; the first
    failure is raised, so a caller publishes nothing after a failed write."""

    def _write(item):
        name, df = item
        df.write.mode("overwrite").parquet(os.path.join(root, name))

    with ThreadPoolExecutor(max_workers=min(4, len(tables))) as pool:
        list(pool.map(_write, tables.items()))


class CheckpointStore:
    def __init__(self, root: str):
        # this adapter commits via driver-local rename; remote object-store
        # checkpoints are the Iceberg deployment (snapshot commit replaces
        # the rename) — fail loudly instead of stranding data
        if "://" in root and not root.startswith("file://"):
            raise NotImplementedError(
                f"CheckpointStore requires a local/posix path, got {root!r}; "
                "for object stores deploy with an Iceberg catalog (DESIGN.md)"
            )
        self.root = root.removeprefix("file://")
        os.makedirs(self.root, exist_ok=True)

    def _round_dir(self, rnd: int) -> str:
        return os.path.join(self.root, f"round={rnd}")

    def _tmp_dir(self, rnd: int) -> str:
        return os.path.join(self.root, f"_tmp_round={rnd}")

    def commit_round(
        self,
        rnd: int,
        tables: dict[str, DataFrame],
        counters: dict | None = None,
        counters_fn=None,
    ) -> dict:
        """Write all state tables + counters, then atomically publish.

        ``counters_fn(read) -> dict`` runs AFTER the table writes with a
        ``read(name) -> DataFrame`` accessor over the just-written (not yet
        published) tables. Opening a table reads its schema from the footer,
        but every count or aggregate on it is a Spark job, so counters the
        caller already knows belong in ``counters``. The accessor signature
        is store-agnostic: the Iceberg adapter passes a partition-pruned
        table read instead of a tmp-dir path.
        """
        tmp = self._tmp_dir(rnd)
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        # nothing is visible until the rename below
        write_tables(tmp, tables)
        final_counters = dict(counters or {})
        if counters_fn is not None:
            spark = next(iter(tables.values())).sparkSession

            def _read(name: str) -> DataFrame:
                return read_parquet(spark, [os.path.join(tmp, name)])

            final_counters.update(counters_fn(_read))
        with open(os.path.join(tmp, "_COMMITTED.json"), "w") as f:
            json.dump({"round": rnd, "counters": final_counters}, f, indent=2)
        final = self._round_dir(rnd)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        return final_counters

    def has_round(self, rnd: int) -> bool:
        """True iff round ``rnd`` is committed AND its delta dirs still
        exist (False after expire_rounds reclaimed it). Expiry removes a
        CONTIGUOUS 1..limit prefix, so readers can test just the first
        round of a needed range."""
        return os.path.exists(
            os.path.join(self._round_dir(rnd), "_COMMITTED.json")
        )

    def latest_round(self) -> int | None:
        best = None
        if not os.path.isdir(self.root):
            return None
        for name in os.listdir(self.root):
            m = re.fullmatch(r"round=(\d+)", name)
            if m and os.path.exists(
                os.path.join(self.root, name, "_COMMITTED.json")
            ):
                k = int(m.group(1))
                best = k if best is None else max(best, k)
        return best

    # -- compaction (read-optimization snapshots; see scheduler.compact) ----

    def _compact_dir(self, rnd: int) -> str:
        return os.path.join(self.root, f"compact={rnd}")

    def commit_compact(self, rnd: int, tables: dict[str, DataFrame]) -> None:
        tmp = os.path.join(self.root, f"_tmp_compact={rnd}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        write_tables(tmp, tables)
        with open(os.path.join(tmp, "_COMMITTED.json"), "w") as f:
            json.dump({"compact_round": rnd}, f)
        final = self._compact_dir(rnd)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)

    def latest_compact(self, upto: int | None = None) -> int | None:
        best = None
        for name in os.listdir(self.root):
            m = re.fullmatch(r"compact=(\d+)", name)
            if m and os.path.exists(os.path.join(self.root, name, "_COMMITTED.json")):
                k = int(m.group(1))
                if upto is None or k <= upto:
                    best = k if best is None else max(best, k)
        return best

    def compact_table_path(self, rnd: int, name: str) -> str:
        return os.path.join(self._compact_dir(rnd), name)

    def has_compact_table(self, rnd: int, name: str) -> bool:
        """Whether snapshot ``rnd`` carries ``name`` — older snapshots may
        predate a table joining the compaction set (readers then fall back
        to the full delta union)."""
        return os.path.isdir(self.compact_table_path(rnd, name))

    def expire_rounds(self, upto: int | None = None) -> list[int]:
        """Reclaim round delta dirs made redundant by a CUMULATIVE
        compaction snapshot (one carrying crawl_log + frontier_all).

        Never expired: round 0 (its _COMMITTED.json carries the
        filter-config facets every resume validates) and the latest round.
        Refuses to expire past the newest cumulative snapshot — one that
        also carries filter_state, since filter deltas below it become
        unreadable (effective state = latest-row-per-partition over the
        append-only deltas). Without such a snapshot, history reads would
        lose rows. This is the parquet analogue of Iceberg snapshot
        expiration.
        """
        latest = self.latest_round()
        compact = self.latest_compact()
        while compact is not None and not (
            self.has_compact_table(compact, "crawl_log")
            and self.has_compact_table(compact, "frontier_all")
            and self.has_compact_table(compact, "filter_state")
        ):
            compact = self.latest_compact(upto=compact - 1)
        if compact is None:
            raise ValueError(
                "no cumulative compaction snapshot: run compact() first"
            )
        limit = min(
            compact,
            (latest or 0) - 1,
            upto if upto is not None else compact,
        )
        removed: list[int] = []
        for k in range(1, limit + 1):
            d = self._round_dir(k)
            if os.path.isdir(d):
                shutil.rmtree(d)
                removed.append(k)
        return removed

    def table_path(self, rnd: int, name: str) -> str:
        return os.path.join(self._round_dir(rnd), name)

    def read_table(self, spark: SparkSession, rnd: int, name: str) -> DataFrame:
        return read_parquet(spark, [self.table_path(rnd, name)])

    def read_deltas(
        self,
        spark: SparkSession,
        name: str,
        from_rnd: int,
        upto_rnd: int,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Union of a per-round append-only delta table across rounds; the
        Iceberg adapter serves the same call from ONE partition-range scan."""
        paths = [self.table_path(r, name) for r in range(from_rnd, upto_rnd + 1)]
        return read_parquet(spark, paths, merge_schema)

    def read_compact_table(
        self, spark: SparkSession, rnd: int, name: str
    ) -> DataFrame:
        return read_parquet(spark, [self.compact_table_path(rnd, name)])

    def read_counters(self, rnd: int) -> dict:
        with open(os.path.join(self._round_dir(rnd), "_COMMITTED.json")) as f:
            return json.load(f)
