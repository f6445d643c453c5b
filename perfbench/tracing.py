"""Benchmark-side tracing: spans, the timed checkpoint store, Spark event-log
attribution and process memory.

Spans are recorded only here, around calls into the program's public
functions. Spark's own event log supplies the counts (jobs, stages, tasks,
executor time, shuffle, spill, SQL row metrics); each job is attributed to
the innermost span that contains its submission time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from cord19_crawler_spark.storage import CheckpointStore

# physical operators that run user Python (RDD scope names in the event log)
PYTHON_SCOPES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "FlatMapCoGroupsInArrow",
    "FlatMapGroupsInArrow",
    "MapInArrow",
)
SEEN_SCOPES = ("FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas",
               "FlatMapCoGroupsInArrow", "FlatMapGroupsInArrow")
MB = 1024.0 * 1024.0


def now_ms() -> float:
    return time.time() * 1000.0


@dataclass
class Span:
    name: str
    start: float  # epoch ms, the clock Spark stamps job submission with
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end - self.start) / 1000.0


class Spans:
    """In-memory span recorder; nesting follows the call stack."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, /, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, now_ms(), parent=parent, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = now_ms()
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def ancestors(self, i: int):
        while i is not None:
            yield i
            i = self.spans[i].parent

    def innermost(self, t_ms: float) -> int | None:
        """Index of the innermost span open at ``t_ms``. Spans are recorded
        in start order, so the last one that contains ``t_ms`` is the
        innermost (children start after and end before their parent)."""
        best = None
        for i, s in enumerate(self.spans):
            if s.start <= t_ms <= s.end:
                best = i
        return best


class TimedStore(CheckpointStore):
    """``CheckpointStore`` that records a span per call: duration, the number
    of delta paths a read fans in, and the bytes a commit leaves on disk."""

    def __init__(self, root: str, spans: Spans):
        super().__init__(root)
        self._spans = spans

    def commit_round(self, rnd, tables, counters=None, counters_fn=None):
        with self._spans.span("storage.commit_round") as sp:
            out = super().commit_round(rnd, tables, counters, counters_fn)
        sp.attrs["bytes"] = dir_bytes(self._round_dir(rnd))
        return out

    def read_deltas(self, spark, name, from_rnd, upto_rnd, merge_schema=False):
        paths = max(0, upto_rnd - from_rnd + 1)
        with self._spans.span("storage.read_deltas", paths=paths):
            return super().read_deltas(spark, name, from_rnd, upto_rnd, merge_schema)

    def read_table(self, spark, rnd, name):
        with self._spans.span("storage.read_table"):
            return super().read_table(spark, rnd, name)

    def read_compact_table(self, spark, rnd, name):
        with self._spans.span("storage.read_compact_table"):
            return super().read_compact_table(spark, rnd, name)

    def latest_round(self):
        with self._spans.span("storage.list"):
            return super().latest_round()

    def has_round(self, rnd):
        with self._spans.span("storage.list"):
            return super().has_round(rnd)

    def latest_compact(self, upto=None):
        with self._spans.span("storage.list"):
            return super().latest_compact(upto)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# -- process memory -----------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of the driver JVM this process launched plus that of
    its largest Python worker. Forked workers are reused and retired on
    their own schedule, so how many are alive when the run looks is not
    steady; the largest one is what a change to the Python path moves."""
    kids = _children()
    jvms = kids.get(os.getpid(), [])
    workers, todo = [], [k for j in jvms for k in kids.get(j, [])]
    while todo:
        pid = todo.pop()
        workers.append(pid)
        todo.extend(kids.get(pid, []))
    jvm = sum(_hwm_kb(p) for p in jvms)
    return (jvm + max((_hwm_kb(p) for p in workers), default=0)) / 1024.0


# -- Spark event log ----------------------------------------------------------


@dataclass
class StageStats:
    scopes: set = field(default_factory=set)
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    shuffle_write: float = 0.0
    spill: float = 0.0
    rows: dict = field(default_factory=dict)  # scope node -> output rows


@dataclass
class JobStats:
    submit: float
    end: float = 0.0
    stages: list = field(default_factory=list)


class EventLog:
    """Jobs and completed stages of one application's event log."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        self.jobs: dict[int, JobStats] = {}
        self.stages: dict[int, StageStats] = {}
        acc_node: dict[int, tuple[str, str]] = {}
        stage_accums: dict[int, list] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line), acc_node, stage_accums)
        for sid, accums in stage_accums.items():
            st = self.stages[sid]
            for a in accums:
                node = acc_node.get(a.get("ID"))
                if node and node[1] == "number of output rows":
                    st.rows[node[0]] = st.rows.get(node[0], 0) + int(a.get("Value") or 0)
        self.stage_job: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid].stages:
                self.stage_job.setdefault(sid, jid)

    def _event(self, e: dict, acc_node: dict, stage_accums: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = JobStats(e["Submission Time"], stages=list(e["Stage IDs"]))
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]].end = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], StageStats())
            for rdd in info.get("RDD Info", []):
                if rdd.get("Scope"):
                    st.scopes.add(json.loads(rdd["Scope"])["name"])
            stage_accums.setdefault(info["Stage ID"], []).extend(info.get("Accumulables", []))
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            st = self.stages.setdefault(e["Stage ID"], StageStats())
            st.tasks += 1
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill += m.get("Disk Bytes Spilled", 0)
        elif "sparkPlanInfo" in e:
            _plan_accumulators(e["sparkPlanInfo"], acc_node)

    def job_stages(self, jid: int) -> list[StageStats]:
        return [self.stages[s] for s in self.jobs[jid].stages
                if s in self.stages and self.stage_job.get(s) == jid]


def _plan_accumulators(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for c in node.get("children", []):
        _plan_accumulators(c, out)


def is_python(stage: StageStats, scopes=PYTHON_SCOPES) -> bool:
    return any(s in scopes for s in stage.scopes)


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_run_s: float = 0.0  # stages holding any Python exec node
    seen_run_s: float = 0.0  # stages holding the seen filter's grouped pandas nodes
    arrow_eval_run_s: float = 0.0  # stages holding ArrowEvalPython
    window_run_s: float = 0.0  # stages holding a Window operator
    arrow_eval_rows: int = 0
    cogroup_rows: int = 0

    def add_job(self, log: EventLog, jid: int) -> None:
        self.jobs += 1
        for st in log.job_stages(jid):
            run = st.run_ms / 1000.0
            self.stages += 1
            self.tasks += st.tasks
            self.run_s += run
            self.cpu_s += st.cpu_ns / 1e9
            self.shuffle_write_mb += st.shuffle_write / MB
            self.spill_mb += st.spill / MB
            if is_python(st):
                self.python_run_s += run
            if is_python(st, SEEN_SCOPES):
                self.seen_run_s += run
            if "ArrowEvalPython" in st.scopes:
                self.arrow_eval_run_s += run
            if "Window" in st.scopes:
                self.window_run_s += run
            self.arrow_eval_rows += st.rows.get("ArrowEvalPython", 0)
            self.cogroup_rows += st.rows.get("FlatMapCoGroupsInPandas", 0)


class Attribution:
    """Every job of the event log, assigned to the innermost span open at
    its submission time."""

    def __init__(self, log: EventLog, spans: Spans):
        self.log = log
        self.spans = spans
        self.job_span = {jid: spans.innermost(j.submit) for jid, j in log.jobs.items()}

    def jobs_under(self, i: int) -> list[int]:
        """Jobs attributed to span ``i`` or to any span nested in it."""
        return [jid for jid, s in self.job_span.items()
                if s is not None and i in self.spans.ancestors(s)]

    def totals(self, indices, exclude=()) -> Totals:
        """Counts over the jobs under ``indices`` that do not fall under any
        span named in ``exclude``."""
        t = Totals()
        for i in indices:
            for jid in self.jobs_under(i):
                s = self.job_span[jid]
                if any(self.spans.spans[a].name in exclude for a in self.spans.ancestors(s)):
                    continue
                t.add_job(self.log, jid)
        return t

    def driver_s(self, i: int) -> float:
        """Span wall time minus the time at least one of its jobs was active."""
        sp = self.spans.spans[i]
        ivs = sorted(
            (max(sp.start, self.log.jobs[j].submit), min(sp.end, self.log.jobs[j].end or sp.end))
            for j in self.jobs_under(i)
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return max(0.0, (sp.end - sp.start) - busy) / 1000.0

    def escaped(self, indices) -> int:
        """Jobs under the spans ``indices`` that were still running when the
        span they are attributed to closed, such as jobs a call leaves
        running in the background. Their time and counts would be charged
        to a span that no longer waits for them."""
        return sum(1 for i in indices for jid in self.jobs_under(i)
                   if not self.log.jobs[jid].end
                   or self.log.jobs[jid].end > self.spans.spans[self.job_span[jid]].end)
