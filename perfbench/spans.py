"""In-memory spans recorded around calls into each layer, plus readers
for Spark's status tracker and status stores.

Spans live in a list until the run ends and are then written out in one
file. Every span of one op carries that op's id. Job and stage spans are
not timed here: they are taken from Spark's status store after the op,
and hang under the construct/exec span that launched them."""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str, **attrs):
        s = {
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": op,
            "name": name,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, op: str, parent: int, start: float, end: float, **attrs) -> dict:
        s = {"id": next(self._ids), "parent": parent, "op": op, "name": name,
             "start": start, "end": end, "attrs": attrs}
        self.spans.append(s)
        return s


class NullTracer:
    """Stands in for a Tracer when an op runs untraced: the op body is
    the same code, the spans are not kept."""

    @contextmanager
    def span(self, name: str, op: str, **attrs):
        yield {}


NULL_TRACER = NullTracer()

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_NUM = re.compile(r"([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Value of one formatted SQL metric: the total, which is the first
    number on the last line ("1602.0 KiB (...)", "1,234", "0.0 B")."""
    if not text:
        return 0.0
    m = _NUM.search(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2), 1)


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def scala_iter(seq):
    """Iterate a Scala collection handed over by py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkProbe:
    """Reads what Spark recorded about the jobs of one op.

    Jobs are found by job group (set per phase on this thread; streaming
    queries use their run id as group); stages come from the core status
    store, Python worker bytes and scan/join row counts from the SQL
    status store of the executions the op started."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = self.sc.defaultParallelism

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name, False)

    def executions(self) -> int:
        return int(self.sql.executionsCount())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.bus.waitUntilEmpty()

    def jobs(self, group: str, tracer: Tracer, op: str, parent: int) -> dict:
        """Counters of every job in `group`, adding job and stage spans."""
        c = {"jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0, "gc_s": 0.0,
             "stage_wait_s": 0.0, "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0}
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self.store.job(jid)
            js, je = _ms(jd.submissionTime()), _ms(jd.completionTime())
            if js is None:
                continue
            c["jobs"] += 1
            jspan = tracer.add("job", op, parent, js, je or js, job_id=jid)
            for sid in scala_iter(jd.stageIds()):
                sd = self.store.lastStageAttempt(sid)
                ss, sf, se = (_ms(sd.submissionTime()), _ms(sd.firstTaskLaunchedTime()),
                              _ms(sd.completionTime()))
                if ss is None:  # skipped: its output was reused
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["task_run_s"] += sd.executorRunTime() / 1000.0
                c["gc_s"] += sd.jvmGcTime() / 1000.0
                c["stage_wait_s"] += (sf - ss) if sf is not None else 0.0
                c["shuffle_read_b"] += sd.shuffleReadBytes()
                c["shuffle_write_b"] += sd.shuffleWriteBytes()
                c["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                tracer.add("stage", op, jspan["id"], ss, se or ss, stage_id=sid,
                           tasks=sd.numTasks())
        return c

    def sql_metrics(self, since: int) -> dict:
        """Python worker bytes and ANN scan/join counts summed over the
        SQL executions numbered `since` and later."""
        c = {"python_bytes_out": 0.0, "python_bytes_in": 0.0, "files_read": 0.0,
             "partitions_read": 0.0, "join_rows": 0.0}
        n = self.executions() - since
        if n <= 0:
            return c
        for ex in scala_iter(self.sql.executionsList(since, n)):
            eid = ex.executionId()
            vals = self.sql.executionMetrics(eid)
            seen = set()

            def value(m):
                v = vals.get(m.accumulatorId())
                return parse_metric(v.get() if v.isDefined() else None)

            for m in scala_iter(ex.metrics()):
                if m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                if m.name() == "data sent to Python workers":
                    c["python_bytes_out"] += value(m)
                elif m.name() == "data returned from Python workers":
                    c["python_bytes_in"] += value(m)
            for node in scala_iter(self.sql.planGraph(eid).allNodes()):
                name = node.name()
                for m in scala_iter(node.metrics()):
                    if name.startswith("Scan parquet"):
                        if m.name() == "number of files read":
                            c["files_read"] += value(m)
                        elif m.name() == "number of partitions read":
                            c["partitions_read"] += value(m)
                    elif ("Join" in name and "Inner" in node.desc()
                          and m.name() == "number of output rows"):
                        c["join_rows"] += value(m)
        return c
