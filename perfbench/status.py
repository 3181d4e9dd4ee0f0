"""Read Spark's status stores and the host's /proc from outside the program.

``StatusStore.harvest`` returns every job, stage and SQL execution that
finished since the previous harvest. Spans are matched to them by time
later (``spans.py``), so nothing here runs while an iteration is timed.

The stores keep a bounded history (``spark.ui.retainedStages`` and
friends, raised by ``run.py``). A harvest checks that the stage, job and
SQL execution ids it sees are contiguous from the previous harvest and
raises ``EvictedError`` if any were dropped, so per-span numbers never
silently miss work.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass, field


class EvictedError(RuntimeError):
    """The status store dropped entries the benchmark needed."""


# plan nodes that produce pair candidates: joins and generators (the
# dedup operators emit pairs with chained explodes, not self-joins)
CANDIDATE_NODE_WORDS = ("Join", "CartesianProduct", "Generate")


@dataclass
class Execution:
    id: int
    start: float
    candidate_rows: int = 0   # filled only for executions in detail spans


@dataclass
class Harvest:
    jobs: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    executions: list[Execution] = field(default_factory=list)


def _ms(value) -> float | None:
    return None if value is None else value / 1000.0


class StatusStore:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jvm = sc._jvm
        self._app = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        # Spark 4.1's AppStatusStore.stageList takes five arguments and
        # sorts the quantiles array, so it must be an array, not null
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        # baseline: everything before now is not ours
        self._last = {"job": -1, "stage": -1, "sql": self._newest_sql()}
        self._last["job"] = max((j["jobId"] for j in self._json(
            self._app.jobsList(None))), default=-1)
        self._last["stage"] = max((s["stageId"] for s in self._stage_list()),
                                  default=-1)

    def _stage_list(self) -> list[dict]:
        return self._json(self._app.stageList(
            None, False, False, self._no_quantiles, None))

    def _newest_sql(self) -> int:
        count = self._sql.executionsCount()
        if not count:
            return -1
        return self._sql.executionsList(count - 1, 1).apply(0).executionId()

    def _json(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def _check_contiguous(self, kind: str, ids: list[int]) -> None:
        new = sorted(i for i in set(ids) if i > self._last[kind])
        if new:
            if new[0] != self._last[kind] + 1 and self._last[kind] >= 0:
                raise EvictedError(
                    f"{kind} ids {self._last[kind] + 1}..{new[0] - 1} were "
                    "evicted from the status store; raise its retention")
            if new[-1] - new[0] + 1 != len(new):
                raise EvictedError(f"{kind} ids are not contiguous: {new}")
            self._last[kind] = new[-1]

    def harvest(self, detail_in: list[tuple[float, float]] = ()) -> Harvest:
        """Everything finished since the last harvest. Candidate rows of
        SQL executions and the longest task of input-reading stages are
        read only for work that starts inside one of the ``detail_in``
        intervals (they cost several py4j calls each)."""
        self._bus.waitUntilEmpty()
        last = dict(self._last)
        jobs = [j for j in self._json(self._app.jobsList(None))
                if j["jobId"] > last["job"]]
        self._check_contiguous("job", [j["jobId"] for j in jobs])
        stages = [s for s in self._stage_list()
                  if s["stageId"] > last["stage"]]
        self._check_contiguous("stage", [s["stageId"] for s in stages])
        for rec in jobs:
            rec["start"] = _ms(rec["submissionTime"])
            rec["end"] = _ms(rec["completionTime"])
        for rec in stages:
            rec["start"] = _ms(rec["submissionTime"])
            rec["end"] = _ms(rec["completionTime"])

        execs = []
        exec_id = last["sql"] + 1
        if last["sql"] < 0 and self._sql.executionsCount():
            # SQL execution ids are global to the JVM: a session started
            # after another one does not begin at 0
            exec_id = self._sql.executionsList(0, 1).apply(0).executionId()
        while True:
            opt = self._sql.execution(exec_id)
            if not opt.isDefined():
                break
            execs.append(Execution(
                id=exec_id, start=opt.get().submissionTime() / 1000.0))
            exec_id += 1
        if self._newest_sql() >= exec_id:
            raise EvictedError(
                f"SQL execution {exec_id} was evicted from the status "
                "store; raise spark.sql.ui.retainedExecutions")
        if execs:
            self._last["sql"] = execs[-1].id
        def detailed(t):
            return t is not None and any(a <= t <= b for a, b in detail_in)

        for ex in execs:
            if detailed(ex.start):
                ex.candidate_rows = self._candidate_rows(ex.id)
        for st in stages:
            st["longest_task_s"] = 0.0
            if st["inputBytes"] > 0 and detailed(st["start"]):
                tasks = self._json(self._app.taskList(
                    st["stageId"], st["attemptId"], 100000))
                st["longest_task_s"] = max(
                    (t["duration"] or 0 for t in tasks), default=0) / 1000.0
        return Harvest(jobs=jobs, stages=stages, executions=execs)

    def _candidate_rows(self, exec_id: int) -> int:
        """Largest 'number of output rows' among the join and generate
        nodes of one SQL execution's final (adaptive) plan: the pair
        candidates that execution produced before verification."""
        values = self._sql.executionMetrics(exec_id)
        nodes = self._sql.planGraph(exec_id).allNodes()
        best = 0
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not any(w in node.name() for w in CANDIDATE_NODE_WORDS):
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() != "number of output rows":
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    best = max(best, int(v.get().replace(",", "").split()[0]))
        return best


def cached_mb(spark) -> float:
    """Storage (memory + disk) still held by persisted RDDs/DataFrames."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


# ---------------------------------------------------------------------
# peak RSS of this process tree (driver Python, JVM, Python workers)
# ---------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            with open(f"/proc/{pid}/statm") as f:
                rss[pid] = int(f.read().split()[1]) * _PAGE
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        # the command name may hold spaces; ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the summed RSS of this process and its descendants on a
    background thread between ``start`` and ``stop``; each start/stop
    window adds its peak to ``peaks``."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peaks: list[float] = []
        self._root = os.getpid()
        self._window = 0
        self._active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self._active:
                rss = _tree_rss_bytes(self._root)
                self._window = max(self._window, rss)

    def start(self) -> None:
        self._window = 0
        self._active = True

    def stop(self) -> None:
        self._active = False
        # one sample at the end, so even a short window has one
        self.peaks.append(max(self._window, _tree_rss_bytes(self._root)) / 1e6)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
