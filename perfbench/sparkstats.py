"""Spark's own status channels, read from outside the program.

* the core status store (``sc.statusStore().stageList``): per-stage
  run, CPU and GC time, shuffle and spill bytes, task attempts;
* the SQL status store (``sharedState().statusStore()``): the executed
  plan graph of each query with its SQL metric values;
* ``StreamingQuery.recentProgress``: per-micro-batch phase durations.

Both stores are readable with ``spark.ui.enabled=false``.  Over py4j,
``stageList`` needs all five of its arguments.
"""

from __future__ import annotations

import re

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "min": 60_000, "h": 3_600_000,
}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """A SQL metric's display string as a number: rows as counts, sizes
    in bytes, timings in ms.  Multi-task metrics read
    ``total (min, med, max ...)\\n<total> (...)``: the total is used."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE_RE.match(text)
    if not m:
        raise ValueError(f"unreadable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _iterate(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _option_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class SparkChannels:
    """Readers over one live SparkSession's status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    # ---------------------------------------------------------- stages

    def _stage_seq(self):
        no_quantiles = self._gw.new_array(self._jvm.double, 0)
        return self._store.stageList(
            None, False, False, no_quantiles, self._jvm.java.util.ArrayList()
        )

    def last_stage_id(self) -> int:
        ids = [s.stageId() for s in _iterate(self._stage_seq())]
        return max(ids, default=-1)

    def stages_after(self, stage_id: int) -> list[dict]:
        """Finished stages with an id above ``stage_id``."""
        out = []
        for s in _iterate(self._stage_seq()):
            if s.stageId() <= stage_id:
                continue
            status = s.status().toString()
            if status not in ("COMPLETE", "FAILED"):
                continue
            start, end = _option_ms(s.submissionTime()), _option_ms(
                s.completionTime()
            )
            out.append(
                {
                    "stage": s.stageId(),
                    "attempt": s.attemptId(),
                    "status": status,
                    "tasks_ok": s.numCompleteTasks(),
                    "tasks_failed": s.numFailedTasks(),
                    "tasks_killed": s.numKilledTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "gc_ms": s.jvmGcTime(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "memory_spilled_bytes": s.memoryBytesSpilled(),
                    "disk_spilled_bytes": s.diskBytesSpilled(),
                    "wall_ms": (end - start) if start and end else s.executorRunTime(),
                }
            )
        return out

    def task_run_ms(self, stage: dict) -> list[int]:
        """Executor run time of each task of one stage attempt."""
        tasks = self._store.taskList(stage["stage"], stage["attempt"], 1 << 20)
        out = []
        for t in _iterate(tasks):
            m = t.taskMetrics()
            if m.isDefined():
                out.append(m.get().executorRunTime())
        return out

    # ------------------------------------------------------------- SQL

    def last_execution_id(self) -> int:
        ids = [e.executionId() for e in _iterate(self._sql.executionsList())]
        return max(ids, default=-1)

    def plan_nodes(self, execution_id: int) -> list[dict]:
        """Nodes of an execution's final plan graph with their metric
        display strings."""
        values = self._sql.executionMetrics(execution_id)
        graph = self._sql.planGraph(execution_id)
        nodes = []
        for n in _iterate(graph.allNodes()):
            metrics = {}
            for m in _iterate(n.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = v.get()
            nodes.append({"name": n.name(), "desc": n.desc(), "metrics": metrics})
        return nodes


def progress_durations(query) -> list[dict]:
    """``durationMs`` of each micro-batch that read input."""
    out = []
    for p in query.recentProgress:
        rows = getattr(p, "numInputRows", None)
        if rows is None:
            rows = p["numInputRows"]
        d = getattr(p, "durationMs", None)
        if d is None:
            d = p["durationMs"]
        if rows:
            out.append(dict(d))
    return out
