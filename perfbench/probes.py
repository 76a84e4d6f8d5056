"""Outside-in measurement: Spark's status stores, the process tree's
resident memory, and job-group tagging of the calls the benchmark makes.

Nothing here edits the package. Job and stage numbers come from the
core status store (``sc.statusStore()``); plan-node numbers come from
the SQL status store's plan graph of the executions an op ran. Both
stores are fed by the listener bus, so every read first waits for the
bus to drain.
"""

from __future__ import annotations

import os
import re
import threading
import time

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"


def parse_metric(text: str) -> float:
    """Numeric value of a SQL-metric string from the status store: a
    plain count (``"1,234"``) or the total line of a size metric
    (``"total (min, med, max ...)\\n12.3 KiB (...)"``)."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE_UNITS.get(m.group(2), 1)


class SparkProbe:
    """Reads per-job-group stage totals and per-execution plan-node
    metrics for one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()

    def set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def executions_count(self) -> int:
        self.drain()
        return int(self._sql_store.executionsCount())

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Totals over the stages the given jobs ran (skipped stages
        were computed by an earlier job and are not counted again)."""
        store = self._jsc.statusStore()
        out = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "task_s", "task_cpu_s",
             "max_task_s", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes"), 0.0)
        seen: set[int] = set()
        for jid in job_ids:
            for sid in _seq(store.job(jid).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["task_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["max_task_s"] = max(out["max_task_s"], self._max_task_s(store, st))
        return out

    def _max_task_s(self, store, stage) -> float:
        tasks = store.taskList(stage.stageId(), stage.attemptId(), 1 << 20)
        best = 0
        for t in _seq(tasks):
            d = t.duration()
            if d.isDefined():
                best = max(best, d.get())
        return best / 1e3

    def plan_totals(self, first_execution: int) -> dict[str, float]:
        """Join output rows and Python-boundary traffic over the plan
        graphs of every SQL execution numbered from ``first_execution``."""
        self.drain()
        out = dict.fromkeys(
            ("join_output_rows", "py_rows", "py_bytes_sent", "py_bytes_received"), 0.0)
        for ui in _seq(self._sql_store.executionsList(first_execution, 1 << 20)):
            eid = ui.executionId()
            values = {}
            it = self._sql_store.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            for node in _seq(self._sql_store.planGraph(eid).allNodes()):
                name = node.name()
                metrics = {m.name(): m.accumulatorId() for m in _seq(node.metrics())}

                def value(metric):
                    acc = metrics.get(metric)
                    if acc is None:
                        return 0.0
                    text = values.get(acc)
                    return parse_metric(text) if text is not None else 0.0

                if "Join" in name:
                    out["join_output_rows"] += value("number of output rows")
                if _PY_SENT in metrics or _PY_RECEIVED in metrics or "Python" in name:
                    out["py_rows"] += value("number of output rows")
                    out["py_bytes_sent"] += value(_PY_SENT)
                    out["py_bytes_received"] += value(_PY_RECEIVED)
        return out


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def catalyst_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of the DataFrame's own
    QueryExecution, forcing its physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[phase] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out


class RssSampler:
    """High-water mark of the summed resident set of this process and
    all its descendants (the driver JVM and its Python workers), read
    from ``/proc`` on a background thread."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _run(self):
        tree = process_tree(os.getpid())
        last_scan = time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - last_scan > 0.5:
                tree = process_tree(os.getpid())
                last_scan = time.monotonic()
            total = 0
            for pid in tree:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except (OSError, IndexError, ValueError):
                    continue
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from ``/proc/*/stat``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # Field 4 (ppid) follows the parenthesised command name.
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out
